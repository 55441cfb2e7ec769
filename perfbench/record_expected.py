#!/usr/bin/env python3
"""Records src/main/resources/perfbench/expected.tsv: the fingerprints the
kernel calls and cycles of nightly_batch check their answers against.

    python3 perfbench/record_expected.py

It first runs graft.Verify for the registry kernels (on the generated sf0.01
tables) and q_risk_score_daily (on sf0.1), and compares every result with its
DuckDB oracle (tools/check.py's comparison; needs the duckdb Python module).
Only if all match does it fingerprint them with perfbench.Record. Run it from the root of
a checkout whose program passes the oracle; the recorded answers then hold for
every later program that is still correct.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import check  # noqa: E402  (tools/check.py)
import duckdb  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

def verify(cp, sf, queries, tmp):
    """Names of `queries` whose Spark result differs from the DuckDB oracle."""
    out = os.path.join(run.WORK, "verify")
    shutil.rmtree(out, ignore_errors=True)
    os.environ["SPARK_GRAFT_ONLY"] = ",".join(queries)
    run.java(cp, "graft.Verify", [sf, out], tmp, 1800)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = []
    for name in queries:
        got = check.norm(con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf())
        exp = check.norm(con.sql(oracles[name]).fetchdf())
        same = list(got.columns) == list(exp.columns) and len(got) == len(exp) and all(
            check.cell_eq(a, b) for c in got.columns
            for a, b in zip(got[c].tolist(), exp[c].tolist()))
        print(("OK  " if same else "FAIL") + f" {name}: {len(got)} rows")
        if not same:
            bad.append(name)
    shutil.rmtree(out, ignore_errors=True)
    return bad


def main():
    cp = run.build()
    data = run.ensure_data(cp)
    tmp = os.path.join(run.WORK, "tmp-record")
    bad = verify(cp, os.path.join(data, "sf0.01"), inputs.KERNELS, tmp)
    bad += verify(cp, os.path.join(data, "sf0.1"), ["q_risk_score_daily"], tmp)
    if bad:
        raise SystemExit(f"oracle mismatch on {bad}; nothing recorded")
    dest = os.path.join(HERE, "src", "main", "resources", "perfbench", "expected.tsv")
    run.java(cp, "perfbench.Record", [data, ",".join(inputs.KERNELS), dest], tmp, 1800)
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"recorded {dest}")


if __name__ == "__main__":
    main()
