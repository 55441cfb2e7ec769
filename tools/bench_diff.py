#!/usr/bin/env python3
"""Per-query bench regression gate: diff two Bench artifacts, fail on >Nx
steady-state regressions (VERDICT r2 item 6).

    python3 tools/bench_diff.py BENCH_r02.json BENCH_r03.json [--threshold 2.0]

Accepts either a raw Bench line (`{"metric":"total",...}`) or a driver round
artifact (`{"n":..., "tail": "...", "parsed": ...}`). For driver artifacts it
prefers `parsed`, else scans the tail for metric lines (last complete one
wins), else falls back to scraping whatever per-query `"name":secs` pairs
survive in a truncated tail — so a clipped BENCH_r02 still yields a partial
per-query baseline instead of nothing.

Exit code = number of regressed queries plus the number of queries the new
artifact lists as `failed` (a query that threw is never a fast one). Queries
only present on one side are reported but never fail the gate (new operators
are not regressions).
"""
import json
import re
import sys


def harvest(text: str) -> dict:
    """Merge every metric line found in `text`: the full `queries{...}` map
    (highest fidelity) wins per query, then surviving `steady_part` chunks,
    then — only if neither produced anything — raw `"name":secs` pair
    scraping of a clipped tail (pre-r4 artifacts, where the survivors are
    cold times: a usable, if conservative, baseline)."""
    full: dict = {}
    parts: dict = {}
    total = None
    failed: set = set()
    for line in text.splitlines():
        start = line.find('{"metric"')
        if start < 0:
            continue
        try:
            cand = json.loads(line[start:])
        except json.JSONDecodeError:
            continue
        if cand.get("metric") == "total":
            total = cand.get("value", total)
            failed.update(cand.get("failed", []))
            if cand.get("queries"):
                full = cand["queries"]
        elif cand.get("metric") == "steady_part":
            parts.update(cand.get("q", {}))
    queries = {**parts, **full}
    if not queries:
        # truncated tail: scrape surviving "q_name":secs pairs from the
        # steady-state map only (everything before "cold_queries")
        head = text.split('"cold_queries"')[0]
        queries = {k: float(v) for k, v in
                   re.findall(r'"(q[0-9a-z_]+)":([0-9.]+)', head)}
    return {"queries": queries, "total": total, "failed": failed}


def extract(path: str) -> dict:
    """Return {"queries": {name: steady_sec}, "total": float|None,
    "failed": {name, ...}}."""
    raw = open(path).read()
    try:
        doc = json.loads(raw)
    except json.JSONDecodeError:
        doc = None
    # raw Bench line(s): full map + steady parts merged
    if doc is not None and doc.get("metric") == "total":
        return {"queries": doc.get("queries", {}), "total": doc.get("value"),
                "failed": set(doc.get("failed", []))}
    if doc is not None and ("tail" in doc or "parsed" in doc):
        parsed = doc.get("parsed")
        if isinstance(parsed, dict) and parsed.get("queries"):
            return {"queries": parsed["queries"], "total": parsed.get("value"),
                    "failed": set(parsed.get("failed", []))}
        got = harvest(doc.get("tail", "") or "")
        if isinstance(parsed, dict):
            if got["total"] is None:
                got["total"] = parsed.get("value")
            got["failed"].update(parsed.get("failed", []))
        return got
    # multi-line file of raw Bench output (e.g. BENCH_LOCAL.json)
    return harvest(raw)


def main(argv: list) -> int:
    threshold = 2.0
    if "--threshold" in argv:
        i = argv.index("--threshold")
        threshold = float(argv[i + 1])
        del argv[i:i + 2]
    old_path, new_path = argv[1], argv[2]
    old, new = extract(old_path), extract(new_path)
    if not old["queries"]:
        print(f"WARN no per-query baseline recoverable from {old_path}; "
              "comparing totals only")
    regressed = []
    failed = sorted(new["failed"])
    for q in failed:
        print(f"{q:32s} FAILED")
    shared = sorted(set(old["queries"]) & set(new["queries"]) - new["failed"])
    for q in shared:
        a, b = old["queries"][q], new["queries"][q]
        ratio = b / a if a > 0 else float("inf")
        flag = ""
        if ratio > threshold and b - a > 0.5:  # ignore sub-second jitter
            flag = f"  REGRESSED >{threshold}x"
            regressed.append(q)
        if flag or ratio > 1.5 or ratio < 0.5:
            print(f"{q:32s} {a:8.2f}s -> {b:8.2f}s  ({ratio:5.2f}x){flag}")
    only_new = sorted(set(new["queries"]) - set(old["queries"]))
    only_old = sorted(set(old["queries"]) - set(new["queries"]))
    if only_new:
        print(f"new queries (no baseline): {', '.join(only_new)}")
    if only_old:
        print(f"dropped queries: {', '.join(only_old)}")
    ot, nt = old.get("total"), new.get("total")
    print(f"totals: {ot if ot is not None else '?'}s -> "
          f"{nt if nt is not None else '?'}s over "
          f"{len(shared)} shared / {len(new['queries'])} current queries; "
          f"{len(regressed)} regressed, {len(failed)} failed")
    return len(regressed) + len(failed)


if __name__ == "__main__":
    sys.exit(main(sys.argv))
