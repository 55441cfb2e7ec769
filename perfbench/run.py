#!/usr/bin/env python3
"""Lakehouse benchmark: one command per run.

    python3 perfbench/run.py --workload <serve_api|nightly_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from source
with sbt (the harness in perfbench/src plus the program in src/main/scala) and
generates the input tables; later runs reuse both while the sources are
unchanged. The seed generates the request stream, the corrupted payloads and
the kernel order (perfbench/inputs.py); the JVM receives only those inputs.
The last line of standard output is one JSON object with the run's metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
ARCHIVE = os.path.join(WORK, "classes.jsa")
WORKLOADS = ("serve_api", "nightly_batch")
# GenData's output: change when the generator changes.
DATA_VERSION = "2"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles the harness and the program; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    # the exported classpath is the only unprefixed line of the output
    values = [ln.strip() for ln in out.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    target = os.path.join(HERE, "target", "scala-2.13")
    jars = glob.glob(os.path.join(target, "perfbench_2.13-*.jar"))
    if out.returncode != 0 or not values or len(jars) != 1:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    # the packaged jar in place of the classes directory: class-data sharing
    # (see java()) archives classes from jars only
    classes = os.path.join(target, "classes")
    cp = ":".join(jars[0] if e == classes else e for e in values[-1].split(":"))
    os.makedirs(WORK, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java(cp, main, args, tmp, timeout):
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # class-data sharing cuts JVM and session start by ~3 s a run: the first
    # JVM after a build writes the archive of the classes it loaded at exit
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", cds,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp] + opens + [main] + args)
    # the JVM's working directory holds spark-warehouse/ and other litter
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit(f"perfbench: {main} timed out")
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: {main} failed with code {proc.returncode}")
    return out


def ensure_data(cp):
    data = os.path.join(WORK, "data")
    stamp = os.path.join(data, "version")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == DATA_VERSION:
                return data
    log("generating input tables")
    shutil.rmtree(data, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp-gen")
    try:
        java(cp, "perfbench.GenData", [data], tmp, 120)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(DATA_VERSION)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC}; "
                         "run from the root of a full checkout")
    cp = build()
    data = ensure_data(cp)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs.write(a.workload, a.seed, run_dir, os.path.join(data, "payloads"))
        result_file = os.path.join(run_dir, "result.json")
        java(cp, "perfbench.Main",
             ["--workload", a.workload, "--data", data, "--inputs", run_dir,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", result_file],
             os.path.join(run_dir, "tmp"), 175)
        with open(result_file) as fh:
            raw = json.load(fh)
        if a.trace:
            spans_file = os.path.join(WORK, f"spans-{a.workload}-seed{a.seed}.json")
            with open(spans_file, "w") as fh:
                json.dump(raw["spans"], fh)
            log(f"spans written to {spans_file}")
        summary = metrics.summarize(raw, bool(a.trace), inputs.KERNELS)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in summary.pop("notes"):
        print(line)
    for m in summary["metrics"].values():  # no ok op: no median (JSON has no NaN)
        if isinstance(m["value"], float) and math.isnan(m["value"]):
            m["value"] = None
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
