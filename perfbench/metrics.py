"""Turns one run's raw result (written by perfbench.Main) into metrics.

Pure functions, so the benchmark's own logic can be tested without Spark
(test_perfbench.py).
"""
import math
import statistics

MB = float(1 << 20)

# Per-layer metrics, in the order BENCHMARK.json lists them. A layer a
# workload does not exercise reports 0.
LAYERS = ("tables", "serve", "plans", "stream", "ingest", "score", "ops", "maintain", "queries")
REQUEST_TYPES = ("lookup_page", "keyset_page", "dynamic_filter", "latest")


def tail_percentile(xs, min_beyond=10):
    """The tail of a timing: the highest whole percentile from p90 to p99 with
    at least `min_beyond` samples above its nearest-rank position. Returns
    (percentile, value, samples beyond). With too few samples for that
    (fewer than 10 * min_beyond) it is p90 all the same, with the fewer
    samples beyond it that there are."""
    s = sorted(xs)
    n = len(s)
    if not s:
        return None
    for p in range(99, 89, -1):
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= min_beyond:
            return p, s[k - 1], n - k
    k = max(1, math.ceil(0.9 * n))
    return 90, s[k - 1], n - k


def self_times(spans):
    """Self time of each span in ns: its duration minus the part of its
    interval that its direct children cover (overlapping children are merged
    first, and clipped to the parent)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(raw):
    ok = [o["ms"] for o in raw["ops"] if o["ok"]]
    tail = tail_percentile(ok)
    out = {
        # session start, the median set-up round, and the one warm-up
        "setup_s": metric(raw["session_s"] + statistics.median(raw["setup_s"]) + raw["warmup_s"], "s"),
        "ops_per_s": metric(len(ok) / raw["measured_s"], "1/s"),
        "op_p50_ms": metric(statistics.median(ok) if ok else float("nan"), "ms"),
        "op_tail_ms": metric(tail[1] if tail else float("nan"), "ms"),
        "space_amp": metric(raw["table_bytes"] / raw["input_bytes"], "ratio"),
    }
    note = (f"op_tail_ms is p{tail[0]} of {len(ok)} ops ({tail[2]} beyond)" if tail
            else "op_tail_ms: no op succeeded")
    return out, note


def _ratio(a, b):
    return a / b if b else 0.0


# The ops each layer serves: per-op figures of a layer are per op of its kind.
LAYER_OPS = {"tables": "request", "serve": "request", "plans": "request",
             "stream": "cycle", "ingest": "cycle", "score": "cycle", "ops": "cycle",
             "maintain": "cycle", "queries": "call"}


def op_class(kind):
    """'cycle' (a nightly cycle), 'call' (a registry kernel call, named after
    its q_ query) or 'request' (an API request)."""
    if kind == "cycle":
        return "cycle"
    return "call" if kind.startswith("q_") else "request"


def per_layer(raw):
    """Every per-layer metric; see README.md for what each one means."""
    spans = raw["spans"]
    n_of = {c: max(1, sum(op_class(o["kind"]) == c for o in raw["ops"]))
            for c in ("request", "cycle", "call")}
    selfs = self_times(spans)
    self_ms, dur_ms = {}, {}
    for s in spans:
        if not s["op"]:  # set-up and warm-up
            continue
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + selfs[s["id"]] / 1e6
        dur_ms.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e6)
    fig = raw["figures"]
    counters = raw["counters"]

    def per_op(layer, total):
        return total / n_of[LAYER_OPS[layer]]

    def per_op_self(name):
        return per_op(name.split(".")[0], self_ms.get(name, 0.0))

    def layer_sum(layer, key, names=None):
        return sum(c[key] for span, c in counters.items()
                   if span.split(".")[0] == layer and (names is None or span in names))

    m = {"storage_peak_mb": metric(raw["storage_peak_bytes"] / MB, "MB")}
    # serve_api
    m["tables.read_ms"] = metric(per_op_self("tables.read"), "ms")
    m["tables.files_listed"] = metric(_ratio(fig.get("tables.files_listed", 0), fig.get("tables.opens", 0)), "count")
    m["serve.build_ms"] = metric(per_op_self("serve.build"), "ms")
    m["serve.plan_ms"] = metric(per_op_self("serve.plan"), "ms")
    m["serve.exec_ms"] = metric(per_op_self("serve.exec"), "ms")
    m["serve.task_wait_ms"] = metric(per_op("serve", layer_sum("serve", "task_wait_ms")), "ms")
    m["serve.jobs_per_op"] = metric(per_op("serve", layer_sum("serve", "jobs")), "count")
    m["serve.files_read_per_op"] = metric(_ratio(fig.get("serve.files_read", 0), fig.get("serve.scans", 0)), "count")
    m["serve.rows_scanned_per_row_returned"] = metric(
        _ratio(fig.get("serve.rows_scanned", 0), fig.get("serve.rows_returned", 0)), "ratio")
    m["plans.partitions_read_frac"] = metric(_ratio(
        fig.get("plans.partitions_read", 0),
        fig.get("serve.scans", 0) * fig.get("plans.partitions_in_table", 0)), "ratio")
    for t in REQUEST_TYPES:
        d = dur_ms.get(f"serve.{t}", [])
        m[f"serve.{t}_ms"] = metric(statistics.median(d) if d else 0.0, "ms")
    # nightly_batch: cycles
    batches = fig.get("stream.batches", 0)
    m["stream.batch_ms"] = metric(_ratio(fig.get("stream.trigger_ms", 0), batches), "ms")
    m["stream.wal_commit_ms"] = metric(per_op("stream", fig.get("stream.wal_commit_ms", 0)), "ms")
    m["stream.batches"] = metric(batches, "count")
    m["stream.rows_per_s"] = metric(_ratio(fig.get("stream.rows", 0), fig.get("stream.trigger_ms", 0) / 1e3), "1/s")
    m["ingest.exec_ms"] = metric(per_op("ingest", fig.get("ingest.add_batch_ms", 0)), "ms")
    m["ingest.dlq_rows"] = metric(fig.get("ingest.dlq_rows", 0), "count")
    m["score.exec_ms"] = metric(per_op_self("score.exec"), "ms")
    m["score.shuffle_bytes"] = metric(per_op("score", layer_sum("score", "shuffle_bytes")), "bytes")
    m["ops.upsert_ms"] = metric(per_op_self("ops.upsert"), "ms")
    m["ops.rows_written_per_row_changed"] = metric(
        _ratio(fig.get("ops.rows_written", 0), fig.get("ops.rows_changed", 0)), "ratio")
    m["maintain.write_ms"] = metric(per_op_self("maintain.write"), "ms")
    m["maintain.bytes_written"] = metric(per_op("maintain", fig.get("maintain.bytes_written", 0)), "bytes")
    m["maintain.files_written"] = metric(per_op("maintain", fig.get("maintain.files_written", 0)), "count")
    m["maintain.compact_ms"] = metric(per_op_self("maintain.compact"), "ms")
    m["maintain.compact_rewrite_amp"] = metric(
        _ratio(fig.get("maintain.compact_bytes_out", 0), fig.get("maintain.compact_bytes_in", 0)), "ratio")
    m["maintain.retention_ms"] = metric(per_op_self("maintain.retention"), "ms")
    # nightly_batch: kernel calls
    m["queries.build_ms"] = metric(per_op_self("queries.build"), "ms")
    m["queries.build_jobs"] = metric(per_op("queries", layer_sum("queries", "jobs", {"queries.build"})), "count")
    m["queries.plan_ms"] = metric(per_op_self("queries.plan"), "ms")
    m["queries.exec_ms"] = metric(per_op_self("queries.exec"), "ms")
    m["queries.exec_jobs"] = metric(per_op("queries", layer_sum("queries", "jobs", {"queries.exec"})), "count")
    m["queries.shuffle_bytes"] = metric(per_op("queries", layer_sum("queries", "shuffle_bytes")), "bytes")
    m["queries.anchor_mb"] = metric(per_op("queries", fig.get("queries.anchor_bytes", 0) / MB), "MB")
    # every layer's Spark work, per op
    for layer in LAYERS:
        m[f"{layer}.jobs"] = metric(per_op(layer, layer_sum(layer, "jobs")), "count")
        m[f"{layer}.tasks"] = metric(per_op(layer, layer_sum(layer, "tasks")), "count")
        m[f"{layer}.failed_tasks"] = metric(layer_sum(layer, "failed_tasks"), "count")
    return m


def per_kernel(raw, kernels):
    """queries.<kernel>.build_ms / .exec_ms / .jobs, averaged over passes."""
    selfs = self_times(raw["spans"])
    op_kernel = {}
    calls = {}
    for i, o in enumerate(raw["ops"]):
        op_kernel[i + 1] = o["kind"]
        calls[o["kind"]] = calls.get(o["kind"], 0) + 1
    acc = {}
    for s in raw["spans"]:
        k = op_kernel.get(s["op"])
        if k and s["name"] in ("queries.build", "queries.exec"):
            key = (k, s["name"].split(".")[1])
            acc[key] = acc.get(key, 0.0) + selfs[s["id"]] / 1e6
    m = {}
    for k in kernels:
        n = calls.get(k, 0)
        m[f"queries.{k}.build_ms"] = metric(_ratio(acc.get((k, "build"), 0.0), n), "ms")
        m[f"queries.{k}.exec_ms"] = metric(_ratio(acc.get((k, "exec"), 0.0), n), "ms")
        m[f"queries.{k}.jobs"] = metric(_ratio(raw.get("jobs_by_op", {}).get(k, 0), n), "count")
    return m


def summarize(raw, traced, kernels=()):
    """The final JSON object of a run, plus human-readable note lines."""
    ops = raw["ops"]
    failed_checks = [c for c in raw["checks"] if c["error"]]
    failed = sum(1 for o in ops if not o["ok"])
    e2e, tail_note = end_to_end(raw)
    notes = [tail_note]
    notes += [f"op failed: {o['err']}" for o in ops if not o["ok"]][:20]
    notes += [f"check failed: {c['name']}: {c['error']}" for c in failed_checks]
    if traced:
        metrics = per_layer(raw)
        metrics.update(per_kernel(raw, kernels))
        notes.append("traced end-to-end (compare with an untraced run for the tracing overhead): "
                     + ", ".join(f"{k}={v['value']:.6g}" for k, v in e2e.items()))
    else:
        metrics = e2e
    return {
        "correct": failed == 0 and not failed_checks and bool(ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
        "notes": notes,
    }
