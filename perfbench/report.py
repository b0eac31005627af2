"""Turns one benchmark run's raw record (operation times, per-operation
counters, spans) into the end-to-end and per-layer metrics."""

import json

from stats import median, mean_active, self_time

# Operation kinds per workload. `main` feeds main_p50_s and the printed
# tail, `side` feeds side_p50_s, `work` feeds work_per_s and the pipeline,
# ledger, store, plan and exec layers.
KINDS = {
    "nightly_sync": {"main": "night", "side": "read", "work": "night"},
    "backfill_sync": {"main": "month", "side": "read", "work": "month"},
    "curate_corpus": {"main": "ingest", "side": "bulk", "work": "bulk"},
}

# The names the workloads' own documents use for each end-to-end metric.
ALIASES = {
    "nightly_sync": {"main_p50_s": "night_p50_s", "main_tail": "night_tail_s",
                     "side_p50_s": "read_p50_s", "work_per_s": "sync_rows_per_s"},
    "backfill_sync": {"main_p50_s": "month_p50_s", "main_tail": "month_tail_s",
                      "side_p50_s": "read_p50_s", "work_per_s": "sync_rows_per_s"},
    "curate_corpus": {"main_p50_s": "ingest_p50_s", "main_tail": "ingest_tail_s",
                      "side_p50_s": "bulk_p50_s", "work_per_s": "curate_docs_per_s"},
}

END_TO_END = [
    ("setup_s", "s"),
    ("main_p50_s", "s"),
    ("side_p50_s", "s"),
    ("work_per_s", "1/s"),
    ("target_mb", "MB"),
    ("heap_retained_mb", "MB"),
]

# Operation-based end-to-end metrics, whose tracing overhead (traced minus
# untraced) a traced run measures by alternating traced and untraced
# operations; it keeps the metric's direction, so a throughput's overhead
# is negative and better higher.
OVERHEAD = [("main_p50_s", "s", "lower"), ("side_p50_s", "s", "lower"), ("work_per_s", "1/s", "higher")]

EXT_STAGES = ["normalize", "quality", "exact", "minhash", "components", "keepbest", "semantic",
              "index_build", "index_dedup", "index_append"]

PER_LAYER = (
    [("pipeline.run_s", "s", "lower"), ("pipeline.jobs", "count", "lower"),
     ("pipeline.driver_gap_s", "s", "lower"), ("pipeline.dims_overlap", "jobs", "higher"),
     ("ledger.writes", "count", "lower"), ("ledger.write_s", "s", "lower"),
     ("ledger.files", "count", "lower"), ("ledger.latest_s", "s", "lower")]
    + [(f"store.fs.{k}", "count", "lower")
       for k in ("list", "status", "rename", "create", "delete", "mkdirs")]
    + [("store.files_written", "count", "lower"), ("store.bytes_written", "bytes", "lower"),
       ("store.rewrite_ratio", "ratio", "lower"), ("store.files_read", "count", "lower"),
       ("store.pruned_share", "ratio", "higher"),
       ("ops.changed_keys", "count", "higher"),
       ("plan.queries", "count", "lower"), ("plan.s", "s", "lower")]
    + [(f"exec.{k}", u, b) for k, u, b in (
        ("stages", "count", "lower"), ("tasks", "count", "lower"), ("cpu_s", "s", "lower"),
        ("run_s", "s", "lower"), ("core_util", "ratio", "higher"), ("gc_s", "s", "lower"),
        ("shuffle_read_bytes", "bytes", "lower"), ("shuffle_write_bytes", "bytes", "lower"),
        ("spill_bytes", "bytes", "lower"), ("input_bytes", "bytes", "lower"))]
    + [(f"ext.{s}.{k}", u, "lower") for s in EXT_STAGES
       for k, u in (("call_s", "s"), ("jobs", "count"), ("exec_s", "s"))]
    + [("ext.lsh.candidate_yield", "ratio", "higher"), ("ext.caches_live", "count", "lower")]
    + [(f"trace.overhead.{m}", u, b) for m, u, b in OVERHEAD]
)


def end_to_end(result, ops):
    """End-to-end metrics of one run from the given operations."""
    k = KINDS[result["workload"]]

    def durs(kind):
        return [o["dur_s"] for o in ops if o["kind"] == kind]

    work = [o["rows"] / o["dur_s"] for o in ops if o["kind"] == k["work"] and o["dur_s"] > 0]
    return {
        "setup_s": result["session_s"] + median(result["setup_gen_s"]),
        "main_p50_s": median(durs(k["main"])),
        "side_p50_s": median(durs(k["side"])),
        "work_per_s": median(work),
        "target_mb": result["target_bytes"] / 1e6,
        "heap_retained_mb": result["heap_retained_bytes"] / 1e6,
    }


def load_spans(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


class OpSpans:
    """The spans of one traced operation."""

    def __init__(self, spans):
        self.spans = spans
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = [(s["start_ms"], s["end_ms"]) for s in spans if s["name"] == "spark.job"]

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def descendant_jobs(self, span):
        out, todo = [], list(self.children.get(span["id"], []))
        while todo:
            s = todo.pop()
            if s["name"] == "spark.job":
                out.append((s["start_ms"], s["end_ms"]))
            todo.extend(self.children.get(s["id"], []))
        return out


def dur_s(span):
    return (span["end_ms"] - span["start_ms"]) / 1e3


def per_layer(result, spans):
    """Per-layer metrics: the median over traced operations of each
    per-operation value; 0 where a layer is not exercised by the workload."""
    w = result["workload"]
    k = KINDS[w]
    traced = [(i, o) for i, o in enumerate(result["ops"]) if o["traced"]]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    op_spans = {i: OpSpans(by_op.get(i, [])) for i, _ in traced}

    def over(kind, fn):
        vals = [v for i, o in traced if o["kind"] == kind for v in [fn(i, o)] if v is not None]
        return median(vals) if vals else 0.0

    def counter(kind, name):
        return over(kind, lambda i, o: o["counters"].get(name, 0.0))

    def span_value(name, fn):
        vals = [fn(op_spans[i], s) for i, _ in traced for s in op_spans[i].named(name)]
        return median(vals) if vals else 0.0

    m = {}
    work = k["work"]
    m["pipeline.run_s"] = span_value("pipeline.run", lambda o, s: dur_s(s))
    m["pipeline.jobs"] = span_value("pipeline.run", lambda o, s: len(o.descendant_jobs(s)))
    m["pipeline.driver_gap_s"] = span_value(
        "pipeline.run", lambda o, s: self_time(s["start_ms"], s["end_ms"], o.descendant_jobs(s)) / 1e3)
    m["pipeline.dims_overlap"] = span_value(
        "pipeline.dims", lambda o, s: mean_active(s["start_ms"], s["end_ms"], o.jobs))
    for name in ("ledger.writes", "ledger.write_s", "ledger.files"):
        m[name] = counter(work, name)
    m["ledger.latest_s"] = span_value("ledger.latest", lambda o, s: dur_s(s))
    for name in ("list", "status", "rename", "create", "delete", "mkdirs"):
        m[f"store.fs.{name}"] = counter(work, f"store.fs.{name}")
    m["store.files_written"] = counter(work, "store.files_written")
    m["store.bytes_written"] = counter(work, "store.bytes_written")
    m["store.rewrite_ratio"] = 0.0 if w == "curate_corpus" else over(
        work, lambda i, o: o["counters"].get("store.rows_written", 0.0) / o["rows"] if o["rows"] else None)
    m["store.files_read"] = counter(k["side"], "store.files_read")
    m["store.pruned_share"] = counter(k["side"], "store.pruned_share")
    m["ops.changed_keys"] = counter(work, "ops.changed_keys")
    m["plan.queries"] = counter(work, "plan.queries")
    m["plan.s"] = counter(work, "plan.s")
    for name in ("stages", "tasks", "cpu_s", "run_s", "gc_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"exec.{name}"] = counter(work, f"exec.{name}")
    m["exec.core_util"] = over(work, lambda i, o: o["counters"].get("exec.run_s", 0.0)
                               / (o["dur_s"] * result["cores"]) if o["dur_s"] > 0 else None)
    for stage in EXT_STAGES:
        m[f"ext.{stage}.call_s"] = span_value(f"ext.{stage}", lambda o, s: dur_s(s))
        m[f"ext.{stage}.jobs"] = span_value(f"ext.{stage}", lambda o, s: len(o.descendant_jobs(s)))
        m[f"ext.{stage}.exec_s"] = span_value(f"ext.{stage}.exec", lambda o, s: dur_s(s))
    m["ext.lsh.candidate_yield"] = counter(k["work"], "ext.lsh.candidate_yield")
    m["ext.caches_live"] = max([o["counters"].get("ext.caches_live", 0.0) for o in result["ops"]] or [0.0])

    on = end_to_end(result, [o for _, o in traced])
    off = end_to_end(result, [o for o in result["ops"] if not o["traced"]])
    for name, _, _ in OVERHEAD:
        m[f"trace.overhead.{name}"] = (on[name] - off[name]) if None not in (on[name], off[name]) else 0.0
    return m


def self_times(spans):
    """Median self time per benchmark span name, over all traced operations."""
    out = {}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for op in by_op.values():
        t = OpSpans(op)
        for s in op:
            if s["name"] == "spark.job":
                continue
            kids = [(c["start_ms"], c["end_ms"]) for c in t.children.get(s["id"], [])]
            out.setdefault(s["name"], []).append(self_time(s["start_ms"], s["end_ms"], kids) / 1e3)
    return {k: median(v) for k, v in sorted(out.items())}
