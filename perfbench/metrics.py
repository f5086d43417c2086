"""Turn a workload run into the benchmark's metrics.

End-to-end metrics (tracing off) are the same for every workload; an
"op" is one face run in fixtures-sf0.1 and one ingest, ask or delete in
rag-session.  A request, behind `request_p50_ms`, is what a user waits
for: a refresh of all the faces (one pass) in fixtures-sf0.1, and one
ask in rag-session.  Per-layer metrics (tracing on) are totals
per traced pass, except the `_ms` span metrics, which are medians per
call, and the `io.store_*`, `io.scratch_*`, `session.*`, `gen.*` and
`trace.*` metrics, which are per run.
"""

from __future__ import annotations

import statistics

import eventlog
from stats import geomean, percentile, tail_percentile, union_length

UNITS = {
    # end to end
    "setup_s": "s", "wall_s": "s", "op_geomean_ms": "ms", "request_p50_ms": "ms",
    # per layer
    "session.get_spark_s": "s", "session.peak_rss_mb": "MB", "session.warmup_s": "s", "gen.data_s": "s",
    "registry.construct_s": "s", "registry.eager_jobs": "count",
    "registry.rows_out": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.idle_s": "s", "exec.input_records": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.result_bytes": "bytes",
    "exec.failed_tasks": "count",
    "pyworker.udf_s": "s", "pyworker.udf_calls": "count",
    "io.bytes_written": "bytes", "io.files_written": "count",
    "io.store_files": "count", "io.writer_lease_ms": "ms",
    "io.store_bytes_per_doc_byte": "ratio",
    "io.scratch_left_mb": "MB", "io.scratch_left_entries": "count",
    "engine.create_embeddings_ms": "ms", "engine.query_embeddings_ms": "ms",
    "engine.get_answer_ms": "ms", "engine.ingest_data_ms": "ms",
    "engine.delete_data_ms": "ms", "rag.ingest_pipeline_ms": "ms",
    "chunking.validate_context_ms": "ms",
    "retrieval.similarity_search_topk_ms": "ms",
    "rag.context_group_dedup_ms": "ms", "rag.prompt_assemble_ms": "ms",
    "trace.coverage": "ratio", "trace.overhead": "ratio",
}
END_TO_END = ("setup_s", "wall_s", "op_geomean_ms", "request_p50_ms")
PER_LAYER = tuple(k for k in UNITS if k not in END_TO_END)
# the layers that have per-layer metrics; `trace.coverage` counts only
# their self time, so time kept by the benchmark's own container spans
# (`driver` around bench._force, `client` around createDataFrame) shows
# as missing coverage
METRIC_LAYERS = frozenset(k.split(".")[0] for k in PER_LAYER)

# the rag-session spans: (module or class, attribute, metric, layer, is a context manager)
RAG_SPANS = (
    ("vector_ai_npm_spark.engine:VectorEngine", "create_embeddings",
     "engine.create_embeddings_ms", "engine", False),
    ("vector_ai_npm_spark.engine:VectorEngine", "query_embeddings",
     "engine.query_embeddings_ms", "engine", False),
    ("vector_ai_npm_spark.engine:VectorEngine", "get_answer",
     "engine.get_answer_ms", "engine", False),
    ("vector_ai_npm_spark.engine:VectorEngine", "ingest_data",
     "engine.ingest_data_ms", "engine", False),
    ("vector_ai_npm_spark.engine:VectorEngine", "delete_data",
     "engine.delete_data_ms", "engine", False),
    ("vector_ai_npm_spark.rag.pipeline", "ingest_pipeline",
     "rag.ingest_pipeline_ms", "rag", False),
    ("vector_ai_npm_spark.chunking.mdx", "validate_context",
     "chunking.validate_context_ms", "chunking", False),
    ("vector_ai_npm_spark.retrieval.search", "similarity_search_topk",
     "retrieval.similarity_search_topk_ms", "retrieval", False),
    ("vector_ai_npm_spark.rag.pipeline", "context_group_dedup",
     "rag.context_group_dedup_ms", "rag", False),
    ("vector_ai_npm_spark.rag.pipeline", "prompt_assemble",
     "rag.prompt_assemble_ms", "rag", False),
    ("vector_ai_npm_spark.io.lease", "writer_lease",
     "io.writer_lease_ms", "io", True),
)
PHASES = ("analysis", "optimization", "planning")


def register_spans(tracer, workload: str) -> None:
    import importlib

    if workload != "rag-session":
        return
    for target, attr, metric, layer, is_cm in RAG_SPANS:
        mod_name, _, cls = target.partition(":")
        owner = importlib.import_module(mod_name)
        if cls:
            owner = getattr(owner, cls)
        tracer.register(owner, attr, metric, layer, context_manager=is_cm)


def phase_hook(tracer):
    """A DataFrame.collect callback that records the collected plan's
    Catalyst phases as spans under the innermost open span."""
    def hook(df, rows):
        parent = tracer.current()
        phases = df._jdf.queryExecution().tracker().phases()
        for name in PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                p = opt.get()
                tracer.add(f"catalyst.{name}", "catalyst", p.startTimeMs() / 1000.0,
                           p.endTimeMs() / 1000.0, parent)
    return hook


class UdfProfiler:
    """Python UDF time from `spark.sql.pyspark.udf.profiler=perf`,
    switched on only for traced passes."""

    CONF = "spark.sql.pyspark.udf.profiler"

    def __init__(self, spark):
        self.spark = spark

    def on(self) -> None:
        self.spark.conf.set(self.CONF, "perf")

    def off(self) -> None:
        self.spark.conf.unset(self.CONF)

    def totals(self) -> tuple[float, int]:
        """(seconds inside profiled UDFs, calls of their entry functions)."""
        secs = 0.0
        calls = 0
        for stats in self.spark.profile.profiler_collector._perf_profile_results.values():
            secs += stats.total_tt
            for (cc, nc, tt, ct, callers) in stats.stats.values():
                if not callers:
                    calls += nc
        return secs, calls


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def cycle_walls(run) -> list[float]:
    """Wall time of each cycle of timed passes (`Run.loop` stops only
    after whole cycles)."""
    walls = [0.0] * (len(run.passes) // run.cycle)
    for p in run.passes:
        walls[p["i"] // run.cycle] += p["wall"]
    return walls


def end_to_end(run, session_s: float) -> dict[str, float]:
    ops = [o for o in run.ops if o["ok"]] or run.ops
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["s"])
    if run.workload == "rag-session":
        request = by_kind.get("ask") or [o["s"] for o in run.ops if o["kind"] == "ask"]
    else:
        # not the median face run: the faces' times cluster, and the
        # median of nine jumped between clusters from run to run
        request = [p["wall"] for p in run.passes]
    # wall_s and op_geomean_ms take the fastest of the repeats, as
    # bench.py's best-of-5 does: the host's co-tenant noise only ever
    # slows a run down
    return {
        "setup_s": session_s + run.info["warmup_s"],
        "wall_s": min(cycle_walls(run)),
        "op_geomean_ms": 1000.0 * geomean(min(v) for v in by_kind.values()),
        "request_p50_ms": 1000.0 * statistics.median(request),
    }


def _in_windows(t: float, windows) -> bool:
    return any(s <= t <= e for s, e in windows)


def _attach(tracer, events: dict, windows, prefix: str) -> list[dict]:
    """Add each event-log record (job or SQL execution) that starts in a
    traced window as an `exec` span under the innermost traced span
    that contains it; returns those records."""
    depth = {}
    for s in tracer.spans:
        depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
    eps = 0.002  # event-log times are whole milliseconds
    traced = []
    base = list(tracer.spans)
    for eid, ev in sorted(events.items()):
        if ev["end"] is None or not _in_windows(ev["start"], windows):
            continue
        traced.append(ev)
        best = None
        for s in base:
            if s["start"] - eps <= ev["start"] and ev["end"] <= s["end"] + eps:
                if best is None or depth[s["id"]] > depth[best["id"]]:
                    best = s
        tracer.add(f"{prefix}{eid}", "exec", ev["start"], ev["end"],
                   best["id"] if best else None, group=ev["group"], desc=ev["desc"])
    return traced


def per_layer(run, tracer, events: tuple[dict, dict], session_s: float, peak_rss_mb: float,
              left_bytes: int, left_entries: int) -> tuple[dict, dict]:
    traced_passes = [p for p in run.passes if p["traced"]]
    plain_passes = [p for p in run.passes if not p["traced"] and not p["settle"]]
    n = max(1, len(traced_passes))
    windows = [(p["start"], p["end"]) for p in traced_passes]
    jobs, executions = events
    # executions first, so each job nests in the execution that ran it
    _attach(tracer, executions, windows, "sql")
    tjobs = _attach(tracer, jobs, windows, "job")
    mine = [j for j in tjobs if (j["group"] or "").startswith(run.workload + ":")]
    tot = eventlog.totals(mine)

    # exec idle: op (fixtures: force) time with no task of the run running
    tasks = [t for j in mine for t in j["tasks"]]
    idle = 0.0
    for s in tracer.spans:
        if s.get("idle_basis") or (run.workload == "rag-session" and s.get("op")):
            inside = [(max(a, s["start"]), min(b, s["end"])) for a, b in tasks
                      if b > s["start"] and a < s["end"]]
            idle += (s["end"] - s["start"]) - union_length(inside)

    layer_self = tracer.layer_self_seconds()
    traced_ops = [o for o in run.ops if o["traced"]]
    op_wall = sum(o["s"] for o in traced_ops)
    udf_s, udf_calls = run.profiler.totals() if run.profiler else (0.0, 0)

    def span_ms(name):
        return 1000.0 * _median(tracer.durations(name))

    def phase_s(name):
        return sum(tracer.durations(f"catalyst.{name}")) / n

    vals = {
        "session.get_spark_s": session_s,
        "session.peak_rss_mb": peak_rss_mb,
        "session.warmup_s": run.info.get("warmup_s", 0.0),
        "gen.data_s": run.info.get("gen_s", 0.0),
        "registry.construct_s": sum(tracer.durations("registry.construct")) / n,
        "registry.eager_jobs": sum(1 for j in mine if j["desc"] == "construct") / n,
        "registry.rows_out": sum(o.get("rows", 0) for o in traced_ops) / n,
        "catalyst.analysis_s": phase_s("analysis"),
        "catalyst.optimization_s": phase_s("optimization"),
        "catalyst.planning_s": phase_s("planning"),
        "exec.jobs": tot["jobs"] / n,
        "exec.stages": tot["stages"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.task_run_s": tot["task_run_s"] / n,
        "exec.task_cpu_s": tot["task_cpu_s"] / n,
        "exec.gc_s": tot["gc_s"] / n,
        "exec.idle_s": idle / n,
        "exec.input_records": tot["input_records"] / n,
        "exec.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "exec.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "exec.spill_bytes": tot["spill_bytes"] / n,
        "exec.result_bytes": tot["result_bytes"] / n,
        "exec.failed_tasks": tot["failed_tasks"] / n,
        "pyworker.udf_s": udf_s / n,
        "pyworker.udf_calls": udf_calls / n,
        "io.bytes_written": tot["output_bytes"] / n,
        "io.files_written": run.info.get("files_written", 0) / n,
        "io.store_files": run.info.get("store_files", 0),
        "io.writer_lease_ms": span_ms("io.writer_lease_ms"),
        "io.store_bytes_per_doc_byte": run.info.get("store_bytes_per_doc_byte", 0.0),
        "io.scratch_left_mb": left_bytes / 2**20,
        "io.scratch_left_entries": left_entries,
    }
    for metric in UNITS:
        if metric.endswith("_ms") and metric.split(".")[0] in ("engine", "rag", "chunking", "retrieval"):
            vals[metric] = span_ms(metric)
    covered = sum(v for layer, v in layer_self.items() if layer in METRIC_LAYERS)
    vals["trace.coverage"] = covered / op_wall if op_wall else 0.0
    vals["trace.overhead"] = (
        _median([p["wall"] for p in traced_passes]) / _median([p["wall"] for p in plain_passes])
        if traced_passes and plain_passes else 0.0
    )
    vals = {k: vals[k] for k in PER_LAYER}

    by_op = {}
    st = tracer.self_times()
    op_of = {}
    for s in tracer.spans:
        if s.get("op"):
            op_of[s["id"]] = s["name"]
        elif s["parent"] in op_of:
            op_of[s["id"]] = op_of[s["parent"]]
        if s["id"] in op_of and s["layer"]:
            d = by_op.setdefault(op_of[s["id"]], {})
            d[s["layer"]] = d.get(s["layer"], 0.0) + st[s["id"]]
    latency = {}
    for kind in sorted({o["kind"] for o in run.ops}):
        secs = [o["s"] for o in run.ops if o["kind"] == kind]
        q = tail_percentile(len(secs))
        latency[kind] = {"n": len(secs), "p50_ms": 1000.0 * percentile(secs, 50),
                         "tail_q": q,
                         "tail_ms": 1000.0 * percentile(secs, q) if q else None}
    trace_doc = {
        "workload": run.workload, "seed": run.seed, "metrics": vals,
        "op_latency": latency,
        "units": {k: UNITS[k] for k in vals},
        "layer_self_s": layer_self,
        "op_layer_self_s": by_op,
        "ops": traced_ops, "passes": run.passes, "info": {
            k: v for k, v in run.info.items() if k != "tuples"},
        "spans": tracer.spans,
    }
    return vals, trace_doc
