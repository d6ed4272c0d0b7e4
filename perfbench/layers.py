"""The traced run: per-layer metrics for one workload.

A traced run alternates plain and traced warm passes, so it can state
its own overhead (median traced pass minus median plain pass).  A
traced pass wraps the package's public functions in spans, records the
range of Spark SQL executions and jobs it caused, and listens to stream
progress.  Batch dataflows then get prefix timings: each node is
materialized through the ``noop`` sink after a fresh ``build_nodes``,
and a node's self time is its prefix time minus its parent's.

Every per-layer metric is printed on every workload; a layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from py4j.protocol import Py4JError

from perfbench import trace
from perfbench.workloads import HEADLINE, short_code

#: per-layer metrics of the workloads in BENCHMARK.json
UNITS = {}


def _declare(unit: str, *names: str, into: dict = UNITS) -> None:
    for n in names:
        into[n] = unit


_declare("s", "session.start_s", "metadata.parse_s", "executor.build_s",
         "io.sources.scan_s", "validate_fields.self_s", "add_fields.self_s",
         "io.sinks.ok.write_s", "io.sinks.ko.write_s",
         "io.sinks.events.write_s", "io.sinks.current.write_s",
         "io.sinks.upsert_merge_s", "stream.batch_p50_s",
         "stream.batch_tail_s", "trace.overhead_s",
         "jvm.first_pass_cpu_s", "jvm.jit_cpu_s")
_declare("count", "executor.spark_jobs", "io.sources.scan_count",
         "io.sinks.files_written", "stream.queries_started",
         "stream.batches")
_declare("bytes", "executor.cached_bytes", "io.sources.bytes_read",
         "io.sinks.bytes_written", "io.sinks.upsert_state_bytes")
_declare("rows", "validate_fields.ok_rows", "validate_fields.ko_rows",
         "io.sinks.upsert_state_rows")
_declare("rows", *(f"validate_fields.code.{c}" for c in (
    "name-notEmpty", "email-notNull", "email-matches", "age-inRange",
    "amount-nonNegative", "value-nonNegative")))
_declare("ratio", "stream.read_amplification")
_declare("pct", "stream.batch_tail_pct")
STREAM_PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                 "walCommit", "commitOffsets")
_declare("ms", *(f"stream.{p}_ms" for p in STREAM_PHASES))

#: extra metrics printed by the workloads that BENCHMARK.json leaves out
DEDUP = {}
_declare("s", "dedup.self_s", into=DEDUP)
_declare("rows", "dedup.shuffle_rows", "dedup.peak_operator_rows",
         "dedup.dropped_docs", into=DEDUP)
CORPUS = dict(DEDUP)
_declare("s", "io.sinks.train.write_s", "io.sinks.rejected.write_s",
         into=CORPUS)
_declare("rows", *(f"validate_fields.code.{c}" for c in (
    "text-notBlank", "text-minLength", "lang-oneOf")), into=CORPUS)
QUERIES = dict(DEDUP)
_declare("bytes", "query.spill_bytes", "query.broadcast_bytes", into=QUERIES)
_declare("s", "query.count_s", into=QUERIES)
for _q in HEADLINE:
    _declare("s", f"query.{_q}.s", into=QUERIES)
    _declare("count", f"query.{_q}.exchanges", into=QUERIES)
    _declare("bytes", f"query.{_q}.shuffle_bytes", into=QUERIES)
EXTRA_UNITS = {"corpus_dedup": CORPUS, "query_mix": QUERIES}

#: node chain timed by prefixes: (metric, node, parent node)
PREFIXES = {
    "etl_batch": (("io.sources.scan_s", "events", None),
                  ("validate_fields.self_s", "validation_ok", "events"),
                  ("add_fields.self_s", "enriched", "validation_ok")),
    "corpus_dedup": (("io.sources.scan_s", "docs", None),
                     ("validate_fields.self_s", "gate_ok", "docs"),
                     ("dedup.self_s", "dedup", "gate_ok")),
}
PREFIX_ROUNDS = 3
# at least 20 micro-batches pooled on stream_upsert, so the stream's
# tail percentile has 10 batches beyond its median
TRACED_PASSES = 5
INPUT_FORMAT = {"etl_batch": "json", "stream_upsert": "json",
                "query_mix": "parquet", "corpus_dedup": "parquet"}


def _wait_for_listeners(spark) -> None:
    """Let the listener bus deliver pending (stream progress) events."""
    try:
        spark._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Py4JError:  # not reachable on this Spark version
        time.sleep(0.5)


class TracedPasses:
    """Runs instrumented passes and keeps one record per pass."""

    def __init__(self, w, tracer, store):
        self.w, self.tracer, self.store = w, tracer, store
        self.records: list[dict] = []
        self.listener = trace.progress_listener()

    def _targets(self):
        from spark_kafka_airflow_pipeline_spark import executor
        from spark_kafka_airflow_pipeline_spark.io import sinks

        return [
            (executor, "read_source", "io.sources.read_source"),
            (executor, "read_sources_union", "io.sources.read_sources_union"),
            (executor, "validate_fields_split",
             "transforms.validate_fields_split"),
            (executor, "add_fields", "transforms.add_fields"),
            (executor, "write_sink", "io.sinks.{sink}.write"),
            (sinks, "write_sink", "io.sinks.{sink}.write"),
            (sinks, "upsert_sink", "io.sinks.upsert_merge"),
            (sinks, "foreach_batch_sink", "io.sinks.{sink}.foreach_batch_sink"),
        ]

    def __call__(self, ctx) -> None:
        spark = ctx.spark
        spark.streams.addListener(self.listener)
        try:
            with self.tracer.span("pass") as rec, \
                    trace.spark_window(self.store, rec):
                self.tracer.root = rec["id"]
                if self.w.name == "query_mix":
                    self.w.run_pass(ctx, on_query=self._query)
                else:
                    def sample_cache(span):
                        if span["name"].endswith(".write"):
                            span["cached_bytes"] = trace.cached_bytes(spark)

                    with trace.patched(self.tracer, self._targets(),
                                       after=sample_cache):
                        self.w.run_pass(ctx)
            _wait_for_listeners(spark)
        finally:
            spark.streams.removeListener(self.listener)
            self.tracer.root = None
        rec["started"], rec["progress"] = self.listener.take()
        self.records.append(rec)

    def _query(self, name, action):
        with self.tracer.span(f"query.{name}") as rec, \
                trace.spark_window(self.store, rec):
            action()


def _children(tracer, rec, prefix):
    return [s for s in tracer.spans
            if s["name"].startswith(prefix) and s["end"] is not None
            and rec["start"] <= s["start"] <= rec["end"]]


def _prefix_times(w, ctx, store, values) -> dict:
    """Set the prefix self times and ``executor.build_s`` in ``values``;
    return each node's execution-id range from the last round."""
    from spark_kafka_airflow_pipeline_spark import PipelineExecutor

    flow = ctx.meta.dataflows[0]
    chain = PREFIXES[w.name]
    times, builds, plans = defaultdict(list), [], {}
    for _ in range(PREFIX_ROUNDS):
        for _, node, _ in chain:
            t0 = time.perf_counter()
            nodes = PipelineExecutor(ctx.spark).build_nodes(flow)
            builds.append(time.perf_counter() - t0)
            rec = {}
            with trace.spark_window(store, rec):
                t0 = time.perf_counter()
                nodes[node].write.format("noop").mode("overwrite").save()
                times[node].append(time.perf_counter() - t0)
            ctx.spark.catalog.clearCache()
            plans[node] = rec["executions"]
    med = {n: trace.median(v) for n, v in times.items()}
    for metric, node, parent in chain:
        values[metric] = med[node] - (med[parent] if parent else 0.0)
    values["executor.build_s"] = trace.median(builds)
    return plans


def traced_run(w, ctx, counts, sampler, own, args) -> dict:
    from perfbench import run

    tracer = trace.Tracer(f"{w.name}-{args.seed}-{os.getpid()}")
    store = trace.StatusStore(ctx.spark)
    units = dict(UNITS, **EXTRA_UNITS.get(w.name, {}))
    values = dict.fromkeys(units, 0.0)
    values["session.start_s"] = own["session_s"]
    values["metadata.parse_s"] = own["parse_s"]

    with tracer.span("first_pass"):
        first = run.timed_pass(w, ctx, counts, sampler)
    if first is not None:
        values["jvm.first_pass_cpu_s"] = first.cpu + first.jit
    traced = TracedPasses(w, tracer, store)
    plain, traced_times = run.warm_passes(w, ctx, counts, sampler,
                                          args.seconds, [None, traced],
                                          min_passes=TRACED_PASSES)
    if not w.check_each_pass:
        run.run_checked(w, ctx, counts)
    values["jvm.jit_cpu_s"] = trace.median(p.jit for p in plain)
    plain = [p.wall for p in plain]
    traced_times = [p.wall for p in traced_times]
    values["trace.overhead_s"] = (trace.median(traced_times)
                                  - trace.median(plain))
    recs = traced.records
    fmt = INPUT_FORMAT[w.name]
    for rec in recs:
        rec["nodes"] = store.nodes(*rec["executions"])
        rec["totals"] = trace.plan_totals(rec["nodes"], fmt)

    def med(fn):
        return trace.median(fn(r) for r in recs)

    if w.name == "query_mix":
        _query_layers(tracer, store, recs, values)
        values["query.count_s"] = _count_time(ctx)
    else:
        values["executor.spark_jobs"] = med(lambda r: r["jobs"])
        values["io.sources.scan_count"] = med(
            lambda r: r["totals"]["scan_count"])
        values["io.sources.bytes_read"] = med(
            lambda r: r["totals"]["bytes_read"])
        values["io.sinks.bytes_written"] = med(
            lambda r: r["totals"]["bytes_written"])
        values["io.sinks.files_written"] = med(
            lambda r: r["totals"]["files_written"])
        values["executor.cached_bytes"] = max(
            (s.get("cached_bytes", 0) for s in tracer.named("io.sinks.")),
            default=0)
        for sink in ("ok", "ko", "events", "current", "train", "rejected"):
            name = f"io.sinks.{sink}.write"
            if tracer.named(name):
                values[f"{name}_s"] = med(lambda r: sum(
                    s["seconds"] for s in _children(tracer, r, name)))
    if w.name in PREFIXES:
        plans = _prefix_times(w, ctx, store, values)
        if w.name == "corpus_dedup":
            totals = trace.plan_totals(store.nodes(*plans["dedup"]), fmt)
            values["dedup.shuffle_rows"] = totals["shuffle_rows"]
            values["dedup.peak_operator_rows"] = totals["peak_operator_rows"]
    if w.name == "stream_upsert":
        _stream_layers(tracer, ctx, recs, values)

    obs = ctx.observed
    values["validate_fields.ok_rows"] = obs.get("ok_rows", 0)
    values["validate_fields.ko_rows"] = obs.get("ko_rows", 0)
    for code, n in obs.get("codes", {}).items():
        key = f"validate_fields.code.{short_code(code)}"
        if key in values:
            values[key] = n
    if "dedup.dropped_docs" in values:
        values["dedup.dropped_docs"] = obs.get("dropped_docs", 0)

    os.makedirs(os.path.join(run.ROOT, ".perfbench_spans"), exist_ok=True)
    span_file = os.path.join(run.ROOT, ".perfbench_spans",
                             f"{tracer.run_id}.json")
    tracer.dump(span_file)
    print(f"perfbench: spans written to {span_file}; traced pass overhead "
          f"{values['trace.overhead_s']:+.3f} s "
          f"({trace.median(traced_times):.3f} s traced vs "
          f"{trace.median(plain):.3f} s plain)")
    return {k: {"value": float(values[k]), "unit": u}
            for k, u in units.items()}


def _count_time(ctx, rounds: int = 2) -> float:
    """Median time of the 12 queries under ``.count()``, which Catalyst
    prunes to a fraction of the work (compare the ``query.*.s`` sum)."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        for name in HEADLINE:
            ctx.queries[name](ctx.spark, ctx.in_dir).count()
        times.append(time.perf_counter() - t0)
    return trace.median(times)


def _query_layers(tracer, store, recs, values) -> None:
    spill, bcast = [], []
    for rec in recs:
        pass_spill = pass_bcast = 0.0
        for s in _children(tracer, rec, "query."):
            s["totals"] = trace.plan_totals(store.nodes(*s["executions"]))
            pass_spill += s["totals"]["spill_bytes"]
            pass_bcast += s["totals"]["broadcast_bytes"]
        spill.append(pass_spill)
        bcast.append(pass_bcast)
    values["query.spill_bytes"] = trace.median(spill)
    values["query.broadcast_bytes"] = trace.median(bcast)
    for q in HEADLINE:
        spans = [s for s in tracer.spans if s["name"] == f"query.{q}"
                 and "totals" in s]
        values[f"query.{q}.s"] = trace.median(s["seconds"] for s in spans)
        values[f"query.{q}.exchanges"] = trace.median(
            s["totals"]["exchanges"] for s in spans)
        values[f"query.{q}.shuffle_bytes"] = trace.median(
            s["totals"]["shuffle_bytes"] for s in spans)
        if q == "minhash_lsh_pairs":
            values["dedup.self_s"] = values[f"query.{q}.s"]
            values["dedup.shuffle_rows"] = trace.median(
                s["totals"]["shuffle_rows"] for s in spans)
            values["dedup.peak_operator_rows"] = trace.median(
                s["totals"]["peak_operator_rows"] for s in spans)


def _stream_layers(tracer, ctx, recs, values) -> None:
    progress = [p for r in recs for p in r["progress"]]
    values["stream.queries_started"] = trace.median(r["started"] for r in recs)
    values["stream.batches"] = trace.median(len(r["progress"]) for r in recs)
    values["stream.read_amplification"] = trace.median(
        sum(p["rows"] for p in r["progress"]) for r in recs
    ) / ctx.facts["input_rows"]
    for phase in STREAM_PHASES:
        values[f"stream.{phase}_ms"] = trace.median(
            p["durations"].get(phase, 0) for p in progress)
    batch_s = [p["durations"].get("triggerExecution", 0) / 1000.0
               for p in progress]
    pct = trace.tail_percentile(len(batch_s))
    values["stream.batch_p50_s"] = trace.median(batch_s)
    values["stream.batch_tail_pct"] = pct
    values["stream.batch_tail_s"] = trace.percentile(batch_s, pct) if pct else 0.0
    values["io.sinks.upsert_merge_s"] = trace.median(
        s["seconds"] for s in tracer.named("io.sinks.upsert_merge"))
    values["io.sinks.upsert_state_rows"] = ctx.observed.get("state_rows", 0)
    values["io.sinks.upsert_state_bytes"] = ctx.observed.get("state_bytes", 0)
