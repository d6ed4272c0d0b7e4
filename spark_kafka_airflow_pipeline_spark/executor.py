"""Pipeline executor: runs a ``DataflowMetadata`` spec as a DataFrame DAG.

Reference executor: ``PipelineProcessor.process`` at
``PipelineProcessor.scala:13-42`` — for each dataflow, read+union sources
(``:29``, ``:105-113``), apply ``add_fields`` (``:31``), apply
``validate_fields`` (``:36``), persist to sinks (``:39``, ``:115-146``).

Differences from the reference, all documented in SURVEY.md:

- **Real DAG edges.** The reference ignores ``params.input`` and
  hard-codes the order (``:24-39``); the engine resolves each
  transformation's ``input`` against a node registry, so dataflows can
  declare arbitrary chains. A ``validate_fields`` node named ``v``
  registers both ``v_ok`` and ``v_ko`` (matching the reference's
  implicit ``validation_ok``/``validation_ko`` tags, ``metadata.json:38``,
  ``:59``).
- **Single-pass split** with exact partitioning NULL semantics
  (see ``transforms.validate_fields``).
- **Metadata is checked before any source is read**, in plain Python
  (``check_dataflow``): unknown kinds, unknown node or sink tags and
  missing params raise a named error instead of Scala ``MatchError``
  (``:117-146``), and start no Spark job.
- **Cache lifecycle**: the split point is cached (as the reference does,
  ``:65``) and unpersisted after all sinks are written.
- **Streaming fan-out**: a streaming dataflow starts ONE
  ``foreach_batch_sink`` query per distinct frame that sinks read (not
  one per sink), so each source file is read and validated once however
  many sinks consume it. The group's checkpoint sits at
  ``<first sink path>/<first sink name>.checkpoint``; with more than one
  sink the micro-batch is persisted once and written to each. Nodes
  that read different frames (an ok sink and a ko sink) still run one
  query each. All sink checks run before any write or query start.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.io.sinks import (
    check_streaming_sink,
    write_sink,
)
from spark_kafka_airflow_pipeline_spark.io.sources import read_source, read_sources_union
from spark_kafka_airflow_pipeline_spark.metadata import (
    Dataflow,
    DataflowMetadata,
    Sink,
    Transformation,
)
from spark_kafka_airflow_pipeline_spark.transforms import add_fields
from spark_kafka_airflow_pipeline_spark.transforms.validate_fields import (
    validate_fields_split,
)

log = logging.getLogger(__name__)


class PipelineExecutor:
    """Executes dataflows; one DataFrame lineage per dataflow."""

    def __init__(self, spark: SparkSession, observe_metrics: bool = False):
        self.spark = spark
        # per-sink row accounting via df.observe(): the count rides the
        # WRITE job itself (an accumulator over rows as they stream to
        # the sink) — no second scan, no cache, exact even at 100 TB.
        # Collected into ``self.sink_metrics`` keyed
        # (dataflow, sink.input, sink.name).
        self.observe_metrics = observe_metrics
        self.sink_metrics: dict[tuple[str, str, str], dict] = {}

    # -- public API ---------------------------------------------------

    def process(self, metadata: DataflowMetadata) -> dict[str, dict[str, DataFrame]]:
        """Run every dataflow (reference ``process()``, ``:13-42``).

        Checks every dataflow before it runs the first. Returns
        ``{dataflow_name: {node_name: DataFrame}}`` so tests and
        notebooks can inspect intermediate nodes; the reference returns
        Unit and only writes sinks.
        """
        for flow in metadata.dataflows:
            check_dataflow(flow)
        return {df.name: self.run_dataflow(df) for df in metadata.dataflows}

    def run_dataflow(self, flow: Dataflow) -> dict[str, DataFrame]:
        nodes, cached = self._build(flow)
        try:
            # every sink check runs before any write or query start, so
            # a bad sink late in the list cannot fail after earlier
            # sinks already wrote
            streams: dict[int, list[Sink]] = {}
            for sink in flow.sinks:
                if nodes[sink.input].isStreaming:
                    check_streaming_sink(sink)
                    # keyed by the frame itself, so aliases of one node
                    # (``v`` and ``v_ok``) share a query
                    streams.setdefault(id(nodes[sink.input]), []).append(sink)
            for sink in flow.sinks:
                out = nodes[sink.input]
                if out.isStreaming:
                    group = streams.pop(id(out), None)
                    if group is None:  # already drained with its group
                        continue
                    # streaming dataflow: drain what the source has via
                    # ONE foreachBatch query per distinct sink input,
                    # fanning each micro-batch out to the group's batch
                    # sink writers (availableNow = bounded run; a
                    # service deployment would start() and keep the
                    # query handle instead). The checkpoint lives
                    # beside the group's first sink output.
                    from spark_kafka_airflow_pipeline_spark.io.sinks import (
                        foreach_batch_sink,
                    )

                    first = group[0]
                    q = foreach_batch_sink(
                        out, *group,
                        checkpoint=f"{first.paths[0]}/{first.name}.checkpoint",
                        available_now=True)
                    q.awaitTermination()
                elif self.observe_metrics:
                    from pyspark.sql import Observation

                    obs = Observation(f"{flow.name}/{sink.input}/{sink.name}")
                    write_sink(out.observe(
                        obs, F.count(F.lit(1)).alias("rows")), sink)
                    self.sink_metrics[(flow.name, sink.input, sink.name)] = obs.get
                else:
                    write_sink(out, sink)
        finally:
            # cached frames are tracked explicitly at _build time: the
            # split point caches its internal ANNOTATED parent, whose
            # ok/ko children report is_cached == False — scanning node
            # outputs would find nothing and leak the cache entry per
            # dataflow run in a long-lived session
            for df in cached:
                df.unpersist()
        return nodes

    def build_nodes(self, flow: Dataflow) -> dict[str, DataFrame]:
        """Materialize the node registry without writing sinks. NB: any
        split-point cache stays alive — callers that never write sinks
        manage (or accept) that lifecycle themselves."""
        return self._build(flow)[0]

    def _build(self, flow: Dataflow) -> tuple[dict[str, DataFrame], list[DataFrame]]:
        check_dataflow(flow)
        nodes: dict[str, DataFrame] = {}
        cached: list[DataFrame] = []
        for source in flow.sources:
            nodes[source.name] = read_source(self.spark, source)
        source_names = {s.name for s in flow.sources}
        union_all = read_sources_union(self.spark, flow.sources)
        nodes["__sources__"] = union_all

        for t in flow.transformations:
            df = self._resolve_input(t, nodes, source_names)
            if t.type != "validate_fields":
                nodes[t.name] = _BUILDERS[t.type](t, df, nodes)
                continue
            # streaming frames cannot cache; the split re-evaluates per
            # micro-batch instead (bounded work per batch)
            ok, ko, cached_parent = validate_fields_split(
                df, t.params.validations, cache=not df.isStreaming)
            if cached_parent is not None:
                cached.append(cached_parent)
            nodes[f"{t.name}_ok"] = ok
            nodes[f"{t.name}_ko"] = ko
            nodes[t.name] = ok  # bare name == valid split, for chaining
        return nodes, cached

    # -- internals ----------------------------------------------------

    def _resolve_input(self, t: Transformation, nodes: dict[str, DataFrame],
                       source_names: set[str]) -> DataFrame:
        name = t.params.input
        if name is None:
            return nodes["__sources__"]
        if (name in source_names and len(source_names) > 1
                and t.type in ("add_fields", "validate_fields")):
            # reference parity for the REFERENCE's transformation types:
            # multi-source dataflows consume the union regardless of the
            # configured input (PipelineProcessor.scala:29). Engine
            # extensions (join/aggregate/union/...) address individual
            # sources — a join's build side must not silently become the
            # union of both join inputs.
            log.info("transformation %s: input %r is one of several sources; "
                     "using the union of all sources (reference semantics)",
                     t.name, name)
            return nodes["__sources__"]
        return nodes[name]


# Required params per kind, as (kind, condition on params, message),
# checked in order by ``check_dataflow``.
_REQUIRED = (
    ("sort", lambda p: p.columns, "declares no columns"),
    ("limit", lambda p: p.n is not None and p.n >= 0,
     "needs a non-negative 'n'"),
    ("rename", lambda p: p.mapping, "declares no mapping"),
    # a metadata file that omits 'on' would silently plan a
    # cartesian product — a runaway job at scale; cartesian
    # intent must be explicit via how="cross"
    ("join", lambda p: p.on or p.how == "cross",
     "declares no join keys ('on'); set how='cross' to request a "
     "cartesian product"),
    ("aggregate", lambda p: p.aggregates, "declares no aggregates"),
    ("watermark", lambda p: p.column and p.delay,
     "needs 'column' and 'delay'"),
    ("dedup_near", lambda p: p.idColumn,
     "needs 'idColumn' (a unique document id)"),
    ("fingerprint", lambda p: p.idColumn,
     "needs 'idColumn' (a unique document id)"),
    ("window", lambda p: p.fields, "declares no fields"),
    ("topk", lambda p: p.n is not None and p.n > 0, "needs a positive 'n'"),
    ("topk", lambda p: p.orderBy, "declares no orderBy"),
)


def check_dataflow(flow: Dataflow) -> None:
    """Raise on metadata that cannot run, before any Spark work: a kind
    not in ``_BUILDERS``, an ``input``/``right``/``inputs``/sink input
    that names no source or EARLIER node (``KeyError``; ``v_ok`` and
    ``v_ko`` follow a ``validate_fields`` ``v``), a missing required
    param (``ValueError``). Validation-rule names, sink formats,
    streaming sink modes and table names inside ``sql`` text need
    Spark; they are checked where it runs."""
    nodes = {s.name for s in flow.sources} | {"__sources__"}
    for t in flow.transformations:
        kind, p = t.type, t.params
        if p.input is not None and p.input not in nodes:
            raise KeyError(f"transformation {t.name!r} references unknown input "
                           f"{p.input!r}; known nodes: {sorted(nodes)}")
        if kind not in _BUILDERS:
            raise ValueError(f"unknown transformation type {kind!r} "
                             f"(node {t.name!r})")
        if kind in ("join", "intersect", "except") and p.right not in nodes:
            raise KeyError(f"{kind} {t.name!r} references unknown right "
                           f"node {p.right!r}; known: {sorted(nodes)}")
        missing = [n for n in p.inputs if n not in nodes]
        if kind == "union" and missing:
            raise KeyError(f"union {t.name!r} references unknown nodes "
                           f"{missing}; known: {sorted(nodes)}")
        for required_kind, ok, message in _REQUIRED:
            if required_kind == kind and not ok(p):
                raise ValueError(f"{kind} {t.name!r} {message}")
        nodes.add(t.name)
        if kind == "validate_fields":
            nodes |= {f"{t.name}_ok", f"{t.name}_ko"}
    for sink in flow.sinks:
        if sink.input not in nodes:
            raise KeyError(
                f"sink of dataflow {flow.name!r} references unknown node "
                f"{sink.input!r}; known nodes: {sorted(nodes)}")


def _sort_keys(names: list[str]) -> list:
    """Sort keys: "-col" descending, bare name ascending."""
    return [F.col(c[1:]).desc() if c.startswith("-") else F.col(c)
            for c in names]


def _sql(t: Transformation, df: DataFrame, nodes: dict) -> DataFrame:
    for name, frame in nodes.items():
        if not name.startswith("__"):
            frame.createOrReplaceTempView(name)
    return df.sparkSession.sql(t.params.sql)


def _aggregate(t: Transformation, df: DataFrame, nodes: dict) -> DataFrame:
    aggs = [F.expr(a.function).alias(a.name) for a in t.params.aggregates]
    # groupBy entries are full expression strings ("x AS alias"
    # allowed), so configs can group on computed keys — e.g. the
    # streaming time bucket window(ts, '1 hour') AS w. Plain
    # column names parse unchanged.
    keys = [F.expr(g) for g in t.params.groupBy]
    return df.groupBy(*keys).agg(*aggs)


def _union(t: Transformation, df: DataFrame, nodes: dict) -> DataFrame:
    frames = [nodes[n] for n in t.params.inputs] or [df]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _dedup_near(t: Transformation, df: DataFrame, nodes: dict) -> DataFrame:
    # near-duplicate removal as a DECLARATIVE step: the same
    # MinHash-LSH pipeline the operator library exposes
    # (signature pass -> banded buckets -> estimate filter ->
    # exact-Jaccard verify), then keep-first survivorship —
    # drop every doc that is the LARGER end of a verified pair
    # (deterministic; the kept set is exactly the pair-graph
    # minima). All bounded-bucket, no all-pairs join — the
    # operator library's scale posture carries over verbatim.
    from spark_kafka_airflow_pipeline_spark.functions import text as T
    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        md5_gram_sets,
        md5_minhash_verified_pairs,
        minhash_verified_pairs,
    )

    d = df.select(F.col(t.params.idColumn).alias("doc_id"),
                  F.col(t.params.textColumn).alias("text"))
    if t.params.hashFamily == "md5":
        # portable family: every hash is md5-derived, so the
        # declared step is value-hash provable against a DuckDB
        # twin (MINHASH_MD5_SQL) — the config-driven path to
        # the engine's oracled near-dedup
        pairs = md5_minhash_verified_pairs(md5_gram_sets(d),
                                           t.params.threshold)
    else:
        pairs = minhash_verified_pairs(d, lambda c: T.shingles(c, 3),
                                       16, 4, t.params.threshold)
    drop = pairs.select(F.col("doc_b").alias(t.params.idColumn)).distinct()
    return df.join(drop, t.params.idColumn, "left_anti")


def _fingerprint(t: Transformation, df: DataFrame, nodes: dict) -> DataFrame:
    # winnowing fingerprint summary as a DECLARATIVE step:
    # annotate each row with its MOSS (k=3, w=4) fingerprint
    # stats (count / xor checksum / min) — the config-driven
    # path to the oracled winnow_fingerprints operator; the
    # join back on the id preserves the full input schema
    from spark_kafka_airflow_pipeline_spark.operators.textops import (
        winnow_summary,
    )

    d = df.select(F.col(t.params.idColumn).alias("doc_id"),
                  F.col(t.params.textColumn).alias("text"))
    summary = winnow_summary(d).withColumnsRenamed(
        {"doc_id": t.params.idColumn})
    return df.join(summary, t.params.idColumn)


def _window(t: Transformation, df: DataFrame, nodes: dict) -> DataFrame:
    # declarative window functions: each field is a Spark SQL
    # expression string evaluated over ONE shared window spec,
    # so a multi-field step costs a single shuffle on the
    # partition keys (the engine's window discipline — see
    # operators.relational). "-col" in orderBy sorts descending.
    from pyspark.sql import Window

    spec = Window.partitionBy(*t.params.partitionBy)
    if t.params.orderBy:
        spec = spec.orderBy(*_sort_keys(t.params.orderBy))
    out = df
    for f in t.params.fields:
        out = out.withColumn(f.name, F.expr(f.function).over(spec))
    return out


def _topk(t: Transformation, df: DataFrame, nodes: dict) -> DataFrame:
    # declarative top-k: global (orderBy+limit lowers to
    # TakeOrderedAndProject — per-partition heaps, no full
    # sort) or per-group via one row_number window (single
    # shuffle on the partition keys). Authors should order by a
    # tie-breaking key set so the selected row SET is unique.
    keys = _sort_keys(t.params.orderBy)
    if not t.params.partitionBy:
        return df.orderBy(*keys).limit(t.params.n)
    from pyspark.sql import Window

    spec = Window.partitionBy(*t.params.partitionBy).orderBy(*keys)
    return (df.withColumn("__rn", F.row_number().over(spec))
            .filter(F.col("__rn") <= t.params.n).drop("__rn"))


# kind -> build(t, df, nodes), returning the node's frame: the single
# list of transformation kinds. Builders look module names up at call
# time (never bound here) and hold no checks; check_dataflow has them.
_BUILDERS = {
    "add_fields": lambda t, df, nodes: add_fields(df, t.params.addFields),
    # built in _build: it registers three names and a cache
    "validate_fields": None,
    "sql": _sql,
    "filter": lambda t, df, nodes: df.filter(t.params.expr),
    "select": lambda t, df, nodes: df.select(*t.params.columns),
    "drop": lambda t, df, nodes: df.drop(*t.params.columns),
    "dedup": lambda t, df, nodes: df.dropDuplicates(t.params.columns or None),
    "sort": lambda t, df, nodes: df.orderBy(*_sort_keys(t.params.columns)),
    "limit": lambda t, df, nodes: df.limit(t.params.n),
    "rename": lambda t, df, nodes: df.withColumnsRenamed(t.params.mapping),
    "join": lambda t, df, nodes: df.join(
        nodes[t.params.right], on=t.params.on or None, how=t.params.how),
    "aggregate": _aggregate,
    # event-time watermark: the declarative knob that bounds
    # streaming state (and admits append-mode window aggs).
    # Harmless no-op semantics on batch frames, same as Spark.
    "watermark": lambda t, df, nodes: df.withWatermark(
        t.params.column, t.params.delay),
    "union": _union,
    "dedup_near": _dedup_near,
    "fingerprint": _fingerprint,
    "window": _window,
    "topk": _topk,
    # declarative set ops; params.all keeps duplicate
    # multiplicity (SQL INTERSECT ALL / EXCEPT ALL). Both plan
    # as one shuffle on the full row, like any distinct.
    "intersect": lambda t, df, nodes: (
        df.intersectAll(nodes[t.params.right]) if t.params.all
        else df.intersect(nodes[t.params.right])),
    "except": lambda t, df, nodes: (
        df.exceptAll(nodes[t.params.right]) if t.params.all
        else df.subtract(nodes[t.params.right])),
}
