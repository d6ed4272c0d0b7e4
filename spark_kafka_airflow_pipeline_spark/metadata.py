"""Declarative dataflow spec: the engine's "query language".

Mirrors the reference's JSON metadata model one-to-one so any reference
``metadata.json`` loads unchanged:

- ``DataflowMetadata{dataflows}``            -> ``Dataflow.scala:3``
- ``Dataflow{name,sources,transformations,sinks}`` -> ``Dataflow.scala:5-8``
- ``DataflowSource{name,path,format}``       -> ``Dataflow.scala:10-12``
- ``DataflowTransformation{name,type,params}`` -> ``Dataflow.scala:14-16``
- ``params{input,validations?,addFields?}``  -> ``Dataflow.scala:18-20``
- ``DataflowSink{input,name,paths,format,saveMode}`` -> ``Dataflow.scala:28-32``

Parsing is plain-Python driver-side work (the reference uses lift-json,
``PipelineProcessor.scala:158-166``); no Spark involvement.

Documented deviation from the reference: ``params.input`` and
``sink.input`` are honored as real DAG edges by the executor, whereas
the reference hard-codes the pipeline order and ignores ``params.input``
(``PipelineProcessor.scala:24-39``; see SURVEY.md §1.4).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class Source:
    """One input: ``{name, path, format}`` (``Dataflow.scala:10-12``).

    ``path`` may contain globs and any Hadoop-FS scheme (local, hdfs://,
    s3a:// ...), exactly like the reference (``metadata.json:8``,
    ``metadata-hdfs.json:8``). ``options`` is an engine extension for
    reader options (header, schema, Kafka bootstrap servers...).
    """

    name: str
    path: str
    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)
    schema: str | None = None  # optional DDL string; None = infer (reference default)
    # engine extension: True reads the path as a Structured Streaming
    # file source (micro-batched); downstream transformations are the
    # same DataFrame ops, sinks drain via foreachBatch
    streaming: bool = False


@dataclass(frozen=True)
class Validation:
    """``{field, validations:[rule...]}`` (``Dataflow.scala:22-23``).

    Rules: ``notEmpty`` | ``notNull`` (``PipelineProcessor.scala:58-59``)
    plus engine extensions registered in ``transforms.validate_fields``.
    """

    field: str
    validations: list[str]


@dataclass(frozen=True)
class AddField:
    """``{name, function}`` where function is ANY Spark SQL expression
    string, evaluated with ``F.expr`` (reference: ``expr(field.function)``
    at ``PipelineProcessor.scala:99``)."""

    name: str
    function: str


@dataclass(frozen=True)
class TransformationParams:
    input: str | None = None
    validations: list[Validation] = field(default_factory=list)
    addFields: list[AddField] = field(default_factory=list)
    # engine extensions (all optional, absent from the reference model):
    sql: str | None = None            # type="sql": full SQL over named inputs
    expr: str | None = None           # type="filter": predicate string
    columns: list[str] = field(default_factory=list)  # type="select"/"drop"/"dedup"
    right: str | None = None          # type="join": right-side node name
    on: list[str] = field(default_factory=list)       # type="join": equi-join keys
    how: str = "inner"                # type="join": join strategy
    groupBy: list[str] = field(default_factory=list)  # type="aggregate"
    aggregates: list[AddField] = field(default_factory=list)  # type="aggregate": name + agg expr
    inputs: list[str] = field(default_factory=list)   # type="union": node names
    n: int | None = None                              # type="limit": row count
    mapping: dict[str, str] = field(default_factory=dict)  # type="rename": old -> new
    partitionBy: list[str] = field(default_factory=list)   # type="window"
    orderBy: list[str] = field(default_factory=list)       # type="window": "-col" = desc
    fields: list[AddField] = field(default_factory=list)   # type="window": name + window fn expr
    idColumn: str | None = None       # type="dedup_near": unique id column
    textColumn: str = "text"          # type="dedup_near": text column
    threshold: float = 0.5            # type="dedup_near": Jaccard cutoff
    # type="dedup_near": "fast" (xxhash64, production) or "md5"
    # (portable hashes, oracle-provable)
    hashFamily: str = "fast"
    # type="intersect"/"except": keep duplicate multiplicity (SQL ALL)
    all: bool = False                 # noqa: A003 - mirrors SQL keyword
    column: str | None = None         # type="watermark": event-time column
    delay: str | None = None          # type="watermark": e.g. "1 hour"


@dataclass(frozen=True)
class Transformation:
    """``{name, type, params}`` (``Dataflow.scala:14-16``).

    Reference dispatches exactly two types: ``add_fields``
    (``PipelineProcessor.scala:25``) and ``validate_fields`` (``:35``).
    The engine's kinds are the keys of ``executor._BUILDERS``.
    """

    name: str
    type: str
    params: TransformationParams


@dataclass(frozen=True)
class Sink:
    """``{input, name, paths, format, saveMode}`` (``Dataflow.scala:28-32``).

    The write path is ``<path>/<name>`` per configured path, exactly the
    reference layout (``PipelineProcessor.scala:128``). ``saveMode`` is
    case-insensitive, as Spark's ``DataFrameWriter.mode(String)`` accepts
    the reference's ``"OVERWRITE"`` (``metadata.json:56``).
    """

    input: str
    name: str
    paths: list[str]
    format: str = "parquet"
    saveMode: str = "append"
    options: dict[str, str] = field(default_factory=dict)
    partitionBy: list[str] = field(default_factory=list)  # engine extension: partitioned writes for scale


@dataclass(frozen=True)
class Dataflow:
    name: str
    sources: list[Source]
    transformations: list[Transformation]
    sinks: list[Sink]


@dataclass(frozen=True)
class DataflowMetadata:
    dataflows: list[Dataflow]


def _parse_params(raw: dict[str, Any]) -> TransformationParams:
    return TransformationParams(
        input=raw.get("input"),
        validations=[Validation(v["field"], list(v["validations"]))
                     for v in raw.get("validations") or []],
        addFields=[AddField(f["name"], f["function"])
                   for f in raw.get("addFields") or []],
        sql=raw.get("sql"),
        expr=raw.get("expr"),
        columns=list(raw.get("columns") or []),
        right=raw.get("right"),
        on=list(raw.get("on") or []),
        how=raw.get("how", "inner"),
        groupBy=list(raw.get("groupBy") or []),
        aggregates=[AddField(a["name"], a["function"])
                    for a in raw.get("aggregates") or []],
        inputs=list(raw.get("inputs") or []),
        n=raw.get("n"),
        mapping=dict(raw.get("mapping") or {}),
        partitionBy=list(raw.get("partitionBy") or []),
        orderBy=list(raw.get("orderBy") or []),
        fields=[AddField(f["name"], f["function"])
                for f in raw.get("fields") or []],
        idColumn=raw.get("idColumn"),
        textColumn=raw.get("textColumn", "text"),
        threshold=float(raw.get("threshold", 0.5)),
        hashFamily=raw.get("hashFamily", "fast"),
        all=bool(raw.get("all", False)),
        column=raw.get("column"),
        delay=raw.get("delay"),
    )


def parse_metadata(raw: dict[str, Any] | str) -> DataflowMetadata:
    """Deserialize a metadata dict / JSON string into the spec model.

    Equivalent of the reference's lift-json ``parse(...).extract``
    (``PipelineProcessor.scala:161-164``), with actual validation of
    required keys (the reference throws opaque MappingExceptions).
    """
    if isinstance(raw, str):
        raw = json.loads(raw)
    dataflows = []
    for df_raw in raw.get("dataflows", []):
        for key in ("name", "sources", "transformations", "sinks"):
            if key not in df_raw:
                raise ValueError(f"dataflow missing required key {key!r}: {df_raw.get('name', '<unnamed>')}")
        dataflows.append(Dataflow(
            name=df_raw["name"],
            sources=[Source(name=s["name"], path=s["path"],
                            format=s.get("format", "parquet"),
                            options=dict(s.get("options") or {}),
                            schema=s.get("schema"),
                            streaming=bool(s.get("streaming", False)))
                     for s in df_raw["sources"]],
            transformations=[Transformation(t["name"], t["type"],
                                            _parse_params(t.get("params") or {}))
                             for t in df_raw["transformations"]],
            sinks=[Sink(input=s["input"], name=s["name"], paths=list(s["paths"]),
                        format=s.get("format", "parquet"),
                        saveMode=s.get("saveMode", "append"),
                        options=dict(s.get("options") or {}),
                        partitionBy=list(s.get("partitionBy") or []))
                   for s in df_raw["sinks"]],
        ))
    return DataflowMetadata(dataflows=dataflows)


def load_metadata(path: str) -> DataflowMetadata:
    """Read + deserialize a metadata JSON file
    (reference: ``readMetadata``, ``PipelineProcessor.scala:158-166``)."""
    with open(path, encoding="utf-8") as fh:
        return parse_metadata(json.load(fh))
