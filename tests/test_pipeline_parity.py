"""Reference-parity tests on the reproduced 3-row fixture
(/root/reference/src/main/resources/input.json:1-3, reproduced per
FIXTURES.md §1) plus the SURVEY.md §2.3 edge-case pins."""

from __future__ import annotations

import json

import pytest

from spark_kafka_airflow_pipeline_spark import (
    AddField,
    PipelineExecutor,
    Validation,
    parse_metadata,
)
from spark_kafka_airflow_pipeline_spark.transforms import (
    ERROR_COLUMN,
    add_fields,
    validate_fields,
)

FIXTURE_ROWS = [
    {"name": "Xabier", "age": 39, "office": ""},
    {"name": "Miguel", "office": "RIO"},
    {"name": "Fran", "age": 31, "office": "RIO"},
]

RULES = [Validation("office", ["notEmpty"]), Validation("age", ["notNull"])]


@pytest.fixture(scope="module")
def fixture_df(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("fixture") / "input.json"
    path.write_text("\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    return spark.read.json(str(path))


def test_reference_fixture_split(fixture_df):
    """Expected per FIXTURES.md §1: ok={Fran}, ko={Xabier:[office-notEmpty],
    Miguel:[age-notNull]}."""
    ok, ko = validate_fields(fixture_df, RULES)
    ok_rows = {r["name"]: r.asDict() for r in ok.collect()}
    ko_rows = {r["name"]: r.asDict() for r in ko.collect()}
    assert set(ok_rows) == {"Fran"}
    assert ok_rows["Fran"]["age"] == 31 and ok_rows["Fran"]["office"] == "RIO"
    assert ERROR_COLUMN not in ok.columns
    assert ko_rows["Xabier"][ERROR_COLUMN] == ["office-notEmpty"]
    assert ko_rows["Miguel"][ERROR_COLUMN] == ["age-notNull"]
    assert dict(ko.schema[ERROR_COLUMN].dataType.jsonValue(),
                ) == {"type": "array", "elementType": "string", "containsNull": True}


def test_multi_rule_failure_collects_all_codes(spark):
    df = spark.createDataFrame([("", None)], "office string, age long")
    _, ko = validate_fields(df, RULES)
    assert ko.collect()[0][ERROR_COLUMN] == ["office-notEmpty", "age-notNull"]


def test_null_on_notempty_field_goes_to_ko(spark):
    """SURVEY.md §2.3.3: the reference drops a NULL-office row from BOTH
    splits; the engine must route it to ko so splits partition the input."""
    df = spark.createDataFrame([(None,), ("x",)], "office string")
    ok, ko = validate_fields(df, [Validation("office", ["notEmpty"])])
    assert ok.count() == 1
    ko_rows = ko.collect()
    assert len(ko_rows) == 1
    assert ko_rows[0]["office"] is None
    assert ko_rows[0][ERROR_COLUMN] == ["office-notEmpty"]


def test_empty_rule_list_all_ok(fixture_df):
    """SURVEY.md §2.3.2: no rules => all rows ok (reference crashes on
    filter(''))."""
    ok, ko = validate_fields(fixture_df, [])
    assert ok.count() == 3
    assert ko.count() == 0
    assert ERROR_COLUMN in ko.columns


def test_parameterized_rules(spark):
    """Engine rule extensions keep the reference's plain-string rule
    syntax: args ride after a colon; the full rule string is the error
    code so a failing row names its bound."""
    df = spark.createDataFrame(
        [("alice@x.io", "porto", 31), ("bob", "unknown-city", 180),
         ("carol@y.io", "lisbon", -5)],
        "email string, city string, age long")
    rules = [Validation("email", ["matches:^[^@]+@[^@]+$"]),
             Validation("city", ["oneOf:porto|lisbon|madrid"]),
             Validation("age", ["inRange:0:120"])]
    ok, ko = validate_fields(df, rules)
    assert [r["email"] for r in ok.collect()] == ["alice@x.io"]
    codes = {r["email"]: r[ERROR_COLUMN] for r in ko.collect()}
    assert codes["bob"] == ["email-matches:^[^@]+@[^@]+$",
                            "city-oneOf:porto|lisbon|madrid",
                            "age-inRange:0:120"]
    assert codes["carol@y.io"] == ["age-inRange:0:120"]


def test_length_rules(spark):
    df = spark.createDataFrame([("ab",), ("abcdef",), ("a",)], "code string")
    ok, ko = validate_fields(
        df, [Validation("code", ["minLength:2", "maxLength:4"])])
    assert sorted(r["code"] for r in ok.collect()) == ["ab"]
    codes = {r["code"]: r[ERROR_COLUMN] for r in ko.collect()}
    assert codes["a"] == ["code-minLength:2"]
    assert codes["abcdef"] == ["code-maxLength:4"]


def test_unique_rule_is_dataset_level(spark):
    """`unique` compiles to a windowed count (one hash shuffle on the
    field, no self-join): EVERY row of a duplicated key fails."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b")], "id long, k string")
    ok, ko = validate_fields(df, [Validation("k", ["unique"])])
    assert [r["k"] for r in ok.collect()] == ["a"]
    ko_rows = ko.collect()
    assert sorted(r["id"] for r in ko_rows) == [2, 3]
    assert all(r[ERROR_COLUMN] == ["k-unique"] for r in ko_rows)


def test_unknown_rule_names_known_rules(spark):
    df = spark.createDataFrame([("x",)], "f string")
    with pytest.raises(ValueError, match="unknown validation rule"):
        validate_fields(df, [Validation("f", ["nonsense"])])


def test_add_fields_expression_surface(fixture_df):
    out = add_fields(fixture_df, [
        AddField("dt", "current_timestamp"),
        AddField("age2", "age * 2"),
        AddField("age4", "age2 * 2"),  # later field references earlier one
    ])
    rows = {r["name"]: r.asDict() for r in out.collect()}
    assert rows["Fran"]["age2"] == 62 and rows["Fran"]["age4"] == 124
    assert rows["Fran"]["dt"] is not None
    assert dict(out.schema["dt"].dataType.jsonValue() if isinstance(
        out.schema["dt"].dataType.jsonValue(), dict) else {}) or \
        out.schema["dt"].dataType.typeName() == "timestamp"


def test_end_to_end_metadata_run(spark, tmp_path):
    """Reference metadata.json shape, run end-to-end: json source ->
    add_fields -> validate -> parquet sinks at <path>/<name>."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "part1.json").write_text(
        "\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    out_ok = tmp_path / "out-ok"
    out_ko = tmp_path / "out-ko"
    meta = parse_metadata({
        "dataflows": [{
            "name": "person-pipeline",
            "sources": [
                {"name": "person_inputs", "path": str(src / "*.json"),
                 "format": "JSON"},
            ],
            "transformations": [
                {"name": "validation", "type": "validate_fields", "params": {
                    "input": "person_inputs",
                    "validations": [
                        {"field": "office", "validations": ["notEmpty"]},
                        {"field": "age", "validations": ["notNull"]},
                    ]}},
                {"name": "ok_with_date", "type": "add_fields", "params": {
                    "input": "validation_ok",
                    "addFields": [{"name": "dt",
                                   "function": "current_timestamp"}]}},
            ],
            "sinks": [
                {"input": "ok_with_date", "name": "raw-ok",
                 "paths": [str(out_ok)], "format": "PARQUET",
                 "saveMode": "OVERWRITE"},
                {"input": "validation_ko", "name": "raw-ko",
                 "paths": [str(out_ko)], "format": "PARQUET",
                 "saveMode": "OVERWRITE"},
            ],
        }]
    })
    PipelineExecutor(spark).process(meta)
    ok = spark.read.parquet(str(out_ok / "raw-ok"))
    ko = spark.read.parquet(str(out_ko / "raw-ko"))
    assert [r["name"] for r in ok.collect()] == ["Fran"]
    assert "dt" in ok.columns
    assert sorted(r["name"] for r in ko.collect()) == ["Miguel", "Xabier"]
    assert sorted(r[ERROR_COLUMN][0] for r in ko.collect()) == [
        "age-notNull", "office-notEmpty"]


def test_union_by_name_with_schema_drift(spark, tmp_path):
    """SURVEY.md §2.3.5: two JSON sources with different key sets must
    align by name, not position."""
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"name": "n1", "office": "X"}))
    b.write_text(json.dumps({"office": "Y", "name": "n2", "age": 9}))
    meta = parse_metadata({"dataflows": [{
        "name": "drift",
        "sources": [
            {"name": "sa", "path": str(a), "format": "json"},
            {"name": "sb", "path": str(b), "format": "json"},
        ],
        "transformations": [], "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    rows = {r["name"]: r.asDict() for r in nodes["__sources__"].collect()}
    assert rows["n1"]["office"] == "X" and rows["n1"].get("age") is None
    assert rows["n2"]["office"] == "Y" and rows["n2"]["age"] == 9


def test_kafka_serialization_format(spark):
    """Wire format parity: value = to_json(struct(*)) and nothing else
    (PipelineProcessor.scala:150; SURVEY.md §2.3.6)."""
    from spark_kafka_airflow_pipeline_spark.io.sinks import serialize_for_kafka

    df = spark.createDataFrame([("Fran", 31)], "name string, age long")
    out = serialize_for_kafka(df)
    assert out.columns == ["value"]
    assert json.loads(out.collect()[0]["value"]) == {"name": "Fran", "age": 31}
    keyed = serialize_for_kafka(df, key_column="name")
    assert keyed.columns == ["key", "value"]
    assert keyed.collect()[0]["key"] == "Fran"


def test_declarative_join_aggregate_union(spark, sf_dir):
    """Engine-extension transformation types: a metadata-declared
    star join + aggregate must match the directly-built DataFrame, and
    `union` must concatenate named nodes by name."""
    from pyspark.sql import functions as F

    meta = parse_metadata({"dataflows": [{
        "name": "declarative-star",
        "sources": [
            {"name": "orders_src", "path": f"{sf_dir}/orders.parquet"},
            {"name": "customer_src", "path": f"{sf_dir}/customer.parquet"},
        ],
        "transformations": [
            # select nodes address INDIVIDUAL sources (engine-extension
            # types skip the reference's multi-source union redirect)
            {"name": "o_sel", "type": "select", "params": {
                "input": "orders_src",
                "columns": ["o_custkey", "o_totalprice"]}},
            {"name": "c_sel", "type": "select", "params": {
                "input": "customer_src",
                "columns": ["c_custkey", "c_mktsegment"]}},
            {"name": "o2", "type": "add_fields", "params": {
                "input": "o_sel",
                "addFields": [{"name": "custkey", "function": "o_custkey"}]}},
            {"name": "c2", "type": "add_fields", "params": {
                "input": "c_sel",
                "addFields": [{"name": "custkey", "function": "c_custkey"}]}},
            {"name": "j", "type": "join", "params": {
                "input": "o2", "right": "c2", "on": ["custkey"],
                "how": "inner"}},
            {"name": "agg", "type": "aggregate", "params": {
                "input": "j", "groupBy": ["c_mktsegment"],
                "aggregates": [
                    {"name": "n_orders", "function": "count(1)"},
                    {"name": "total",
                     "function":
                     "cast(sum(cast(o_totalprice as decimal(20,6))) as double)"},
                ]}},
            {"name": "both", "type": "union", "params": {
                "inputs": ["agg", "agg"]}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    expected = {
        (r["c_mktsegment"], r["n_orders"], round(r["total"], 4)) for r in
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
             .cast("double").alias("total"))
        .collect()}
    got = {(r["c_mktsegment"], r["n_orders"], round(r["total"], 4))
           for r in nodes["agg"].collect()}
    assert got and got == expected
    assert nodes["both"].count() == 2 * nodes["agg"].count()


def test_join_without_keys_rejected(spark, sf_dir):
    """A metadata join that omits 'on' must raise instead of silently
    planning a cartesian product (a runaway job at scale); an explicit
    how='cross' opts in."""
    import pytest

    def flow(how_params):
        return parse_metadata({"dataflows": [{
            "name": "xjoin",
            "sources": [
                {"name": "n_src", "path": f"{sf_dir}/nation.parquet"},
                {"name": "r_src", "path": f"{sf_dir}/region.parquet"},
            ],
            "transformations": [
                {"name": "j", "type": "join",
                 "params": {"input": "n_src", "right": "r_src", **how_params}},
            ],
            "sinks": [],
        }]}).dataflows[0]

    with pytest.raises(ValueError, match="no join keys"):
        PipelineExecutor(spark).build_nodes(flow({}))
    nodes = PipelineExecutor(spark).build_nodes(flow({"how": "cross"}))
    assert nodes["j"].count() == 25 * 5  # nation x region cartesian


def test_split_cache_released_after_sinks(spark, tmp_path):
    """The split point caches its internal annotated parent, whose ok/ko
    children report is_cached == False — run_dataflow must track and
    unpersist the PARENT, or every dataflow run leaks a cache entry in a
    long-lived session. Asserted against the JVM cacheManager itself."""
    src = tmp_path / "in.json"
    src.write_text("\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    meta = parse_metadata({"dataflows": [{
        "name": "cachecheck",
        "sources": [{"name": "s", "path": str(src), "format": "json"}],
        "transformations": [
            {"name": "v", "type": "validate_fields", "params": {
                "input": "s",
                "validations": [{"field": "age", "validations": ["notNull"]}]}},
        ],
        "sinks": [
            {"input": "v_ok", "name": "ok", "paths": [str(tmp_path / "o")],
             "format": "parquet", "saveMode": "overwrite"},
            {"input": "v_ko", "name": "ko", "paths": [str(tmp_path / "o")],
             "format": "parquet", "saveMode": "overwrite"},
        ],
    }]})
    spark.catalog.clearCache()  # earlier tests cache without an executor
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    PipelineExecutor(spark).process(meta)
    assert cache_manager.isEmpty(), "split cache leaked after sinks"


def test_unknown_sink_tag_raises(spark, tmp_path):
    meta = parse_metadata({"dataflows": [{
        "name": "bad", "sources": [
            {"name": "s", "path": str(tmp_path), "format": "parquet"}],
        "transformations": [],
        "sinks": [{"input": "nope", "name": "x", "paths": [str(tmp_path)],
                   "format": "parquet", "saveMode": "overwrite"}],
    }]})
    df = spark.createDataFrame([(1,)], "a int")
    df.write.mode("overwrite").parquet(str(tmp_path))
    with pytest.raises(KeyError, match="unknown node"):
        PipelineExecutor(spark).run_dataflow(meta.dataflows[0])


def test_declarative_sort_limit_rename(spark, sf_dir):
    """Engine-extension top-k pipeline declared in metadata: sort
    (desc via '-' prefix) -> limit -> rename must match the direct
    DataFrame chain."""
    from pyspark.sql import functions as F

    meta = parse_metadata({"dataflows": [{
        "name": "topk",
        "sources": [{"name": "o", "path": f"{sf_dir}/orders.parquet"}],
        "transformations": [
            {"name": "s", "type": "sort",
             "params": {"input": "o", "columns": ["-o_totalprice", "o_orderkey"]}},
            {"name": "top5", "type": "limit", "params": {"input": "s", "n": 5}},
            {"name": "out", "type": "rename",
             "params": {"input": "top5",
                        "mapping": {"o_totalprice": "price",
                                    "o_orderkey": "okey"}}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    got = [(r["okey"], r["price"]) for r in
           nodes["out"].select("okey", "price").collect()]
    expected = [(r["o_orderkey"], r["o_totalprice"]) for r in
                spark.read.parquet(f"{sf_dir}/orders.parquet")
                .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
                .limit(5).collect()]
    assert got == expected and len(got) == 5


def test_declarative_window(spark, sf_dir):
    """`window` transformation type: rank + running total declared in
    metadata must match the direct Window chain, and both fields must
    ride ONE shared window spec (single shuffle)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    meta = parse_metadata({"dataflows": [{
        "name": "windowed",
        "sources": [{"name": "o", "path": f"{sf_dir}/orders.parquet"}],
        "transformations": [
            {"name": "w", "type": "window", "params": {
                "input": "o",
                "partitionBy": ["o_custkey"],
                "orderBy": ["-o_totalprice", "o_orderkey"],
                "fields": [
                    {"name": "rnk", "function": "row_number()"},
                    {"name": "running",
                     "function": "sum(cast(o_totalprice as decimal(20,2)))"},
                ]}},
            {"name": "top2", "type": "filter",
             "params": {"input": "w", "expr": "rnk <= 2"}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    got = {(r["o_orderkey"], r["rnk"], r["running"]) for r in
           nodes["top2"].select("o_orderkey", "rnk", "running").collect()}
    spec = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey")
    direct = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .withColumn("rnk", F.row_number().over(spec))
              .withColumn("running", F.sum(
                  F.col("o_totalprice").cast("decimal(20,2)")).over(spec))
              .filter("rnk <= 2"))
    expected = {(r["o_orderkey"], r["rnk"], r["running"]) for r in
                direct.select("o_orderkey", "rnk", "running").collect()}
    assert got == expected and got
    # one shuffle: a single Window node computes both fields
    plan = nodes["top2"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") <= 2  # Window op + possible WindowExec label


def test_declarative_dedup_near(spark, sf_dir):
    """`dedup_near` transformation type: metadata-declared MinHash
    near-dedup must equal the operator-library computation (keep-first
    survivorship over verified pairs)."""
    from pyspark.sql import functions as F

    from spark_kafka_airflow_pipeline_spark.functions import text as T
    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        estimate_filter_pairs,
        lsh_band_candidates,
        minhash_signature_agg,
        verify_pairs_jaccard,
    )

    meta = parse_metadata({"dataflows": [{
        "name": "near-dedup",
        "sources": [{"name": "docs",
                     "path": f"{sf_dir}/documents.parquet"}],
        "transformations": [
            {"name": "kept", "type": "dedup_near", "params": {
                "input": "docs", "idColumn": "doc_id",
                "textColumn": "text", "threshold": 0.5}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    got = {r.doc_id for r in nodes["kept"].select("doc_id").collect()}

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "text"))
    tokens = lambda c: T.shingles(c, 3)  # noqa: E731
    sigs = minhash_signature_agg(d, num_hashes=16, tokens=tokens)
    cand = lsh_band_candidates(sigs, 16, 4, distinct=False, carry="minhash")
    pairs = verify_pairs_jaccard(
        estimate_filter_pairs(cand, 16, 0.5), d, tokens, 0.5)
    dropped = {r.doc_b for r in pairs.select("doc_b").collect()}
    all_ids = {r.doc_id for r in d.select("doc_id").collect()}
    assert got == all_ids - dropped
    assert got  # survivors exist
    # full schema preserved (anti-join keeps original columns)
    assert set(nodes["kept"].columns) == set(
        spark.read.parquet(f"{sf_dir}/documents.parquet").columns)


def test_dedup_near_requires_id_column(spark, sf_dir):
    meta = parse_metadata({"dataflows": [{
        "name": "bad",
        "sources": [{"name": "docs",
                     "path": f"{sf_dir}/documents.parquet"}],
        "transformations": [
            {"name": "kept", "type": "dedup_near",
             "params": {"input": "docs"}},
        ],
        "sinks": [],
    }]})
    with pytest.raises(ValueError, match="idColumn"):
        PipelineExecutor(spark).build_nodes(meta.dataflows[0])


def test_window_without_fields_rejected(spark, sf_dir):
    meta = parse_metadata({"dataflows": [{
        "name": "bad",
        "sources": [{"name": "o", "path": f"{sf_dir}/orders.parquet"}],
        "transformations": [
            {"name": "w", "type": "window",
             "params": {"input": "o", "partitionBy": ["o_custkey"]}},
        ],
        "sinks": [],
    }]})
    with pytest.raises(ValueError, match="declares no fields"):
        PipelineExecutor(spark).build_nodes(meta.dataflows[0])


def test_sink_metrics_observed(spark, tmp_path):
    """observe_metrics=True: per-sink row counts ride the write jobs
    themselves (no extra scan) and land in executor.sink_metrics."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "part1.json").write_text(
        "\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    meta = parse_metadata({
        "dataflows": [{
            "name": "obs-pipeline",
            "sources": [{"name": "person_inputs",
                         "path": str(src / "*.json"), "format": "JSON"}],
            "transformations": [
                {"name": "validation", "type": "validate_fields", "params": {
                    "input": "person_inputs",
                    "validations": [
                        {"field": "office", "validations": ["notEmpty"]},
                        {"field": "age", "validations": ["notNull"]},
                    ]}},
            ],
            "sinks": [
                {"input": "validation_ok", "name": "ok",
                 "paths": [str(tmp_path / "o")], "format": "PARQUET",
                 "saveMode": "OVERWRITE"},
                {"input": "validation_ko", "name": "ko",
                 "paths": [str(tmp_path / "k")], "format": "PARQUET",
                 "saveMode": "OVERWRITE"},
            ],
        }]
    })
    ex = PipelineExecutor(spark, observe_metrics=True)
    ex.process(meta)
    assert ex.sink_metrics[("obs-pipeline", "validation_ok", "ok")]["rows"] == 1
    assert ex.sink_metrics[("obs-pipeline", "validation_ko", "ko")]["rows"] == 2


def test_user_analytics_example_pipeline(spark, tmp_path):
    """examples/user_analytics_pipeline.json (filter -> window -> filter
    -> aggregate) must run end-to-end and match the direct computation."""
    import pathlib

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    repo = pathlib.Path(__file__).resolve().parent.parent
    raw = json.loads(
        (repo / "examples/user_analytics_pipeline.json").read_text())
    # point the sink at the test tmp dir; the source is the bundled
    # repo-relative copy (r10 ADVICE: examples used to embed absolute
    # /root/testdata paths) — resolve it against the repo root
    src_path = raw["dataflows"][0]["sources"][0]["path"]
    assert not src_path.startswith("/")  # stays repo-relative on disk
    raw["dataflows"][0]["sources"][0]["path"] = str(repo / src_path)
    raw["dataflows"][0]["sinks"][0]["paths"] = [str(tmp_path)]
    meta = parse_metadata(raw)
    nodes = PipelineExecutor(spark).run_dataflow(meta.dataflows[0])
    got = {(r["n_users"], str(r["total_best"])) for r in
           nodes["daily"].collect()}
    ev = spark.read.parquet(str(repo / src_path))
    spec = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id")
    direct = (ev.filter("event_type = 'purchase'")
              .withColumn("rnk", F.row_number().over(spec))
              .filter("rnk = 1")
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_users"),
                   F.sum(F.col("value").cast("decimal(20,2)"))
                   .cast("decimal(20,2)").alias("total_best")))
    expected = {(r["n_users"], str(r["total_best"])) for r in
                direct.collect()}
    assert got == expected and got
    out = list(tmp_path.glob("daily-best-purchases/part-*"))
    assert out, "sink wrote no files"


def test_streaming_dataflow_matches_batch(spark, tmp_path):
    """The same metadata with streaming:true on the source must produce
    the same sink contents as the batch run — transformations are
    shared DataFrame code, sinks drain via foreachBatch availableNow."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "part1.json").write_text(
        "\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    schema = "name string, age long, office string"
    meta = parse_metadata({
        "dataflows": [{
            "name": "stream-pipeline",
            "sources": [{"name": "person_inputs", "path": str(src),
                         "format": "JSON", "streaming": True,
                         "schema": schema}],
            "transformations": [
                {"name": "validation", "type": "validate_fields", "params": {
                    "input": "person_inputs",
                    "validations": [
                        {"field": "office", "validations": ["notEmpty"]},
                        {"field": "age", "validations": ["notNull"]},
                    ]}},
            ],
            "sinks": [
                {"input": "validation_ok", "name": "ok",
                 "paths": [str(tmp_path / "o")], "format": "PARQUET",
                 "saveMode": "APPEND"},
                {"input": "validation_ko", "name": "ko",
                 "paths": [str(tmp_path / "k")], "format": "PARQUET",
                 "saveMode": "APPEND"},
            ],
        }]
    })
    PipelineExecutor(spark).process(meta)
    ok = spark.read.parquet(str(tmp_path / "o" / "ok"))
    ko = spark.read.parquet(str(tmp_path / "k" / "ko"))
    assert [r["name"] for r in ok.collect()] == ["Fran"]
    assert sorted(r["name"] for r in ko.collect()) == ["Miguel", "Xabier"]
    assert sorted(r[ERROR_COLUMN][0] for r in ko.collect()) == [
        "age-notNull", "office-notEmpty"]


def test_corpus_prep_example_pipeline(spark, tmp_path):
    """The bundled corpus-prep example expresses LLM-corpus gating in
    the reference's metadata format: quality fields via add_fields
    expression strings, extended validation rules
    (notBlank / minLength / oneOf) splitting train vs rejected, a
    lang-partitioned sink. The splits must partition the table and the
    ko side must carry per-rule error codes."""
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = json.loads(
        (repo / "examples" / "corpus_prep_pipeline.json").read_text())
    # the source is the bundled repo-relative documents copy (r10
    # ADVICE: no absolute host paths in shipped examples)
    src_path = spec["dataflows"][0]["sources"][0]["path"]
    assert not src_path.startswith("/")
    spec["dataflows"][0]["sources"][0]["path"] = str(repo / src_path)
    for sink in spec["dataflows"][0]["sinks"]:
        sink["paths"] = [str(tmp_path)]
    meta = parse_metadata(spec)
    PipelineExecutor(spark).process(meta)
    ok = spark.read.parquet(str(tmp_path / "train-docs"))
    ko = spark.read.parquet(str(tmp_path / "rejected-docs"))
    total = spark.read.parquet(str(repo / src_path)).count()
    assert ok.count() + ko.count() == total
    assert ok.count() > 0 and ko.count() > 0
    assert {"n_tokens", "fp", "ingested_at", "lang"} <= set(ok.columns)
    codes = {c for r in ko.select(ERROR_COLUMN).collect()
             for c in r[ERROR_COLUMN]}
    assert codes <= {"text-notBlank", "text-minLength:20",
                     "lang-oneOf:en|de|fr|es|pt"}
    assert "lang-oneOf:en|de|fr|es|pt" in codes
    # partitioned sink layout: one directory per language
    assert (tmp_path / "train-docs").glob("lang=*")


def test_streaming_dataflow_rejects_overwrite_sink(spark, tmp_path):
    """A streaming dataflow whose sink declares OVERWRITE must fail up
    front: foreachBatch re-runs the batch writer per micro-batch, so
    overwrite would clobber every previous batch's output (silent data
    loss on a multi-batch stream)."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "part1.json").write_text(
        "\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    meta = parse_metadata({
        "dataflows": [{
            "name": "stream-overwrite",
            "sources": [{"name": "person_inputs", "path": str(src),
                         "format": "JSON", "streaming": True,
                         "schema": "name string, age long, office string"}],
            "transformations": [],
            "sinks": [
                {"input": "person_inputs", "name": "out",
                 "paths": [str(tmp_path / "o")], "format": "PARQUET",
                 "saveMode": "OVERWRITE"},
            ],
        }]
    })
    with pytest.raises(ValueError, match="only 'append' is safe"):
        PipelineExecutor(spark).process(meta)


def test_streaming_dataflow_checks_every_sink_before_start(spark, tmp_path):
    """An OVERWRITE sink declared AFTER a valid append sink on the same
    streaming node must fail before anything runs: the append sink
    writes no output and no checkpoint directory is created."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "part1.json").write_text(
        "\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    out = tmp_path / "o"
    meta = parse_metadata({
        "dataflows": [{
            "name": "stream-late-overwrite",
            "sources": [{"name": "person_inputs", "path": str(src),
                         "format": "JSON", "streaming": True,
                         "schema": "name string, age long, office string"}],
            "transformations": [],
            "sinks": [
                {"input": "person_inputs", "name": "first",
                 "paths": [str(out)], "format": "PARQUET",
                 "saveMode": "APPEND"},
                {"input": "person_inputs", "name": "second",
                 "paths": [str(out)], "format": "PARQUET",
                 "saveMode": "OVERWRITE"},
            ],
        }]
    })
    with pytest.raises(ValueError, match="only 'append' is safe"):
        PipelineExecutor(spark).process(meta)
    assert not (out / "first").exists()
    assert not list(tmp_path.rglob("*.checkpoint"))


def test_declarative_topk_global_and_grouped(spark, sf_dir):
    """`topk` transformation type: global top-n (orderBy+limit,
    lowers to TakeOrderedAndProject) and per-group top-n (one
    row_number window) must match the direct DataFrame chains; the
    helper rank column must not leak into the output."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    meta = parse_metadata({"dataflows": [{
        "name": "topk",
        "sources": [{"name": "o", "path": f"{sf_dir}/orders.parquet"}],
        "transformations": [
            {"name": "g", "type": "topk", "params": {
                "input": "o", "orderBy": ["-o_totalprice", "o_orderkey"],
                "n": 5}},
            {"name": "per_cust", "type": "topk", "params": {
                "input": "o", "partitionBy": ["o_custkey"],
                "orderBy": ["-o_totalprice", "o_orderkey"], "n": 2}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    expect_g = [r.o_orderkey for r in o.orderBy(*keys).limit(5).collect()]
    assert [r.o_orderkey for r in nodes["g"].collect()] == expect_g
    assert "__rn" not in nodes["per_cust"].columns
    spec = Window.partitionBy("o_custkey").orderBy(*keys)
    expect_pc = {r.o_orderkey for r in
                 o.withColumn("rn", F.row_number().over(spec))
                 .filter("rn <= 2").collect()}
    assert {r.o_orderkey for r in nodes["per_cust"].collect()} == expect_pc


def test_declarative_set_ops(spark, sf_dir):
    """`intersect`/`except` transformation types, distinct and ALL
    variants, against the DataFrame equivalents."""
    meta = parse_metadata({"dataflows": [{
        "name": "setops",
        "sources": [{"name": "o", "path": f"{sf_dir}/orders.parquet"}],
        "transformations": [
            {"name": "a", "type": "select", "params": {
                "input": "o", "columns": ["o_orderstatus"]}},
            {"name": "b", "type": "filter", "params": {
                "input": "a", "expr": "o_orderstatus != 'P'"}},
            {"name": "i", "type": "intersect", "params": {
                "input": "a", "right": "b"}},
            {"name": "i_all", "type": "intersect", "params": {
                "input": "a", "right": "b", "all": True}},
            {"name": "e", "type": "except", "params": {
                "input": "a", "right": "b"}},
            {"name": "e_all", "type": "except", "params": {
                "input": "a", "right": "b", "all": True}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    a = nodes["a"]
    b = nodes["b"]
    assert ({r.o_orderstatus for r in nodes["i"].collect()}
            == {r.o_orderstatus for r in a.intersect(b).collect()})
    assert nodes["i_all"].count() == a.intersectAll(b).count()
    assert ({r.o_orderstatus for r in nodes["e"].collect()} == {"P"})
    # EXCEPT ALL keeps multiplicity: every 'P' row survives
    assert (nodes["e_all"].count()
            == a.filter("o_orderstatus = 'P'").count())


def test_topk_without_order_rejected(spark, sf_dir):
    meta = parse_metadata({"dataflows": [{
        "name": "bad",
        "sources": [{"name": "o", "path": f"{sf_dir}/orders.parquet"}],
        "transformations": [
            {"name": "t", "type": "topk", "params": {"input": "o", "n": 3}},
        ],
        "sinks": [],
    }]})
    with pytest.raises(ValueError, match="declares no orderBy"):
        PipelineExecutor(spark).build_nodes(meta.dataflows[0])


def test_metadata_compiled_q3_matches_handwritten(spark, sf_dir):
    """The metadata-compiled Q3 must be row-identical to the
    hand-written DataFrame version — config-driven pipelines are the
    same engine, not a parallel one."""
    from spark_kafka_airflow_pipeline_spark.operators.pipelineops import (
        metadata_compiled_q3,
    )
    from spark_kafka_airflow_pipeline_spark.operators.relational import (
        q3_shipping_priority,
    )

    got = metadata_compiled_q3(spark, sf_dir).collect()
    want = q3_shipping_priority(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want] and got


def test_every_bundled_example_runs_end_to_end(spark, tmp_path):
    """Every examples/*.json config must load, run through the SAME
    executor path users invoke (`python -m ... <config>`), and write
    every declared sink (r10: only user_analytics was pinned; the
    other five shipped configs could silently rot). Sources stay on
    the bundled/bundled-SF data; sink paths (and streaming
    checkpoints, which live beside sinks) are redirected per-test."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    configs = sorted((repo / "examples").glob("*.json"))
    assert len(configs) >= 6
    for cfg in configs:
        raw = json.loads(cfg.read_text())
        outs = []
        for flow in raw["dataflows"]:
            for src in flow["sources"]:
                # bundled data is addressed relative to the repo root
                if not src["path"].startswith("/"):
                    src["path"] = str(repo / src["path"])
            for i, sink in enumerate(flow["sinks"]):
                sink["paths"] = [str(tmp_path / cfg.stem / str(i))]
                outs.append((pathlib.Path(sink["paths"][0]), sink["name"]))
        meta = parse_metadata(raw)
        ex = PipelineExecutor(spark)
        for flow in meta.dataflows:
            ex.run_dataflow(flow)
        for root, name in outs:
            # rglob: partitionBy sinks nest part files under key= dirs
            files = [p for p in (root / name).rglob("part-*")
                     if not p.name.endswith(".crc")]
            assert files, f"{cfg.name}: sink {name!r} wrote no files"


def _t(name, kind, **params):
    return {"name": name, "type": kind, "params": params}


def _bad_sink(node, path="/nonexistent"):
    return {"input": node, "name": "out", "paths": [path],
            "format": "parquet", "saveMode": "overwrite"}


# one row per check in executor.check_dataflow: (transformations,
# sinks, exception type, message the error must carry)
BAD_METADATA = {
    "unknown-kind": ([_t("x", "pivot", input="s")], [],
                     ValueError, "unknown transformation type 'pivot'"),
    "unknown-input": ([_t("x", "filter", input="nope", expr="age > 0")], [],
                      KeyError, "references unknown input 'nope'"),
    "split-before-validate": (
        [_t("x", "filter", input="v_ok", expr="age > 0"),
         _t("v", "validate_fields", input="s")], [],
        KeyError, "references unknown input 'v_ok'"),
    "unknown-right": ([_t("x", "join", input="s", right="nope", on=["name"])],
                      [], KeyError, "references unknown right node 'nope'"),
    "unknown-set-right": ([_t("x", "except", input="s", right="nope")], [],
                          KeyError, "references unknown right node 'nope'"),
    "unknown-union-input": ([_t("x", "union", inputs=["s", "nope"])], [],
                            KeyError, "references unknown nodes ['nope']"),
    "unknown-sink-input": ([], [_bad_sink("nope")],
                           KeyError, "references unknown node 'nope'"),
    "sort": ([_t("x", "sort", input="s")], [],
             ValueError, "declares no columns"),
    "limit": ([_t("x", "limit", input="s", n=-1)], [],
              ValueError, "needs a non-negative 'n'"),
    "rename": ([_t("x", "rename", input="s")], [],
               ValueError, "declares no mapping"),
    "join": ([_t("x", "join", input="s", right="s")], [],
             ValueError, "declares no join keys"),
    "aggregate": ([_t("x", "aggregate", input="s", groupBy=["office"])], [],
                  ValueError, "declares no aggregates"),
    "watermark": ([_t("x", "watermark", input="s", column="age")], [],
                  ValueError, "needs 'column' and 'delay'"),
    "dedup_near": ([_t("x", "dedup_near", input="s", textColumn="name")], [],
                   ValueError, "needs 'idColumn'"),
    "fingerprint": ([_t("x", "fingerprint", input="s", textColumn="name")],
                    [], ValueError, "needs 'idColumn'"),
    "window": ([_t("x", "window", input="s", partitionBy=["office"])], [],
               ValueError, "declares no fields"),
    "topk-n": ([_t("x", "topk", input="s", orderBy=["age"])], [],
               ValueError, "needs a positive 'n'"),
    "topk-orderBy": ([_t("x", "topk", input="s", n=1)], [],
                     ValueError, "declares no orderBy"),
}


@pytest.mark.parametrize("case", sorted(BAD_METADATA))
def test_bad_metadata_fails_before_any_spark_job(spark, tmp_path, case):
    """Each bad-metadata case raises its named error before any source
    is read. The source is schema-less JSON, so reading it would start
    a schema-inference job; the job group must stay empty."""
    import re

    transformations, sinks, exc, message = BAD_METADATA[case]
    src = tmp_path / "in.json"
    src.write_text("\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    flow = parse_metadata({"dataflows": [{
        "name": "bad",
        "sources": [{"name": "s", "path": str(src), "format": "json"}],
        "transformations": transformations, "sinks": sinks,
    }]}).dataflows[0]
    sc = spark.sparkContext
    group = f"bad-metadata-{case}"
    sc.setJobGroup(group, "bad metadata must start no job")
    try:
        with pytest.raises(exc, match=re.escape(message)):
            PipelineExecutor(spark).run_dataflow(flow)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_process_checks_every_dataflow_before_running_any(spark, tmp_path):
    """A good dataflow followed by a bad one: process() rejects the file
    before the good dataflow writes its sink."""
    src = tmp_path / "in.json"
    src.write_text("\n".join(json.dumps(r) for r in FIXTURE_ROWS))
    out = tmp_path / "o"

    def flow(name, sink_input):
        return {"name": name,
                "sources": [{"name": "s", "path": str(src), "format": "json"}],
                "transformations": [], "sinks": [_bad_sink(sink_input, str(out))]}

    meta = parse_metadata({"dataflows": [flow("good", "s"),
                                         flow("bad", "nope")]})
    with pytest.raises(KeyError, match="unknown node 'nope'"):
        PipelineExecutor(spark).process(meta)
    assert not (out / "out").exists()
