"""Self-tests of the benchmark: seeded generators, output checks that
catch corrupted outputs, and the declared metric/workload names.

Run from the repository root:  python -m pytest perfbench -q
The check tests start one SparkSession; the command tests run the
benchmark itself.  Together they take a few minutes.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, layers, run, trace
from perfbench.workloads import WORKLOADS, near_dup_pairs

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
DECLARED = [w["name"] for w in BENCH["workloads"]]


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# -- generators --------------------------------------------------------------

@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(name, tmp_path):
    dirs = [str(tmp_path / d) for d in ("a", "b", "c")]
    for d, seed in zip(dirs, (1, 1, 2)):
        gen.GENERATORS[name](d, seed)
    assert _digest(dirs[0]) == _digest(dirs[1])
    assert _digest(dirs[0]) != _digest(dirs[2])


def test_planted_shares():
    etl = WORKLOADS["etl_batch"].facts(
        {"frame": gen.etl_frame(1), "rows": gen.ETL_ROWS})
    assert 0.37 < etl["ko_rows"] / etl["input_rows"] < 0.43
    stream = WORKLOADS["stream_upsert"].facts(
        {"frame": gen.stream_frame(1), "files": gen.STREAM_FILES})
    assert stream["keys"] == gen.STREAM_KEYS
    table, clusters = gen.corpus_table(1)
    in_clusters = sum(len(c) for c in clusters)
    assert in_clusters / table.num_rows >= gen.CORPUS_DUP_SHARE


def test_near_dup_pairs_is_exact():
    texts = ["a b c d e", "A  b c d e ", "a b c d e f", "x y z w v"]
    # J(0,1) = 1; J(0,2) = 3/4; J(1,2) = 3/4; doc 3 shares nothing
    assert near_dup_pairs([10, 11, 12, 13], texts, 0.8) == [(10, 11)]
    assert near_dup_pairs([10, 11, 12, 13], texts, 0.75) == [
        (10, 11), (10, 12), (11, 12)]


def test_metric_parsing_and_tail_percentile():
    assert trace.parse_metric("100,000") == 100_000
    assert trace.parse_metric("5.0 KiB") == 5 * 1024
    assert trace.parse_metric("total (min, med, max)\n28 ms (1 ms)") == 0.028
    assert trace.tail_percentile(9) == 0.0
    assert trace.tail_percentile(100) == 90.0
    assert trace.percentile([1, 2, 3, 4], 50) == 2


def test_speed_probe_times_a_fixed_job():
    probe = trace.SpeedProbe()
    probe()
    probe()
    assert len(probe.samples) == 2
    assert all(0 < t < 5 for t in probe.samples)


# -- output checks -------------------------------------------------------------

@pytest.fixture(scope="module")
def session():
    dirs = run.work_dirs("selftest", 0, os.getpid())
    run.configure_env(dirs)
    spark, _, _ = run.setup(WORKLOADS["query_mix"], dirs)
    import __spark_entry__ as entry

    yield spark, entry
    run.shutdown()
    for path in glob.glob(os.path.join(os.path.dirname(dirs["work"]),
                                       f"*-{os.getpid()}")):
        shutil.rmtree(path, ignore_errors=True)


def test_jit_cpu_is_read_from_the_session_jvm(session):
    spark, _ = session
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    spark.range(200_000).selectExpr("sum(id * 3)").collect()
    assert 0 < trace.jit_cpu_sec(jvm_pid) <= trace.tree_cpu_sec()
    assert trace.jit_cpu_sec(2 ** 22 + 1) == 0.0    # no such process


def _context(session, name, seed=5):
    from spark_kafka_airflow_pipeline_spark import parse_metadata

    spark, entry = session
    w = WORKLOADS[name]
    dirs = run.work_dirs(name, seed, os.getpid())
    shutil.rmtree(dirs["work"], ignore_errors=True)
    facts = json.loads(json.dumps(w.facts(w.generate(dirs["in"], seed)),
                                  default=str))
    raw = w.metadata(dirs["in"], dirs["out"])
    ctx = run.Context(spark=spark, in_dir=dirs["in"], out_dir=dirs["out"],
                      facts=facts, queries=dict(entry.queries()),
                      oracles=entry.oracle_sql(),
                      meta=parse_metadata(raw) if raw else None)
    return w, ctx


def _rewrite_first_part(path, edit):
    part = sorted(f for f in os.listdir(path) if f.startswith("part-")
                  and f.endswith(".parquet"))[0]
    full = os.path.join(path, part)
    pq.write_table(edit(pq.read_table(full)), full)


def _set(table, column, i, value):
    values = table[column].to_pylist()
    values[i] = value
    idx = table.column_names.index(column)
    return table.set_column(idx, column, pa.array(values, table[column].type))


def test_etl_check_catches_a_dropped_ok_row(session):
    w, ctx = _context(session, "etl_batch")
    w.run_pass(ctx)
    assert w.check(ctx) == []
    _rewrite_first_part(os.path.join(ctx.out_dir, "ok"),
                        lambda t: t.slice(1))
    assert w.check(ctx)


def test_etl_check_catches_a_wrong_error_code(session):
    w, ctx = _context(session, "etl_batch")
    w.run_pass(ctx)
    ko = os.path.join(ctx.out_dir, "ko")
    part = sorted(f for f in os.listdir(ko) if f.startswith("part-"))[0]
    with open(os.path.join(ko, part)) as fh:
        lines = fh.read().splitlines()
    i = next(i for i, line in enumerate(lines) if "name-notEmpty" in line)
    lines[i] = lines[i].replace("name-notEmpty", "name-notNull")
    with open(os.path.join(ko, part), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    assert w.check(ctx)


def test_stream_check_catches_a_stale_upsert_row(session):
    w, ctx = _context(session, "stream_upsert")
    w.run_pass(ctx)
    assert w.check(ctx) == []
    _rewrite_first_part(
        os.path.join(ctx.out_dir, "current"),
        lambda t: _set(t, "seq", 0, t["seq"][0].as_py() - 1))
    assert w.check(ctx)


def test_corpus_check_catches_a_kept_near_dup(session):
    w, ctx = _context(session, "corpus_dedup")
    w.run_pass(ctx)
    assert w.check(ctx) == []
    kept = set(ctx.facts["kept"])
    dropped = next(i for i in range(ctx.facts["input_rows"])
                   if i not in kept and i not in set(ctx.facts["rejected"]))
    _rewrite_first_part(
        os.path.join(ctx.out_dir, "train"),
        lambda t: pa.concat_tables([t, _set(t.slice(0, 1), "doc_id", 0,
                                            dropped)]))
    assert w.check(ctx)


def test_query_check_catches_wrong_results(session):
    from pyspark.sql import functions as F

    w, ctx = _context(session, "query_mix")
    assert w.check(ctx) == []
    q6 = ctx.queries["q6_forecast_revenue"]
    ctx.queries["q6_forecast_revenue"] = lambda s, d: q6(s, d).select(
        *[(F.col(c) + 1).alias(c) for c in q6(s, d).columns])
    assert any("q6_forecast_revenue" in p for p in w.check(ctx))
    ctx.queries["q6_forecast_revenue"] = q6
    pairs = ctx.queries["minhash_lsh_pairs"]
    ctx.queries["minhash_lsh_pairs"] = lambda s, d: pairs(s, d).withColumn(
        "jaccard", F.lit(0.99))
    assert any("minhash_lsh_pairs" in p for p in w.check(ctx))


# -- names ---------------------------------------------------------------------

def test_declared_names_match_the_code():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == \
        run.E2E_UNITS
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.UNITS
    assert set(DECLARED) <= set(WORKLOADS)


def _bench(*args, cwd=run.ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300)


@pytest.mark.parametrize("trace_flag,section", [("0", "end_to_end"),
                                                ("1", "per_layer")])
def test_command_prints_the_declared_metrics(trace_flag, section):
    out = _bench("--workload", DECLARED[0], "--seed", "3", "--seconds", "1",
                 "--trace", trace_flag)
    assert out.returncode == 0
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    declared = {m["name"]: m["unit"] for m in BENCH[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(run.ROOT, "perfbench"),
                    tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench("--workload", DECLARED[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
