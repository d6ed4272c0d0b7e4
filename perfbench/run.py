#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its input from
``--seed`` under ``.perfbench_work/``, sets up three times in fresh
processes (imports the package, starts its SparkSession and parses the
dataflow metadata), times one cold pass and then, after a fixed
warm-up, warm passes for ``--seconds``, checks every committed output,
and removes its work directory.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics from a
traced run and writes its spans to ``.perfbench_spans/``.  The last line
of standard output is ``{"correct", "attempted", "failed", "metrics"}``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PACKAGE = "spark_kafka_airflow_pipeline_spark"
MAX_FAILURES = 3        # stop a run after this many failed passes
DRIVER_MEM = "2g"
SETUPS = 3              # fresh-process set-ups per run; setup_s is their median

END_TO_END = ("setup_s", "cpu_ref", "peak_rss_mb")
E2E_UNITS = {"setup_s": "s", "cpu_ref": "ratio", "peak_rss_mb": "MB"}


class Context:
    def __init__(self, **kw):
        self.observed: dict = {}
        self.__dict__.update(kw)


# -- environment and Spark lifecycle ---------------------------------------

def work_dirs(workload: str, seed: int, pid: int) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{pid}")
    return {"work": work, "in": os.path.join(work, "in"),
            "out": os.path.join(work, "out"), "tmp": os.path.join(work, "tmp")}


def configure_env(dirs: dict) -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory, and size the session to this host."""
    os.makedirs(dirs["tmp"], exist_ok=True)
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": os.path.join(dirs["work"], "local"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    time.tzset()


def spark_conf(dirs: dict) -> dict:
    return {
        # a fixed heap and young generation: when G1 sizes them as it
        # goes, pass times keep falling for 40+ passes and peak RSS
        # spreads ~20% across seeds
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Xmn1g -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.sql.warehouse.dir": os.path.join(dirs["work"], "warehouse"),
        "spark.sql.ui.retainedExecutions": "10000",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }


def setup(workload, dirs: dict):
    """Import the package, start its SparkSession and parse the workload's
    metadata; returns (spark, metadata, timings)."""
    t0 = time.perf_counter()
    from spark_kafka_airflow_pipeline_spark import get_spark, parse_metadata
    t1 = time.perf_counter()
    spark = get_spark(extra_conf=spark_conf(dirs))
    t2 = time.perf_counter()
    raw = workload.metadata(dirs["in"], dirs["out"])
    meta = parse_metadata(raw) if raw is not None else None
    t3 = time.perf_counter()
    return spark, meta, {"setup_s": t3 - t0, "import_s": t1 - t0,
                         "session_s": t2 - t1, "parse_s": t3 - t2}


def shutdown() -> None:
    """Stop the active session, if one was started, and its JVM, and wait
    until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def child(args: list[str], timeout: float = 170) -> dict:
    """Run this script in a fresh process; its last stdout line is JSON."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                         stdout=subprocess.PIPE, text=True, timeout=timeout,
                         check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


# -- child process: input generation --------------------------------------

def generate_main(args) -> int:
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    dirs = work_dirs(args.workload, args.seed, args.parent)
    t0 = time.perf_counter()
    result = w.generate(dirs["in"], args.seed)
    gen_s = time.perf_counter() - t0
    facts = w.facts(result)
    facts["gen_s"] = gen_s
    print(json.dumps(facts))
    return 0


# -- child process: one more set-up ------------------------------------

def setup_main(args) -> int:
    """Set up once in a fresh process, as the benchmark process does, and
    print the timings; the session is stopped and its JVM gone before
    this returns."""
    # the same imports as bench_main's before its set-up, so both time
    # the same work
    from perfbench import trace  # noqa: F401
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    dirs = work_dirs(args.workload, args.seed, args.parent)
    configure_env(dirs)
    try:
        _, _, own = setup(w, dirs)
    finally:
        shutdown()
    print(json.dumps(own))
    return 0


# -- passes ----------------------------------------------------------------

def run_checked(w, ctx, counts: dict) -> list[str]:
    """Run the output check; a failed check counts once."""
    counts["attempted"] += 1
    try:
        problems = w.check(ctx)
    except Exception as exc:  # noqa: BLE001 - a crashing check is a failure
        traceback.print_exc()
        problems = [f"check raised {type(exc).__name__}: {exc}"]
    if problems:
        counts["failed"] += 1
        counts["problems"] += problems
    return problems


class Pass(NamedTuple):
    wall: float     # seconds
    cpu: float      # CPU seconds of this process tree, JIT compilers excluded
    jit: float      # CPU seconds of the JVM's JIT compiler threads


def timed_pass(w, ctx, counts: dict, sampler, fn=None) -> Pass | None:
    """One closed-loop pass, timed in wall and CPU seconds; None if it
    failed.  Dataflow passes are checked right after, outside the
    timed region."""
    from perfbench.trace import jit_cpu_sec, tree_cpu_sec

    n_ops = w.ops_per_pass
    counts["attempted"] += n_ops
    try:
        with sampler.active():
            j0, c0 = jit_cpu_sec(sampler.jvm_pid), tree_cpu_sec()
            t0 = time.perf_counter()
            (fn or w.run_pass)(ctx)
            wall = time.perf_counter() - t0
            jit = jit_cpu_sec(sampler.jvm_pid) - j0
            done = Pass(wall, tree_cpu_sec() - c0 - jit, jit)
    except Exception as exc:  # noqa: BLE001 - count and go on
        traceback.print_exc()
        counts["failed"] += n_ops
        counts["problems"].append(f"pass raised {type(exc).__name__}: {exc}")
        return None
    if w.check_each_pass:
        run_checked(w, ctx, counts)
    return done


def warm_passes(w, ctx, counts, sampler, seconds, fns,
                min_passes: int = 0, before=None) -> list[list[Pass]]:
    """Run ``w.warmup_passes`` untimed passes, then round-robin over
    ``fns`` until ``seconds`` of pass time is spent and every fn ran at
    least ``max(w.min_passes, min_passes)`` times (or too many passes
    failed).  ``before()``, if given, runs ahead of each timed pass,
    outside its timed region."""
    for _ in range(w.warmup_passes):
        timed_pass(w, ctx, counts, sampler)
    passes: list[list[Pass]] = [[] for _ in fns]
    spent, failures = 0.0, 0
    least = max(w.min_passes, min_passes)
    while failures < MAX_FAILURES and (
            spent < seconds or min(map(len, passes)) < least):
        for i, fn in enumerate(fns):
            if before is not None:
                before()
            done = timed_pass(w, ctx, counts, sampler, fn)
            if done is None:
                failures += 1
                continue
            passes[i].append(done)
            spent += done.wall
    return passes


# -- main ------------------------------------------------------------------

def bench_main(args) -> int:
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    pid = os.getpid()
    dirs = work_dirs(args.workload, args.seed, pid)
    shutil.rmtree(dirs["work"], ignore_errors=True)
    configure_env(dirs)
    counts = {"attempted": 0, "failed": 0, "problems": []}
    context: dict = {"workload": w.name, "seed": args.seed}
    try:
        facts = child(["--generate", "--workload", args.workload,
                       "--seed", str(args.seed), "--parent", str(pid)])
        context["gen_s"] = facts.pop("gen_s")
        setups = [child(["--setup-only", "--workload", args.workload,
                         "--seed", str(args.seed), "--parent", str(pid)])
                  for _ in range(SETUPS - 1)]
        spark, meta, own = setup(w, dirs)
        setups.append(own)
        own = {k: trace.median(s[k] for s in setups) for k in own}
        context["setup"] = own
        context["setup_s_each"] = [s["setup_s"] for s in setups]

        import __spark_entry__ as entry
        ctx = Context(spark=spark, meta=meta, in_dir=dirs["in"],
                      out_dir=dirs["out"], facts=facts,
                      queries=entry.queries(), oracles=entry.oracle_sql())
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        sampler = trace.RssSampler(jvm_pid)
        noise = trace.HostNoise().start()
        if args.trace:
            from perfbench import layers

            metrics = layers.traced_run(w, ctx, counts, sampler, own, args)
        else:
            first = timed_pass(w, ctx, counts, sampler) or Pass(0.0, 0.0, 0.0)
            probe = trace.SpeedProbe()
            (warm,) = warm_passes(w, ctx, counts, sampler, args.seconds,
                                  [None], before=probe)
            if not w.check_each_pass:
                run_checked(w, ctx, counts)
            wall = trace.median(p.wall for p in warm)
            cpu = trace.median(p.cpu for p in warm)
            probe_s = trace.median(probe.samples)
            values = {
                "setup_s": own["setup_s"],
                "cpu_ref": cpu / probe_s if probe_s else 0.0,
                "peak_rss_mb": sampler.peak_mb,
            }
            metrics = {k: {"value": values[k], "unit": E2E_UNITS[k]}
                       for k in END_TO_END}
            # cold-pass, JIT and wall-clock figures are context only
            # (see README.md)
            context.update(first_pass_s=first.wall,
                           first_pass_cpu_s=first.cpu + first.jit,
                           cpu_s=cpu, probe_s=probe_s,
                           jit_s=trace.median(p.jit for p in warm),
                           wall_s=wall,
                           rows_per_s=facts["input_rows"] / wall
                           if wall else 0.0,
                           passes=[p._asdict() for p in warm])
        context["host"] = noise.stop()
        sampler.close()
    finally:
        if "pyspark" in sys.modules:
            shutdown()
        shutil.rmtree(dirs["work"], ignore_errors=True)
    context["problems"] = counts["problems"][:20]
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": counts["failed"] == 0,
                      "attempted": counts["attempted"],
                      "failed": counts["failed"], "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_batch", "stream_upsert", "query_mix",
                             "corpus_dedup"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--setup-only", action="store_true",
                    help=argparse.SUPPRESS)
    ap.add_argument("--parent", type=int, default=0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.generate:
        return generate_main(args)
    if args.setup_only:
        return setup_main(args)
    return bench_main(args)


if __name__ == "__main__":
    sys.exit(main())
