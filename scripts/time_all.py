#!/usr/bin/env python
"""Time EVERY queries() entry at a given SF dir (default sf0.1) with the
bench methodology (end-to-end plan+execute+count, min of N draws), one
JSON line per query to stdout. Measurement tool for the r17 optimization
round: the headline bench covers 12 queries; this sweep finds the slow
outliers among all ~334 so optimization effort lands where the time is.

Usage: python scripts/time_all.py [sf_dir] [--reps=N] [name ...]
(--reps N with a space is also accepted)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from spark_kafka_airflow_pipeline_spark.session import get_spark


def main() -> None:
    # accept --reps=N and --reps N (the r17 ADVICE: the docstring
    # advertised the space form but only = parsed; the bare N was then
    # silently consumed as a query-name filter)
    argv, reps, i = [], 2, 0
    raw = sys.argv[1:]
    while i < len(raw):
        a = raw[i]
        if a.startswith("--reps"):
            if "=" in a:
                reps = int(a.split("=", 1)[1])
            else:
                i += 1
                if i >= len(raw):
                    sys.exit("usage: time_all.py [sf_dir] [--reps=N] "
                             "[name ...]: --reps requires a value")
                reps = int(raw[i])
        elif not a.startswith("--"):
            argv.append(a)
        i += 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    only = set(argv[1:])

    spark = get_spark(app_name="time-all")
    queries = entry_mod.queries()
    # warm JVM + parquet footers
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    for name in sorted(queries):
        if only and name not in only:
            continue
        fn = queries[name]
        spark.sparkContext.setJobDescription(name)
        samples, n, err = [], None, None
        try:
            for _ in range(reps):
                start = time.perf_counter()
                n = fn(spark, sf_dir).count()
                samples.append(round(time.perf_counter() - start, 3))
        except Exception as exc:  # noqa: BLE001
            err = f"{type(exc).__name__}: {exc}"
        rec = {"name": name, "min": min(samples) if samples else None,
               "samples": samples, "rows": n, "err": err}
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
