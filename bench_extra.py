#!/usr/bin/env python
"""Round-7 optimization-side benchmarks (bench.py is FROZEN for measurement).

Modes:
  --queries     noop-sink isolation (guide §1.4) of the headline queries:
                each query's DataFrame is written to format("noop") so the
                computation is timed without sink or driver-collect effects;
                best of N with steal recorded.
  --explain     dump .explain("formatted") for the headline queries to
                plans/r07/<query>_<tag>.txt.

Usage examples:
  python bench_extra.py --queries --sf-dir /root/testdata/sf0.1 --repeats 3
  python bench_extra.py --explain --tag before
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import (  # noqa: E402
    DEFAULT_CPUS,
    DEFAULT_SF_DIR,
    build_spark,
    headline_queries,
    read_steal_seconds,
    sf_of,
)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_queries(spark, sf_dir: str, repeats: int):
    sc = spark.sparkContext
    out = {}
    for name, fn in headline_queries().items():
        per = []
        for i in range(repeats):
            sc.setJobDescription(f"q:{name} [{i}]")
            s0 = read_steal_seconds()
            t0 = time.time()
            noop(fn(spark, sf_dir))
            per.append((round(time.time() - t0, 3),
                        round(max(read_steal_seconds() - s0, 0.0), 1)))
        sc.setJobDescription(None)
        out[name] = {"best": min(w for w, _ in per), "samples": per}
    return out


def dump_explains(spark, sf_dir: str, tag: str, names=None):
    os.makedirs("plans/r07", exist_ok=True)
    qs = headline_queries()
    for name, fn in qs.items():
        if names and name not in names:
            continue
        df = fn(spark, sf_dir)
        path = f"plans/r07/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", action="store_true")
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    spark = build_spark(args.cpus)
    res = {"sf": sf_of(args.sf_dir), "cpus": args.cpus}
    if args.queries:
        res["queries"] = run_queries(spark, args.sf_dir, args.repeats)
    if args.explain:
        dump_explains(spark, args.sf_dir, args.tag, args.only)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
