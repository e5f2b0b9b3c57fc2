"""Round-6 measurement harness (bench.py is FROZEN for the driver;
this file holds the extra instrumentation the optimization round
needs — guide §1):

- standalone per-query timing with the SAME methodology as bench.py
  (``fn(spark, sf_dir).count()`` inside the timer), best-of-N in one
  fresh session, so numbers are comparable with BENCH_r05 without the
  57-entry in-session drift (VERDICT r05 "what's wrong" #2);
- optional noop-sink isolation (``--noop``): every column of every row
  computed and discarded (guide §1.4) — times the computation without
  count()'s column pruning;
- ``--explain q1,q2`` captures ``.explain('formatted')`` to
  plans/r06/<query>_<tag>.txt (the judge-checkable plan artifacts).

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
      --queries doc_contamination,doc_repetition --reps 3
  python bench_extra.py --explain doc_contamination --tag before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def _gc(spark) -> None:
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true",
                    help="time a noop-sink write instead of count()")
    ap.add_argument("--explain", default="",
                    help="capture explain('formatted') for these queries")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--warm", action="store_true",
                    help="run each query once untimed first (codegen/JIT)")
    args = ap.parse_args()

    from tabular_data_semantics_py_spark import entry_queries
    from tabular_data_semantics_py_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="tds-bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    if args.explain:
        out_dir = REPO / "plans" / "r06"
        out_dir.mkdir(parents=True, exist_ok=True)
        for name in args.explain.split(","):
            df = entry_queries.QUERIES[name](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            p = out_dir / f"{name}_{args.tag}.txt"
            p.write_text(txt)
            print(f"wrote {p}")
        spark.stop()
        return

    names = [n for n in args.queries.split(",") if n]
    timings: dict[str, list[float]] = {}
    for name in names:
        fn = entry_queries.QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.warm:
            fn(spark, sf_dir).count()
        for _ in range(args.reps):
            _gc(spark)
            t0 = time.time()
            df = fn(spark, sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            timings.setdefault(name, []).append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({
        "sf_dir": sf_dir,
        "mode": "noop" if args.noop else "count",
        "best": {n: min(t) for n, t in timings.items()},
        "samples": timings,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
