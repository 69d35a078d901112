"""Round-9 optimization harness: time individual declared queries in
isolation through the noop sink (guide §1.4) and capture their
explain('formatted') plans.

Usage:
    python tools/bench_one.py QUERY [QUERY ...] [--sf DIR] [--repeat N]
        [--plan-out plans/r09/SUFFIX]   # writes <query>_<SUFFIX>.txt

Prints per-query per-repeat seconds to stderr and a summary to stdout
(NOT the frozen bench.py JSON contract — this file is extra evidence,
cited in OPTIMIZATION_r09.md).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--plan-out", default=None,
                    help="suffix path prefix, e.g. plans/r09/before -> "
                         "plans/r09/<query>_before.txt")
    ap.add_argument("--warm", action="store_true",
                    help="run one throwaway Arrow-UDF job first so Python "
                         "workers exist (mimics mid-bench position)")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from harvesttext_spark.session import get_spark

    spark = get_spark(app_name="bench_one")
    spark.range(1000).selectExpr("sum(id)").collect()
    if args.warm:
        from pyspark.sql import functions as F

        def _identity(s):
            return s

        _noopu = F.pandas_udf(_identity, "long")

        spark.range(100000).repartition(32).select(_noopu("id").alias("x")) \
            .write.format("noop").mode("overwrite").save()

    qs = entrymod.queries()
    summary = {}
    for name in args.queries:
        fn = qs.get(name) or getattr(entrymod, f"q_{name}")
        if args.plan_out:
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            # a bare suffix has no directory part: write beside the cwd
            plan_dir = os.path.dirname(args.plan_out) or "."
            out_path = os.path.join(plan_dir, f"{name}_{os.path.basename(args.plan_out)}.txt")
            os.makedirs(plan_dir, exist_ok=True)
            with open(out_path, "w") as f:
                f.write(buf.getvalue())
            print(f"# plan -> {out_path}", file=sys.stderr)
        if args.repeat == 0:
            continue
        runs = []
        for i in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            print(f"# {name} run{i}: {runs[-1]}s", file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)
        summary[name] = {"runs": runs, "min": min(runs), "median": sorted(runs)[len(runs) // 2]}
    for name, s in summary.items():
        print(f"{name}: min={s['min']} median={s['median']} runs={s['runs']}")
    from harvesttext_spark.session import clear_persist_slots

    clear_persist_slots()
    spark.stop()


if __name__ == "__main__":
    main()
