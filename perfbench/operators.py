"""The operator layer: the ``__spark_entry__`` queries of ``bench.py``'s
HEADLINE list (langid_model, dsir, semdedup, similarity and the other
``operators.*``), run once each through the noop sink in one warm
session, over the seed's operator tables (``perfbench/inputs.py``).

The filter workload's traced run times them after the job's layers; the
row count of each query is compared with the counts recorded for the seed
in ``expected.json``.
"""

from __future__ import annotations

import time

# so_pmi needs its seed words ("fast", "slow", ...) in the documents; the
# driver tables' vocabulary has them, synthesize_pages text has none, and
# the operator then raises
NEEDS_DRIVER_VOCABULARY = {"so_pmi"}


def headline() -> list[str]:
    from bench import HEADLINE

    return [q for q in HEADLINE if q not in NEEDS_DRIVER_VOCABULARY]


def per_layer_metrics() -> list[tuple[str, str]]:
    return [(f"headline.{q}_s", "s") for q in headline()] + [("headline.total_s", "s")]


def run_queries(
    spark, sf_dir: str, deadline: float = float("inf")
) -> tuple[dict[str, float], dict[str, int]]:
    """(seconds, rows) per query: each query's noop write is timed with
    the plan-keyed persist slots cleared first, and counts its rows on the
    way (an observed metric, no second pass).  No query starts after
    ``deadline`` (a ``time.perf_counter()`` value); those left out are
    missing from both dicts."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    from harvesttext_spark.session import clear_persist_slots

    qs = entry.queries()
    times, rows = {}, {}
    for name in headline():
        if time.perf_counter() > deadline:
            break
        # retired contract queries keep their q_<name> function
        fn = qs.get(name) or getattr(entry, f"q_{name}")
        clear_persist_slots()
        seen = Observation(name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir).observe(seen, F.count(F.lit(1)).alias("rows"))
        df.write.format("noop").mode("overwrite").save()
        times[name] = time.perf_counter() - t0
        rows[name] = seen.get["rows"]
    clear_persist_slots()
    return times, rows


def warm_session(nproc: int):
    """The session bench.py runs the queries in, warmed by one tiny job."""
    from harvesttext_spark.session import get_spark

    spark = get_spark(app_name="perfbench_operators", master=f"local[{nproc}]")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark
