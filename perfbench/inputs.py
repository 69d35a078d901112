"""Benchmark inputs: made from the seed, once per (kind, size, seed), before
any timing, and cached under ``.perfbench/inputs`` in the checkout.

* ``pages`` tables are ``harvesttext_spark.pipeline.pages.synthesize_pages``
  written as parquet, one part file per core, so the job's scan runs one
  task per core.  They are written by a child process, so the benchmark's
  own process starts no JVM before a traced run builds its session; one
  child writes the tables of a seed for every workload, so the seed's
  JVM start is paid once.
* the operator tables the ``__spark_entry__`` queries read from their
  ``sf_dir`` (``documents``, ``embeddings``, ``events``), written by a
  child of the traced run, which alone reads them: ``documents`` are
  ``synthesize_pages`` rows of the latin-majority mix, the other two are
  seeded random columns.
* the reference labels (``tests/reference_impl.label_py``) are computed
  once per input and cached beside it.

    # the pages tables N:LATIN_FRAC... ("-" = default mix) of SEED, and
    # with "ops" its operator tables, N_FILES part files each
    python3 -m perfbench.inputs SEED N_FILES [ops] N:LATIN_FRAC...
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
GEN_TIMEOUT_S = 120
OPS_DOCS = 2_000
OPS_VECTORS = 2_000
OPS_EVENTS = 10_000
OPS_LATIN_FRAC = 0.8


def pages_path(n: int, seed: int, latin_frac: float | None, n_files: int) -> Path:
    kind = "mixed" if latin_frac is None else f"latin{latin_frac:g}"
    return WORK / "inputs" / f"pages-{kind}-n{n}-s{seed}-f{n_files}"


def ops_path(seed: int, n_files: int) -> Path:
    """The ``sf_dir`` of the operator tables of ``seed``."""
    return WORK / "inputs" / f"ops-d{OPS_DOCS}-s{seed}-f{n_files}"


def make_inputs(
    specs: list[tuple[int, float | None]], seed: int, env: dict, n_files: int, ops: bool = False
) -> None:
    """Write each missing ``(n, latin_frac)`` table of ``seed``, and with
    ``ops`` the operator tables of ``seed``, all in one child process."""
    todo = [(n, f) for n, f in specs if not pages_path(n, seed, f, n_files).exists()]
    ops = ops and not ops_path(seed, n_files).exists()
    if not todo and not ops:
        return
    from perfbench.procs import run_sampled

    args = ["ops"] * ops + [f"{n}:{'-' if f is None else f}" for n, f in todo]
    cmd = [sys.executable, "-m", "perfbench.inputs", str(seed), str(n_files), *args]
    res = run_sampled(cmd, env, str(ROOT), GEN_TIMEOUT_S)
    if res.returncode != 0 or res.timed_out:
        raise RuntimeError(f"input generation failed: {res.stderr[-2000:]}")


def _publish(final: Path, write) -> None:
    """Write into a temporary directory, then rename it to ``final``."""
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    if final.exists():
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, final)


def write_ops_tables(spark, seed: int, n_files: int, out: Path) -> None:
    """``documents`` (doc_id, text, lang, source, n_chars), ``embeddings``
    (vec_id, 64 floats, label) and ``events`` (event_id, ts, user_id,
    event_type, value, props): the schemas of the driver tables the
    queries were written for."""
    from pyspark.sql import functions as F

    from harvesttext_spark.pipeline.pages import synthesize_pages

    pages = synthesize_pages(
        spark, n=OPS_DOCS, seed=seed, partitions=n_files, latin_frac=OPS_LATIN_FRAC
    )
    text = F.coalesce("text", F.decode("html", "UTF-8"))
    pages.select(
        F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("long").alias("doc_id"),
        text.alias("text"),
        "lang",
        F.regexp_extract("url", "^https?://([^/]+)/", 1).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    ).filter(F.col("text").isNotNull()).write.parquet(str(out / "documents.parquet"))

    vec = spark.range(OPS_VECTORS, numPartitions=n_files)
    vec.select(
        F.col("id").alias("vec_id"),
        F.array(*(F.randn(seed * 100 + j).cast("float") for j in range(64))).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    ).write.parquet(str(out / "embeddings.parquet"))

    ev = spark.range(OPS_EVENTS, numPartitions=n_files)
    kinds = F.array(*(F.lit(k) for k in ("click", "purchase", "error", "signup", "view")))
    ev.select(
        F.col("id").alias("event_id"),
        # 2024-01-01 on, ~4 events a minute
        F.timestamp_seconds(1704067200 + F.col("id") * 15 + F.floor(F.rand(seed) * 15)).alias("ts"),
        F.floor(F.rand(seed + 1) * 200).cast("long").alias("user_id"),
        F.element_at(kinds, (F.floor(F.rand(seed + 2) * 5) + 1).cast("int")).alias("event_type"),
        F.round(F.rand(seed + 3) * 200, 2).alias("value"),
        F.format_string('{"k": %d}', F.floor(F.rand(seed + 4) * 100).cast("int")).alias("props"),
    ).write.parquet(str(out / "events.parquet"))


def write_inputs(
    seed: int, n_files: int, specs: list[tuple[int, float | None]], ops: bool
) -> None:
    from harvesttext_spark.pipeline.pages import synthesize_pages
    from harvesttext_spark.session import get_spark

    spark = get_spark(app_name="perfbench_inputs", master=f"local[{n_files}]")
    try:
        for n, latin_frac in specs:
            _publish(
                pages_path(n, seed, latin_frac, n_files),
                lambda tmp: synthesize_pages(
                    spark, n=n, seed=seed, partitions=n_files, latin_frac=latin_frac
                ).write.parquet(str(tmp)),
            )  # fmt: skip
        if ops:
            _publish(
                ops_path(seed, n_files), lambda tmp: write_ops_tables(spark, seed, n_files, tmp)
            )
    finally:
        spark.stop()


def reference_labels(pages_dir: Path) -> dict:
    """url -> (text_clean, keep, drop_reason) from the single-threaded
    reference labeller, computed once per input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cache = pages_dir.with_name(pages_dir.name + ".ref.parquet")
    if not cache.exists():
        from tests.reference_impl import label_py

        t = pq.read_table(pages_dir, columns=["url", "text", "html"])
        urls, texts, htmls = (t.column(c).to_pylist() for c in ("url", "text", "html"))
        rows = []
        for text, html in zip(texts, htmls):
            # extract_text: prefer text, else the UTF-8 decode of html
            raw = text if text is not None else (
                html.decode("utf-8", "replace") if html is not None else None
            )
            rows.append(label_py(raw))
        clean, keep, reason = zip(*rows) if rows else ((), (), ())
        tmp = cache.with_name(cache.name + ".tmp")
        pq.write_table(
            pa.table(
                {
                    "url": urls,
                    "text_clean": pa.array(clean, pa.string()),
                    "keep": pa.array(keep, pa.bool_()),
                    "drop_reason": pa.array(reason, pa.string()),
                }
            ),
            tmp,
        )
        os.rename(tmp, cache)
    t = pq.read_table(cache)
    return {
        u: (c, k, r)
        for u, c, k, r in zip(
            *(t.column(x).to_pylist() for x in ("url", "text_clean", "keep", "drop_reason"))
        )
    }


if __name__ == "__main__":
    seed, n_files, *args = sys.argv[1:]
    specs = [x.split(":") for x in args if x != "ops"]
    write_inputs(
        int(seed),
        int(n_files),
        [(int(n), None if f == "-" else float(f)) for n, f in specs],
        ops="ops" in args,
    )
