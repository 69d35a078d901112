"""The traced run: one in-process pass over a workload's inputs that calls
the public functions the job calls, in the same
order, forces each layer's output at its boundary and records a span
around each call.

* Spans (name, start, end, parent, run id) stay in memory and are written
  to the run's record when it ends.
* Each span's Spark jobs are tagged with ``setJobGroup``; task metrics and
  the Arrow-UDF SQL metrics are attributed to spans from the uncompressed
  event log.
* A layer's self time is its span's duration minus its children's; the
  root span's self time is the unattributed time.  Self times sum to the
  traced wall.
* Traced wall minus the untraced ``wall_s`` of the same sources is the
  tracing overhead (forced boundaries re-use persisted layer outputs, but
  a layer the timed job fuses with its neighbours is also run once on its
  own).
* filter_latin_fast's traced run then traces the full recipe's dedup
  pre-passes (see ``run.FULL_RECIPE``) over full_mode's 500 pages, in the
  job's session under a root span of its own (they are not timed
  untraced, so their tracing overhead is not measured), and times the
  operator layer (``perfbench/operators.py``) in a warm session of its
  own.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

from perfbench import operators
from perfbench import run as bench
from perfbench.procs import process_age_s

LABEL_REASONS = (
    "null_text", "too_short", "char_run", "low_alnum", "low_diversity",
    "high_dup_lines", "high_top_bigram", "high_ppl",
)  # fmt: skip
DEDUP_STAGES = ("url", "boilerplate", "exact", "minhash")
ROOT_SPAN = "job"  # from the job's t0 to its summary: the traced wall
PRE_PASSES_SPAN = "pre_passes"  # the full recipe's dedup pre-passes
# Guards for a slow host, as a run must end within 180 s: the pre-passes
# (40-60 s) do not start later than PRE_PASSES_DEADLINE_S into the run (they
# start 55-75 s in), nor an operator query (up to 5 s) later than
# OPS_DEADLINE_S (they start 90-110 s in).  What did not run reports 0.
PRE_PASSES_DEADLINE_S = 105
OPS_DEADLINE_S = 150
ENGINE = (
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.exec_run_s", "s"),
    ("spark.exec_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.busy_frac", "ratio"),
)  # fmt: skip


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit); a layer a workload does not
    reach reports 0."""
    out = [("session.start_s", "s"), ("session.first_job_s", "s")]
    out += [("scrub.s", "s"), ("scrub.python_run_s", "s"), ("scrub.python_worker_start_s", "s")]
    out += [("scrub.python_rows", "count"), ("scrub.native_rows", "count")]
    out += [("label.s", "s"), ("label.keep_rows", "count")]
    out += [(f"label.drop.{r}", "count") for r in LABEL_REASONS]
    for d in DEDUP_STAGES:
        out += [(f"dedup.{d}.s", "s"), (f"dedup.{d}.rows_out", "count")]
    out += [
        ("dedup.minhash.candidate_pairs", "count"), ("dedup.minhash.dup_pairs", "count"),
        ("dedup.minhash.pair_yield", "ratio"), ("lm.s", "s"), ("repetition.s", "s"),
        ("quality_filter_full.s", "s"), ("job.output_write_s", "s"),
        ("job.domain_metrics_s", "s"), ("job.lineage_s", "s"), ("resume.write_s", "s"),
        ("resume.commit_s", "s"), ("resume.files", "count"),
        ("resume.bytes_per_input_byte", "ratio"),
    ]  # fmt: skip
    out += list(ENGINE)
    out += [
        (f"{PRE_PASSES_SPAN}.wall_s", "s"), (f"{PRE_PASSES_SPAN}.unattributed_s", "s"),
        (f"{PRE_PASSES_SPAN}.spark.jobs", "count"), (f"{PRE_PASSES_SPAN}.spark.tasks", "count"),
        (f"{PRE_PASSES_SPAN}.spark.busy_frac", "ratio"),
    ]  # fmt: skip
    out += operators.per_layer_metrics()
    out += [
        ("trace.wall_s", "s"), ("trace.unattributed_s", "s"),
        ("trace.untraced_wall_s", "s"), ("trace.overhead_s", "s"),
    ]  # fmt: skip
    return out


class Tracer:
    """In-memory spans; each span's Spark jobs carry its job group."""

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _tag(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])
        else:
            self.sc.setJobGroup("untraced", "outside any span")

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "start_epoch": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        child = collections.Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def self_time(self, name: str, within: str | None = None) -> float:
        """Summed self time of the spans called ``name`` (under the spans
        called ``within``, if given)."""
        st = self.self_times()
        ids = set(self.subtree(within)) if within else set(st)
        return sum(st[s["id"]] for s in self.spans if s["name"] == name and s["id"] in ids)

    def subtree(self, name: str) -> list[int]:
        """Ids of the spans called ``name`` and of all their descendants."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        for s in self.spans:  # parents precede their children
            if s["parent"] in ids:
                ids.add(s["id"])
        return sorted(ids)


# --- event log ------------------------------------------------------------------


def _plan_accumulators(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m.get("metricType"))
    for c in node.get("children", ()):
        _plan_accumulators(c, out)


def attribute_event_log(log_dir: Path) -> dict[str, collections.Counter]:
    """Job group -> summed engine and Arrow-UDF metrics of its jobs' tasks."""
    files = sorted(glob.glob(str(log_dir / "**" / "*"), recursive=True))
    stage_group: dict[int, str] = {}
    accs: dict[int, tuple] = {}
    per = collections.defaultdict(collections.Counter)
    task_ends = []
    for f in files:
        if os.path.isdir(f) or "appstatus" in os.path.basename(f):
            continue
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "untraced")
                    per[group]["spark.jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_accumulators(ev["sparkPlanInfo"], accs)
    for ev in task_ends:
        c = per[stage_group.get(ev["Stage ID"], "untraced")]
        m = ev.get("Task Metrics") or {}
        c["spark.tasks"] += 1
        c["spark.exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["spark.exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        c["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        c["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
            node, name, mtype = accs.get(a["ID"], (None, None, None))
            if node != "ArrowEvalPython":
                continue
            scale = 1e9 if mtype == "nsTiming" else 1e3 if mtype == "timing" else 1
            key = {
                "time to run Python workers": "scrub.python_run_s",
                "time to start Python workers": "scrub.python_worker_start_s",
            }.get(name)
            if key:
                c[key] += float(a["Update"]) / scale  # SQL metrics log strings
    return per


# --- session ----------------------------------------------------------------------


def start_session(w, log_dir: Path):
    """The session jobs/run_quality_filter.py main() builds, with the
    benchmark's spark-submit settings (master, driver memory) and an
    uncompressed, non-rolling event log."""
    from pyspark.sql import SparkSession

    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.driver.memory": bench.DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": bench.DRIVER_JAVA_OPTIONS,
    }
    builder = (
        SparkSession.builder.appName("ht_quality_filter")
        .master(f"local[{bench.nproc()}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# --- workloads --------------------------------------------------------------------


def force(df):
    """Materialize a layer's output that later layers read: persisted
    serialized and counted now, like the job's stages."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


class Stager:
    """apply_pre_passes' stage protocol: force, then release the previous
    stage."""

    def __init__(self):
        self.prev = None

    def __call__(self, df):
        df, n = force(df)
        if self.prev is not None:
            self.prev.unpersist()
        self.prev = df
        return df, n


def compute(df) -> None:
    """Compute every column of a side output the job derives again later,
    without caching it (the noop sink prunes nothing)."""
    df.write.format("noop").mode("overwrite").save()


def scrub_and_label(t: Tracer, pages, fast_path: bool):
    from harvesttext_spark.pipeline.quality_filter import extract_text, label, scrub

    with t.span("scrub"):
        scrubbed, _ = force(scrub(extract_text(pages), fast_path=fast_path))
    with t.span("label"):
        labeled, _ = force(label(scrubbed))
    # both stay cached: quality_filter_full rebuilds the scrubbed plan
    return scrubbed, labeled


def drop_census(df) -> dict[str, int]:
    return {r["drop_reason"]: r["count"] for r in df.groupBy("drop_reason").count().collect()}


def trace_filter(t: Tracer, spark, w, src: Path, out_dir: Path, m: dict) -> dict:
    """Resume mode: extract -> scrub -> label, then run_with_resume writes
    the labeled rows, the manifest and the snapshot.  Returns the job's
    summary fields the output check reads."""
    from pyspark.sql import functions as F

    from harvesttext_spark.pipeline.resume import run_with_resume

    pages = spark.read.parquet(str(src))
    with t.span(ROOT_SPAN):
        # run_with_resume's bucket column (crc32(url) % n), added up front
        # so the forced label output is the batch it would label itself
        buckets = int(w.flag("--buckets"))
        bucketed = pages.withColumn("bucket", F.crc32(F.col("url")) % buckets)
        forced = scrub_and_label(t, bucketed, w.fast_path)
        labeled = forced[-1]
        with t.span("resume") as rs:
            result = run_with_resume(
                spark, pages, str(out_dir), n_buckets=buckets,
                filter_fn=lambda batch: labeled,
            )  # fmt: skip
    data = out_dir / "data"
    files = list(data.rglob("*.parquet"))
    # the data write ends when its last file lands; the manifest append and
    # the snapshot commit follow
    written = max(p.stat().st_mtime for p in data.rglob("*"))
    in_bytes = sum(p.stat().st_size for p in src.glob("*.parquet"))
    m["resume.write_s"] = written - rs["start_epoch"]
    m["resume.commit_s"] = t.duration("resume") - m["resume.write_s"]
    m["resume.files"] = len(files)
    m["resume.bytes_per_input_byte"] = sum(p.stat().st_size for p in files) / in_bytes
    scrub_rows(m, labeled, w.fast_path)
    label_census(m, drop_census(labeled))
    for df in forced:
        df.unpersist()
    return {"processed": len(result["processed"]), "skipped": result["skipped"]}


def scrub_rows(m: dict, labeled, fast_path: bool) -> None:
    """Rows the Arrow UDF cleans vs rows the native chain cleans (the
    fast path's pure-ASCII split; counted after the trace)."""
    from pyspark.sql import functions as F

    raw = F.col("raw_text")
    row = labeled.agg(
        F.count(raw).alias("n"),
        F.count(F.when(raw.rlike("^[\\x00-\\x7F]*$"), 1)).alias("ascii"),
    ).first()
    native = row["ascii"] if fast_path else 0
    m["scrub.native_rows"] = native
    m["scrub.python_rows"] = row["n"] - native


def label_census(m: dict, census: dict) -> None:
    m["label.keep_rows"] = census.pop(None, 0)
    for r, n in census.items():
        m[f"label.drop.{r}"] = n


def trace_pre_passes(t: Tracer, spark, w, src: Path, m: dict) -> int:
    """The full recipe's dedup pre-passes, under PRE_PASSES_SPAN, in
    apply_pre_passes' order, each stage persisted and counted.  Returns
    the rows left after the last stage."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from harvesttext_spark.operators.dedup import (
        drop_boilerplate_lines,
        drop_exact_dups,
        drop_near_dups,
        drop_url_dups,
        minhash_dup_pairs,
    )

    min_df = int(w.flag("--drop-boilerplate"))
    jaccard = float(w.flag("--minhash-dedup"))
    stage = Stager()
    pages = spark.read.parquet(str(src))
    with t.span(PRE_PASSES_SPAN):
        with t.span("dedup.url"):
            pages, m["dedup.url.rows_out"] = stage(drop_url_dups(pages))
        with t.span("dedup.boilerplate"):
            cleaned = drop_boilerplate_lines(
                pages, text_col="text", id_col="url", min_df=min_df
            ).withColumnRenamed("text_clean", "_debo")
            pages, m["dedup.boilerplate.rows_out"] = stage(
                pages.join(cleaned, "url", "left")
                .withColumn("text", F.coalesce("_debo", "text"))
                .drop("_debo")
            )
        with t.span("dedup.exact"):
            nulls = pages.filter(F.col("text").isNull()).persist(StorageLevel.MEMORY_AND_DISK)
            n_nulls = nulls.count()
            texts = pages.filter(F.col("text").isNotNull())
            nn, n_exact = stage(drop_exact_dups(texts, text_col="text", id_col="url"))
            m["dedup.exact.rows_out"] = n_exact + n_nulls
        with t.span("dedup.minhash"):
            cand, n_cand = force(
                minhash_dup_pairs(nn, text_col="text", id_col="url", min_jaccard=0.0)
            )
            pairs = cand.filter(F.col("est_jaccard") >= jaccard)
            m["dedup.minhash.candidate_pairs"] = n_cand
            m["dedup.minhash.dup_pairs"] = pairs.count()
            _, m["dedup.minhash.rows_out"] = stage(
                drop_near_dups(nn, pairs, id_col="url").unionByName(nulls)
            )
            nulls.unpersist()
    m["dedup.minhash.pair_yield"] = m["dedup.minhash.dup_pairs"] / max(n_cand, 1)
    for df in (cand, stage.prev):
        df.unpersist()
    return m["dedup.minhash.rows_out"]


def trace_full_mode(t: Tracer, spark, w, src: Path, out_dir: Path, m: dict) -> dict:
    """Full mode without pre-passes: extract -> scrub -> label, the
    repetition and LM signals, quality_filter_full, and the job's writes.
    Returns the job's summary fields the output check reads."""
    from pyspark.sql import functions as F

    from harvesttext_spark.functions.textstats import repetition_signals
    from harvesttext_spark.operators.lm_perplexity import perplexity_signal
    from harvesttext_spark.pipeline.quality_filter import (
        domain_metrics_full,
        partition_lineage,
        quality_filter_full,
    )

    ppl_threshold = float(w.flag("--ppl-threshold"))
    pages = spark.read.parquet(str(src))
    with t.span(ROOT_SPAN):
        forced = scrub_and_label(t, pages, w.fast_path)
        labeled = forced[-1]
        docs = labeled.select(F.col("url").alias("doc_id"), F.col("text_clean").alias("text"))
        with t.span("quality_filter_full"):
            with t.span("repetition"):
                compute(repetition_signals(docs))
            with t.span("lm"):
                compute(perplexity_signal(docs, text_col="text", id_col="doc_id"))
            # lazy like the job's: its scoring tail runs inside the write
            full = quality_filter_full(
                pages, ppl_threshold=ppl_threshold, repetition_rules=True,
                fast_path=w.fast_path,
            )  # fmt: skip
        with t.span("job.output_write"):
            full.write.mode("overwrite").parquet(str(out_dir / "data"))
            out = spark.read.parquet(str(out_dir / "data"))
        with t.span("job.domain_metrics"):
            dm = domain_metrics_full(out)
            dm.write.mode("overwrite").parquet(str(out_dir / "domain_metrics"))
        with t.span("job.run_stats"):
            out.approxQuantile("ppl", [0.99], 0.01)
        with t.span("job.lineage"):
            partition_lineage(out).write.mode("overwrite").parquet(str(out_dir / "lineage"))
        with t.span("job.census"):
            census = drop_census(out)
    scrub_rows(m, labeled, w.fast_path)
    label_census(m, dict(census))
    for df in forced:
        df.unpersist()
    n_keep = census.pop(None, 0)
    return {"n_keep": n_keep, "drops_by_reason": dict(sorted(census.items()))}


# --- entry --------------------------------------------------------------------------


def untraced_wall(w, seed: int) -> tuple[float | None, str]:
    """(median ``wall_s``, where it comes from) of untraced runs of this
    workload on the same program sources and corpus size: this checkout's
    timed runs of this seed, else of any seed, else one untraced run of
    this seed made now."""
    digest, walls = bench.source_digest(), collections.defaultdict(list)
    for rec in (bench.work_dir() / "results").glob(f"{w.name}-s*-timed.json"):
        r = json.loads(rec.read_text())
        prov = r["provenance"]
        if prov["source_sha256"] == digest and prov["corpus"]["size"] == w.pages:
            walls[prov["corpus"]["seed"]] += [s["wall_s"] for s in r["samples"] if s["ok"]]
    if walls.get(seed):
        return statistics.median(walls[seed]), f"timed runs of seed {seed}"
    if any(walls.values()):
        seeds = sorted(k for k, v in walls.items() if v)
        return statistics.median(sum(walls.values(), [])), f"timed runs of seeds {seeds}"
    metrics, record = bench.timed(w, seed, 0)
    bench.save_record(record, f"{w.name}-s{seed}-timed.json")
    if "wall_s" not in metrics:
        return None, f"the untraced run of seed {seed} made first failed; not measured"
    return metrics["wall_s"]["value"], f"an untraced run of seed {seed} made first"


def traced(w, seed: int) -> tuple[dict, dict, int, int]:
    """Returns (metrics, record, attempted, failed)."""
    from perfbench import checks

    ops_dir = bench.ops_inputs(seed) if w.traces_extras else None
    wall_untraced, untraced_from = untraced_wall(w, seed)
    src = bench.job_inputs(w, seed)
    checks.job_reference(w, seed, src)
    fr = bench.FULL_RECIPE
    fr_src = bench.job_inputs(fr, seed) if w.traces_extras else None
    pre_passes_run = False
    ops_times, ops_rows, ops_pinned = {}, {}, None

    os.environ.update(bench.runner_env())
    run_dir = bench.work_dir() / "trace" / f"{w.name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    log_dir = run_dir / "eventlog"
    log_dir.mkdir(parents=True)
    m: dict = {}
    error = None
    t0 = time.perf_counter()
    spark = tr = shuffle = None
    try:
        t_start, e_start = time.perf_counter(), time.time()
        spark = start_session(w, log_dir)
        tr = Tracer(spark.sparkContext)
        tr.spans.append(
            {"id": 0, "name": "session.start", "parent": None, "run_id": tr.run_id,
             "start": t_start, "end": time.perf_counter(), "start_epoch": e_start}
        )  # fmt: skip
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with tr.span("session.first_job"):
            spark.range(1000).selectExpr("sum(id)").collect()
        trace_job = trace_filter if w.resume else trace_full_mode
        summary = trace_job(tr, spark, w, src, run_dir / "out", m)
        checks.check_job_output(w, seed, src, run_dir / "out", summary)
        if w.traces_extras:
            if process_age_s() < PRE_PASSES_DEADLINE_S:
                trace_pre_passes(tr, spark, fr, fr_src, m)
                checks.check_pre_passes(fr, seed, m)
                pre_passes_run = True
            spark.stop()
            spark = operators.warm_session(bench.nproc())
            deadline = time.perf_counter() + OPS_DEADLINE_S - process_age_s()
            ops_times, ops_rows = operators.run_queries(spark, str(ops_dir), deadline)
            ops_pinned = checks.check_operator_rows(seed, ops_rows)
    except Exception as e:  # the run reports the failure instead of a trace
        import traceback

        traceback.print_exc()
        error = f"{type(e).__name__}: {e}"
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    spans = tr.spans if tr is not None else []
    metrics = {name: {"value": 0, "unit": unit} for name, unit in per_layer_metrics()}
    if error is None:
        m.update(layer_times(tr))
        engine = attribute_event_log(log_dir)
        wall = tr.duration(ROOT_SPAN)
        m["trace.wall_s"] = wall
        m["trace.unattributed_s"] = tr.self_time(ROOT_SPAN)
        if wall_untraced is not None:
            m["trace.untraced_wall_s"] = wall_untraced
            m["trace.overhead_s"] = wall - wall_untraced
        # the engine totals cover the traced wall: the root span's jobs
        total = collections.Counter()
        for sid in tr.subtree(ROOT_SPAN):
            total.update(engine.get(f"span-{sid}", {}))
        for name, _ in ENGINE[:-1]:
            m[name] = total[name]
        m["spark.busy_frac"] = total["spark.exec_run_s"] / (wall * bench.nproc())
        if pre_passes_run:
            pp_wall = tr.duration(PRE_PASSES_SPAN)
            pp_total = collections.Counter()
            for sid in tr.subtree(PRE_PASSES_SPAN):
                pp_total.update(engine.get(f"span-{sid}", {}))
            m[f"{PRE_PASSES_SPAN}.wall_s"] = pp_wall
            m[f"{PRE_PASSES_SPAN}.unattributed_s"] = tr.self_time(PRE_PASSES_SPAN)
            m[f"{PRE_PASSES_SPAN}.spark.jobs"] = pp_total["spark.jobs"]
            m[f"{PRE_PASSES_SPAN}.spark.tasks"] = pp_total["spark.tasks"]
            m[f"{PRE_PASSES_SPAN}.spark.busy_frac"] = pp_total["spark.exec_run_s"] / (
                pp_wall * bench.nproc()
            )
        for k in ("scrub.python_run_s", "scrub.python_worker_start_s"):
            m[k] = total[k]
        span_engine = {
            s["id"]: dict(engine.get(f"span-{s['id']}", {})) for s in tr.spans
        }
        self_times = tr.self_times()
        for s in tr.spans:
            s["self_s"] = self_times[s["id"]]
            s["engine"] = span_engine[s["id"]]
        for q, t in ops_times.items():
            m[f"headline.{q}_s"] = t
        if ops_times:
            m["headline.total_s"] = sum(ops_times.values())
        for k, v in m.items():
            if k in metrics:
                metrics[k]["value"] = v
        print_breakdown(w.name, tr, ROOT_SPAN)
        print_overhead(w, wall, wall_untraced, untraced_from)
        if pre_passes_run:
            print_breakdown(f"{w.name} {PRE_PASSES_SPAN}", tr, PRE_PASSES_SPAN)
            print(f"{PRE_PASSES_SPAN} tracing overhead: not measured (they are not timed)")
        elif w.traces_extras:
            print(f"{PRE_PASSES_SPAN}: not run (past {PRE_PASSES_DEADLINE_S} s into the run)")
        if ops_times:
            print_operators(w, ops_times, ops_rows, ops_pinned)
    record = {
        "workload": w.name,
        "provenance": {
            **bench.provenance(w, seed, "traced", 1),
            "shuffle_partitions": shuffle,
        },
        "error": error,
        "run_s": time.perf_counter() - t0,
        "untraced_wall_s_from": untraced_from,
        "pre_passes_run": pre_passes_run,
        "operators": {
            "s": ops_times, "rows": ops_rows, "rows_pinned": ops_pinned,
            "not_run": [q for q in operators.headline() if q not in ops_times]
            if ops_dir is not None else [],
        },  # fmt: skip
        "metrics": {k: v["value"] for k, v in metrics.items()},
        "spans": spans,
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    return metrics, record, 1, int(error is not None)


def stop_jvm() -> None:
    """End the gateway JVM this process started: ``spark.stop()`` keeps it
    for a next session, and it would outlive the benchmark by a moment."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_times(tr: Tracer) -> dict:
    m = {
        "session.start_s": tr.duration("session.start"),
        "session.first_job_s": tr.duration("session.first_job"),
        # the workload's own pass (the full recipe's has its own spans)
        "scrub.s": tr.self_time("scrub", within=ROOT_SPAN),
        "label.s": tr.self_time("label", within=ROOT_SPAN),
        "lm.s": tr.self_time("lm"),
        "repetition.s": tr.self_time("repetition"),
        "quality_filter_full.s": tr.self_time("quality_filter_full"),
        "job.output_write_s": tr.self_time("job.output_write"),
        "job.domain_metrics_s": tr.self_time("job.domain_metrics"),
        "job.lineage_s": tr.self_time("job.lineage"),
    }
    for d in DEDUP_STAGES:
        m[f"dedup.{d}.s"] = tr.self_time(f"dedup.{d}")
    return m


def print_breakdown(name: str, tr: Tracer, root_span: str) -> None:
    st = tr.self_times()
    wall = tr.duration(root_span)
    print(f"{name} traced wall {wall:.3f} s = per-layer self time + unattributed:")
    root = {s["id"] for s in tr.spans if s["name"] == root_span}
    layers = [i for i in tr.subtree(root_span) if i not in root]
    for i in layers:
        print(f"  {tr.spans[i]['name']:<34} self {st[i]:8.3f} s")
    unattributed = sum(st[i] for i in root)
    print(f"  {'(unattributed)':<34} self {unattributed:8.3f} s")
    print(f"  {'sum':<34}      {sum(st[i] for i in layers) + unattributed:8.3f} s")


def print_overhead(w, wall: float, untraced: float | None, source: str) -> None:
    if untraced is None:
        print(f"{w.name} tracing overhead: {source}")
    else:
        print(
            f"{w.name} tracing overhead: {wall - untraced:.3f} s "
            f"(untraced wall_s {untraced:.3f} s, median of {source})"
        )
    sys.stdout.flush()


def print_operators(w, times: dict, rows: dict, pinned: bool) -> None:
    check = "equal the recorded counts" if pinned else "not recorded for this seed"
    print(f"{w.name} operator layer: {sum(times.values()):.3f} s over {len(times)} queries")
    left_out = [q for q in operators.headline() if q not in times]
    if left_out:
        print(f"  not run (past {OPS_DEADLINE_S} s into the run): {', '.join(left_out)}")
    for q, t in times.items():
        print(f"  {q:<34} {t:8.3f} s  {rows[q]:>8} rows")
    print(f"  row counts {check}")
    sys.stdout.flush()
