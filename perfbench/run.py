"""The repository's benchmark: the flagship quality-filter job
(``jobs/run_quality_filter.py``), timed end to end, plus a traced
per-layer run.

    python3 perfbench/run.py --workload filter_latin_fast --seed 1 \
        --seconds 25 --trace 0

Run from the repository root; ``--workload all`` runs every workload in
turn.  ``--trace 0`` times a workload with tracing off and prints every
end-to-end metric; ``--trace 1`` makes the separate traced run and prints
every per-layer metric.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
REQUIRED = ("harvesttext_spark", "jobs/run_quality_filter.py", "tests/reference_impl.py")

DRIVER_MEMORY = "2g"
# a heap that starts at its maximum: the JVM's resident set then no longer
# depends on when G1 chose to grow the heap, which moved the peak by 30%
# between runs of one input
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY}"
JOB = "jobs/run_quality_filter.py"
SAMPLE_TIMEOUT_S = 120
SPARK_DEFAULT_SHUFFLE_PARTITIONS = 200

FULL_MODE_FLAGS = ("--with-lm", "--repetition-rules", "--ppl-threshold", "1000")
FULL_RECIPE_FLAGS = (
    "--url-dedup", "--drop-boilerplate", "3", "--exact-dedup",
    "--minhash-dedup", "0.8", *FULL_MODE_FLAGS,
)  # fmt: skip


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    latin_frac: float | None
    flags: tuple[str, ...]
    # whether the traced run also traces the full recipe's dedup
    # pre-passes (see FULL_RECIPE) and times the operator layer
    traces_extras: bool = False

    @property
    def resume(self) -> bool:
        return "--resume" in self.flags

    @property
    def fast_path(self) -> bool:
        return "--fast-path" in self.flags

    def flag(self, name: str) -> str:
        """The value the job gets for option ``name``."""
        return self.flags[self.flags.index(name) + 1]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "filter_latin_fast", pages=5_000, latin_frac=0.8,
            flags=("--resume", "--buckets", "64", "--fast-path"), traces_extras=True,
        ),
        Workload("full_mode", pages=500, latin_frac=None, flags=FULL_MODE_FLAGS),
    )
}  # fmt: skip

# The full recipe (full mode after the dedup pre-passes) is timed only
# without its pre-passes (full_mode); the pre-passes are traced.  The job's
# session sets no shuffle partition count, so it runs Spark's default 200
# and the recipe is bound by task scheduling: one cold run takes 82-104 s of
# job wall at 500 or 1,000 pages (4 cores), and 22 timed runs of it would
# not fit, with the other workload's, in the hour a round of runs may
# take; its traced pass (98-118 s) would not fit beside the
# workload's own in the 180 s a run may take.  Full mode alone takes 29-31 s.
FULL_RECIPE = Workload("full_recipe", pages=500, latin_frac=None, flags=FULL_RECIPE_FLAGS)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def work_dir() -> Path:
    from perfbench.inputs import WORK

    return WORK


def runner_env() -> dict:
    env = dict(os.environ)
    # Python workers import harvesttext_spark from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    local = work_dir() / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = str(local)
    # the JVMs' and Python's temporary files (native libraries, artifacts)
    # stay in the checkout too, and the JVMs write no perf-data file
    tmp = work_dir() / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["TMPDIR"] = str(tmp)
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    return str(Path(pyspark.__file__).parent / "bin" / "spark-submit")


# --- provenance ---------------------------------------------------------------


def source_digest() -> str:
    """sha256 over the program's source files (the checkout the benchmark
    runs in need not be a git repository)."""
    h = hashlib.sha256()
    files = sorted(ROOT.glob("harvesttext_spark/**/*.py")) + sorted(ROOT.glob("jobs/*.py"))
    files.append(ROOT / "tests" / "reference_impl.py")
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(w: Workload, seed: int, mode: str, runs: int) -> dict:
    import pyspark

    return {
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "nproc": nproc(),
        "master": f"local[{nproc()}]",
        "driver_memory": DRIVER_MEMORY,
        "corpus": {
            "kind": "pages-mixed" if w.latin_frac is None else f"pages-latin{w.latin_frac:g}",
            "size": w.pages,
            "seed": seed,
        },
        "mode": mode,
        "runs": runs,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        # the job sets none, so Spark's default applies; the traced run
        # records the value its session reports
        "shuffle_partitions": SPARK_DEFAULT_SHUFFLE_PARTITIONS,
    }


# --- job workloads ------------------------------------------------------------


def input_specs() -> list[tuple[int, float | None]]:
    """(pages, latin_frac) of every pages table a seed needs."""
    return list(dict.fromkeys((x.pages, x.latin_frac) for x in (*WORKLOADS.values(), FULL_RECIPE)))


def job_inputs(w: Workload, seed: int) -> Path:
    """The workload's pages table of ``seed``; the first call for a seed
    writes every workload's table of that seed."""
    from perfbench.inputs import make_inputs, pages_path

    make_inputs(input_specs(), seed, runner_env(), nproc())
    return pages_path(w.pages, seed, w.latin_frac, nproc())


def ops_inputs(seed: int) -> Path:
    """The ``sf_dir`` of the operator tables of ``seed``, written (with any
    missing pages table of the seed) by one child process."""
    from perfbench.inputs import make_inputs, ops_path

    make_inputs(input_specs(), seed, runner_env(), nproc(), ops=True)
    return ops_path(seed, nproc())


def job_command(w: Workload, pages: Path, out: Path) -> list[str]:
    return [
        spark_submit(), "--master", f"local[{nproc()}]",
        "--driver-memory", DRIVER_MEMORY, "--driver-java-options", DRIVER_JAVA_OPTIONS,
        JOB, "--input", str(pages), "--output", str(out), *w.flags,
    ]  # fmt: skip


def fresh_output_dir(w: Workload, k: int) -> Path:
    """A new, empty output directory: a reused one makes --resume commit
    nothing, so the run would time a no-op."""
    out = work_dir() / "out" / f"{w.name}-{os.getpid()}-{k}"
    if out.exists():
        shutil.rmtree(out)
    out.parent.mkdir(parents=True, exist_ok=True)
    return out


def job_summary(stdout: str) -> dict:
    for line in reversed(stdout.strip().splitlines()):
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(d, dict) and "wall_sec" in d:
            return d
    raise ValueError("job printed no summary line")


def run_job_sample(w: Workload, seed: int, pages: Path, k: int) -> dict:
    """One cold spark-submit run, then its output check (untimed)."""
    from perfbench import checks
    from perfbench.procs import run_sampled

    out = fresh_output_dir(w, k)
    res = run_sampled(job_command(w, pages, out), runner_env(), str(ROOT), SAMPLE_TIMEOUT_S)
    sample = {
        "peak_rss_mb": res.peak_rss_mb,
        "peak_rss_mb_by_command": res.peak_rss_mb_by_command,
        "host_steal_share": res.steal_share,
        "process_s": res.wall_s,
        "ok": False,
    }
    try:
        if res.timed_out:
            raise checks.CheckFailed(f"timed out after {SAMPLE_TIMEOUT_S}s")
        if res.returncode != 0:
            raise checks.CheckFailed(f"exit {res.returncode}: {res.stderr[-2000:]}")
        summary = job_summary(res.stdout)
        sample["wall_s"] = float(summary["wall_sec"])
        sample["setup_s"] = res.wall_s - sample["wall_s"]
        sample["summary"] = summary
        checks.check_job_output(w, seed, pages, out, summary)
        sample["ok"] = True
    except (checks.CheckFailed, ValueError, KeyError) as e:
        sample["error"] = str(e)
        print(f"# {w.name} sample {k} failed: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return sample


# --- timed run ----------------------------------------------------------------


def timed(w: Workload, seed: int, seconds: int) -> tuple[dict, dict]:
    """Closed loop, one client: run samples back to back until ``seconds``
    have passed (at least one).  Returns (metrics, record)."""
    from perfbench import checks

    src = job_inputs(w, seed)
    checks.job_reference(w, seed, src)
    samples = []
    t0 = time.monotonic()
    while not samples or time.monotonic() - t0 < seconds:
        samples.append(run_job_sample(w, seed, src, len(samples)))
    ok = [s for s in samples if s["ok"]] or [s for s in samples if "wall_s" in s]
    failed = sum(not s["ok"] for s in samples)

    series = {
        "setup_s": [s["setup_s"] for s in ok],
        "wall_s": [s["wall_s"] for s in ok],
        "docs_per_s": [w.pages / s["wall_s"] for s in ok],
        "peak_rss_mb": [s["peak_rss_mb"] for s in samples],
    }
    units = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}
    metrics, stats = {}, {}
    for name, vals in series.items():
        if not vals:
            continue
        q1, med, q3 = quartiles(vals)
        metrics[name] = {"value": med, "unit": units[name]}
        stats[name] = {"median": med, "q1": q1, "q3": q3, "n": len(vals), "unit": units[name]}
    stats["error_rate"] = {
        "value": failed / len(samples),
        "unit": "ratio",
        "failed": failed,
        "attempted": len(samples),
    }
    record = {
        "workload": w.name,
        "provenance": provenance(w, seed, "cold", len(samples)),
        "metrics": stats,
        "samples": samples,
    }
    return metrics, record


def save_record(record: dict, name: str) -> Path:
    d = work_dir() / "results"
    d.mkdir(parents=True, exist_ok=True)
    path = d / name
    path.write_text(json.dumps(record, indent=1, default=str))
    return path


def run_one(w: Workload, seed: int, seconds: int, trace: bool) -> tuple[dict, int, int]:
    """One workload's timed or traced run, reported on stdout.  Returns
    (metrics, attempted, failed)."""
    if trace:
        from perfbench.trace import traced

        metrics, record, attempted, failed = traced(w, seed)
        path = save_record(record, f"{w.name}-s{seed}-trace.json")
        for name, v in metrics.items():
            print(f"{w.name} {name}: {v['value']:.6g} {v['unit']}")
    else:
        metrics, record = timed(w, seed, seconds)
        er = record["metrics"]["error_rate"]
        attempted, failed = er["attempted"], er["failed"]
        path = save_record(record, f"{w.name}-s{seed}-timed.json")
        for name, s in record["metrics"].items():
            if name == "error_rate":
                print(
                    f"{w.name} error_rate: {s['value']:.4f} "
                    f"({s['failed']}/{s['attempted']} runs failed)"
                )
            else:
                print(
                    f"{w.name} {name}: median {s['median']:.4f} {s['unit']} "
                    f"(q1 {s['q1']:.4f}, q3 {s['q3']:.4f}, n={s['n']})"
                )
    print(f"{w.name} provenance: {json.dumps(record['provenance'], sort_keys=True)}")
    print(f"{w.name} record: {path.relative_to(ROOT)}", flush=True)
    return metrics, attempted, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [r for r in REQUIRED if not (ROOT / r).exists()]
    if missing:
        print(f"perfbench: not a harvesttext_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)
    from perfbench.procs import adopt_orphans, stop_descendants

    adopt_orphans()
    # a run stopped from outside still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    metrics, attempted, failed = {}, 0, 0
    try:
        for name in names:
            m, a, f = run_one(WORKLOADS[name], args.seed, args.seconds, bool(args.trace))
            # one workload reports its metrics by name; "all" prefixes each
            # with its workload
            metrics.update(m if len(names) == 1 else {f"{name}.{k}": v for k, v in m.items()})
            attempted += a
            failed += f
    finally:
        stopped = stop_descendants()
    if not stopped:
        print("perfbench: a process it started did not end", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
