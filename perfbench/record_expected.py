"""Record, for each given seed, what the benchmark's output checks compare
with, into ``perfbench/expected.json``:

* ``full_recipe`` (with the dedup pre-passes) and ``full_mode`` (without
  them): the cold job's drop census and output digest;
* ``operators``: the row count of each operator query.

Run it on the commit whose output should be pinned, from the repository
root:

    python3 perfbench/record_expected.py full_recipe 1 2 3
    python3 perfbench/record_expected.py full_mode 1 2 3
    python3 perfbench/record_expected.py operators 1 2 3
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def save(exp: dict) -> None:
    from perfbench import checks

    checks.EXPECTED.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")


def record_job(w, seeds: list[int]) -> None:
    from perfbench import checks
    from perfbench import run as bench
    from perfbench.procs import run_sampled

    for seed in seeds:
        pages = bench.job_inputs(w, seed)
        out = bench.fresh_output_dir(w, seed)
        res = run_sampled(
            bench.job_command(w, pages, out), bench.runner_env(), str(ROOT),
            bench.SAMPLE_TIMEOUT_S,
        )  # fmt: skip
        if res.returncode != 0:
            why = "timed out" if res.timed_out else f"exit {res.returncode}"
            sys.exit(f"seed {seed}: job failed ({why}): {res.stderr[-2000:]}")
        rows = checks.read_output(out)
        key = checks.job_key(w, seed)
        exp = checks.expected()
        exp.setdefault(w.name, {})[key] = {
            "census": checks.census(rows),
            "digest": checks.digest(rows),
        }
        save(exp)
        shutil.rmtree(out)
        wall = bench.job_summary(res.stdout)["wall_sec"]
        print(f"seed {seed} (wall_sec {wall}): {exp[w.name][key]}", flush=True)


def record_operators(seeds: list[int]) -> None:
    from perfbench import checks, operators
    from perfbench import run as bench

    dirs = {seed: bench.ops_inputs(seed) for seed in seeds}
    os.environ.update(bench.runner_env())
    spark = operators.warm_session(bench.nproc())
    try:
        for seed, sf_dir in dirs.items():
            _, rows = operators.run_queries(spark, str(sf_dir))
            exp = checks.expected()
            exp.setdefault("operators", {})[checks.operators_key(seed)] = rows
            save(exp)
            print(f"seed {seed}: {rows}", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    from perfbench import run as bench

    kind, *seeds = sys.argv[1:]
    seeds = [int(s) for s in seeds]
    if kind == "operators":
        record_operators(seeds)
    else:
        record_job(bench.FULL_RECIPE if kind == "full_recipe" else bench.WORKLOADS[kind], seeds)
