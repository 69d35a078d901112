"""Output checks, run after every timed sample and outside its timed
interval.  A failed check fails the sample, which counts in ``error_rate``.

* resume workloads: resume hygiene (all 64 buckets processed, none
  skipped), keep/drop F1 >= 0.99 and zero ``text_clean`` byte mismatches
  against ``tests/reference_impl.label_py``;
* ``full_mode`` (and ``full_recipe``): the drop census the job printed
  equals the one in its output, and the census
  plus an order-independent digest of (url, keep, drop_reason,
  text_clean) equal the values recorded from cold job runs for that
  corpus size and seed in ``expected.json``.  A seed with no recorded
  values is checked against the reference labeller instead: base-rule
  keep/drop F1 >= 0.99, counting the model-stage drops as keeps.
* the full recipe's dedup pre-passes (traced run): no stage adds rows,
  and the rows left equal the row count of the full recipe's recorded
  census for that seed, where one is recorded.
* operator queries (the filter workload's traced run): each query's row
  count equals the one recorded for that seed in ``expected.json``; a
  seed with no recorded counts is checked only for running.
"""

from __future__ import annotations

import collections
import hashlib
import json
from pathlib import Path

EXPECTED = Path(__file__).resolve().parent / "expected.json"
MIN_F1 = 0.99
MODEL_STAGE_REASONS = {"high_ppl", "high_dup_lines", "high_top_bigram"}


class CheckFailed(Exception):
    pass


def expected() -> dict:
    return json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}


def f1(pred: list[bool], ref: list[bool]) -> float:
    tp = sum(p and r for p, r in zip(pred, ref))
    fp = sum(p and not r for p, r in zip(pred, ref))
    fn = sum(r and not p for p, r in zip(pred, ref))
    return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0


def read_output(out_dir: Path) -> dict:
    """url -> (text_clean, keep, drop_reason) of a job's ``data`` table."""
    import pyarrow.parquet as pq

    t = pq.read_table(out_dir / "data", columns=["url", "text_clean", "keep", "drop_reason"])
    cols = [t.column(c).to_pylist() for c in ("url", "text_clean", "keep", "drop_reason")]
    rows = {u: (c, k, r) for u, c, k, r in zip(*cols)}
    if len(rows) != t.num_rows:
        raise CheckFailed(f"duplicate urls in output: {t.num_rows} rows, {len(rows)} urls")
    return rows


def census(rows: dict) -> dict:
    c = collections.Counter(r for _, _, r in rows.values())
    n_keep = c.pop(None, 0)
    return {"n_keep": n_keep, "drops_by_reason": dict(sorted(c.items()))}


def digest(rows: dict) -> str:
    h = hashlib.sha256()
    for url in sorted(rows):
        h.update(json.dumps([url, *rows[url]], ensure_ascii=False).encode())
        h.update(b"\n")
    return h.hexdigest()


def check_job_output(w, seed: int, pages: Path, out: Path, summary: dict) -> None:
    if w.resume:
        check_filter_output(int(w.flag("--buckets")), pages, out, summary)
    else:
        check_full_job(w, seed, pages, out, summary)


def check_filter_output(buckets: int, pages: Path, out: Path, summary: dict) -> None:
    from perfbench.inputs import reference_labels

    if summary.get("processed") != buckets or summary.get("skipped") != 0:
        raise CheckFailed(
            f"resume committed {summary.get('processed')} of {buckets} buckets, "
            f"skipped {summary.get('skipped')}"
        )
    rows = read_output(out)
    ref = reference_labels(pages)
    if rows.keys() != ref.keys():
        raise CheckFailed(f"output has {len(rows)} urls, input {len(ref)}")
    urls = sorted(ref)
    score = f1([rows[u][1] for u in urls], [ref[u][1] for u in urls])
    if score < MIN_F1:
        raise CheckFailed(f"keep/drop F1 {score:.4f} < {MIN_F1}")
    bad = sum(rows[u][0] != ref[u][0] for u in urls)
    if bad:
        raise CheckFailed(f"{bad} text_clean byte mismatches against the reference")


def job_key(w, seed: int) -> str:
    return f"n{w.pages}-s{seed}"


def check_full_job(w, seed: int, pages: Path, out: Path, summary: dict) -> None:
    rows = read_output(out)
    got = census(rows)
    printed = {"n_keep": summary.get("n_keep"), "drops_by_reason": summary.get("drops_by_reason")}
    if got != printed:
        raise CheckFailed(f"printed census {printed} != output census {got}")
    want = expected().get(w.name, {}).get(job_key(w, seed))
    if want is not None:
        if got != want["census"]:
            raise CheckFailed(f"census {got} != recorded {want['census']}")
        if digest(rows) != want["digest"]:
            raise CheckFailed("output digest differs from the recorded one")
        return
    from perfbench.inputs import reference_labels

    ref = reference_labels(pages)
    if not rows.keys() <= ref.keys():
        raise CheckFailed("output holds urls that are not in the input")
    urls = sorted(rows)
    pred = [rows[u][1] or rows[u][2] in MODEL_STAGE_REASONS for u in urls]
    score = f1(pred, [ref[u][1] for u in urls])
    if score < MIN_F1:
        raise CheckFailed(f"base-rule keep/drop F1 {score:.4f} < {MIN_F1}")


def check_pre_passes(w, seed: int, m: dict) -> None:
    """``m``: the dedup stages' rows_out, in apply_pre_passes' order."""
    rows = [m[f"dedup.{d}.rows_out"] for d in ("url", "boilerplate", "exact", "minhash")]
    if rows != sorted(rows, reverse=True) or rows[0] > w.pages or rows[-1] < 1:
        raise CheckFailed(f"dedup rows_out {rows} from {w.pages} pages")
    want = expected().get("full_recipe", {}).get(job_key(w, seed))
    if want is not None:
        n = want["census"]["n_keep"] + sum(want["census"]["drops_by_reason"].values())
        if rows[-1] != n:
            raise CheckFailed(f"{rows[-1]} rows after the pre-passes, recorded {n}")


def operators_key(seed: int) -> str:
    from perfbench.inputs import OPS_DOCS

    return f"d{OPS_DOCS}-s{seed}"


def check_operator_rows(seed: int, rows: dict[str, int]) -> bool:
    """Whether recorded counts were found (and matched) for ``seed``; a
    query that did not run is not compared."""
    want = expected().get("operators", {}).get(operators_key(seed))
    if want is None:
        return False
    bad = {q: (n, want.get(q)) for q, n in rows.items() if want.get(q) != n}
    if bad:
        raise CheckFailed(f"operator row counts (got, recorded) differ: {bad or 'query set'}")
    return True


def job_reference(w, seed: int, pages: Path) -> None:
    """Compute, before any timing, what check_job_output compares with."""
    if w.resume or job_key(w, seed) not in expected().get(w.name, {}):
        from perfbench.inputs import reference_labels

        reference_labels(pages)
