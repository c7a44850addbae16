"""Output checks. Each returns a list of problems; an empty list means the
pass produced correct output."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd


def check_forecast_table(tbl: pd.DataFrame, metrics: list[str], days: int, horizon: int) -> list[str]:
    """One ``bucket_forecast_<table>``: history + horizon rows, one per
    date, the reference's column order, no all-NULL metric and
    ``m_min <= m <= m_max`` wherever a value exists."""
    errs = []
    want_cols = ["date", *metrics, *[f"{m}_min" for m in metrics], *[f"{m}_max" for m in metrics]]
    if list(tbl.columns) != want_cols:
        return [f"columns {list(tbl.columns)} != {want_cols}"]
    if len(tbl) != days + horizon:
        errs.append(f"{len(tbl)} rows, want {days + horizon}")
    if tbl["date"].nunique() != len(tbl):
        errs.append("duplicate dates")
    for m in metrics:
        v, lo, hi = (tbl[c].to_numpy(dtype=float, na_value=np.nan) for c in (m, f"{m}_min", f"{m}_max"))
        if np.isnan(v).all():
            errs.append(f"metric {m} is all NULL")
            continue
        ok = ~np.isnan(v)
        if not ((lo[ok] <= v[ok]) & (v[ok] <= hi[ok])).all():
            errs.append(f"metric {m} outside its [min, max] band")
    return errs


def shingles(text: str, n: int = 5) -> set[str]:
    """Distinct character n-grams of the normalized text: lower case,
    whitespace runs collapsed, trimmed (the program's shingle rule)."""
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    return {norm[i : i + n] for i in range(max(len(norm) - (n - 1), 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


# LSH with 4 bands of 4 rows finds a pair of Jaccard 0.84 with
# probability 0.94, so a few planted near-duplicates may be missed
NEAR_RECALL_FLOOR = 0.8


def check_curation(
    texts: list[str],
    exact_planted: list[tuple[int, int]],
    near_planted: list[tuple[int, int]],
    far_planted: list[tuple[int, int]],
    exact_groups: list[tuple[int, int]],
    pairs: list[tuple[int, int, float]],
    kept_ids: np.ndarray,
    kept_quality: np.ndarray,
    threshold: float,
) -> list[str]:
    """``exact_groups`` are (keeper_id, n_docs) rows, ``pairs`` are verified
    (id_a, id_b, jaccard) rows, ``kept_*`` the columns of the kept corpus.
    ``far_planted`` pairs are below the threshold and must not be verified."""
    errs = []
    want_groups = sorted((src, 2) for src, _ in exact_planted)
    if sorted(exact_groups) != want_groups:
        errs.append(f"exact groups {sorted(exact_groups)[:5]}... != planted {want_groups[:5]}...")
    for a, b, jac in pairs:
        truth = jaccard(texts[a], texts[b])
        if truth < threshold or abs(truth - jac) > 1e-9:
            errs.append(f"pair ({a}, {b}): jaccard {jac}, recomputed {truth}, threshold {threshold}")
            break
    found = {(a, b) for a, b, _ in pairs}
    below = [p for p in far_planted if p in found]
    if below:
        errs.append(f"{len(below)} planted pairs below the threshold verified, e.g. {below[0]}")
    if near_planted:
        recall = sum(p in found for p in near_planted) / len(near_planted)
        if recall < NEAR_RECALL_FLOOR:
            errs.append(f"near-duplicate recall {recall:.3f} < {NEAR_RECALL_FLOOR}")
    dropped = {b for _, b in found}
    want_kept = sorted(set(range(len(texts))) - dropped)
    if sorted(kept_ids.tolist()) != want_kept:
        errs.append(f"kept corpus has {len(kept_ids)} docs, want {len(want_kept)}")
    if len(kept_quality) and not ((kept_quality >= 0) & (kept_quality <= 1)).all():
        errs.append("quality score outside [0, 1]")
    return errs
