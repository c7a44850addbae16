"""Seeded input generators. The same seed always writes the same files.

Each generator writes parquet with pyarrow (no Spark) and returns a small
description of what it planted, which the output checks compare against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import shingles

START = dt.date(2023, 1, 1)
DAYS = 730  # about two years of daily history per series


def _series_values(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    """``n`` positive daily series: level + trend + weekly and yearly
    seasonality + noise, shape (n, days)."""
    t = np.arange(days, dtype=np.float64)
    level = rng.uniform(50.0, 500.0, size=(n, 1))
    trend = rng.uniform(-0.05, 0.2, size=(n, 1))
    weekly = rng.uniform(2.0, 20.0, size=(n, 1)) * np.sin(
        2 * np.pi * t / 7.0 + rng.uniform(0, 2 * np.pi, size=(n, 1))
    )
    yearly = rng.uniform(5.0, 40.0, size=(n, 1)) * np.sin(
        2 * np.pi * t / 365.25 + rng.uniform(0, 2 * np.pi, size=(n, 1))
    )
    noise = rng.normal(0.0, 1.0, size=(n, days)) * rng.uniform(1.0, 8.0, size=(n, 1))
    return np.round(level + trend * t + weekly + yearly + noise, 3)


def _dates(days: int) -> pa.Array:
    return pa.array([START + dt.timedelta(days=i) for i in range(days)], pa.date32())


def write_catalog(root: str, seed: int, widths: list[int], days: int = DAYS) -> dict:
    """A database directory of one wide daily table per entry of
    ``widths`` (``t00``, ``t01``, ...): a ``date`` axis, that many numeric
    columns (integer and double) and one string column the type skip-list
    must drop."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    metrics = {}
    dates = _dates(days)
    for i, width in enumerate(widths):
        name = f"t{i:02d}"
        vals = _series_values(rng, width, days)
        cols = {"date": dates}
        for m in range(width):
            # every other metric is an integer column, as counters are
            cols[f"m{m}"] = pa.array(np.round(vals[m]).astype(np.int64) if m % 2 else vals[m])
        cols["region"] = pa.array(rng.choice(["north", "south", "east", "west"], size=days))
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))
        metrics[name] = [f"m{m}" for m in range(width)]
    return {
        "tables": sorted(metrics),
        "metrics": metrics,
        "days": days,
        "series": sum(widths),
    }


STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct random words, most frequent first. Word lengths
    cycle through 3..9 by rank, so every seed's corpus has about the same
    number of characters and the same amount of work; only the letters
    depend on the seed."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(letters, size=3 + len(words) % 7))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _edited(rng: np.random.Generator, text: str, vocab: list[str], lo: float, hi: float) -> str:
    """A copy of ``text`` with words replaced by random vocabulary words,
    one at a time, until its Jaccard similarity to ``text`` falls below a
    target drawn from [lo, hi]. A try that steps past ``lo`` starts again
    from ``text``."""
    src = shingles(text)
    target = rng.uniform(lo, hi)
    while True:
        words = text.split(" ")
        for j in rng.permutation(len(words)):
            words[j] = vocab[int(rng.integers(len(vocab)))]
            dst = shingles(" ".join(words))
            jac = len(src & dst) / len(src | dst)
            if jac <= target:
                break
        if lo <= jac:
            return " ".join(words)


# planted near-duplicates sit above the 0.8 threshold, planted look-alikes
# below it, so the verification step has candidates on both sides to judge
NEAR_JACCARD = (0.84, 0.92)
FAR_JACCARD = (0.6, 0.75)


def corpus_texts(
    seed: int, docs: int, exact_groups: int, near_pairs: int, far_pairs: int
) -> tuple[list[str], dict]:
    """Generate the corpus in memory: ``docs`` documents in total, of which
    ``exact_groups`` extra copies are exact duplicates up to case and
    whitespace, ``near_pairs`` extra copies are near-duplicates of their
    source (Jaccard in ``NEAR_JACCARD``) and ``far_pairs`` extra copies
    share less of their source (Jaccard in ``FAR_JACCARD``). Returns (texts
    indexed by doc id, planted ground truth)."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 5000)
    weights = 1.0 / np.arange(1, len(vocab) + 1)  # Zipf-like word frequencies
    weights /= weights.sum()
    n_base = docs - exact_groups - near_pairs - far_pairs
    lengths = rng.integers(40, 90, size=n_base)
    words = np.array(vocab, dtype=object)[rng.choice(len(vocab), size=int(lengths.sum()), p=weights)]
    # each document gets its own stopword share, between 0 and 20 %, which
    # spreads the quality scores
    stop_rate = np.repeat(rng.uniform(0.0, 0.2, size=n_base), lengths)
    is_stop = rng.random(len(words)) < stop_rate
    words[is_stop] = np.array(STOPWORDS, dtype=object)[rng.integers(len(STOPWORDS), size=int(is_stop.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_base)]
    sources = [int(s) for s in rng.choice(n_base, size=exact_groups + near_pairs + far_pairs, replace=False)]
    exact = []
    for src in sources[:exact_groups]:
        # same normalized text: upper-case first word, doubled blank
        head, _, rest = texts[src].partition(" ")
        exact.append((src, len(texts)))
        texts.append(head.upper() + "  " + rest)
    planted = {"near": [], "far": []}
    kinds = ["near"] * near_pairs + ["far"] * far_pairs
    for kind, src in zip(kinds, sources[exact_groups:]):
        lo, hi = NEAR_JACCARD if kind == "near" else FAR_JACCARD
        planted[kind].append((src, len(texts)))
        texts.append(_edited(rng, texts[src], vocab, lo, hi))
    return texts, {"docs": docs, "exact": exact, **planted}


def write_corpus(
    path: str, seed: int, docs: int, exact_groups: int, near_pairs: int, far_pairs: int, files: int = 4
) -> dict:
    """The corpus as the dataset directory ``path`` of ``files`` parquet
    files with columns (doc_id, text). One small file would scan as a
    single task, so the corpus is split to give every core a share."""
    texts, truth = corpus_texts(seed, docs, exact_groups, near_pairs, far_pairs)
    os.makedirs(path, exist_ok=True)
    ids = np.arange(len(texts), dtype=np.int64)
    for f in range(files):
        part = ids[f::files]
        pq.write_table(
            pa.table({"doc_id": pa.array(part), "text": pa.array([texts[i] for i in part])}),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )
    truth["texts"] = texts
    return truth
