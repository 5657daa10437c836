"""In-process timings of the Python kernels inside the stages, on fixed
samples drawn (seeded) from a workload's own inputs.

  extract_normalize  the fused extract+normalize UDF body (functions.text)
  features           compute_features_pdf (functions.features / hashing)
  span               longest_common_span (operators.suffix)
  window_screen      has_common_window (operators.suffix)

The two pair kernels run on the planted gray-zone pairs and the planted
containment (d5) pairs: those are what MinHash/SimHash verification leaves
undecided and hands to the ``spans`` stage. Exact and near-identical pairs,
most of the planted pairs, never reach it.

Each kernel runs REPEATS times over its sample; the median is reported.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from sift_kg_spark.config import DEFAULT_CONFIG
from sift_kg_spark.functions.features import compute_features_pdf
from sift_kg_spark.functions.text import extract_normalize_udf
from sift_kg_spark.operators.suffix import has_common_window, longest_common_span

SAMPLE_DOCS = 256
SAMPLE_PAIRS = 48
REPEATS = 5


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _spans_sample(data_dir: str, rng: np.random.Generator) -> pd.DataFrame:
    """Up to SAMPLE_PAIRS (url_a, url_b) pairs of the kind ``spans`` gets."""
    flagged = pd.read_parquet(os.path.join(data_dir, "expected_flagged.parquet"))
    pairs = pd.read_parquet(os.path.join(data_dir, "expected_pairs.parquet"))
    gray = pd.concat(
        [flagged, pairs.loc[pairs["dup_class"] == "d5", ["url_a", "url_b"]]],
        ignore_index=True,
    )
    if gray.empty:  # a workload that plants neither: any planted pairs
        gray = pairs[["url_a", "url_b"]]
    return gray.iloc[rng.permutation(len(gray))[:SAMPLE_PAIRS]]


def kernel_metrics(data_dir: str, seed: int) -> dict[str, float]:
    """``kernel.*`` metrics in microseconds per doc or per pair."""
    rng = np.random.default_rng(seed)
    pages = pd.read_parquet(os.path.join(data_dir, "pages.parquet"))
    docs = pages.iloc[rng.choice(len(pages), min(SAMPLE_DOCS, len(pages)), replace=False)]
    extract_normalize = extract_normalize_udf.func
    normed = extract_normalize(docs["html"], docs["text"])
    texts = normed["text_norm"].dropna().reset_index(drop=True)

    need = _spans_sample(data_dir, rng)
    rows = pages[pages["url"].isin(set(need["url_a"]) | set(need["url_b"]))]
    norm_of = dict(zip(rows["url"], extract_normalize(rows["html"], rows["text"])["text_norm"]))
    texts_ab = [
        (norm_of[a], norm_of[b])
        for a, b in zip(need["url_a"], need["url_b"])
        if norm_of.get(a) and norm_of.get(b)
    ]
    w = DEFAULT_CONFIG.min_span_bytes
    cap = DEFAULT_CONFIG.max_span_doc_bytes
    # the same byte view confirm_spans screens
    bytes_ab = [
        (a.encode("utf-8", "ignore")[:cap], b.encode("utf-8", "ignore")[:cap])
        for a, b in texts_ab
    ]

    return {
        "kernel.extract_normalize_us_per_doc": _median_s(
            lambda: extract_normalize(docs["html"], docs["text"])
        ) / len(docs) * 1e6,
        "kernel.features_us_per_doc": _median_s(
            lambda: compute_features_pdf(texts, DEFAULT_CONFIG, slim=True)
        ) / len(texts) * 1e6,
        "kernel.span_us_per_pair": _median_s(
            lambda: [longest_common_span(a, b, cap) for a, b in texts_ab]
        ) / len(texts_ab) * 1e6,
        "kernel.window_screen_us_per_pair": _median_s(
            lambda: [has_common_window(a, b, w) for a, b in bytes_ab]
        ) / len(bytes_ab) * 1e6,
    }
