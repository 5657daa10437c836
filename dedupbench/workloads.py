"""Seeded benchmark workloads built from ``sift_kg_spark.fixtures``.

Each workload is generated by a ``CorpusGenerator`` subclass that fixes the
share of html-only rows and the mix of planted duplicate classes, and is
written to an on-disk cache keyed by workload, seed, size and the source of
the generators, so generation never lands inside a timed op or ``setup_s``.

The program under test only ever sees ``pages(url, warc_ts, html, text,
lang)``; the golden pair and cluster tables stay with the benchmark.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd

from sift_kg_spark import fixtures
from sift_kg_spark.fixtures import CorpusGenerator

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


class MixGenerator(CorpusGenerator):
    """``CorpusGenerator`` with a fixed html share and class mix.

    ``mix`` maps generator method names to weights. Families are planted
    class by class in a fixed weighted round robin (the class furthest
    below its share goes next) until ``n_pages`` rows exist, so every seed
    gets the same class counts and the seed only varies the content.
    """

    def __init__(
        self,
        n_pages: int,
        seed: int,
        html_share: float,
        mix: dict[str, float],
        heavy_share: float,
        chains: int,
    ) -> None:
        super().__init__(n_pages, seed)
        self.html_share = html_share
        self.mix = mix
        self.heavy_share = heavy_share
        self.chains = chains

    def _emit(self, cls, family, member, lang, sents, template, force_text=None):
        if force_text is None:
            force_text = bool(self.rng.random() >= self.html_share)
        return super()._emit(cls, family, member, lang, sents, template, force_text)

    def generate(self):
        self.heavy_family(max(8, int(self.n * self.heavy_share)))
        for _ in range(self.chains):
            self.chain_family()
        total = sum(self.mix.values())
        planted = dict.fromkeys(self.mix, 0)
        step = 0
        while self._row_idx < self.n:
            step += 1
            pick = max(self.mix, key=lambda k: self.mix[k] / total * step - planted[k])
            planted[pick] += 1
            getattr(self, pick)()
        return self.c


@dataclass(frozen=True)
class Workload:
    """How one workload's corpus is generated and split.

    ``batch_pages == 0`` means a full run over all pages; otherwise the
    permuted corpus is split into a base of ``base_pages`` rows followed
    by micro-batches of ``batch_pages`` rows.
    """

    name: str
    why: str
    n_pages: int
    html_share: float | None = None  # None: the stock generate_corpus mix
    mix: tuple[tuple[str, float], ...] = ()
    heavy_share: float = 0.0
    chains: int = 0
    base_pages: int = 0
    batch_pages: int = 0

    def generator(self, seed: int) -> CorpusGenerator:
        if self.html_share is None:
            return CorpusGenerator(self.n_pages, seed)
        return MixGenerator(
            self.n_pages, seed, self.html_share, dict(self.mix),
            self.heavy_share, self.chains,
        )

    @property
    def n_batches(self) -> int:
        if not self.batch_pages:
            return 0
        return (self.n_pages - self.base_pages) // self.batch_pages


WORKLOADS = {
    w.name: w
    for w in (
        # Every row html-only and ~92% unique: extraction and signatures
        # run on nearly every row, the pair stages idle.
        Workload(
            "full_unique_html",
            "html-only, ~92% unique pages: extraction and features do the work",
            n_pages=3000,
            html_share=1.0,
            mix=(("d0_unique", 0.92), ("d1_exact", 0.04), ("d3_near", 0.04)),
            heavy_share=0.0,
            chains=1,
        ),
        # Text-only (extraction bypassed), dense in near-dup, containment,
        # gray-zone and template families, with a heavy hitter and chains:
        # candidates, verify, spans and components do the work.
        Workload(
            "full_dupdense",
            "text-only near-dup families: candidates, verify, spans and components do the work",
            n_pages=1000,
            html_share=0.0,
            mix=(
                ("d0_unique", 0.06),
                ("d1_exact", 0.34),
                ("d2_variant", 0.03),
                ("d3_near", 0.20),
                ("d4_boilerplate_group", 0.08),
                ("d5_containment", 0.14),
                ("d6_cross_lang", 0.03),
                ("d7_flagged", 0.12),
            ),
            heavy_share=0.05,
            chains=20,
        ),
        # Stock mix, permuted so families straddle the base/batch split.
        Workload(
            "append_stream",
            "stock-mix micro-batches appended to a committed base: the per-batch floor and compaction",
            n_pages=1600,
            base_pages=1500,
            batch_pages=100,
        ),
    )
}


def _generator_digest() -> str:
    h = hashlib.sha256()
    for path in (fixtures.__file__, __file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def generate_tables(wl: Workload, seed: int) -> dict[str, pd.DataFrame]:
    """The workload's tables for one seed, by file name:

      pages                 url, warc_ts, html, text, lang (the program's input)
      expected_pairs        url_a, url_b, dup_class: every planted duplicate pair
      expected_clusters     url, family_id, canonical_url: planted family members
      expected_flagged      url_a, url_b: planted gray-zone pairs
      expected_quarantine   url: planted rows with no usable text

    For split workloads the rows come out permuted by ``seed``, so planted
    families straddle the base and the micro-batches.
    """
    c = wl.generator(seed).generate()
    rows = pd.DataFrame(c.rows)
    pages = rows[PAGE_COLUMNS].copy()
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    if wl.batch_pages:
        order = np.random.default_rng(seed).permutation(len(pages))
        pages = pages.iloc[order].reset_index(drop=True)
    return {
        "pages": pages,
        "expected_pairs": pd.DataFrame(c.pairs, columns=["url_a", "url_b", "dup_class"]),
        "expected_clusters": pd.DataFrame(
            c.clusters, columns=["url", "family_id", "canonical_url"]
        ),
        "expected_flagged": pd.DataFrame(c.flagged, columns=["url_a", "url_b"]),
        "expected_quarantine": rows.loc[rows["_dup_class"] == "q", ["url"]],
    }


def materialize(wl: Workload, seed: int, cache_root: str) -> str:
    """Directory holding the workload's parquet files, generating it once.

    Layout: one ``<name>.parquet`` per table of ``generate_tables``; split
    workloads add ``base.parquet`` and ``batch_<i>.parquet``. A directory
    appears only complete (written under a temporary name, then renamed).
    """
    key = (
        f"{wl.name}-s{seed}-n{wl.n_pages}-b{wl.base_pages}x{wl.batch_pages}"
        f"-{_generator_digest()}"
    )
    out = os.path.join(cache_root, key)
    if os.path.isdir(out):
        return out
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{out}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        tables = generate_tables(wl, seed)

        def put(df: pd.DataFrame, name: str) -> None:
            df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False,
                          row_group_size=512)

        for name, df in tables.items():
            put(df, name)
        pages = tables["pages"]
        if wl.batch_pages:
            put(pages.iloc[: wl.base_pages], "base")
            # the generator finishes its last family past n_pages, so the
            # last micro-batch takes the few rows beyond the nominal split
            for i in range(wl.n_batches):
                lo = wl.base_pages + i * wl.batch_pages
                hi = lo + wl.batch_pages if i < wl.n_batches - 1 else len(pages)
                put(pages.iloc[lo:hi], f"batch_{i}")
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out
