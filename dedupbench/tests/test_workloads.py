import os
from dataclasses import replace

import pandas as pd
import pytest

from dedupbench.workloads import WORKLOADS, generate_tables, materialize

SMALL = {
    "full_unique_html": dict(n_pages=150),
    "full_dupdense": dict(n_pages=150, chains=2),
    "append_stream": dict(n_pages=150, base_pages=100, batch_pages=25),
}


def _small(name):
    return replace(WORKLOADS[name], **SMALL[name])


@pytest.mark.parametrize("name", sorted(SMALL))
def test_generation_is_deterministic_per_seed(name):
    wl = _small(name)
    a = generate_tables(wl, seed=11)
    b = generate_tables(wl, seed=11)
    assert list(a) == list(b)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    other = generate_tables(wl, seed=12)["pages"]
    assert not other["url"].equals(a["pages"]["url"])


def test_html_share_follows_the_workload():
    html = generate_tables(_small("full_unique_html"), 5)["pages"]
    text = generate_tables(_small("full_dupdense"), 5)["pages"]
    assert html["html"].notna().all() and html["text"].isna().all()
    assert text["html"].isna().all() and text["text"].notna().all()
    stock = generate_tables(_small("append_stream"), 5)["pages"]
    assert 0.2 < stock["html"].notna().mean() < 0.6


def test_dupdense_reps_well_below_rows():
    t = generate_tables(_small("full_dupdense"), 5)
    pages, pairs, clusters = t["pages"], t["expected_pairs"], t["expected_clusters"]
    # every planted family collapses to one representative at most
    families = clusters["family_id"].nunique()
    reps_upper = len(pages) - len(clusters) + families
    assert reps_upper < 0.8 * len(pages)
    assert len(pairs) > len(pages) // 2


def test_materialize_caches_and_splits(tmp_path):
    wl = _small("append_stream")
    # seed 2 ends its last family four rows past n_pages
    out = materialize(wl, 2, str(tmp_path))
    assert materialize(wl, 2, str(tmp_path)) == out
    base = pd.read_parquet(os.path.join(out, "base.parquet"))
    batches = [
        pd.read_parquet(os.path.join(out, f"batch_{i}.parquet"))
        for i in range(wl.n_batches)
    ]
    pages = pd.read_parquet(os.path.join(out, "pages.parquet"))
    assert len(base) == wl.base_pages
    assert [len(b) for b in batches[:-1]] == [wl.batch_pages] * (wl.n_batches - 1)
    assert len(batches[-1]) == wl.batch_pages + 4
    # every generated row is fed, in order: none is left out of the split
    joined = pd.concat([base, *batches], ignore_index=True)
    assert joined["url"].tolist() == pages["url"].tolist()
    assert list(pages.columns) == ["url", "warc_ts", "html", "text", "lang"]
    quarantine = pd.read_parquet(os.path.join(out, "expected_quarantine.parquet"))
    assert quarantine["url"].isin(pages["url"]).all()
    assert os.path.exists(os.path.join(out, "expected_flagged.parquet"))
    assert not [p for p in os.listdir(tmp_path) if ".tmp-" in p]
