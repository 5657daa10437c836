from dataclasses import replace

import pandas as pd
import pytest

from dedupbench.check import ChecksumLog, assignments_checksum, check_assignments
from dedupbench.workloads import WORKLOADS, generate_tables


@pytest.fixture(scope="module")
def golden():
    wl = replace(WORKLOADS["full_dupdense"], n_pages=300, chains=3)
    t = generate_tables(wl, seed=3)
    urls = set(t["pages"]["url"]) - set(t["expected_quarantine"]["url"])
    return t["pages"], t["expected_pairs"], t["expected_clusters"], urls


def _perfect(pages, clusters) -> pd.DataFrame:
    """Assignments that reproduce the golden families exactly."""
    canon = dict(zip(clusters["url"], clusters["canonical_url"]))
    urls = pages["url"]
    return pd.DataFrame(
        {
            "url": urls,
            "cluster_id": [canon.get(u, u) for u in urls],
            "canonical_url": [canon.get(u, u) for u in urls],
        }
    )


def test_golden_assignments_pass(golden):
    pages, pairs, clusters, urls = golden
    res = check_assignments(_perfect(pages, clusters), pairs, clusters, urls)
    assert res.pair_recall == 1.0 and res.false_merges == 0 and res.ok
    assert set(res.class_recall) == set(pairs["dup_class"])


def test_dropped_planted_pair_fails(golden):
    pages, pairs, clusters, urls = golden
    assign = _perfect(pages, clusters)
    victim = pairs.loc[pairs["dup_class"] == "d3", "url_b"].iloc[0]
    assign.loc[assign["url"] == victim, "cluster_id"] = "split:" + victim
    res = check_assignments(assign, pairs, clusters, urls)
    assert res.false_merges == 0
    assert res.class_recall["d3"] < 0.99
    assert not res.ok


def test_lost_chain_transitivity_fails_despite_high_pooled_recall(golden):
    """Splitting every A~B~C chain into {A, B} and {C} loses 2 of each
    chain's 3 pairs: a small share of all pairs, all of one class."""
    pages, pairs, clusters, urls = golden
    assign = _perfect(pages, clusters)
    tails = [u for u in pages["url"] if "/chain/" in u and u.endswith("/2")]
    assert tails
    for u in tails:
        assign.loc[assign["url"] == u, "cluster_id"] = "split:" + u
    res = check_assignments(assign, pairs, clusters, urls)
    assert res.pair_recall > 0.95
    assert res.class_recall["chain"] == pytest.approx(1 / 3)
    assert not res.ok


def test_planted_false_merge_fails(golden):
    pages, pairs, clusters, urls = golden
    assign = _perfect(pages, clusters)
    fams = clusters.drop_duplicates("family_id")
    a, b = fams["canonical_url"].iloc[0], fams["canonical_url"].iloc[1]
    assign.loc[assign["cluster_id"] == b, "cluster_id"] = a
    res = check_assignments(assign, pairs, clusters, urls)
    assert res.pair_recall == 1.0
    assert res.false_merges == 1
    assert not res.ok


def test_unplanted_singletons_merge_is_false_merge(golden):
    pages, pairs, clusters, urls = golden
    assign = _perfect(pages, clusters)
    singles = assign[~assign["url"].isin(clusters["url"])]["url"].head(2).tolist()
    assign.loc[assign["url"] == singles[1], "cluster_id"] = singles[0]
    assert check_assignments(assign, pairs, clusters, urls).false_merges == 1


def test_missing_and_duplicated_urls_fail(golden):
    pages, pairs, clusters, urls = golden
    assign = _perfect(pages, clusters)
    single = assign[~assign["url"].isin(clusters["url"])].index[0]
    missing = check_assignments(assign.drop(index=single), pairs, clusters, urls)
    assert missing.missing == 1 and not missing.ok
    doubled = pd.concat([assign, assign.loc[[single]]], ignore_index=True)
    dup = check_assignments(doubled, pairs, clusters, urls)
    assert dup.duplicated == 1 and not dup.ok
    extra = pd.DataFrame({"url": ["https://x.example/q"], "cluster_id": ["q"],
                          "canonical_url": ["https://x.example/q"]})
    unexpected = check_assignments(
        pd.concat([assign, extra], ignore_index=True), pairs, clusters, urls
    )
    assert unexpected.unexpected == 1 and not unexpected.ok


def test_checksum_is_order_free_and_value_sensitive(golden):
    pages, _, clusters, _ = golden
    assign = _perfect(pages, clusters)
    shuffled = assign.sample(frac=1.0, random_state=1)
    assert assignments_checksum(shuffled) == assignments_checksum(assign)
    changed = assign.copy()
    changed.loc[0, "canonical_url"] = "https://elsewhere.example/"
    assert assignments_checksum(changed) != assignments_checksum(assign)


def test_checksum_log_keeps_the_first_checksum(tmp_path):
    path = str(tmp_path / "checksum.txt")
    assert ChecksumLog(path).reference("a") == "a"
    # a later run (a new log object on the same file) compares to the first
    assert ChecksumLog(path).reference("b") == "a"
