"""Per-op correctness checks against a workload's golden tables.

An op passes when its final assignments
  * keep at least ``MIN_RECALL`` of the planted duplicate pairs of *each*
    planted class (``dup_class``) together, so a small class such as the
    A~B~C chains cannot hide behind the heavy-hitter family's pairs,
  * put no two planted-distinct families into one predicted cluster,
  * assign every page that is not a planted quarantine row exactly once,
    and nothing else, and
  * hash to the same order-free checksum as the first op of the same
    workload, seed and program source (``ChecksumLog``), and, for a
    resumed run, as the run it resumed.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from dataclasses import dataclass, field

import pandas as pd

MIN_RECALL = 0.99


@dataclass(frozen=True)
class CheckResult:
    pair_recall: float
    class_recall: dict[str, float]
    false_merges: int
    missing: int
    unexpected: int
    duplicated: int
    checksum: str
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def assignments_checksum(assign: pd.DataFrame) -> str:
    """Order-free digest of ``(url, cluster_id, canonical_url)`` rows:
    the sum mod 2^64 of a per-row 64-bit hash, plus the row count."""
    total = 0
    for u, c, k in zip(assign["url"], assign["cluster_id"], assign["canonical_url"]):
        d = hashlib.blake2b(f"{u}\x1f{c}\x1f{k}".encode(), digest_size=8).digest()
        total = (total + int.from_bytes(d, "little")) & 0xFFFF_FFFF_FFFF_FFFF
    return f"{len(assign)}:{total:016x}"


def check_assignments(
    assign: pd.DataFrame,
    pairs: pd.DataFrame,
    clusters: pd.DataFrame,
    expected_urls: set[str],
) -> CheckResult:
    """Score predicted assignments against the planted pairs and families.

    ``assign`` has columns url, cluster_id, canonical_url. Urls absent from
    the golden cluster table are planted singletons (their own family).
    ``expected_urls`` is every url that must be assigned exactly once.
    """
    cluster_of = dict(zip(assign["url"], assign["cluster_id"]))
    together = [
        a in cluster_of and cluster_of[a] == cluster_of.get(b)
        for a, b in zip(pairs["url_a"], pairs["url_b"])
    ]
    recall = sum(together) / len(pairs) if len(pairs) else 1.0
    by_class = pd.Series(together, index=pairs.index, dtype=bool).groupby(
        pairs["dup_class"]
    ).mean()
    class_recall = {str(k): float(v) for k, v in by_class.items()}

    family_of = dict(zip(clusters["url"], clusters["family_id"]))
    families = assign.assign(
        _fam=[family_of.get(u, u) for u in assign["url"]]
    ).groupby("cluster_id")["_fam"].nunique()
    false_merges = int((families > 1).sum())

    seen = set(assign["url"])
    missing = len(expected_urls - seen)
    unexpected = len(seen - expected_urls)
    duplicated = len(assign) - len(seen)

    problems = [
        f"recall[{k}]={v:.4f}" for k, v in sorted(class_recall.items()) if v < MIN_RECALL
    ]
    for name, n in (
        ("false_merges", false_merges),
        ("missing_urls", missing),
        ("unexpected_urls", unexpected),
        ("duplicated_urls", duplicated),
    ):
        if n:
            problems.append(f"{name}={n}")
    return CheckResult(
        pair_recall=recall,
        class_recall=class_recall,
        false_merges=false_merges,
        missing=missing,
        unexpected=unexpected,
        duplicated=duplicated,
        checksum=assignments_checksum(assign),
        problems=problems,
    )


def source_digest(package_dir: str) -> str:
    """Digest of the ``.py`` files under ``package_dir``: which program
    version a recorded checksum belongs to."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(package_dir):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, package_dir).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:12]


class ChecksumLog:
    """The first op's checksum of a workload and seed, kept in a file so
    every later op, in this process or in a later run, is compared to it.
    The file name carries the program's ``source_digest``, so a changed
    program starts a new record."""

    def __init__(self, path: str) -> None:
        self.path = path

    def reference(self, checksum: str) -> str:
        """The recorded checksum; records ``checksum`` if there is none."""
        if not os.path.exists(self.path):
            tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                fh.write(checksum + "\n")
            os.replace(tmp, self.path)
        with open(self.path) as fh:
            return fh.read().strip()
