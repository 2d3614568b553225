"""Mergeable quantile-digest helpers for the checkpoint lineage.

The digest itself is built distributed (plans/stats.length_digest, which
re-bins the plans/stats.length_histogram counts): a fixed-boundary log
histogram ``{bin: count}`` where bin ``b`` covers
``[2^(b/K)−1, 2^((b+1)/K)−1)`` with ``K = DIGEST_BINS_PER_OCTAVE``. Fixed
global boundaries give the t-digest/KLL property that matters operationally
— digests from different partitions, snapshots, or whole runs merge by
count addition, with quantile error bounded at ``2^(1/K)−1`` relative —
without any per-row Python in the Spark plan.

These helpers are the driver/consumer side: parse a checkpoint blob, merge
digests across any set of partitions, and read quantiles off the merged
counts.
"""

from __future__ import annotations

import json
import math
from typing import Iterable, Mapping

from ..plans.stats import DIGEST_BINS_PER_OCTAVE

__all__ = [
    "parse_checkpoint_digest",
    "merge_digests",
    "digest_quantile",
    "digest_total",
    "bin_upper_edge",
]


def parse_checkpoint_digest(blob: bytes | str) -> dict:
    """Decode the checkpoint's ``stat_digests`` blob →
    ``{"stats": {name: value}, "len_digest": {bin(int): count(int)}}``.

    Blobs written before the checkpoint dropped its GK sketch also carry a
    ``len_gk`` key (a nested JSON string); it is discarded, so old and new
    rows parse to the same shape and their digests merge together."""
    if isinstance(blob, (bytes, bytearray)):
        blob = bytes(blob).decode("utf-8")
    d = json.loads(blob)
    d.pop("len_gk", None)
    d["len_digest"] = {int(k): int(v) for k, v in (d.get("len_digest") or {}).items()}
    return d


def merge_digests(digests: Iterable[Mapping[int, int]]) -> dict[int, int]:
    """Merge = element-wise count addition (exact, order-independent)."""
    out: dict[int, int] = {}
    for d in digests:
        for b, c in d.items():
            out[int(b)] = out.get(int(b), 0) + int(c)
    return out


def bin_upper_edge(b: int, k: int = DIGEST_BINS_PER_OCTAVE) -> float:
    """Exclusive upper value boundary of bin ``b``."""
    return 2.0 ** ((b + 1) / k) - 1.0


def digest_total(digest: Mapping[int, int]) -> int:
    return sum(int(c) for c in digest.values())


def digest_quantile(
    digest: Mapping[int, int], q: float, k: int = DIGEST_BINS_PER_OCTAVE
) -> float:
    """Inverted-CDF quantile estimate: upper edge of the first bin whose
    cumulative count reaches ``ceil(q · total)`` — same type-1 convention as
    the exact percentiles in plans/stats, so estimates are comparable."""
    if not digest:
        return float("nan")
    total = digest_total(digest)
    need = max(1, math.ceil(q * total))
    cum = 0
    for b in sorted(int(x) for x in digest):
        cum += int(digest[b])
        if cum >= need:
            return bin_upper_edge(b, k)
    return bin_upper_edge(max(int(x) for x in digest), k)
