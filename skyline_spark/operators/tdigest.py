"""Merging t-digest — the centroid quantile sketch named by north_star.

north_star names "quantile sketches via t-digest/GK" for the checkpoint's
stat digests. The checkpoint carries one PROVEN-bound digest, the fixed-bin
log-histogram (relative value error <= 2^(1/K)-1, operators/digest.py);
the GK sketch (rank error <= 2*eps*n at any merge fan-in, operators/gk.py)
is a standalone operator. This module adds the t-digest itself (Dunning &
Ertl, "Computing Extremely Accurate Quantiles Using t-Digests", 2019), the
family's adaptive member: centroid positions follow the data, so it
resolves quantiles of arbitrary real-valued distributions without
pre-chosen bins and with O(delta) size.

Design choices, stated for what they buy:

- **Scale function k0** (uniform: ``k0(q) = delta*q/2``), not k1. k0 gives
  the clean invariant this repo's sketch family is built around — every
  merged centroid's weight is <= ``ceil(2*n/delta)`` (single repeated
  values may exceed the cap but are then EXACT, a pure-duplicate
  centroid) — at the cost of k1's extra tail resolution. The repo's
  rank-bounded tails come from GK; the t-digest's job here is the
  adaptive middle.
- **Batch build from a sorted value->count histogram** — the shape
  ``plans/stats.length_histogram`` already aggregates — so construction
  is a single greedy left-fold over sorted values with no per-row
  randomness, deterministic for a given input histogram.
- **merge_many combines ANY fan-in in one level** (concatenate, sort by
  mean, re-chunk under the merged cap) mirroring the GK convention: roll
  partition digests up with a single merge_many, not a pairwise fold, so
  interleaving loss is paid once.
- **Accuracy envelope is empirical, and pinned by tests.** After merging,
  centroids from different partitions may overlap in value range, so the
  worst-case rank guarantee is no longer provable (this is the published
  position — Dunning & Ertl validate merge accuracy empirically). The
  envelope asserted here and in the catalog verdicts is
  ``|true_rank(quantile(q)) - q*n| <= TD_RANK_TOL(n)`` with
  ``TD_RANK_TOL = 2*ceil(2*n/delta) + 1`` (twice the weight cap);
  tests/test_tdigest.py drives random data through random partition
  splits and merge fan-ins under hypothesis to hold the line.

The digest is JSON-serializable (``to_dict``/``from_dict``) in the same
style as the GK sketch, so it can ride a checkpoint ``stat_digests`` blob;
the catalog query ``tdigest_quantiles`` (catalog/sketch_queries.py) builds
it per partition, merges to corpus level, and judges every estimate
against exact quantiles.

Reference analog: none directly — the reference pins quantiles via numpy
on in-memory series; mergeable digests are the distributed restatement
(north_star "stat digests").
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Mapping, Sequence

__all__ = ["TDigest", "TD_DEFAULT_DELTA", "td_rank_tol"]

TD_DEFAULT_DELTA = 200.0


def td_rank_tol(n: int, delta: float = TD_DEFAULT_DELTA) -> int:
    """Rank tolerance the catalog verdicts and property tests assert:
    twice the k0 weight cap, plus one for interpolation off-by-ones."""
    return 2 * max(1, math.ceil(2.0 * n / delta)) + 1


@dataclass
class TDigest:
    delta: float = TD_DEFAULT_DELTA
    n: int = 0
    # parallel lists sorted by mean; a centroid is (mean, weight). vmin/vmax
    # are the exact extremes, kept so quantile() can clamp/interpolate the
    # edges instead of extrapolating past observed data.
    means: list = field(default_factory=list)
    weights: list = field(default_factory=list)
    vmin: float = math.inf
    vmax: float = -math.inf

    # -- construction --------------------------------------------------------

    @classmethod
    def from_value_counts(
        cls,
        values: Sequence[float],
        counts: Sequence[int],
        delta: float = TD_DEFAULT_DELTA,
    ) -> "TDigest":
        """Build from a SORTED ascending (value, count) histogram. Greedy
        k0 chunking: accumulate counts until the next value would push the
        chunk past the weight cap ``2*n/delta``."""
        if len(values) != len(counts):
            raise ValueError("values/counts length mismatch")
        sk = cls(delta=delta)
        pairs = [(float(v), int(c)) for v, c in zip(values, counts) if c > 0]
        if not pairs:
            return sk
        if any(pairs[i][0] >= pairs[i + 1][0] for i in range(len(pairs) - 1)):
            raise ValueError("values must be sorted strictly ascending")
        n = sum(c for _, c in pairs)
        sk.n = n
        sk.vmin, sk.vmax = pairs[0][0], pairs[-1][0]
        sk._chunk(pairs, n)
        return sk

    @classmethod
    def from_values(
        cls, values: Sequence[float], delta: float = TD_DEFAULT_DELTA
    ) -> "TDigest":
        hist: dict = {}
        for v in values:
            hist[float(v)] = hist.get(float(v), 0) + 1
        items = sorted(hist.items())
        return cls.from_value_counts(
            [v for v, _ in items], [c for _, c in items], delta=delta
        )

    def _chunk(self, pairs: Sequence[tuple], n: int) -> None:
        """Greedy left-fold: merge sorted (mean, weight) pairs into
        centroids no heavier than the k0 cap. A single input pair heavier
        than the cap stays alone (it is exact — one repeated value or one
        pre-merged centroid that cannot be split)."""
        cap = max(1, math.ceil(2.0 * n / self.delta))
        means: list = []
        weights: list = []
        acc_w = 0
        acc_sum = 0.0
        for v, c in pairs:
            if acc_w > 0 and acc_w + c > cap:
                means.append(acc_sum / acc_w)
                weights.append(acc_w)
                acc_w, acc_sum = 0, 0.0
            acc_w += c
            acc_sum += v * c
        if acc_w > 0:
            means.append(acc_sum / acc_w)
            weights.append(acc_w)
        self.means, self.weights = means, weights

    # -- merge ---------------------------------------------------------------

    @classmethod
    def merge_many(cls, digests: Sequence["TDigest"]) -> "TDigest":
        """Single-level merge at any fan-in: pool every input centroid,
        sort by mean, re-chunk under the MERGED size's weight cap. Kept
        one-level (like GKSketch.merge_many) so interleaving loss does not
        compound with merge-tree depth."""
        digests = [d for d in digests if d is not None and d.n > 0]
        if not digests:
            return cls()
        delta = digests[0].delta
        if any(d.delta != delta for d in digests):
            raise ValueError("cannot merge digests with different delta")
        out = cls(delta=delta)
        out.n = sum(d.n for d in digests)
        out.vmin = min(d.vmin for d in digests)
        out.vmax = max(d.vmax for d in digests)
        pooled = sorted(
            (m, w) for d in digests for m, w in zip(d.means, d.weights)
        )
        out._chunk(pooled, out.n)
        return out

    # -- query ---------------------------------------------------------------

    def quantile(self, q: float) -> float:
        """Estimate the q-quantile: linear interpolation between centroid
        midpoint ranks (the standard t-digest read), clamped to the exact
        observed [vmin, vmax]."""
        if self.n == 0:
            raise ValueError("empty digest")
        q = min(1.0, max(0.0, q))
        t = q * self.n
        if len(self.means) == 1:
            return self.means[0]
        # midpoint rank of centroid i: weight before it + half its own
        cum = 0.0
        mids = []
        for w in self.weights:
            mids.append(cum + w / 2.0)
            cum += w
        if t <= mids[0]:
            # interpolate from the exact minimum up to the first midpoint
            if mids[0] <= 0:
                return self.means[0]
            frac = t / mids[0]
            return self.vmin + frac * (self.means[0] - self.vmin)
        if t >= mids[-1]:
            span = self.n - mids[-1]
            if span <= 0:
                return self.means[-1]
            frac = (t - mids[-1]) / span
            return min(self.vmax, self.means[-1] + frac * (self.vmax - self.means[-1]))
        # bracketing midpoints
        import bisect

        i = bisect.bisect_right(mids, t)
        lo_m, hi_m = mids[i - 1], mids[i]
        frac = (t - lo_m) / (hi_m - lo_m) if hi_m > lo_m else 0.0
        return self.means[i - 1] + frac * (self.means[i] - self.means[i - 1])

    def size(self) -> int:
        return len(self.means)

    # -- serialization -------------------------------------------------------

    def to_dict(self) -> dict:
        return {
            "delta": self.delta,
            "n": self.n,
            "means": list(self.means),
            "weights": list(self.weights),
            "vmin": self.vmin if self.n else None,
            "vmax": self.vmax if self.n else None,
        }

    @classmethod
    def from_dict(cls, d: Mapping) -> "TDigest":
        sk = cls(delta=float(d["delta"]), n=int(d["n"]))
        sk.means = [float(x) for x in d["means"]]
        sk.weights = [int(x) for x in d["weights"]]
        sk.vmin = float(d["vmin"]) if d.get("vmin") is not None else math.inf
        sk.vmax = float(d["vmax"]) if d.get("vmax") is not None else -math.inf
        return sk
