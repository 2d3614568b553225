"""Greenwald-Khanna quantile sketch — a rank-error-bounded mergeable digest.

north_star names "quantile sketches via t-digest/GK" for the checkpoint's
stat digests. The checkpoint carries only the log-histogram digest
(operators/digest.py), which bounds RELATIVE VALUE error (~9%) and merges
by count addition; this GK sketch is the complementary guarantee, kept as
a standalone operator — bounded RANK error: any quantile read off a
single sketch is within ``eps * n`` ranks of exact, and the sketch size is
O((1/eps) * log(eps*n)) regardless of input size.

Published algorithm (Greenwald & Khanna, "Space-Efficient Online Computation
of Quantile Summaries", SIGMOD 2001; merge via rank bounds per Greenwald &
Khanna 2004 / Agarwal et al., "Mergeable Summaries", PODS 2012). Original
implementation — entries are (value, g, delta, c) with the classic invariant
``g + delta <= 2*eps*n``:

- ``rmin(i) = g_1 + ... + g_i`` and ``rmax(i) = rmin(i) + delta_i`` bracket
  the true rank of ``v_i`` (rank = count of population elements <= v_i);
- ``c_i`` is a proven LOWER bound on the multiplicity of the sampled value
  itself — exact at batch build, summed across inputs on merge. It exists
  to keep merges tight on duplicate-heavy data: without it, the rank upper
  bound a sketch proves for a value x lying just below a heavy sample
  includes the heavy sample's entire duplicate mass, which inflates merged
  deltas and (measured) breaks the merged bound by >20x when one value is
  90% of the mass. With it, at least c_{i+1} copies of the next sample are
  provably > x, so the bound subtracts them;
- construction here is BATCH (from a sorted value->count histogram), so
  entries start EXACT (delta=0) and compress() introduces the only
  uncertainty, keeping the invariant;
- merge_many() combines k sketches in ONE level through summed rank
  bounds: each input's local slack is <= 2*eps*n_j, so the merged bound is
  2*eps at ANY fan-in. Chaining pairwise merges instead compounds the
  bound per level (~depth * eps) — roll partition sketches up with a
  single merge_many, not a fold.

The sketch is JSON-serializable (``to_dict``/``from_dict``). It is not part
of the checkpoint's ``stat_digests`` blob; operators/digest.py discards the
``len_gk`` key that older blobs carry.
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass, field
from typing import Iterable, Mapping, Sequence

__all__ = ["GKSketch", "GK_DEFAULT_EPS"]

GK_DEFAULT_EPS = 0.01


@dataclass
class GKSketch:
    eps: float = GK_DEFAULT_EPS
    n: int = 0
    # parallel entry lists sorted by value: v[i] a sampled value, g[i] the
    # rank gap to the previous sample, d[i] (delta) the rank uncertainty,
    # c[i] a lower bound on the sampled value's own multiplicity
    v: list = field(default_factory=list)
    g: list = field(default_factory=list)
    d: list = field(default_factory=list)
    c: list = field(default_factory=list)

    # -- construction -------------------------------------------------------

    @classmethod
    def from_value_counts(
        cls,
        values: Sequence[float],
        counts: Sequence[int],
        eps: float = GK_DEFAULT_EPS,
    ) -> "GKSketch":
        """Build from a SORTED ascending (value, count) histogram — the
        shape the stats plan already aggregates for exact percentiles.
        Entries start exact (delta=0, g=c=count), then compress."""
        if len(values) != len(counts):
            raise ValueError("values/counts length mismatch")
        sk = cls(eps=eps)
        prev = None
        for val, cnt in zip(values, counts):
            val = float(val)
            cnt = int(cnt)
            if cnt <= 0:
                raise ValueError(f"non-positive count {cnt}")
            if prev is not None and val <= prev:
                raise ValueError("values must be strictly ascending")
            prev = val
            sk.v.append(val)
            sk.g.append(cnt)
            sk.d.append(0)
            sk.c.append(cnt)
            sk.n += cnt
        sk.compress()
        return sk

    @classmethod
    def from_values(
        cls, values: Iterable[float], eps: float = GK_DEFAULT_EPS
    ) -> "GKSketch":
        """Convenience: histogram an unsorted iterable, then batch-build."""
        from collections import Counter

        cnt = Counter(float(x) for x in values)
        vals = sorted(cnt)
        return cls.from_value_counts(vals, [cnt[x] for x in vals], eps)

    # -- invariant ----------------------------------------------------------

    def _band_cap(self) -> int:
        """Max allowed g + delta: floor(2 * eps * n), never below 1."""
        return max(1, int(math.floor(2.0 * self.eps * self.n)))

    def _absorb(self, include_delta: bool) -> None:
        """Shared walk-and-absorb loop: fold entry i into its successor
        while the successor's post-fold mass stays under the cap. Sound
        regardless of delta sizes — dropping a sample only loses precision
        between retained samples, every surviving (rmin, rmax, c) bound is
        untouched. ``include_delta`` adds the successor's delta to the cap
        test (the classic GK compress rule, preserving the query
        invariant); without it the cap bounds g alone (post-merge
        compaction where merge-grown deltas would block absorption). The
        first and last entries are never absorbed, so min/max stay exact."""
        if len(self.v) < 3:
            return
        cap = self._band_cap()
        nv, ng, nd, nc = [self.v[0]], [self.g[0]], [self.d[0]], [self.c[0]]
        pend_g = 0
        for i in range(1, len(self.v) - 1):
            mass = pend_g + self.g[i] + self.g[i + 1]
            if include_delta:
                mass += self.d[i + 1]
            if mass <= cap:
                pend_g += self.g[i]
            else:
                nv.append(self.v[i])
                ng.append(pend_g + self.g[i])
                nd.append(self.d[i])
                nc.append(self.c[i])
                pend_g = 0
        nv.append(self.v[-1])
        ng.append(pend_g + self.g[-1])
        nd.append(self.d[-1])
        nc.append(self.c[-1])
        self.v, self.g, self.d, self.c = nv, ng, nd, nc

    def compress(self) -> None:
        """Merge adjacent entries while the g+delta invariant holds."""
        self._absorb(include_delta=True)

    def _shrink_grid(self, max_size_factor: float = 4.0) -> None:
        """Post-merge compaction when compress() can't shrink far enough
        (merge-grown deltas block the invariant-capped rule). Absorbs on a
        g-only cap: adds at most 2*eps*n to the lookup fallback's error
        (already its bound) and never grows a delta."""
        if len(self.v) <= max_size_factor / max(self.eps, 1e-9):
            return
        self._absorb(include_delta=False)

    # -- rank bounds --------------------------------------------------------

    def _rmin(self) -> list:
        out, cum = [], 0
        for gi in self.g:
            cum += gi
            out.append(cum)
        return out

    def _bounds_for(self, x: float, rmin: list) -> tuple[int, int]:
        """(lower, upper) bound this sketch proves for the rank of value x
        within ITS OWN population — used by merge_many(), which passes the
        precomputed prefix-sum ``rmin`` (recomputing it per call made the
        k-way merge O(k^2 * s^2))."""
        if not self.v:
            return 0, 0
        # i = index of last sampled value <= x
        i = bisect.bisect_right(self.v, x) - 1
        if i < 0:
            return 0, 0
        lo = rmin[i]
        if self.v[i] == x:
            # x is sampled here: its own rank interval is the tight bound
            hi = rmin[i] + self.d[i]
        elif i + 1 < len(self.v):
            # x sits strictly between samples i and i+1: at least c[i+1]
            # copies of v[i+1] are > x, so rank(x) <= rmax(i+1) - c[i+1]
            hi = rmin[i + 1] + self.d[i + 1] - self.c[i + 1]
        else:
            hi = self.n
        return lo, max(lo, hi)

    # -- merge --------------------------------------------------------------

    def merge(self, other: "GKSketch") -> "GKSketch":
        """Pairwise convenience over :meth:`merge_many`. For merging MANY
        sketches (the checkpoint's partition→corpus rollup) call merge_many
        directly: its rank-error bound is 2*eps regardless of fan-in,
        whereas chaining pairwise merges compounds the bound per level."""
        return GKSketch.merge_many([self, other])

    @classmethod
    def merge_many(cls, sketches: Sequence["GKSketch"]) -> "GKSketch":
        """K-way combine via summed rank bounds: for each sampled value x in
        the union, the merged rank interval is the SUM over inputs of the
        tightest [lower, upper] each input proves for x. Each input's local
        slack is <= 2*eps*n_j, so the summed slack is <= 2*eps*n total —
        the merged error bound is 2*eps for ANY number of inputs. A g-only
        grid compaction afterwards bounds size at ~2/eps without touching
        the deltas, so the bound survives the shrink."""
        parts = [s for s in sketches if s.v]
        if not parts:
            eps = max((s.eps for s in sketches), default=GK_DEFAULT_EPS)
            return cls(eps=eps)
        if len(parts) == 1:
            s = parts[0]
            out = cls(
                eps=s.eps, n=s.n,
                v=list(s.v), g=list(s.g), d=list(s.d), c=list(s.c),
            )
            out.compress()
            return out
        eps = max(s.eps for s in parts)
        n = sum(s.n for s in parts)
        rmins = [s._rmin() for s in parts]
        ents = []  # (value, rmin_merged, rmax_merged, multiplicity_bound)
        for j, a in enumerate(parts):
            for i, val in enumerate(a.v):
                lo = rmins[j][i]
                hi = rmins[j][i] + a.d[i]
                for k, b in enumerate(parts):
                    if k == j:
                        continue
                    lo_o, hi_o = b._bounds_for(val, rmins[k])
                    lo += lo_o
                    hi += hi_o
                ents.append((val, lo, hi, a.c[i]))
        ents.sort(key=lambda t: (t[0], t[1]))
        # collapse duplicate values (sampled by several inputs): keep the
        # tightest interval — every per-input bound is sound, so the
        # intersection is too — and add the multiplicity bounds (distinct
        # inputs contribute distinct copies)
        ded: list[list] = []
        for val, lo, hi, cc in ents:
            if ded and ded[-1][0] == val:
                ded[-1][1] = max(ded[-1][1], lo)
                ded[-1][2] = min(ded[-1][2], hi)
                ded[-1][3] += cc
            else:
                ded.append([val, lo, hi, cc])
        out = cls(eps=eps, n=n)
        prev_lo = 0
        for val, lo, hi, cc in ded:
            # ranks strictly rise, and this value's own cc copies all rank
            # above the previous value
            lo = max(lo, prev_lo + cc)
            hi = max(hi, lo)
            out.v.append(val)
            out.g.append(lo - prev_lo)
            out.d.append(hi - lo)
            out.c.append(cc)
            prev_lo = lo
        # last sample is the true max of the union: pin its rank
        out.g[-1] += out.n - prev_lo
        out.d[-1] = 0
        out.compress()
        out._shrink_grid()
        return out

    # -- queries ------------------------------------------------------------

    def quantile(self, q: float) -> float:
        """Classic GK lookup for rank r = ceil(q*n): the first sample whose
        proven rank interval sits within e = eps*n of r (exists whenever the
        g+d invariant holds). Entries whose g exceeds the invariant cap are
        duplicate-heavy values folded at build time — for those the type-1
        fallback (first sample with rmax >= r) lands INSIDE the value's
        occupied rank range, so the duplicates don't cost accuracy."""
        if not self.v:
            return float("nan")
        if q <= 0.0:
            return self.v[0]  # min is exact: never absorbed by compress
        if q >= 1.0:
            return self.v[-1]  # max likewise
        r = max(1, int(math.ceil(q * self.n)))
        e = max(1, int(math.floor(self.eps * self.n)))
        rmin = self._rmin()
        for i in range(len(self.v)):
            lo, hi = rmin[i], rmin[i] + self.d[i]
            if r - lo <= e and hi - r <= e:
                return self.v[i]
        for i in range(len(self.v)):
            if rmin[i] + self.d[i] >= r:
                return self.v[i]
        return self.v[-1]

    @property
    def size(self) -> int:
        return len(self.v)

    # -- serialization ------------------------------------------------------

    def to_dict(self) -> dict:
        return {
            "eps": self.eps,
            "n": self.n,
            "v": list(self.v),
            "g": list(self.g),
            "d": list(self.d),
            "c": list(self.c),
        }

    @classmethod
    def from_dict(cls, d: Mapping) -> "GKSketch":
        v = [float(x) for x in d["v"]]
        return cls(
            eps=float(d["eps"]),
            n=int(d["n"]),
            v=v,
            g=[int(x) for x in d["g"]],
            d=[int(x) for x in d["d"]],
            # multiplicity bounds are a later addition; 1 is always sound
            c=[int(x) for x in d.get("c", [1] * len(v))],
        )
