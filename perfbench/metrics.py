"""Pure metric arithmetic: percentiles, freshness attribution, failure
counting.  No Spark here, so ``test_metrics.py`` covers it in
milliseconds."""

from __future__ import annotations

import bisect
import math
import statistics

#: A reported tail percentile needs at least this many samples beyond it.
TAIL_SAMPLES_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p <= 100): the smallest
    sample with at least ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def weighted_percentile(values, weights, p: float) -> float:
    """Nearest-rank ``p``-th percentile of a weighted sample: the
    smallest value whose cumulative weight reaches ``p`` percent of the
    total.  With equal weights it equals :func:`percentile`."""
    pairs = sorted(zip(values, weights))
    if not pairs:
        raise ValueError("percentile of no samples")
    total = sum(w for _, w in pairs)
    target = p / 100.0 * total
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= target - 1e-12 * total:
            return v
    return pairs[-1][0]


def stratum_weights(labels, shares: dict) -> list[float]:
    """Per-sample weights that re-balance a stratified sample to the
    declared ``shares`` (label -> share): each label's samples share its
    weight equally, so a run that ends mid-block, or a label that ran
    more often, does not shift the statistics.  Labels absent from the
    sample drop out and the remaining shares are renormalized by the
    caller's statistic."""
    counts: dict = {}
    for lab in labels:
        counts[lab] = counts.get(lab, 0) + 1
    return [shares[lab] / counts[lab] for lab in labels]


def supported_percentile(n: int, beyond: int = TAIL_SAMPLES_BEYOND) -> int:
    """The highest whole percentile that has at least ``beyond`` of
    ``n`` samples strictly above its nearest rank (0 when ``n`` is too
    small for any).  ``percentile(values, p)`` sits at rank
    ceil(p*n/100), so ``n - ceil(p*n/100) >= beyond`` must hold."""
    best = 0
    for p in range(1, 100):
        if n - math.ceil(p * n / 100.0) >= beyond:
            best = p
    return best


def median(values) -> float:
    return statistics.median(values)


def relative_iqr(values) -> float:
    """(Q3 - Q1) / median, with the quartiles
    ``statistics.quantiles(values, n=4)`` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else math.inf


def attribute_freshness(chunks, commits) -> list[float | None]:
    """Freshness of each produced chunk.

    ``chunks``: ``(due_s, partition, last_offset)`` per produced chunk,
    where ``due_s`` is when the schedule said it should be created.
    ``commits``: ``(end_s, {partition: committed_max_offset})`` per
    snapshot commit, in commit order; each map holds the highest offset
    of each partition that the table contains once that commit is done.

    A chunk's freshness is ``end_s - due_s`` of the FIRST commit whose
    committed max offset for the chunk's partition covers the chunk's
    last offset; ``None`` when no commit covers it.
    """
    # running high-water mark per partition, in commit order, so a later
    # commit that (legally) reports a lower max than an earlier one can
    # never be "first" for offsets the earlier one already covered
    marks: dict[int, tuple[list[int], list[float]]] = {}
    high: dict[int, int] = {}
    for end_s, maxes in commits:
        for part, off in maxes.items():
            if off > high.get(part, -1):
                high[part] = off
                offs, ends = marks.setdefault(part, ([], []))
                offs.append(off)
                ends.append(end_s)
    out: list[float | None] = []
    for due_s, part, last in chunks:
        offs, ends = marks.get(part, ([], []))
        i = bisect.bisect_left(offs, last)
        out.append(ends[i] - due_s if i < len(offs) else None)
    return out


class OpCount:
    """Attempted / failed operation tally; an operation fails when it
    raises or returns a wrong result."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.errors) < 20:
                self.errors.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
