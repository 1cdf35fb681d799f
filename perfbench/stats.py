"""Pure statistics of the benchmark: percentiles and event lag."""
import bisect
import math

# a percentile is backed when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(samples, q):
    """Nearest-rank percentile of weighted samples [(value, weight), ...]:
    the smallest value whose cumulative weight reaches q of the total."""
    pairs = sorted((v, w) for v, w in samples if w > 0)
    if not pairs:
        raise ValueError("no samples")
    total = sum(w for _, w in pairs)
    need = q * total
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= need:
            return v
    return pairs[-1][0]


def backed(n, q):
    """True when n samples put at least MIN_BEYOND of them beyond q."""
    return math.floor(n * (1.0 - q) + 1e-9) >= MIN_BEYOND


class Commits:
    """Offset commits [(epoch_us, offset), ...]."""

    def __init__(self, commits):
        ordered = sorted(commits)
        self.times = [t for t, _ in ordered]
        self.offsets = [o for _, o in ordered]

    def covering(self, ts, after_us):
        """Time of the first commit at or after after_us whose offset is at
        least ts, or None."""
        i = bisect.bisect_left(self.times, after_us)
        while i < len(self.times):
            if self.offsets[i] >= ts:
                return self.times[i]
            i += 1
        return None


def lags_ms(groups, commits):
    """Lag of each group of events [(due_us, ts, n), ...]: the first commit
    at or after the due time covering ts, minus the due time. A group never
    covered gets None."""
    c = Commits(commits)
    out = []
    for due, ts, n in groups:
        at = c.covering(ts, due)
        out.append(((at - due) / 1000.0 if at is not None else None, n))
    return out


def backlog_at(groups, commits, end_us):
    """Events due by end_us that no commit up to end_us covered."""
    c = Commits([x for x in commits if x[0] <= end_us])
    return sum(n for due, ts, n in groups if due <= end_us and c.covering(ts, due) is None)
