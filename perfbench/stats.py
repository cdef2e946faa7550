"""Pure logic of the benchmark: percentiles, spans, error accounting, spread."""
import math
import statistics


MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def percentile(samples, q):
    """The q-quantile (0 < q < 1) of `samples` by nearest rank.

    Returns (value, n, tail): `tail` is the number of samples strictly
    beyond the reported rank. The percentile is reportable only when
    tail >= MIN_TAIL (`ok`); a p90 therefore needs at least 100 samples.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"value": None, "n": 0, "tail": 0, "ok": False}
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    tail = n - rank
    return {"value": xs[rank - 1], "n": n, "tail": tail, "ok": tail >= MIN_TAIL}


def median(xs):
    return statistics.median(xs) if xs else None


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ms"], s["end_ms"]
        ivs = sorted((max(c["start_ms"], start), min(c["end_ms"], end))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_s is None or a > cur_e:
                if cur_s is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_s is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (end - start) - covered
    return out


def layer_self_seconds(spans):
    """Total self time per layer, in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] / 1000.0
    return out


class Tally:
    """Attempted and failed operations; `error_rate` = failed / attempted."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = []

    def record(self, ok, reason=None):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if reason:
                self.reasons.append(reason)

    def fail_extra(self, reason):
        """A failure that is not one of the attempted operations (an
        unexpected output row, a failed batch): counted as one more
        attempted and failed operation, so the rate never exceeds 1."""
        self.record(False, reason)

    @property
    def error_rate(self):
        return self.failed / self.attempted if self.attempted else 1.0


def segment_failures(owner, counts):
    """Stream exactly-once check.

    owner: list, per segment, of the event_ids first sent in it.
    counts: {event_id: times it appears in the sink}.
    Returns (failed segment indices, event_ids in the sink never sent).
    """
    sent = set()
    bad = []
    for i, ids in enumerate(owner):
        sent.update(ids)
        if any(counts.get(e, 0) != 1 for e in ids):
            bad.append(i)
    unknown = [e for e in counts if e not in sent]
    return bad, unknown


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) over repeated runs."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, ((q3 - q1) / med) if med else float("inf")
