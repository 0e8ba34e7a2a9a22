"""Metric arithmetic of the benchmark: pure functions over the raw
records the JVM side writes, kept apart so they can be unit-tested."""
import math
import statistics

# A tail percentile is reported only where at least this many samples
# lie beyond it.
TAIL_BEYOND = 10


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, q):
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n, wanted=95, beyond=TAIL_BEYOND):
    """The highest whole percentile, at most `wanted`, whose nearest rank
    leaves at least `beyond` of `n` samples above it; None when that
    would be below the median."""
    if n - beyond < 1:
        return None
    q = min(wanted, math.floor(100.0 * (n - beyond) / n))
    return q if q >= 50 else None


def due_ms(t0_ms, rate, k):
    """Due time of the k-th paced row: the schedule starts at t0 and row
    k is due at t0 + k / rate."""
    return t0_ms + k * 1000.0 / rate


def trigger_latency_ms(t0_ms, rate, k, trigger_start_ms, trigger_ms):
    """One latency sample: the trigger's end minus the due time of the
    oldest row it committed, the k-th paced row."""
    return trigger_start_ms + trigger_ms - due_ms(t0_ms, rate, k)


# A topology record (one per topology run) holds `prime_rows` rows
# available at once, then `paced_rows` paced rows of which the first
# `warm_rows` are warm-up, then the backlog; `triggers` carry the offset
# range [start_off, end_off) each trigger committed.

def paced_triggers(t):
    """Triggers wholly inside the paced rows and past the warm-up."""
    lo = t["prime_rows"] + t["warm_rows"]
    hi = t["prime_rows"] + t["paced_rows"]
    return [tr for tr in t["triggers"] if tr["start_off"] >= lo and tr["end_off"] <= hi]


def paced_samples(t):
    """Latency samples of one topology run, one per paced trigger."""
    return [trigger_latency_ms(t["t0_ms"], t["rate"], tr["start_off"] - t["prime_rows"],
                               tr["start_ms"], tr["durations"].get("triggerExecution", 0))
            for tr in paced_triggers(t)]


def saturated_triggers(t):
    return [tr for tr in t["triggers"]
            if tr["start_off"] >= t["prime_rows"] + t["paced_rows"]]


def cold_trigger_s(t):
    """The priming trigger: the query's first, cold micro-batch."""
    first = [tr for tr in t["triggers"] if tr["start_off"] == 0]
    return first[0]["durations"].get("triggerExecution", 0) / 1000.0 if first else None


def drain_seconds(topology):
    """Wall time to drain the backlog: first saturated trigger's start
    to last saturated trigger's end."""
    sat = saturated_triggers(topology)
    if not sat:
        return None
    end = max(tr["start_ms"] + tr["durations"].get("triggerExecution", 0)
              for tr in sat)
    return (end - min(tr["start_ms"] for tr in sat)) / 1000.0


def drain_rows_per_s(topology):
    s = drain_seconds(topology)
    rows = sum(tr["rows"] for tr in saturated_triggers(topology))
    return rows / s if s else None


def build_share(build_s, wall_s):
    """Share of a query's warm wall time spent inside the builder call."""
    return build_s / wall_s if wall_s > 0 else 0.0


def split_by_build_share(shares, driver_min=0.6, exec_max=0.3):
    """Place queries by warm build share: driver-bound at or above
    `driver_min`, exec-bound at or below `exec_max`, the rest neither."""
    driver = sorted(q for q, s in shares.items() if s >= driver_min)
    execb = sorted(q for q, s in shares.items() if s <= exec_max)
    return driver, execb


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Each span's self time: its duration minus the part of it that its
    children cover. Returns {span id: microseconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_ms(
            (max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
            for c in kids.get(s["id"], [])
            if c["end_us"] > s["start_us"] and c["start_us"] < s["end_us"])
        out[s["id"]] = max(0.0, (s["end_us"] - s["start_us"]) - covered)
    return out
