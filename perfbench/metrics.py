"""Turn one run's raw samples (written by the JVM side) into metrics.

End-to-end metrics come from the untraced ops of a run; per-layer metrics
come from the spans, jobs and scan counters of its traced ops and setups.
"""
import math
import statistics

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "first_pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "rows_per_s": "rows/s",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "Turtle.load_ms": "ms", "Turtle.quads": "count",
    "Engine.fact_listing_ms": "ms", "Engine.partitions_listed": "count",
    "Sparql.parse_ms": "ms", "BgpPlanner.resolve_ms": "ms", "BgpPlanner.jobs": "count",
    "BgpPlanner.shuffle_bytes": "bytes", "BgpPlanner.ids_per_op": "count",
    "Engine.scan_ms": "ms", "Engine.files_read": "count", "Engine.bytes_read": "bytes",
    "Engine.rows_read_per_row_returned": "ratio", "Engine.sink_ms": "ms",
    "Ingest.transform_ms": "ms", "Ingest.files_written": "count",
    "Ingest.bytes_written": "bytes", "Ingest.jobs": "count",
    "Ingest.space_amplification": "ratio",
    "StatsIndex.build_ms": "ms", "StatsIndex.refresh_ms": "ms",
    "StatsIndex.fragments_listed": "count", "StatsIndex.bytes_read": "bytes",
    "StatsIndex.read_per_new_byte": "ratio", "StatsIndex.verify_ms": "ms",
    "operators.construct_ms": "ms", "operators.action_ms": "ms", "operators.jobs": "count",
    "operators.tasks": "count", "operators.driver_gap_ms": "ms",
    "operators.shuffle_write_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.gc_ms": "ms", "operators.pinned_mb": "MB",
    "trace.overhead_ratio": "ratio",
}
TAIL_BEYOND = 10
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(xs, pct):
    """1-based nearest rank of percentile `pct` in `xs` (sorted)."""
    return max(1, math.ceil(pct / 100.0 * len(xs)))


def tail(samples, beyond=TAIL_BEYOND):
    """The highest ladder percentile with at least `beyond` samples ranked
    above it: (value, percentile, sample count). Below 2 * `beyond` samples
    no ladder percentile qualifies and the median rank (p50) is returned:
    the maximum of so few samples is set by single outliers, not by the
    program."""
    xs = sorted(samples)
    for pct in TAIL_LADDER:
        rank = nearest_rank(xs, pct)
        if len(xs) - rank >= beyond:
            return xs[rank - 1], pct, len(xs)
    return xs[nearest_rank(xs, 50.0) - 1], 50.0, len(xs)


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
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


def self_time(span, children):
    """Span duration minus the union of its children's intervals, each
    clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res):
    first = [o for o in res["ops"] if o["phase"] == "first"]
    steady = [o for o in res["ops"] if o["phase"] == "steady" and not o["traced"]]
    ms = [o["ms"] for o in steady]
    value, pct, n = tail(ms)
    summ = res["summary"]
    metrics = {
        "setup_s": res["session_s"] + statistics.median(s["s"] for s in res["setups"]),
        "first_pass_s": sum(o["ms"] for o in first) / 1000.0,
        "latency_p50_ms": statistics.median(ms),
        "latency_tail_ms": value,
        "rows_per_s": sum(o["rows"] for o in steady) / (sum(ms) / 1000.0),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    report = {
        "tail_percentile": round(pct, 2), "tail_samples": n,
        "failed_op_share": sum(not o["ok"] for o in res["ops"]) / len(res["ops"]),
        "space_amplification": space_amplification(summ),
    }
    return metrics, report


def space_amplification(summ):
    if not summ.get("csv_bytes"):
        return None
    return (summ["store_bytes"] + summ["stats_bytes"]) / summ["csv_bytes"]


class _Trace:
    """Spans and jobs of a run, indexed for per-layer attribution."""

    def __init__(self, res):
        self.units = []  # (op id, record or setup dict)
        for i, s in enumerate(res["setups"]):
            self.units.append((-1 - i, s))
        for i, o in enumerate(res["ops"]):
            if o["traced"]:
                self.units.append((i, o))
        self.spans = res["spans"]
        self.by_op = {}
        for sp in self.spans:
            self.by_op.setdefault(sp["op"], []).append(sp)

    def setups(self):
        return [(k, u) for k, u in self.units if k < 0]

    def ops(self):
        return [(k, u) for k, u in self.units if k >= 0]

    def named(self, units, name):
        """[(unit, span)] for spans called `name` in `units`."""
        return [(u, sp) for k, u in units for sp in self.by_op.get(k, []) if sp["name"] == name]

    @staticmethod
    def jobs_of(unit, span):
        return [j for j in unit.get("jobs", []) if j["span"] == span["id"]]

    def self_ms(self, unit, span, with_jobs=False):
        kids = [(c["start"], c["end"]) for c in self.by_op.get(span["op"], [])
                if c["parent"] == span["id"]]
        if with_jobs:
            kids += [(j["start"], j["end"]) for j in self.jobs_of(unit, span) if j["end"] >= 0]
        return self_time((span["start"], span["end"]), kids)

    def layer(self, name):
        """Spans of `name` in ops if the layer runs per op, else in setups."""
        hits = self.named(self.ops(), name)
        return hits if hits else self.named(self.setups(), name)


def per_layer(res):
    t = _Trace(res)
    m = dict.fromkeys(PER_LAYER, 0.0)

    def dur(hits):
        return _mean([sp["end"] - sp["start"] for _, sp in hits])

    def jobsum(hits, key=None):
        per = [sum(1 if key is None else j[key] for j in t.jobs_of(u, sp)) for u, sp in hits]
        return _mean(per)

    def facts(units, key):
        return [u["facts"][key] for _, u in units if key in u.get("facts", {})]

    turtle = t.named(t.setups(), "Turtle.load")
    m["Turtle.load_ms"] = dur(turtle)
    m["Turtle.quads"] = _mean(facts(t.setups(), "quads"))
    m["Engine.fact_listing_ms"] = _mean([t.self_ms(u, sp) for u, sp in t.named(t.setups(), "Engine.apply")])
    m["Engine.partitions_listed"] = _mean(facts(t.setups(), "partitions_listed"))

    m["Sparql.parse_ms"] = dur(t.named(t.ops(), "Sparql.parse"))
    resolve = t.named(t.ops(), "BgpPlanner.resolve")
    m["BgpPlanner.resolve_ms"] = dur(resolve)
    m["BgpPlanner.jobs"] = jobsum(resolve)
    m["BgpPlanner.shuffle_bytes"] = jobsum(resolve, "shuffle_write")
    m["BgpPlanner.ids_per_op"] = _mean(facts(t.ops(), "ids"))

    scans, sinks = t.named(t.ops(), "Engine.scan"), t.named(t.ops(), "Engine.sink")
    scan_ms = [sp["end"] - sp["start"] for _, sp in scans]
    scan_ms += [union_length([(j["start"], j["end"]) for j in t.jobs_of(u, sp)]) for u, sp in sinks]
    m["Engine.scan_ms"] = _mean(scan_ms)
    m["Engine.sink_ms"] = _mean([t.self_ms(u, sp, with_jobs=True) for u, sp in sinks])
    read_ops = [u for k, u in t.ops() if any(sp["name"] == "BgpPlanner.resolve" for sp in t.by_op.get(k, []))]
    if read_ops:
        m["Engine.files_read"] = _mean([sum(s["files"] for s in u.get("scans", [])) for u in read_ops])
        m["Engine.bytes_read"] = jobsum(scans + sinks, "input_bytes")
        returned = sum(u["rows"] for u in read_ops)
        read = sum(s["rows"] for u in read_ops for s in u.get("scans", []))
        m["Engine.rows_read_per_row_returned"] = read / returned if returned else 0.0

    ingest = t.layer("Ingest.transform")
    m["Ingest.transform_ms"] = dur(ingest)
    m["Ingest.jobs"] = jobsum(ingest)
    units = t.ops() if t.named(t.ops(), "Ingest.transform") else t.setups()
    m["Ingest.files_written"] = _mean(facts(units, "files_written"))
    m["Ingest.bytes_written"] = _mean(facts(units, "bytes_written"))
    m["Ingest.space_amplification"] = space_amplification(res["summary"]) or 0.0

    m["StatsIndex.build_ms"] = dur(t.named(t.setups(), "StatsIndex.build"))
    refresh = t.named(t.ops(), "StatsIndex.refresh")
    m["StatsIndex.refresh_ms"] = dur(refresh)
    m["StatsIndex.fragments_listed"] = _mean(facts(t.ops(), "fragments_listed"))
    stats_read = refresh or t.named(t.setups(), "StatsIndex.build")
    m["StatsIndex.bytes_read"] = jobsum(stats_read, "input_bytes")
    new_bytes = sum(facts(t.ops(), "bytes_written"))
    if refresh and new_bytes:
        m["StatsIndex.read_per_new_byte"] = jobsum(refresh, "input_bytes") * len(refresh) / new_bytes
    m["StatsIndex.verify_ms"] = dur(t.named(t.ops(), "StatsIndex.verify"))

    cons, act = t.named(t.ops(), "operators.construct"), t.named(t.ops(), "operators.action")
    m["operators.construct_ms"] = dur(cons)
    m["operators.action_ms"] = dur(act)
    if act:
        both = cons + act
        n = len(act)
        m["operators.jobs"] = jobsum(both) * len(both) / n
        m["operators.tasks"] = jobsum(both, "tasks") * len(both) / n
        m["operators.shuffle_write_bytes"] = jobsum(both, "shuffle_write") * len(both) / n
        m["operators.spill_bytes"] = jobsum(both, "spill") * len(both) / n
        m["operators.driver_gap_ms"] = _mean([t.self_ms(u, sp, with_jobs=True) for u, sp in act])
        m["operators.gc_ms"] = _mean(facts(t.ops(), "gc_ms"))
        m["operators.pinned_mb"] = max(facts(t.ops(), "pinned_mb"))

    steady = [o for o in res["ops"] if o["phase"] == "steady"]
    traced = [o["ms"] for o in steady if o["traced"]]
    plain = [o["ms"] for o in steady if not o["traced"]]
    if traced and plain:
        m["trace.overhead_ratio"] = _mean(traced) / _mean(plain)
    return m


def per_query(res):
    """Per-template breakdown of latencies (and, traced, layer times)."""
    out = {}
    for o in res["ops"]:
        q = out.setdefault(o["template"], {"n": 0, "ms": [], "failed": 0})
        q["n"] += 1
        q["ms"].append(round(o["ms"], 3))
        q["failed"] += not o["ok"]
    for q in out.values():
        q["median_ms"] = statistics.median(q["ms"])
    return out
