"""Seeded input generator for the benchmark.

Every input the program sees is written here from (workload, seed): per-stream
CSVs in the reference layout (UUID file name, ``datetime,<label>`` header),
Brick ``.ttl`` site graphs, a multi-level ontology, and the op list. Each op
carries its expected answer, computed from the generator's own parameters in
closed form (never by scanning the files): row count, value sum and epoch
second sum.

Reading ``i`` of stream ``s`` is at ``T0 + i * step`` with value
``base(s) + i % VALUE_PERIOD``; all values are small integers, so every sum is
exact in a double as well as in a long.
"""
import json
import os
import random
import uuid
from datetime import datetime, timezone

from operator_data import QUERIES, write_tables

T0 = 1704067200  # 2024-01-01T00:00:00Z
VALUE_PERIOD = 97
PREFIXES = (
    "@prefix brick: <https://brickschema.org/schema/Brick#> .\n"
    "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n")
QUERY_PREFIXES = (
    "PREFIX brick: <https://brickschema.org/schema/Brick#>\n"
    "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\n"
    "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n")
TS_PATTERN = " ?point brick:timeseries [ brick:hasTimeseriesId ?id ] .\n"

# Sizes per workload. BENCHMARK.json repeats them for the reader.
SIZES = {
    "operator_mix": dict(cycle=len(QUERIES), cycles=40),
    "mortar_read": dict(sites=3, streams=36, readings=4000, step=300,
                        branching=(3, 2, 2), ops=600, cycle=6),
    "wide_store_lookup": dict(sites=3, streams=1500, readings=96, step=3600,
                              branching=(4, 3, 3, 2), points_per_equip=(3, 8),
                              ops=600, cycle=4),
    "mortar_ingest": dict(streams=48, readings=1000, step=300,
                          batch_streams=16, batch_readings=300, batches=80,
                          append_every=5, cycle=5),
}
L1_CLASSES = ("Sensor", "Setpoint", "Command", "Status")


def ts_text(t):
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%d %H:%M:%S+00:00")


def iso(t):
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def parse_iso(text):
    return int(datetime.strptime(text, "%Y-%m-%dT%H:%M:%S%z").timestamp())


def value_base(s):
    return (s * 131) % 1000


def _mod_prefix(n):
    """sum(i % VALUE_PERIOD for i in range(n))."""
    m = VALUE_PERIOD
    q, r = divmod(n, m)
    return q * m * (m - 1) // 2 + r * (r - 1) // 2


def index_range(step, length, start, end):
    """Half-open reading-index range [lo, hi) of a stream of `length`
    readings whose times fall in the closed window [start, end]."""
    lo = 0 if start is None else max(0, -((T0 - start) // step))
    hi = length if end is None else min(length, (end - T0) // step + 1)
    return lo, max(lo, hi)


def expected(streams, step, start, end):
    """Closed-form answer for readings of `streams` ([(s, length)]) inside
    [start, end] (None = unbounded): (rows, value sum, epoch-second sum)."""
    rows = vsum = tsum = 0
    for s, length in streams:
        lo, hi = index_range(step, length, start, end)
        n = hi - lo
        if n <= 0:
            continue
        rows += n
        vsum += n * value_base(s) + _mod_prefix(hi) - _mod_prefix(lo)
        tsum += n * T0 + step * (lo + hi - 1) * n // 2
    return rows, vsum, tsum


def brute_force(paths, start, end):
    """Scan generated CSV files directly: the reference answer for tests."""
    rows = vsum = tsum = 0
    for path in paths:
        with open(path) as f:
            next(f)
            for line in f:
                t_s, v = line.rstrip("\n").split(",")
                t = int(datetime.strptime(t_s, "%Y-%m-%d %H:%M:%S%z").timestamp())
                if (start is None or t >= start) and (end is None or t <= end):
                    rows += 1
                    vsum += int(v)
                    tsum += t
    return rows, vsum, tsum


def write_stream(path, label, s, step, i0, n, ts_cache):
    lines = [f"datetime,{label}"]
    base = value_base(s)
    for i in range(i0, i0 + n):
        t = ts_cache.get(i)
        if t is None:
            t = ts_cache[i] = ts_text(T0 + i * step)
        lines.append(f"{t},{base + i % VALUE_PERIOD}")
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def ontology(branching):
    """Class tree under brick:Point: (leaves, parent map, level lists)."""
    parent, levels = {}, []
    level = list(L1_CLASSES[:branching[0]])
    for c in level:
        parent[c] = "Point"
    levels.append(level)
    for b in branching[1:]:
        nxt = []
        for c in level:
            for k in range(b):
                child = f"{c}_{k}"
                parent[child] = c
                nxt.append(child)
        levels.append(nxt)
        level = nxt
    parent["Equipment_AHU"] = parent["Equipment_VAV"] = "Equipment"
    return level, parent, levels


def ancestors(cls, parent):
    out = [cls]
    while cls in parent:
        cls = parent[cls]
        out.append(cls)
    return out


def write_ontology(path, parent):
    body = "".join(f"brick:{c} rdfs:subClassOf brick:{p} .\n"
                   for c, p in sorted(parent.items()))
    with open(path, "w") as f:
        f.write(PREFIXES + body)


def class_query(kind, cls, subject=None):
    """SPARQL text: `subclass` walks rdfs:subClassOf*, `exact` matches the
    type only; `subject` pins the equipment whose points are wanted."""
    head = f" <{subject}> brick:hasPoint ?point .\n" if subject else ""
    if kind == "any":
        body = ""
    elif kind == "exact":
        body = f" ?point rdf:type brick:{cls} .\n"
    else:
        body = f" ?point rdf:type/rdfs:subClassOf* brick:{cls} .\n"
    return QUERY_PREFIXES + "SELECT ?id WHERE {\n" + head + body + TS_PATTERN + "}"


def point_query(point):
    return (QUERY_PREFIXES + "SELECT ?id WHERE {\n"
            f" <{point}> brick:timeseries [ brick:hasTimeseriesId ?id ] .\n}}")


class Store:
    """Streams of one generated Mortar store and their site graphs."""

    def __init__(self, rng, p, root):
        self.p = p
        self.leaves, self.parent, self.levels = ontology(p["branching"])
        self.csv_dir = os.path.join(root, "csv")
        self.ttl_dir = os.path.join(root, "graphs")
        self.ontology = os.path.join(root, "ontology", "brick.ttl")
        for d in (self.csv_dir, self.ttl_dir, os.path.dirname(self.ontology)):
            os.makedirs(d, exist_ok=True)
        write_ontology(self.ontology, self.parent)
        self.uuids, self.site, self.cls, self.point = [], [], [], []
        self.equips = []  # (site, iri, [stream indexes])
        self.csv_bytes = 0
        ts_cache = {}
        # every leaf class gets the same number of streams in every site
        order = self.leaves[:]
        rng.shuffle(order)
        for s in range(p["streams"]):
            u = str(uuid.UUID(int=rng.getrandbits(128), version=4))
            site = s % p["sites"]
            cls = order[(s // p["sites"]) % len(order)]
            self.uuids.append(u)
            self.site.append(site)
            self.cls.append(cls)
            self.point.append(f"urn:site{site}/pt_{s}")
            self.csv_bytes += write_stream(os.path.join(self.csv_dir, u + ".csv"),
                                           f"pt_{s} {cls}", s, p["step"], 0,
                                           p["readings"], ts_cache)
        if "points_per_equip" in p:
            lo, hi = p["points_per_equip"]
            for site in range(p["sites"]):
                pts = [s for s in range(p["streams"]) if self.site[s] == site]
                k = 0
                while pts:
                    n = rng.randint(lo, hi)
                    take, pts = pts[:n], pts[n:]
                    self.equips.append((site, f"urn:site{site}/eq_{k}", take))
                    k += 1
        self._write_graphs()

    def _write_graphs(self):
        for site in range(self.p["sites"]):
            out = [PREFIXES]
            for s in range(len(self.uuids)):
                if self.site[s] == site:
                    out.append(f"<{self.point[s]}> a brick:{self.cls[s]} ;\n"
                               f"  brick:timeseries [ brick:hasTimeseriesId \"{self.uuids[s]}\" ] .\n")
            for e_site, iri, pts in self.equips:
                if e_site == site:
                    kind = "Equipment_AHU" if len(pts) % 2 else "Equipment_VAV"
                    members = ", ".join(f"<{self.point[s]}>" for s in pts)
                    out.append(f"<{iri}> a brick:{kind} ;\n  brick:hasPoint {members} .\n")
            with open(os.path.join(self.ttl_dir, f"site{site}.ttl"), "w") as f:
                f.write("".join(out))

    def matching(self, kind, cls, sites):
        """Stream indexes a class query over `sites` (None = union) returns."""
        return [s for s in range(len(self.uuids))
                if (sites is None or self.site[s] in sites)
                and (kind == "any"
                     or (kind == "exact" and self.cls[s] == cls)
                     or (kind == "subclass" and cls in ancestors(self.cls[s], self.parent)))]

    def op(self, template, query, sites, start, end, streams, delivery):
        p = self.p
        rows, vsum, tsum = expected([(s, p["readings"]) for s in streams],
                                    p["step"], start, end)
        return dict(template=template, query=query, ids=[self.uuids[s] for s in streams],
                    sites=[f"site{x}" for x in sites] if sites is not None else None,
                    start=None if start is None else iso(start),
                    end=None if end is None else iso(end),
                    delivery=delivery, rows=rows, vsum=vsum, tsum=tsum)


# (class kind, delivery, scope, window) of each mortar_read template. Every
# scope and every window appears twice, so a cycle of the six templates
# covers each value of each dimension.
READ_TEMPLATES = [
    ("mid", "count", "site", "day"), ("mid", "drain", "union", "week"),
    ("root", "count", "sites", "full"), ("root", "drain", "site", "week"),
    ("exact", "count", "union", "full"), ("exact", "drain", "sites", "day"),
]
WINDOWS = {"day": 86400, "week": 7 * 86400, "full": None}


def read_ops(store, rng, n):
    """Cycles of the six templates, in seeded order after the first. The
    seed picks the
    class, the sites and the window position; with the balanced class
    assignment, an op of a template always matches the same number of
    streams and rows."""
    p = store.p
    ops = []
    while len(ops) < n:
        block = READ_TEMPLATES[:]
        if ops:  # the first pass runs the templates in a fixed order
            rng.shuffle(block)
        for ckind, d, scope, window in block:
            if ckind == "mid":
                kind, cls = "subclass", rng.choice(store.levels[-2])
            elif ckind == "root":
                kind, cls = "subclass", "Point"
            else:
                kind, cls = "exact", rng.choice(store.leaves)
            sites = {"site": [rng.randrange(p["sites"])],
                     "sites": sorted(rng.sample(range(p["sites"]), 2)), "union": None}[scope]
            length = WINDOWS[window]
            if length is None:
                start = end = None
            else:  # aligned to the reading grid, inside the stream's range
                start = T0 + p["step"] * rng.randrange((p["readings"] * p["step"] - length) // p["step"])
                end = start + length
            ops.append(store.op(f"{ckind}/{d}/{scope}/{window}", class_query(kind, cls),
                                sites, start, end, store.matching(kind, cls, sites), d))
    return ops


def wide_ops(store, rng, n):
    """Narrow lookups (1-10 streams) over a one-day window."""
    p = store.p
    span = p["readings"] * p["step"]
    kinds = ["equip_points", "equip_class", "point", "leaf_in_site"]
    leaf_counts = {}
    for s in range(len(store.uuids)):
        leaf_counts.setdefault((store.site[s], store.cls[s]), []).append(s)
    rare = sorted(k for k, v in leaf_counts.items() if 1 <= len(v) <= 10)
    ops = []
    while len(ops) < n:
        order = kinds[:]
        rng.shuffle(order)
        for kind in order:
            start = T0 + rng.randrange(span - 86400)
            end = start + 86400
            if kind in ("equip_points", "equip_class"):
                site, iri, pts = rng.choice([e for e in store.equips if e[2]])
                if kind == "equip_points":
                    q, streams = class_query("any", None, iri), pts
                else:
                    cls = ancestors(store.cls[rng.choice(pts)], store.parent)[-2]
                    q = class_query("subclass", cls, iri)
                    streams = [s for s in pts if cls in ancestors(store.cls[s], store.parent)]
                sites = [site]
            elif kind == "point":
                s = rng.randrange(len(store.uuids))
                q, streams, sites = point_query(store.point[s]), [s], None
            else:
                site, cls = rng.choice(rare)
                q, streams, sites = class_query("exact", cls), leaf_counts[(site, cls)], [site]
            ops.append(store.op(kind, q, sites, start, end, streams, "count"))
    return ops


def ingest_batches(root, rng, p, uid):
    """Batches of new stream CSVs; every `append_every`-th batch instead
    appends later readings to streams of the initial store."""
    lengths = {s: p["readings"] for s in range(p["streams"])}
    batches, next_s, ts_cache = [], p["streams"], {}
    for b in range(p["batches"]):
        d = os.path.join(root, "batches", f"b{b:04d}")
        os.makedirs(d)
        append = b % p["append_every"] == p["append_every"] - 1
        if append:
            # streams of the initial store in groups of batch_streams: a
            # group's streams always have equal length, so the batch's
            # window holds exactly the appended readings
            groups = p["streams"] // p["batch_streams"]
            g = rng.randrange(groups)
            chosen = list(range(g * p["batch_streams"], (g + 1) * p["batch_streams"]))
            segs = [(s, lengths[s]) for s in chosen]
        else:
            chosen = list(range(next_s, next_s + p["batch_streams"]))
            next_s += p["batch_streams"]
            segs = [(s, 0) for s in chosen]
        ids, nbytes = [], 0
        for s, i0 in segs:
            u = uid(s)
            ids.append(u)
            nbytes += write_stream(os.path.join(d, u + ".csv"), f"pt_{s} ingest", s,
                                   p["step"], i0, p["batch_readings"], ts_cache)
            lengths[s] = i0 + p["batch_readings"]
        start = T0 + min(i0 for _, i0 in segs) * p["step"]
        end = T0 + (max(i0 for _, i0 in segs) + p["batch_readings"] - 1) * p["step"]
        rows, vsum, tsum = expected([(s, lengths[s]) for s in chosen], p["step"], start, end)
        batches.append(dict(template="append" if append else "new", dir=d, ids=ids,
                            start=iso(start), end=iso(end), rows=rows, vsum=vsum,
                            tsum=tsum, csv_bytes=nbytes,
                            csv_rows=p["batch_streams"] * p["batch_readings"]))
    return batches


def generate(workload, seed, out_dir, sizes=None):
    """Write every input of `workload` under `out_dir` and return the spec
    the JVM side reads (also saved as `spec.json`). `sizes` overrides
    entries of SIZES[workload] (the tests use tiny stores)."""
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    p = dict(SIZES[workload], **(sizes or {}))
    spec = dict(workload=workload, seed=seed, cycle=p["cycle"])
    if workload in ("mortar_read", "wide_store_lookup"):
        store = Store(rng, p, out_dir)
        ops = read_ops(store, rng, p["ops"]) if workload == "mortar_read" \
            else wide_ops(store, rng, p["ops"])
        spec.update(csv=store.csv_dir, graphs=store.ttl_dir, ontology=store.ontology,
                    csv_bytes=store.csv_bytes,
                    ops=ops)
    elif workload == "mortar_ingest":
        ids = {}

        def uid(s):
            if s not in ids:
                ids[s] = str(uuid.UUID(int=rng.getrandbits(128), version=4))
            return ids[s]
        csv_dir = os.path.join(out_dir, "csv")
        os.makedirs(csv_dir)
        csv_bytes, ts_cache = 0, {}
        for s in range(p["streams"]):
            csv_bytes += write_stream(os.path.join(csv_dir, uid(s) + ".csv"),
                                      f"pt_{s} initial", s, p["step"], 0,
                                      p["readings"], ts_cache)
        spec.update(csv=csv_dir, csv_bytes=csv_bytes,
                    ops=ingest_batches(out_dir, rng, p, uid))
    elif workload == "operator_mix":
        order = list(QUERIES)
        ops = []
        for c in range(p["cycles"]):
            if c:  # the first pass runs the queries in a fixed order
                rng.shuffle(order)
            ops += [dict(template=q, query=q) for q in order]
        spec.update(tables=write_tables(os.path.join(out_dir, "tables")), ops=ops)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out_dir, "spec.json"), "w") as f:
        json.dump(spec, f)
    return spec
