"""Seeded request streams, with the expected answer of every request.

Workloads (see README.md): `interactive` and `mixed_edit`, which
BENCHMARK.json lists, and `analytic`, which runs the same way on request.

A workload is a list of phases (`Phase`) that run one after another: a
warm-up, the measured window, and for the read workloads a write probe on
a side graph. A request is a dict that two replayers share: the HTTP
client (`run.py`) and the in-process tracer (`tracer/`), which reads
the same dicts from `stream.jsonl`. Keys:

    id      position in the stream
    t       template name
    kind    read | write | check (answer checked, not a sample) | warm
    op      query | get_vertex | add_vertex | add_edge | bulk | delete_vertex | create_graph
    graph   graph name
    clients closed-loop clients of the request's phase
    q       query text (op=query)
    gid     element id (get_vertex, delete_vertex)
    body    POST body (add_vertex, add_edge)
    lines   BulkAdd ND-JSON lines (bulk)

The expected answers live in a parallel list, never in the stream file.
A read workload's window is a whole number of template cycles, more than
any run can use; the client stops at the first cycle boundary after
`--seconds`, so every run sees the same template mix.
"""
import bisect
import json
import random

GRAPH = "bench"
PROBE_GRAPH = "probe"

INTERACTIVE_CLIENTS = 4
ANALYTIC_CLIENTS = 2
MIXED_CLIENTS = 1

ZIPF_S = 1.1
MIXED_ROUNDS = 4
MIXED_POINT_READS = 5   # V(gid) reads per round besides the read-your-writes checks
MIXED_UPSERTS = 12      # single-element POST vertex per round, 4 overwrite old gids
MIXED_EDGES = 8         # single-element POST edge per round
MIXED_BULK = 30         # vertices (and as many edges) per BulkAdd batch
MIXED_DELETE_EVERY = 3  # a DELETE vertex on every third round
PROBE_SINGLES = 100     # write probe on the read workloads
PROBE_BULK = 40
PROBE_CLIENTS = 4


def q_str(s):
    return json.dumps(s)


class Zipf:
    """Zipf-skewed draws over a seeded permutation of `items`."""

    def __init__(self, rng, items, s=ZIPF_S):
        self.items = list(items)
        rng.shuffle(self.items)
        acc, self.cum = 0.0, []
        for r in range(1, len(self.items) + 1):
            acc += 1.0 / r ** s
            self.cum.append(acc)

    def draw(self, rng):
        return rng.choices(self.items, cum_weights=self.cum, k=1)[0]


def element(g, gid):
    label, data = g.v[gid]
    return (gid, label, json.dumps(data, sort_keys=True))


def elements(g, gids):
    return ("elements", sorted(element(g, x) for x in gids))


# ---------------------------------------------------------------- interactive

def interactive_request(g, rng, z, t):
    """One short traversal of template `t`, anchored on a Zipf-drawn gid."""
    if t == "v_gid":
        x = z["any"].draw(rng)
        return {"op": "query", "q": "V(%s)" % q_str(x)}, elements(g, [x])
    if t == "get_vertex":
        x = z["any"].draw(rng)
        return {"op": "get_vertex", "gid": x}, ("vertex",) + element(g, x)
    if t == "v_out":
        x = z["Case"].draw(rng)
        return ({"op": "query", "q": "V(%s).out(\"samples\")" % q_str(x)},
                elements(g, g.out_v(x, "samples")))
    if t == "v_in_out_count":
        x = z["Gene"].draw(rng)
        return ({"op": "query", "q": "V(%s).in_(\"expresses\").out(\"case\").count()" % q_str(x)},
                ("count", sum(len(g.out_v(s, "case")) for s in g.in_v(x, "expresses"))))
    if t == "has_eq":
        x = z["Sample"].draw(rng)
        sid = g.v[x][1]["sample_id"]
        return ({"op": "query", "q": "V().hasLabel(\"Sample\").has(gripql.eq(\"sample_id\", %s))"
                 % q_str(sid)}, elements(g, [x]))
    if t == "two_hop_limit":
        x = z["Case"].draw(rng)
        hop = [y for s in g.out_v(x, "samples") for y in g.out_v(s, "expresses")]
        return ({"op": "query", "q": "V(%s).out(\"samples\").out(\"expresses\").limit(20)" % q_str(x)},
                ("limit", 20, sorted(element(g, y) for y in set(hop)), len(hop)))
    raise ValueError(t)


# Point reads are two thirds of a cycle, so the read median falls inside
# one template's spread rather than in the gap between the point reads and
# the hops.
INTERACTIVE_MIX = ["v_gid", "get_vertex", "v_gid", "has_eq", "v_out", "get_vertex",
                   "v_in_out_count", "v_gid", "two_hop_limit"]


def interactive_cycle(g, rng, z, mix=INTERACTIVE_MIX):
    return [(t,) + interactive_request(g, rng, z, t) for t in mix]


# ---------------------------------------------------------------- analytic

def count_by(xs):
    out = {}
    for x in xs:
        out[x] = out.get(x, 0) + 1
    return out


class AnalyticIndex:
    """Sorted views of the (unchanging) graph the analytic answers are cut
    from, built once per stream."""

    def __init__(self, g):
        ex = sorted((e[3]["tpm"], e[1], e[2]) for e in g.e.values() if e[0] == "expresses")
        self.tpm = [x[0] for x in ex]
        self.expresses = ex
        sp = sorted((g.v[s][1]["tumor_purity"], s) for s in g.by_label["Sample"])
        self.purity = [x[0] for x in sp]
        self.samples = [(x[0], element(g, x[1])) for x in sp]


def analytic_cycle(g, rng, ix):
    """One cycle of whole-graph traversals; thresholds are continuous draws,
    so no two requests in a stream repeat."""
    V = g.v
    cases = g.by_label["Case"]
    samples = g.by_label["Sample"]
    out = []

    age = round(rng.uniform(20, 80), 3)
    sex = rng.choice(["female", "male"])
    n = sum(1 for c in cases if V[c][1]["age_at_diagnosis"] > age and V[c][1]["gender"] == sex)
    out.append(("scan_filter_count", {"op": "query", "q":
        "V().hasLabel(\"Case\").has(gripql.and(gripql.gt(\"age_at_diagnosis\", %s), "
        "gripql.eq(\"gender\", %s))).count()" % (age, q_str(sex))}, ("count", n)))

    pur = round(rng.uniform(0.3, 0.9), 4)
    tally = count_by(V[s][1]["sample_type"] for s in samples if V[s][1]["tumor_purity"] < pur)
    out.append(("term_agg", {"op": "query", "q":
        "V().hasLabel(\"Sample\").has(gripql.lt(\"tumor_purity\", %s))"
        ".aggregate(gripql.term(\"t\", \"sample_type\"))" % pur},
        ("aggs", {"t": {k: float(v) for k, v in tally.items()}})))

    lo = round(rng.uniform(18, 50), 3)
    width = rng.choice([3, 4, 5, 6, 8, 10])
    ages = [V[c][1]["age_at_diagnosis"] for c in cases if V[c][1]["age_at_diagnosis"] >= lo]
    b = count_by((a // width) * width for a in ages)
    hist = {float(k): float(b.get(k, 0)) for k in range(min(b), max(b) + 1, width)}
    out.append(("histogram_agg", {"op": "query", "q":
        "V().hasLabel(\"Case\").has(gripql.gte(\"age_at_diagnosis\", %s))"
        ".aggregate(gripql.histogram(\"h\", \"age_at_diagnosis\", %d))" % (lo, width)},
        ("aggs", {"h": hist})))

    tpm = round(rng.uniform(0.5, 3.0), 4)
    vals = ix.tpm[bisect.bisect_right(ix.tpm, tpm):]
    out.append(("percentile_agg", {"op": "query", "q":
        "E().hasLabel(\"expresses\").has(gripql.gt(\"tpm\", %s))"
        ".aggregate(gripql.percentile(\"p\", \"tpm\", [25, 50, 90]))" % tpm},
        ("percentile", "p", [25, 50, 90], vals)))

    prog = rng.choice(["TCGA", "CCLE", "GTEx", "TARGET"])
    pur3 = round(rng.uniform(0.2, 0.8), 4)
    n3 = 0
    for p in g.by_label["Project"]:
        if V[p][1]["program"] != prog:
            continue
        for c in g.out_v(p, "cases"):
            for s in g.out_v(c, "samples"):
                if V[s][1]["tumor_purity"] > pur3:
                    n3 += len(g.out_v(s, "expresses"))
    out.append(("three_hop_count", {"op": "query", "q":
        "V().hasLabel(\"Project\").has(gripql.eq(\"program\", %s)).out(\"cases\")"
        ".out(\"samples\").has(gripql.gt(\"tumor_purity\", %s)).out(\"expresses\").count()"
        % (q_str(prog), pur3)}, ("count", n3)))

    pur_d = round(rng.uniform(0.5, 0.95), 4)
    genes = {t for s in samples if V[s][1]["tumor_purity"] > pur_d for t in g.out_v(s, "expresses")}
    out.append(("distinct_count", {"op": "query", "q":
        "V().hasLabel(\"Sample\").has(gripql.gt(\"tumor_purity\", %s))"
        ".out(\"expresses\").distinct().count()" % pur_d}, ("count", len(genes))))

    mw = round(rng.uniform(300, 700), 3)
    pairs = sorted((c, t) for c in g.by_label["Compound"] if V[c][1]["mol_weight"] > mw
                   for t in g.out_v(c, "targets"))
    out.append(("select_marks", {"op": "query", "q":
        "V().hasLabel(\"Compound\").has(gripql.gt(\"mol_weight\", %s)).as_(\"c\")"
        ".out(\"targets\").as_(\"g\").select(\"c\", \"g\")" % mw},
        ("pairs", pairs)))

    pur_s = round(rng.uniform(0.0, 0.3), 4)
    out.append(("stream_elements", {"op": "query", "q":
        "V().hasLabel(\"Sample\").has(gripql.gt(\"tumor_purity\", %s))" % pur_s},
        ("elements", sorted(e for _, e in ix.samples[bisect.bisect_right(ix.purity, pur_s):]))))

    tpm_r = round(rng.uniform(10.0, 14.0), 4)
    rows = sorted([f, t, v] for v, f, t in ix.expresses[bisect.bisect_right(ix.tpm, tpm_r):])
    out.append(("stream_render", {"op": "query", "q":
        "E().hasLabel(\"expresses\").has(gripql.gt(\"tpm\", %s))"
        ".render([\"_from\", \"_to\", \"tpm\"])" % tpm_r}, ("render", rows)))
    return out


# ---------------------------------------------------------------- writes

def sample_data(rng, tag):
    return {"sample_id": tag, "case_id": "bench", "sample_type": "Edited",
            "tumor_purity": round(rng.random(), 4), "collection_year": rng.randint(1995, 2024)}


def write_probe(rng, tag):
    """Edits against a side graph after the read window, in three phases:
    create; single upserts and one BulkAdd from PROBE_CLIENTS clients; a
    read-your-writes check and a delete. Every workload thus has write
    samples, and the measured graph's lineage is never touched."""
    create = [("probe_create", {"op": "create_graph", "graph": PROBE_GRAPH}, ("ok",))]
    edits = []
    for j in range(PROBE_SINGLES):
        if j % 2 == 0:
            body = {"gid": "P:%s:%d" % (tag, j), "label": "Sample", "data": sample_data(rng, "p%d" % j)}
            edits.append(("add_vertex", {"op": "add_vertex", "graph": PROBE_GRAPH, "body": body}, ("ok",)))
        else:
            body = {"gid": "PE:%s:%d" % (tag, j), "label": "case", "from": "P:%s:%d" % (tag, j - 1),
                    "to": "P:%s:0" % tag, "data": {}}
            edits.append(("add_edge", {"op": "add_edge", "graph": PROBE_GRAPH, "body": body}, ("ok",)))
    lines = [json.dumps({"graph": PROBE_GRAPH, "vertex": {
        "gid": "PB:%s:%d" % (tag, j), "label": "Sample", "data": sample_data(rng, "b%d" % j)}})
        for j in range(PROBE_BULK)]
    edits.append(("bulk", {"op": "bulk", "graph": PROBE_GRAPH, "lines": lines}, ("bulk", PROBE_BULK)))
    last = json.loads(lines[-1])["vertex"]
    after = [("ryw_get", {"op": "get_vertex", "graph": PROBE_GRAPH, "gid": last["gid"]},
              ("vertex", last["gid"], "Sample", json.dumps(last["data"], sort_keys=True))),
             ("delete_vertex", {"op": "delete_vertex", "graph": PROBE_GRAPH, "gid": "P:%s:0" % tag},
              ("ok",))]
    return [(create, 1), (edits, PROBE_CLIENTS), (after, 1)]


def mixed_rounds(g, rng, z, tag):
    """Seeded edit rounds; expected answers come from replaying the same
    edits on `g`, in order (one client, so the server sees this order)."""
    reqs = []
    created = []
    for r in range(MIXED_ROUNDS):
        hot = z["Case"].draw(rng)
        fresh = []
        for j in range(MIXED_UPSERTS):
            if j < 4:  # overwrite an existing sample, keeping its label
                gid = z["Sample"].draw(rng)
            else:
                gid = "Sample:X%s_%d_%d" % (tag, r, j)
                fresh.append(gid)
            data = sample_data(rng, "%s-%d-%d" % (tag, r, j))
            g.add_vertex(gid, "Sample", data)
            reqs.append(("add_vertex", {"op": "add_vertex", "body":
                {"gid": gid, "label": "Sample", "data": data}}, ("ok",)))
        for j in range(MIXED_EDGES):
            s = fresh[j % len(fresh)]
            frm, to, label = (s, hot, "case") if j % 2 == 0 else (hot, s, "samples")
            egid = "EX%s_%d_%d" % (tag, r, j)
            g.add_edge(egid, label, frm, to, {})
            reqs.append(("add_edge", {"op": "add_edge", "body":
                {"gid": egid, "label": label, "from": frm, "to": to, "data": {}}}, ("ok",)))
        lines = []
        for j in range(MIXED_BULK):
            gid = "Sample:B%s_%d_%d" % (tag, r, j)
            data = sample_data(rng, "b%s-%d-%d" % (tag, r, j))
            g.add_vertex(gid, "Sample", data)
            gene = z["Gene"].draw(rng)
            egid = "EB%s_%d_%d" % (tag, r, j)
            g.add_edge(egid, "expresses", gid, gene, {"tpm": 1.0})
            lines.append(json.dumps({"graph": GRAPH, "vertex": {"gid": gid, "label": "Sample", "data": data}}))
            lines.append(json.dumps({"graph": GRAPH, "edge": {"gid": egid, "label": "expresses",
                                                            "from": gid, "to": gene, "data": {"tpm": 1.0}}}))
        reqs.append(("bulk", {"op": "bulk", "lines": lines}, ("bulk", 2 * MIXED_BULK)))
        created += fresh
        if r % MIXED_DELETE_EVERY == MIXED_DELETE_EVERY - 1:
            victim = created.pop(0)
            g.delete_vertex(victim)
            reqs.append(("delete_vertex", {"op": "delete_vertex", "gid": victim}, ("ok",)))
        ryw = fresh[rng.randrange(len(fresh))]
        reqs.append(("ryw_get", {"op": "get_vertex", "gid": ryw}, ("vertex",) + element(g, ryw)))
        reqs += interactive_cycle(g, rng, z, ["v_gid"] * MIXED_POINT_READS)
        reqs.append(("ryw_bulk", {"op": "query", "q": "V(%s)" % q_str("Sample:B%s_%d_0" % (tag, r))},
                     elements(g, ["Sample:B%s_%d_0" % (tag, r)])))
        reqs.append(("hot_count", {"op": "query", "q": "V(%s).out(\"samples\").count()" % q_str(hot)},
                     ("count", len(g.out_v(hot, "samples")))))
    return reqs


# ---------------------------------------------------------------- streams

WARM_CYCLES = 4
INTERACTIVE_CYCLES = 400
ANALYTIC_CYCLES = 12


OP_KIND = {"query": "read", "get_vertex": "read", "add_vertex": "write", "add_edge": "write",
           "bulk": "write", "delete_vertex": "write", "create_graph": "check"}


class Phase:
    """Requests replayed by `clients` closed-loop clients; phases run one
    after another. Roles: "warm" runs to the end and is checked but not
    measured (it lets the JIT and Spark's code caches settle); "window" is
    measured and deals no new cycle after the run's seconds; "probe" runs
    to the end and supplies write samples."""

    def __init__(self, role, items, first_id, clients, cycle=None):
        self.reqs, self.expected = [], []
        for i, (t, req, exp) in enumerate(items):
            kind = OP_KIND[req["op"]]
            if role == "warm":
                kind = "warm"
            elif role == "probe" and kind == "read":
                kind = "check"  # probe read-back: checked, not a read sample
            self.reqs.append(dict(req, id=first_id + i, t=t, kind=kind,
                                  graph=req.get("graph", GRAPH), clients=clients))
            self.expected.append(exp)
        self.role, self.clients, self.cycle = role, clients, cycle or len(items)


def build(workload, g, seed):
    """The workload's phases. Mutates `g` for mixed_edit."""
    rng = random.Random(seed * 7919 + len(workload))
    z = {"Case": Zipf(rng, g.by_label["Case"]), "Gene": Zipf(rng, g.by_label["Gene"]),
         "Sample": Zipf(rng, g.by_label["Sample"]),
         "any": Zipf(rng, g.by_label["Case"] + g.by_label["Sample"] + g.by_label["Gene"])}
    tag = "s%d" % seed
    if workload == "interactive":
        cycles = [interactive_cycle(g, rng, z) for _ in range(WARM_CYCLES + INTERACTIVE_CYCLES)]
        clients = INTERACTIVE_CLIENTS
    elif workload == "analytic":
        ix = AnalyticIndex(g)
        cycles = [analytic_cycle(g, rng, ix) for _ in range(WARM_CYCLES + ANALYTIC_CYCLES)]
        clients = ANALYTIC_CLIENTS
    elif workload == "mixed_edit":
        # warm up on reads of the unedited graph, then the edit rounds
        cycles = [interactive_cycle(g, rng, z, ["v_gid", "get_vertex", "v_out"])
                  for _ in range(WARM_CYCLES)]
        cycles.append(mixed_rounds(g, rng, z, tag))
        clients = MIXED_CLIENTS
    else:
        raise ValueError("unknown workload %r" % workload)
    warm = [x for c in cycles[:WARM_CYCLES] for x in c]
    window = [x for c in cycles[WARM_CYCLES:] for x in c]
    phases = [Phase("warm", warm, 0, clients),
              Phase("window", window, len(warm), clients, len(cycles[-1]))]
    if workload != "mixed_edit":
        for items, n in write_probe(rng, tag):
            phases.append(Phase("probe", items, sum(len(p.reqs) for p in phases), n))
    return phases
