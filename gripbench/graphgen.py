"""Seeded BMEG-shaped graph generator.

Writes `vertices.jsonl` and `edges.jsonl` (the ND-JSON bulk-load format
`graft.Cli load` reads: one {"gid", "label", ("from", "to",) "data"} object
per line) and `answer_key.json`. The same seed gives byte-identical files.

Shape: Project <-projects/cases-> Case <-case/samples-> Sample
-expresses-> Gene, Case -treatments-> Compound -targets-> Gene. Gene
popularity (how many samples express it, how many compounds target it) is
Pareto-skewed, so a few genes are hubs.

    python3 gripbench/graphgen.py --seed 7 --out graph-dir
"""
import argparse
import json
import os
import random

PROJECTS = 24
CASES = 2400
SAMPLES_PER_CASE = (1, 5)
GENES = 4000
COMPOUNDS = 600
EXPRESSES_PER_SAMPLE = 8
TREATMENTS_PER_CASE = (0, 3)
TARGETS_PER_COMPOUND = (1, 4)
GENE_PARETO_ALPHA = 1.1

PROGRAMS = ["TCGA", "CCLE", "GTEx", "TARGET"]
SAMPLE_TYPES = ["Primary Tumor", "Blood Derived Normal", "Metastatic",
                "Solid Tissue Normal", "Recurrent Tumor"]
BIOTYPES = ["protein_coding", "lncRNA", "miRNA", "pseudogene"]
CHROMS = ["chr%d" % i for i in range(1, 23)] + ["chrX", "chrY"]
VITAL = ["Alive", "Dead"]


class Graph:
    """In-memory copy of the generated graph: the reference the answer
    checks are computed from. `mixed_edit` mutates it in request order."""

    def __init__(self):
        self.v = {}        # gid -> (label, data dict)
        self.e = {}        # gid -> (label, from, to, data dict)
        self.out = {}      # gid -> {edge gid}
        self.inn = {}      # gid -> {edge gid}
        self.by_label = {}  # vertex label -> [gid] in insertion order

    def add_vertex(self, gid, label, data):
        old = self.v.get(gid)
        if old is None:
            self.by_label.setdefault(label, []).append(gid)
        elif old[0] != label:
            self.by_label[old[0]].remove(gid)
            self.by_label.setdefault(label, []).append(gid)
        self.v[gid] = (label, data)

    def add_edge(self, gid, label, frm, to, data):
        old = self.e.get(gid)
        if old is not None:
            self.out[old[1]].discard(gid)
            self.inn[old[2]].discard(gid)
        self.e[gid] = (label, frm, to, data)
        self.out.setdefault(frm, set()).add(gid)
        self.inn.setdefault(to, set()).add(gid)

    def delete_vertex(self, gid):
        label, _ = self.v.pop(gid)
        self.by_label[label].remove(gid)
        for eg in list(self.out.get(gid, ())) + list(self.inn.get(gid, ())):
            if eg in self.e:
                _, f, t, _ = self.e.pop(eg)
                self.out[f].discard(eg)
                self.inn[t].discard(eg)

    def out_v(self, gid, label):
        """Targets of `gid`'s out-edges labelled `label`, one per edge."""
        return [self.e[x][2] for x in self.out.get(gid, ()) if self.e[x][0] == label
                and self.e[x][2] in self.v]

    def in_v(self, gid, label):
        return [self.e[x][1] for x in self.inn.get(gid, ()) if self.e[x][0] == label
                and self.e[x][1] in self.v]


def pareto_weights(rng, n, alpha):
    """Popularity weights 1/rank^alpha over a seeded permutation of 0..n-1."""
    ranks = list(range(1, n + 1))
    rng.shuffle(ranks)
    return [1.0 / (r ** alpha) for r in ranks]


def cumulative(ws):
    out, s = [], 0.0
    for w in ws:
        s += w
        out.append(s)
    return out


def generate(seed):
    rng = random.Random(seed)
    g = Graph()
    edge_no = [0]

    def edge(label, frm, to, data):
        edge_no[0] += 1
        g.add_edge("E%07d" % edge_no[0], label, frm, to, data)

    projects = []
    for i in range(PROJECTS):
        gid = "Project:P%03d" % i
        prog = PROGRAMS[i % len(PROGRAMS)]
        g.add_vertex(gid, "Project", {"project_id": "%s-%03d" % (prog, i),
                                      "program": prog,
                                      "name": "project %d" % i})
        projects.append(gid)

    genes = []
    for i in range(GENES):
        gid = "Gene:ENSG%011d" % (1000 + i)
        start = rng.randrange(1, 200_000_000)
        g.add_vertex(gid, "Gene", {"symbol": "G%05d" % i,
                                   "chromosome": rng.choice(CHROMS),
                                   "start": start,
                                   "end": start + rng.randrange(500, 200_000),
                                   "biotype": rng.choice(BIOTYPES)})
        genes.append(gid)
    gene_cum = cumulative(pareto_weights(rng, GENES, GENE_PARETO_ALPHA))

    compounds = []
    for i in range(COMPOUNDS):
        gid = "Compound:CMP%05d" % i
        g.add_vertex(gid, "Compound", {"name": "compound-%d" % i,
                                       "max_phase": rng.randrange(0, 5),
                                       "mol_weight": round(rng.uniform(120.0, 900.0), 3)})
        compounds.append(gid)
        for t in dict.fromkeys(rng.choices(genes, cum_weights=gene_cum,
                                 k=rng.randint(*TARGETS_PER_COMPOUND))):
            edge("targets", gid, t, {"affinity": round(rng.uniform(4.0, 10.0), 3)})

    sample_no = 0
    for i in range(CASES):
        gid = "Case:C%05d" % i
        proj = projects[rng.randrange(PROJECTS)]
        g.add_vertex(gid, "Case", {"case_id": "C%05d" % i,
                                   "project_id": g.v[proj][1]["project_id"],
                                   "gender": rng.choice(["female", "male"]),
                                   "age_at_diagnosis": rng.randint(18, 90),
                                   "vital_status": rng.choice(VITAL)})
        edge("projects", gid, proj, {})
        edge("cases", proj, gid, {})
        for c in dict.fromkeys(rng.choices(compounds, k=rng.randint(*TREATMENTS_PER_CASE))):
            edge("treatments", gid, c, {"response": rng.choice(["CR", "PR", "SD", "PD"])})
        for _ in range(rng.randint(*SAMPLES_PER_CASE)):
            sgid = "Sample:S%06d" % sample_no
            g.add_vertex(sgid, "Sample", {"sample_id": "S%06d" % sample_no,
                                          "case_id": "C%05d" % i,
                                          "sample_type": rng.choice(SAMPLE_TYPES),
                                          "tumor_purity": round(rng.random(), 4),
                                          "collection_year": rng.randint(1995, 2024)})
            sample_no += 1
            edge("case", sgid, gid, {})
            edge("samples", gid, sgid, {})
            for t in dict.fromkeys(rng.choices(genes, cum_weights=gene_cum, k=EXPRESSES_PER_SAMPLE)):
                edge("expresses", sgid, t, {"tpm": round(rng.lognormvariate(1.5, 1.2), 4)})
    return g


def dumps(o):
    return json.dumps(o, separators=(",", ":"))


def write(g, out_dir):
    """Write the ND-JSON files; returns their total size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    vpath = os.path.join(out_dir, "vertices.jsonl")
    epath = os.path.join(out_dir, "edges.jsonl")
    with open(vpath, "w") as f:
        for gid, (label, data) in g.v.items():
            f.write(dumps({"gid": gid, "label": label, "data": data}) + "\n")
    with open(epath, "w") as f:
        for gid, (label, frm, to, data) in g.e.items():
            f.write(dumps({"gid": gid, "label": label, "from": frm, "to": to,
                           "data": data}) + "\n")
    return os.path.getsize(vpath) + os.path.getsize(epath)


def degrees(g, gids):
    return {x: {"out": len(g.out.get(x, ())), "in": len(g.inn.get(x, ()))}
            for x in sorted(set(gids))}


def answer_key(g, anchors=()):
    """Label counts, degrees of the sampled anchors and aggregation tallies."""
    vcounts, ecounts = {}, {}
    for label, _ in g.v.values():
        vcounts[label] = vcounts.get(label, 0) + 1
    for label, _, _, _ in g.e.values():
        ecounts[label] = ecounts.get(label, 0) + 1
    sample_types, programs = {}, {}
    for gid in g.by_label["Sample"]:
        t = g.v[gid][1]["sample_type"]
        sample_types[t] = sample_types.get(t, 0) + 1
    for gid in g.by_label["Project"]:
        p = g.v[gid][1]["program"]
        programs[p] = programs.get(p, 0) + 1
    return {"vertex_labels": dict(sorted(vcounts.items())),
            "edge_labels": dict(sorted(ecounts.items())),
            "anchor_degrees": degrees(g, anchors),
            "tallies": {"Sample.sample_type": dict(sorted(sample_types.items())),
                        "Project.program": dict(sorted(programs.items()))}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    g = generate(a.seed)
    n = write(g, a.out)
    with open(os.path.join(a.out, "answer_key.json"), "w") as f:
        json.dump(answer_key(g), f, indent=1, sort_keys=True)
    print("%d vertices, %d edges, %d bytes" % (len(g.v), len(g.e), n))


if __name__ == "__main__":
    main()
