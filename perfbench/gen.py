"""Seeded SILO-shaped dataset generator with independently derived answers.

Writes a data directory graft can preprocess and serve
(database_config.yaml, reference_genomes.json, lineage_definition.yaml,
input.ndjson), the append batches, and truth.json: every benchmark query
with its expected rows, computed here from the rows this script wrote and
never from graft.

    python3 perfbench/gen.py --seed 7 --out /path/to/dir

The shape follows the reference's performance generators (sequence_generator.h):
one nucleotide reference of random ACGT, one gene, lineage-correlated
mutations inherited down a multi-level lineage tree, private mutations,
N-runs (leading and interior), insertions and null values.
"""
import argparse
import datetime
import json
import os
import random
from collections import Counter
from decimal import Decimal, ROUND_HALF_UP

NUC = "ACGT"
AMINO = "ACDEFGHIKLMNPQRSTVWY"
COUNTRIES = ["Switzerland", "Germany", "France", "Italy", "Austria", "Spain"]
COUNTRY_W = [30, 25, 15, 12, 10, 8]
# lineage -> parent (None = root), in definition order
LINEAGES = [
    ("A", None), ("A.1", "A"), ("A.1.1", "A.1"), ("A.2", "A"),
    ("B", None), ("B.1", "B"), ("B.1.1", "B.1"), ("B.1.1.7", "B.1.1"),
    ("B.1.2", "B.1"), ("B.1.617", "B.1"), ("B.1.617.2", "B.1.617"),
]
LINEAGE_W = [4, 8, 8, 4, 4, 10, 10, 22, 6, 6, 12]

# scale: the same for every seed, so seeds vary content and never cost
SCALE = {"rows": 200, "genome": 120, "gene": 60,
         "batches": 40, "batch_rows": 8}

# thresholds and the optional band: a (position, symbol) whose exact
# proportion lies this close to a threshold may be in or out of the answer
# (graft rounds to 4 decimals before comparing)
OPTIONAL_BAND = 2e-4


def lineage_children():
    kids = {n: [] for n, _ in LINEAGES}
    for n, p in LINEAGES:
        if p:
            kids[p].append(n)
    return kids


def descendants(name, kids):
    out, todo = set(), [name]
    while todo:
        n = todo.pop()
        out.add(n)
        todo.extend(kids[n])
    return out


class Dataset:
    def __init__(self, seed, scale):
        self.rng = random.Random(seed)
        self.seed = seed
        self.scale = scale
        rng = self.rng
        g, a = scale["genome"], scale["gene"]
        self.ref = "".join(rng.choice(NUC) for _ in range(g))
        self.gene = "M" + "".join(rng.choice(AMINO) for _ in range(a - 1))
        # lineage-defining mutations, inherited by every descendant
        nuc_pos = rng.sample(range(20, g - 20), 3 * len(LINEAGES))
        aa_pos = rng.sample(range(5, a - 5), 2 * len(LINEAGES))
        own_nuc, own_aa = {}, {}
        for i, (n, _) in enumerate(LINEAGES):
            own_nuc[n] = [(p, self._other(self.ref[p], NUC))
                          for p in nuc_pos[3 * i:3 * i + 3]]
            own_aa[n] = [(p, self._other(self.gene[p], AMINO))
                         for p in aa_pos[2 * i:2 * i + 2]]
        parent = dict(LINEAGES)
        self.lin_nuc, self.lin_aa = {}, {}
        for n, _ in LINEAGES:
            chain, cur = [], n
            while cur:
                chain.append(cur)
                cur = parent[cur]
            self.lin_nuc[n] = [m for c in reversed(chain) for m in own_nuc[c]]
            self.lin_aa[n] = [m for c in reversed(chain) for m in own_aa[c]]
        # recurrent (homoplastic) sites: a few percent of rows each, so
        # the rare-position filters have non-trivial answers under the gate
        taken = set(nuc_pos)
        free = [p for p in range(5, g - 5) if p not in taken]
        self.hot = [(p, self._other(self.ref[p], NUC))
                    for p in rng.sample(free, 6)]
        self.ins_pos = rng.sample(free, 3)
        self.next_pk = 0

    def _other(self, sym, alphabet):
        return self.rng.choice([c for c in alphabet if c != sym])

    def row(self):
        rng, g, a = self.rng, self.scale["genome"], self.scale["gene"]
        self.next_pk += 1
        pk = "s%d_%06d" % (self.seed, self.next_pk)
        lin = None if rng.random() < 0.04 else rng.choices(
            [n for n, _ in LINEAGES], LINEAGE_W)[0]
        day = datetime.date(2021, 1, 1) + datetime.timedelta(rng.randrange(365))
        rec = {
            "primary_key": pk,
            "date": None if rng.random() < 0.02 else day.isoformat(),
            "country": None if rng.random() < 0.02 else rng.choices(
                COUNTRIES, COUNTRY_W)[0],
            "pango_lineage": lin,
            "age": None if rng.random() < 0.03 else rng.randrange(0, 91),
            "qc_value": None if rng.random() < 0.03 else round(rng.random(), 3),
        }
        # nucleotide sequence
        if rng.random() < 0.03:
            rec["main"] = {"sequence": None, "insertions": []}
        else:
            s = list(self.ref)
            for p, c in self.lin_nuc.get(lin, []):
                if rng.random() < 0.97:  # a few reversions
                    s[p] = c
            for p, c in self.hot:
                if rng.random() < 0.04:
                    s[p] = c
            for _ in range(rng.randrange(0, 4)):  # private mutations
                p = rng.randrange(g)
                s[p] = self._other(self.ref[p], NUC)
            if rng.random() < 0.15:  # leading N-run (amplicon drop-out)
                for p in range(rng.randrange(1, 25)):
                    s[p] = "N"
            if rng.random() < 0.3:  # interior N-run
                st = rng.randrange(g - 40)
                for p in range(st, st + rng.randrange(5, 40)):
                    s[p] = "N"
            ins = []
            if lin is not None and lin.startswith("B.1.617"):
                ins.append("%d:%s" % (self.ins_pos[0], "GAT"))
            if rng.random() < 0.08:
                ins.append("%d:%s" % (rng.choice(self.ins_pos[1:]),
                                      "".join(rng.choice(NUC) for _ in range(rng.randrange(1, 5)))))
            rec["main"] = {"sequence": "".join(s), "insertions": ins}
        # amino-acid gene
        if rng.random() < 0.03:
            rec["S"] = {"sequence": None, "insertions": []}
        else:
            s = list(self.gene)
            for p, c in self.lin_aa.get(lin, []):
                if rng.random() < 0.97:
                    s[p] = c
            if rng.random() < 0.3:
                p = rng.randrange(1, a)
                s[p] = self._other(self.gene[p], AMINO)
            if rng.random() < 0.1:
                st = rng.randrange(a - 10)
                for p in range(st, st + rng.randrange(2, 10)):
                    s[p] = "X"
            ins = ["%d:EPE" % (a // 2)] if lin == "B.1.1.7" else []
            rec["S"] = {"sequence": "".join(s), "insertions": ins}
        return rec


# ---- truth ---------------------------------------------------------------

def round4(count, cov):
    """graft's proportion: round(count / coverage, 4), half-up on the decimal."""
    return float(Decimal(repr(count / cov)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


class Aggregate:
    """Additive per-query partial results, so prefix states (base + the
    first k append batches) cost one pass over each row."""

    def __init__(self):
        self.groups = Counter()     # grouped counts: key tuple -> n
        self.sym = Counter()        # (pos, sym) -> n    (mutations)
        self.cov = Counter()        # pos -> covered non-missing rows
        self.ins = Counter()        # (pos, ins) -> n

    def add(self, other):
        out = Aggregate()
        for f in ("groups", "sym", "cov", "ins"):
            getattr(out, f).update(getattr(self, f))
            getattr(out, f).update(getattr(other, f))
        return out


def seq_events(seq, ref, missing):
    """(diffs, covered positions) of one aligned sequence: 1-based."""
    diffs, cov = [], []
    for i, c in enumerate(seq):
        if c == missing:
            continue
        cov.append(i + 1)
        if c != ref[i]:
            diffs.append((i + 1, c))
    return diffs, cov


class Query:
    """One SaneQL text plus how to fold rows into its expected answer."""

    def __init__(self, qid, kind, text, pred=None, group=None, mode="count",
                 seq=None, min_prop=None):
        self.qid, self.kind, self.text = qid, kind, text
        self.pred = pred or (lambda r: True)
        self.group = group or []
        self.mode, self.seq, self.min_prop = mode, seq, min_prop

    def fold(self, rows, ds):
        agg = Aggregate()
        for r in rows:
            if not self.pred(r):
                continue
            if self.mode == "count":
                agg.groups[tuple(r[g] for g in self.group)] += 1
            elif self.mode in ("mutations", "insertions"):
                rec = r[self.seq]
                if rec["sequence"] is None and self.mode == "mutations":
                    continue
                if self.mode == "insertions":
                    for e in rec["insertions"]:
                        p, s = e.split(":")
                        agg.ins[(int(p), s)] += 1
                    continue
                ref = ds.ref if self.seq == "main" else ds.gene
                miss = "N" if self.seq == "main" else "X"
                diffs, cov = seq_events(rec["sequence"], ref, miss)
                agg.sym.update(diffs)
                agg.cov.update(cov)
        return agg

    def answer(self, agg, ds):
        """Expected rows; a row with "_optional": true may be absent."""
        if self.mode == "count":
            if not self.group:
                return [{"n": agg.groups.get((), 0)}]
            return [dict(zip(self.group, k), n=v) for k, v in agg.groups.items()]
        if self.mode == "insertions":
            return [{"insertedSymbols": s, "position": p,
                     "sequenceName": self.seq, "count": n}
                    for (p, s), n in agg.ins.items()]
        ref = ds.ref if self.seq == "main" else ds.gene
        out = []
        for (p, s), n in agg.sym.items():
            cov = agg.cov[p]
            exact = n / cov
            if exact < self.min_prop - OPTIONAL_BAND:
                continue
            row = {"mutationFrom": ref[p - 1], "mutationTo": s, "position": p,
                   "sequenceName": self.seq, "proportion": round4(n, cov),
                   "coverage": cov, "count": n}
            if abs(exact - self.min_prop) <= OPTIONAL_BAND:
                row["_optional"] = True
            out.append(row)
        return out


def nuc_equals(pos, sym):
    return lambda r: r["main"]["sequence"] is not None and \
        r["main"]["sequence"][pos - 1] == sym


def build_queries(ds, base_rows):
    kids = lineage_children()
    qs = [
        Query("meta_country", "metadata",
              "default.groupBy({n := count()}, {country}).orderBy({country})",
              group=["country"]),
        Query("meta_age_lineage", "metadata",
              "default.filter(between(age, 20, 60)).groupBy({n := count()}, {pango_lineage})",
              pred=lambda r: r["age"] is not None and 20 <= r["age"] <= 60,
              group=["pango_lineage"]),
        Query("meta_in_date", "metadata",
              "default.filter(in(country, {'Germany', 'France'})).groupBy({n := count()}, {date})",
              pred=lambda r: r["country"] in ("Germany", "France"), group=["date"]),
        Query("meta_qc", "metadata",
              "default.filter(qc_value >= 0.8).groupBy({n := count()})",
              pred=lambda r: r["qc_value"] is not None and r["qc_value"] >= 0.8),
    ]
    b1 = descendants("B.1", kids)
    qs.append(Query("lineage_sub", "lineage",
                    "default.filter(lineage(pango_lineage, 'B.1', includeSublineages := true))"
                    ".groupBy({n := count()}, {country})",
                    pred=lambda r: r["pango_lineage"] in b1, group=["country"]))
    qs.append(Query("lineage_exact", "lineage",
                    "default.filter(lineage(pango_lineage, 'A.1', includeSublineages := false))"
                    ".groupBy({n := count()})",
                    pred=lambda r: r["pango_lineage"] == "A.1"))
    # rare / common position filters, chosen from the base rows: a rare
    # one stays under the routing gate for every append state (the table
    # only grows), a common one stays above it
    n = len(base_rows)
    cnt = Counter()
    for r in base_rows:
        s = r["main"]["sequence"]
        if s is None:
            continue
        for i, c in enumerate(s):
            if c != ds.ref[i] and c != "N":
                cnt[(i + 1, c)] += 1
    rare = sorted(k for k, v in cnt.items() if 3 <= v <= 0.05 * n)
    common = sorted(k for k, v in cnt.items() if 0.2 * n <= v <= 0.45 * n)
    pick = random.Random(ds.seed * 7919 + 1)
    for i, (p, s) in enumerate(pick.sample(rare, min(3, len(rare)))):
        qs.append(Query("nuc_rare_%d" % i, "nuc_rare",
                        "default.filter(nucleotideEquals(position := %d, symbol := '%s', "
                        "sequenceName := 'main')).groupBy({n := count()})" % (p, s),
                        pred=nuc_equals(p, s)))
    for i, (p, s) in enumerate(pick.sample(common, min(3, len(common)))):
        qs.append(Query("nuc_common_%d" % i, "nuc_common",
                        "default.filter(nucleotideEquals(position := %d, symbol := '%s', "
                        "sequenceName := 'main')).groupBy({n := count()})" % (p, s),
                        pred=nuc_equals(p, s)))
    b11 = descendants("B.1.1", kids)
    qs += [
        Query("mut_all", "mutations",
              "default.mutations(minProportion := 0.05, sequenceNames := {main})",
              mode="mutations", seq="main", min_prop=0.05),
        Query("mut_country", "mutations",
              "default.filter(country = 'Germany').mutations(minProportion := 0.05, "
              "sequenceNames := {main})",
              pred=lambda r: r["country"] == "Germany",
              mode="mutations", seq="main", min_prop=0.05),
        Query("mut_lineage", "mutations",
              "default.filter(lineage(pango_lineage, 'B.1.1', includeSublineages := true))"
              ".mutations(minProportion := 0.1, sequenceNames := {main})",
              pred=lambda r: r["pango_lineage"] in b11,
              mode="mutations", seq="main", min_prop=0.1),
        Query("aa_mut", "aa_mutations",
              "default.aminoAcidMutations(minProportion := 0.05)",
              mode="mutations", seq="S", min_prop=0.05),
        Query("ins_nuc", "insertions", "default.insertions()",
              mode="insertions", seq="main"),
        Query("ins_aa", "insertions", "default.aminoAcidInsertions()",
              mode="insertions", seq="S"),
    ]
    return qs


META_COLS = ["primary_key", "date", "country", "pango_lineage", "age", "qc_value"]


def export_queries(rows):
    meta = [{c: r[c] for c in META_COLS} for r in rows
            if r["age"] is not None and r["age"] >= 3]
    seqs = [{"primary_key": r["primary_key"], "main": r["main"]["sequence"]}
            for r in rows]
    return [
        {"id": "export_meta", "kind": "export_meta",
         "text": "default.filter(age >= 3).project({%s})" % ", ".join(META_COLS),
         "key": "primary_key", "expect": meta},
        {"id": "export_seq", "kind": "export_seq",
         "text": "default.project({primary_key, main})",
         "key": "primary_key", "expect": seqs},
    ]


# ---- files ---------------------------------------------------------------

CONFIG = """schema:
  instanceName: perfbench
  metadata:
    - name: primary_key
      type: string
    - name: date
      type: date
    - name: country
      type: string
      generateIndex: true
    - name: pango_lineage
      type: string
      generateIndex: true
      generateLineageIndex: lineage_definition.yaml
    - name: age
      type: int
    - name: qc_value
      type: float
  primaryKey: primary_key
"""


def write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def lineage_yaml():
    lines = []
    for n, p in LINEAGES:
        if p is None:
            lines.append("%s: {}" % n)
        else:
            lines += ["%s:" % n, "  parents:", "    - %s" % p]
    return "\n".join(lines) + "\n"


def generate(seed, out):
    os.makedirs(os.path.join(out, "data"), exist_ok=True)
    scale = SCALE
    ds = Dataset(seed, scale)
    base = [ds.row() for _ in range(scale["rows"])]
    batches = [[ds.row() for _ in range(scale["batch_rows"])]
               for _ in range(scale["batches"])]
    data = os.path.join(out, "data")
    with open(os.path.join(data, "database_config.yaml"), "w") as f:
        f.write(CONFIG)
    with open(os.path.join(data, "lineage_definition.yaml"), "w") as f:
        f.write(lineage_yaml())
    with open(os.path.join(data, "reference_genomes.json"), "w") as f:
        json.dump({"nucleotideSequences": [{"name": "main", "sequence": ds.ref}],
                   "genes": [{"name": "S", "sequence": ds.gene}]}, f)
    write_ndjson(os.path.join(data, "input.ndjson"), base)
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    for i, b in enumerate(batches):
        write_ndjson(os.path.join(out, "batches", "batch-%03d.ndjson" % i), b)

    queries = build_queries(ds, base)
    dash = []
    for q in queries:
        agg = q.fold(base, ds)
        states = [q.answer(agg, ds)]
        for b in batches:
            agg = agg.add(q.fold(b, ds))
            states.append(q.answer(agg, ds))
        dash.append({"id": q.qid, "kind": q.kind, "text": q.text, "states": states})
    truth = {
        "seed": seed, "scale": scale,
        "rows": [len(base) + i * scale["batch_rows"] for i in range(len(batches) + 1)],
        "dashboard": dash,
        "export": export_queries(base),
        "count_query": "default.groupBy({n := count()})",
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, separators=(",", ":"))
    return truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t = generate(a.seed, a.out)
    print(json.dumps({"rows": t["rows"][0], "queries": len(t["dashboard"])}))


if __name__ == "__main__":
    main()
