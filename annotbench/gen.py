"""Seeded generator for the annotation-pipeline benchmark.

Builds, from one integer seed, every input the pipeline reads:

- the dimension tables (species, genes, gene status, accessions,
  orthologs, GO terms, synonyms, the GO DAG, the retired-id history),
  as Arrow tables with the engine's column names and types;
- a mouse GAF and a human GAF (tab-separated, GAF 2.2 layout);
- the manual chinchilla annotations the read-back job re-projects;
- a perturbed copy of the mouse GAF for the incremental run.

Every GAF line is planted as one *kind* (plain, Not4Curation term,
IPI x catalytic term, unmatched id, retired gene resolved or not, wrong
species, missing term, no rat ortholog, WITH_INFO merge pair, duplicate
merge pair, filtered source). Kind counts and evidence-code counts
depend only on the scale, never on the seed: the seed picks
accessions, terms, routes to a gene and line order. ``expected`` turns
a plan into the exact counters and row counts the pipeline must report,
so a run is checked against planted values rather than against itself.

Rendering is a pure function of the plan, so the bytes of a GAF do not
depend on how many part files it is written as.
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter
from dataclasses import dataclass, field, replace
from datetime import date, datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

HUMAN, MOUSE, RAT, CHINCHILLA = 1, 2, 3, 4
TAXON = {HUMAN: 9606, MOUSE: 10090, RAT: 10116, CHINCHILLA: 34839}
ZEBRAFISH_TAXON = 7955  # not in the species dimension: the split drops it

XDB_MGD, XDB_UNIPROT, XDB_UNIPROT_SECONDARY, XDB_RNACENTRAL = 5, 14, 60, 68
CATALYTIC = "GO:0003824"
ISO_EVIDENCE = ("EXP", "IDA", "IEP", "IGI", "IMP", "IPI")
NON_ISO_EVIDENCE = ("IEA", "ISS", "TAS", "NAS")
MANUAL_CREATED_BY = 50
MANUAL_REF = 7777

# planted lines per kind, as a share of one GAF (plain takes the rest;
# the two pair kinds count pairs, two lines each). These shares, ISO_SHARE
# and the churn shares below are picked so that every QC case and every
# sink path is planted often enough to check exactly; they are not the
# evidence-code mix or release-to-release churn of real MGI or GOA files.
KIND_SHARE = {
    "other_source": 0.02,
    "not4curation": 0.01,
    "ipi_catalytic": 0.01,
    "unmatched": 0.01,
    "retired_resolved": 0.01,
    "retired_dead": 0.005,
    "wrong_species": 0.01,
    "missing_term": 0.01,
    "no_rat": 0.02,
    "withinfo_pair": 0.005,
    "dup_pair": 0.005,
}
PAIR_KINDS = ("withinfo_pair", "dup_pair")
ISO_SHARE = 0.65  # share of rat-ortholog lines with an ISO-gated evidence code
# incremental perturbation of the mouse GAF, as shares of its plain lines
UPDATE_SHARE, DROP_SHARE, NEW_SHARE = 0.02, 0.03, 0.03

SIDE_OUTPUTS = (
    "high_level_go_term", "catalytic_activity_ipi", "unmatched", "inactive",
    "wrong_species", "no_rat_gene", "self_referencing", "iso_empty_with_info",
    "no_go_term",
)


@dataclass(frozen=True)
class Scale:
    """Input size; ``genes`` is per source species (mouse, human)."""

    mouse_lines: int = 10_000
    human_lines: int = 10_000
    genes: int = 5_000
    manual: int = 1_000  # curated chinchilla annotations in the store


@dataclass(frozen=True)
class GafLine:
    kind: str
    cols: tuple[str, ...]  # the 17 GAF columns
    iso: bool = False  # yields a rat-ISO row when the gene has a rat ortholog
    gene: int = 0  # the gene a plain line resolves to


@dataclass
class GafPlan:
    species: int
    sources: tuple[str, ...]
    lines: list[GafLine] = field(default_factory=list)


@dataclass
class Inputs:
    seed: int
    scale: Scale
    dims: dict[str, pa.Table]
    mouse: GafPlan
    human: GafPlan
    manual: list[dict]  # FULL_ANNOT rows created by curators
    mouse_next: GafPlan  # the mouse GAF of the incremental run
    changes: dict[str, list[GafLine]]  # "date", "extension", "dropped", "new"


def generate(seed: int, scale: Scale = Scale()) -> Inputs:
    rng = random.Random(seed)
    ids = _Ids(scale.genes)
    terms = _terms(rng)
    dims, acc = _dims(rng, ids, terms, scale)
    mouse_lines = _LineMaker(rng, ids, acc, terms, MOUSE)
    mouse = mouse_lines.plan(scale.mouse_lines)
    human = _LineMaker(rng, ids, acc, terms, HUMAN).plan(scale.human_lines)
    manual = _manual(ids, terms, scale.manual)
    mouse_next, changes = _perturb(rng, mouse_lines, mouse)
    return Inputs(seed, scale, dims, mouse, human, manual, mouse_next, changes)


# ------------------------------------------------------------------ ids
class _Ids:
    """Gene ids are species * 1e6 + index; one source species' indexes
    are carved into pools that decide how its lines resolve."""

    def __init__(self, genes: int):
        def after(prev: range, share: float) -> range:
            return range(prev.stop, prev.stop + max(2, int(genes * share)))

        self.plain = range(1, max(2, int(genes * 0.80)) + 1)
        self.no_rat = after(self.plain, 0.05)  # odd: retired rat ortholog
        self.successor = after(self.no_rat, 0.04)
        self.retired = range(self.successor.stop, self.successor.stop + len(self.successor))
        self.middle = after(self.retired, 0.02)  # retired links of 2-step chains
        self.dead = after(self.middle, 0.03)  # retired, no active terminal
        self.top = self.dead.stop

    @staticmethod
    def gid(species: int, i: int) -> int:
        return species * 1_000_000 + i

    def rat_of(self, species: int, i: int) -> int:
        """Rat ortholog of gene i: one disjoint block per source species."""
        block = {MOUSE: 0, HUMAN: 1, CHINCHILLA: 2}[species]
        return self.gid(RAT, block * self.top + i)


def _terms(rng: random.Random) -> dict[str, list]:
    go = [f"GO:{n:07d}" for n in rng.sample(range(10_000, 9_999_999), 2_600)]
    go = [t for t in go if t != CATALYTIC]
    plain, n4c, cat, missing = go[:2_000], go[2_000:2_040], go[2_040:2_100], go[2_100:2_500]
    catalytic = [CATALYTIC] + cat
    # each catalytic term's parent is an earlier one: a tree several levels deep
    dag = [(c, catalytic[rng.randrange(0, i)]) for i, c in enumerate(catalytic) if i]
    dag += [(plain[i], plain[rng.randrange(0, i)]) for i in range(1, len(plain), 3)]
    return {
        "plain": plain,
        "not4curation": n4c,
        "catalytic": catalytic,
        "missing": missing,
        "valid": plain + n4c + catalytic,
        "dag": dag,
    }


def _dims(rng: random.Random, ids: _Ids, terms, scale: Scale):
    """Dimension tables, plus the accession lookup the line maker uses:
    acc[(gene, db)][xdb_key] and acc["wrong", species] (ids that match a
    gene of the other species)."""
    genes, status, xdb, edges, history = [], [], [], [], []
    acc: dict = {}
    pick = iter(rng.sample(range(1_000_000, 9_000_000), 8 * ids.top))

    def gene(sp: int, i: int, state: str = "ACTIVE") -> int:
        g = ids.gid(sp, i)
        genes.append((g, f"S{sp}g{i}", f"gene {i} of species {sp}", "protein-coding", sp))
        status.append((g, 1, state, sp))
        return g

    def add_acc(g: int, key: int, db: str, a: str) -> None:
        xdb.append((len(xdb) + 1, g, key, a))
        acc.setdefault((g, db), {})[key] = a

    for sp in (MOUSE, HUMAN):
        for pool, state in (
            (ids.plain, "ACTIVE"), (ids.no_rat, "ACTIVE"), (ids.successor, "ACTIVE"),
            (ids.retired, "RETIRED"), (ids.middle, "RETIRED"), (ids.dead, "RETIRED"),
        ):
            for i in pool:
                g = gene(sp, i, state)
                if sp == MOUSE:
                    add_acc(g, XDB_MGD, "MGI", f"MGI:{next(pick)}")
                add_acc(g, XDB_UNIPROT, "UniProtKB", f"P{next(pick)}")
                add_acc(g, XDB_UNIPROT_SECONDARY, "UniProtKB", f"Q{next(pick)}")
                if sp == HUMAN:
                    add_acc(g, XDB_RNACENTRAL, "RNAcentral", f"URS{next(pick):010X}")
        for i in [*ids.plain, *ids.successor, *ids.no_rat[1::2]]:
            edges.append((ids.gid(sp, i), ids.rat_of(sp, i)))
        # retired[k] resolves to successor[k]: one step for even k, through
        # a retired middle gene for odd k while middles last
        for k, i in enumerate(ids.retired):
            succ = ids.gid(sp, ids.successor[k])
            if k % 2 and k // 2 < len(ids.middle):
                mid = ids.gid(sp, ids.middle[k // 2])
                history += [(ids.gid(sp, i), mid), (mid, succ)]
            else:
                history.append((ids.gid(sp, i), succ))
        # half the dead genes point at dead[0], a retired gene with no history
        history += [(ids.gid(sp, i), ids.gid(sp, ids.dead[0])) for i in ids.dead[1::2]]
        history.append((ids.gid(sp, 1), ids.gid(sp, 1)))  # self-loop, ignored
    # wrong-species ids: an MGI id on a human gene, a UniProt id on a mouse gene
    acc["wrong", MOUSE], acc["wrong", HUMAN] = [], []
    for i in ids.plain[: max(1, len(ids.plain) // 40)]:
        a = f"MGI:{next(pick)}"
        xdb.append((len(xdb) + 1, ids.gid(HUMAN, i), XDB_MGD, a))
        acc["wrong", MOUSE].append(a)
        a = f"P{next(pick)}"
        xdb.append((len(xdb) + 1, ids.gid(MOUSE, i), XDB_UNIPROT, a))
        acc["wrong", HUMAN].append(a)

    for sp, stop in ((MOUSE, ids.top), (HUMAN, ids.top), (CHINCHILLA, scale.manual + 1)):
        for i in range(1, stop):
            r = ids.rat_of(sp, i)
            retired = sp != CHINCHILLA and i in ids.no_rat
            genes.append((r, f"R{r}", f"rat gene {r}", "protein-coding", RAT))
            status.append((r, 1, "RETIRED" if retired else "ACTIVE", RAT))
    for i in range(1, scale.manual + 1):  # every tenth has no rat ortholog
        g = gene(CHINCHILLA, i)
        if i % 10:
            edges.append((g, ids.rat_of(CHINCHILLA, i)))

    i32, s = pa.int32(), pa.string()
    dims = {
        "species": _table(
            [(sp, n.lower(), n, TAXON[sp], True) for sp, n in
             ((HUMAN, "HUMAN"), (MOUSE, "MOUSE"), (RAT, "RAT"), (CHINCHILLA, "CHINCHILLA"))],
            [("species_type_key", i32), ("common_name", s), ("short_name", s),
             ("taxonomic_id", i32), ("is_searchable", pa.bool_())],
        ),
        "genes": _table(genes, [("rgd_id", i32), ("gene_symbol", s), ("full_name", s),
                                ("gene_type_lc", s), ("species_type_key", i32)]),
        "rgd_ids": _table(status, [("rgd_id", i32), ("object_key", i32),
                                   ("object_status", s), ("species_type_key", i32)]),
        "rgd_acc_xdb": _table(xdb, [("acc_xdb_key", i32), ("rgd_id", i32),
                                    ("xdb_key", i32), ("acc_id", s)]),
        "ortholog_edges": _table(edges, [("src_rgd_id", i32), ("dest_rgd_id", i32)]),
        "ont_terms": _table([(t, f"term {t}", 0, "GO") for t in terms["valid"]],
                            [("term_acc", s), ("term", s), ("is_obsolete", i32), ("ont_id", s)]),
        "ont_synonyms": _table(
            [(t, "Not4Curation") for t in terms["not4curation"]]
            + [(t, f"synonym of {t}") for t in terms["plain"][:50]],
            [("term_acc", s), ("synonym_name", s)],
        ),
        "ont_dag": _table(terms["dag"], [("child_term_acc", s), ("parent_term_acc", s)]),
        "rgd_id_history": _table(history, [("old_rgd_id", i32), ("new_rgd_id", i32)]),
    }
    return dims, acc


def _table(rows: list[tuple], cols: list[tuple[str, pa.DataType]]) -> pa.Table:
    return pa.table({n: pa.array([r[i] for r in rows], t) for i, (n, t) in enumerate(cols)})


# ------------------------------------------------------------------ GAF lines
class _Cycle:
    """Hands out a fixed sequence in turn: the n-th value, and so every
    planted count, never depends on the seed."""

    def __init__(self, items: list):
        self.items, self.n = items, 0

    def take(self):
        self.n += 1
        return self.items[(self.n - 1) % len(self.items)]


class _LineMaker:
    """Plans the lines of one species' GAF. Every (gene, term) pair that
    can yield a FULL_ANNOT row is used once, so rows merge only where a
    merge pair is planted."""

    def __init__(self, rng, ids: _Ids, acc, terms, sp: int):
        self.rng, self.ids, self.acc, self.terms, self.sp = rng, ids, acc, terms, sp
        self.sources = ("MGI", "UniProtKB") if sp == MOUSE else ("UniProtKB", "RNAcentral")
        self.cycles: dict[tuple, _Cycle] = {}
        self.used = Counter()
        self.ref_no = 0
        # coprime to the term count, so every gene's terms spread evenly
        n_terms = len(terms["plain"])
        self.stride = rng.choice([k for k in range(1, 997) if math.gcd(k, n_terms) == 1])

    def plan(self, total: int) -> GafPlan:
        counts = {k: max(1, int(total * s)) for k, s in KIND_SHARE.items()}
        counts["plain"] = total - sum(n * (2 if k in PAIR_KINDS else 1) for k, n in counts.items())
        if counts["plain"] < total // 2:
            raise ValueError(f"{total} lines are too few to plant every kind")
        kinds = [k for k, n in counts.items() for _ in range(n)]
        self.rng.shuffle(kinds)
        return GafPlan(self.sp, self.sources, [ln for k in kinds for ln in self.lines(k)])

    # -- column helpers
    def _take(self, kind: str, what: str, items) -> object:
        """Next value of a per-kind cycle, so each kind's planted counts
        are fixed however the seed orders the kinds."""
        key = (kind, what, tuple(items))
        if key not in self.cycles:
            self.cycles[key] = _Cycle(list(items))
        return self.cycles[key].take()

    def _iso(self, kind: str) -> bool:
        return self._take(kind, "iso", [i < round(20 * ISO_SHARE) for i in range(20)])

    def _evidence(self, kind: str, iso: bool) -> str:
        return self._take(kind, "evidence", ISO_EVIDENCE if iso else NON_ISO_EVIDENCE)

    def _next(self, name: str) -> int:
        self.used[name] += 1
        return self.used[name] - 1

    def _ref(self) -> str:
        self.ref_no += 1
        return f"PMID:{self.sp}{self.ref_no:07d}"

    def _date(self) -> str:
        return (date(2015, 1, 1) + timedelta(days=self.rng.randrange(3650))).strftime("%Y%m%d")

    def _id_for(self, g: int, route: str) -> tuple[str, str, str]:
        """(db, db_object_id, gene_product_form_id) that resolve to gene g."""
        if route in ("mgi", "mgi_double"):
            a = self.acc[(g, "MGI")][XDB_MGD]
            return "MGI", a.replace("MGI:", "MGI:MGI:") if route == "mgi_double" else a, ""
        if route == "rnacentral":
            return "RNAcentral", f"{self.acc[(g, 'RNAcentral')][XDB_RNACENTRAL]}_{TAXON[self.sp]}", ""
        up = self.acc[(g, "UniProtKB")]
        if route == "secondary":
            return "UniProtKB", up[XDB_UNIPROT_SECONDARY], ""
        if route == "alt":  # unknown id; the gene is found through column 17
            return "UniProtKB", f"X{self.sp}N{self.ref_no:07d}", f"UniProtKB:{up[XDB_UNIPROT]}"
        return "UniProtKB", up[XDB_UNIPROT], ""

    def _route(self, kind: str) -> str:
        if self.sp == MOUSE:
            return self._take(kind, "route", ("mgi", "uniprot", "mgi_double", "secondary", "mgi", "alt"))
        return self._take(kind, "route", ("uniprot", "secondary", "rnacentral", "uniprot", "alt"))

    def _cols(self, db, obj, go, ev, *, gene=0, with_from="", qual="", gpfi="",
              taxon=None) -> tuple[str, ...]:
        sym = f"S{self.sp}g{gene % 1_000_000}"
        return (
            db, obj, sym, qual, go, self._ref(), ev, with_from,
            self.rng.choice("PFC"), f"name of {sym}", "", "gene",
            f"taxon:{taxon or TAXON[self.sp]}", self._date(), db, "", gpfi,
        )

    # -- kinds
    def plain(self, kind: str = "plain") -> GafLine:
        """A line on a fresh (gene, term) slot of the plain pool. Slot k is
        gene k % P with term (k // P + stride * gene) % T: unique for k < P * T."""
        k = self._next("plain")
        pool, terms = self.ids.plain, self.terms["plain"]
        i = pool[k % len(pool)]
        go = terms[(k // len(pool) + self.stride * i) % len(terms)]
        g = self.ids.gid(self.sp, i)
        db, obj, gpfi = self._id_for(g, self._route(kind))
        iso = self._iso(kind)
        qual = self.rng.choice(("", "", "", "NOT", "colocalizes_with", "contributes_to"))
        return GafLine(kind, self._cols(db, obj, go, self._evidence(kind, iso), gene=g, qual=qual, gpfi=gpfi), iso, g)

    def lines(self, kind: str) -> list[GafLine]:
        sp, ids, terms = self.sp, self.ids, self.terms
        if kind == "plain":
            return [self.plain()]
        if kind in PAIR_KINDS:
            ln = self.plain(kind)
            first, second = list(ln.cols), list(ln.cols)
            n = self.ref_no
            if kind == "withinfo_pair":  # same 8-field key, WITH tokens differ
                first[7], second[7] = f"MGI:W{n}a|MGI:W{n}b", f"MGI:W{n}b|MGI:W{n}c"
            else:  # same 6-field key, another reference
                second[5] = self._ref()
            return [GafLine(kind, tuple(first), ln.iso), GafLine(kind, tuple(second), ln.iso)]
        if kind == "other_source":
            n = self._next(kind)
            if n % 4 == 0:
                return [GafLine(kind, self._cols("ZFIN", f"ZDB-GENE-{n}", terms["plain"][0], "IDA", taxon=ZEBRAFISH_TAXON))]
            if sp == MOUSE:
                return [GafLine(kind, self._cols("RNAcentral", f"URS{n:010X}_{TAXON[sp]}", terms["plain"][1], "IDA"))]
            return [GafLine(kind, self._cols("HGNC", f"HGNC:{n}", terms["plain"][2], "IDA"))]
        if kind == "unmatched":
            return [GafLine(kind, self._cols("UniProtKB", f"Z{sp}U{self._next(kind):07d}", terms["plain"][3], "IDA"))]
        if kind == "wrong_species":
            wrong = self.acc["wrong", sp]
            db = "MGI" if sp == MOUSE else "UniProtKB"
            return [GafLine(kind, self._cols(db, wrong[self._next(kind) % len(wrong)], terms["plain"][4], "IDA"))]
        if kind in ("retired_resolved", "retired_dead"):
            k = self._next(kind)
            pool = ids.retired if kind == "retired_resolved" else ids.dead
            g = ids.gid(sp, pool[k % len(pool)])
            db, obj, _ = self._id_for(g, "uniprot")
            if kind == "retired_dead":
                return [GafLine(kind, self._cols(db, obj, terms["plain"][5], "IDA", gene=g))]
            # resolves to successor[k % n]; term steps per pass over the pool
            go = terms["plain"][(k // len(pool) + self.stride * (k % len(pool))) % len(terms["plain"])]
            iso = self._iso(kind)
            return [GafLine(kind, self._cols(db, obj, go, self._evidence(kind, iso), gene=g), iso)]
        # kinds on an active gene with an ordinary UniProt id
        n = self._next(kind)
        pool = ids.no_rat if kind == "no_rat" else ids.plain
        g = ids.gid(sp, pool[self.rng.randrange(len(pool))])
        db, obj, gpfi = self._id_for(g, "uniprot")
        if kind == "not4curation":
            go, ev = terms["not4curation"][n % len(terms["not4curation"])], "IDA"
        elif kind == "ipi_catalytic":
            go, ev = terms["catalytic"][n % len(terms["catalytic"])], "IPI"
        elif kind == "missing_term":
            go, ev = terms["missing"][n % len(terms["missing"])], "IDA"
        elif kind == "no_rat":  # fresh term per line keeps (gene, term) unique
            go, ev = terms["plain"][n % len(terms["plain"])], self._evidence(kind, n % 2 == 0)
        else:
            raise ValueError(f"unknown line kind {kind!r}")
        return [GafLine(kind, self._cols(db, obj, go, ev, gene=g, gpfi=gpfi))]


def _manual(ids: _Ids, terms, n: int) -> list[dict]:
    """Curated chinchilla annotations: the read-back job's input."""
    created = datetime(2024, 4, 8, 12, 0, 0)
    rows = []
    for i in range(1, n + 1):
        ev = NON_ISO_EVIDENCE[i % 4] if i % 5 == 0 else ISO_EVIDENCE[i % 6]
        rows.append(dict(
            full_annot_key=i, term=f"term {terms['plain'][i % 2000]}",
            annotated_object_rgd_id=ids.gid(CHINCHILLA, i), rgd_object_key=1,
            data_src="RGD", object_symbol=f"S4g{i}", ref_rgd_id=MANUAL_REF,
            evidence=ev, with_info=f"MGI:C{i}" if i % 3 == 0 else None, aspect="P",
            object_name=f"gene {i} of species 4", created_date=created,
            last_modified_date=created, term_acc=terms["plain"][i % 2000],
            created_by=MANUAL_CREATED_BY, last_modified_by=MANUAL_CREATED_BY,
            xref_source=f"PMID:4{i:07d}", original_created_date=created.date(),
        ))
    return rows


def _perturb(rng: random.Random, maker: _LineMaker, plan: GafPlan):
    """The mouse GAF of a later release: some plain lines change their
    date or annotation extension (updates), some vanish (stale deletes),
    some are new (inserts). Picks are spread over (source DB, evidence)
    groups whose sizes do not depend on the seed, so no count does."""
    groups: dict[tuple[str, str], list[int]] = {}
    for idx, ln in enumerate(plan.lines):
        if ln.kind == "plain":  # by source DB and evidence code
            groups.setdefault((ln.cols[0], ln.cols[6]), []).append(idx)
    sizes = {k: len(v) for k, v in groups.items()}
    n_plain = sum(sizes.values())
    quota = {
        "date": _allocate(sizes, int(n_plain * UPDATE_SHARE / 2)),
        "extension": _allocate(sizes, int(n_plain * UPDATE_SHARE / 2)),
        "dropped": _allocate(sizes, int(n_plain * DROP_SHARE)),
    }
    picked = {k: set() for k in quota}
    for key in sorted(groups):
        chosen = rng.sample(groups[key], sum(q[key] for q in quota.values()))
        for change, q in quota.items():
            picked[change].update(chosen[:q[key]])
            chosen = chosen[q[key]:]
    lines, changes = [], {k: [] for k in (*picked, "new")}
    for idx, ln in enumerate(plan.lines):
        cols = list(ln.cols)
        if idx in picked["dropped"]:
            changes["dropped"].append(ln)
            continue
        if idx in picked["date"]:
            d = datetime.strptime(cols[13], "%Y%m%d") + timedelta(days=1)
            cols[13] = d.strftime("%Y%m%d")
            changes["date"].append(ln)
        elif idx in picked["extension"]:
            cols[15] = f"part_of(UBERON:{idx:07d})"
            changes["extension"].append(ln)
        lines.append(replace(ln, cols=tuple(cols)))
    for _ in range(int(n_plain * NEW_SHARE)):
        ln = maker.plain()
        lines.insert(rng.randrange(len(lines) + 1), ln)
        changes["new"].append(ln)
    return GafPlan(plan.species, plan.sources, lines), changes


def _allocate(sizes: dict, total: int) -> dict:
    """Split ``total`` over groups in proportion to their sizes: largest
    remainder first, ties broken by group key."""
    n = sum(sizes.values())
    exact = {k: total * v / n for k, v in sizes.items()}
    out = {k: int(x) for k, x in exact.items()}
    for k in sorted(exact, key=lambda k: (out[k] - exact[k], k))[: total - sum(out.values())]:
        out[k] += 1
    return out


# ------------------------------------------------------------------ expectations
def expected(plan: GafPlan, plain: bool | None = None) -> dict:
    """Exact QC counters of one species job and the FULL_ANNOT rows it
    yields: ``direct`` on the job's ref, ``iso`` on the rat-ISO ref.
    ``plain`` keeps only plain lines (True) or only the others (False)."""
    c = Counter({name: 0 for name in SIDE_OUTPUTS})
    direct = iso = 0
    for ln in plan.lines:
        if plain is not None and (ln.kind == "plain") != plain:
            continue
        db, ev, kind = ln.cols[0], ln.cols[6], ln.kind
        c[f"lines[{db}]"] += 1
        if db not in plan.sources:
            continue
        if kind in ("not4curation", "ipi_catalytic", "unmatched", "wrong_species"):
            c[{"not4curation": "high_level_go_term", "ipi_catalytic": "catalytic_activity_ipi"}.get(kind, kind)] += 1
            continue
        if kind.startswith("retired"):
            c["inactive"] += 1
            if kind == "retired_dead":
                continue
        c[f"match_by_db[{db}]"] += 1
        if kind == "no_rat":
            c["no_rat_gene"] += 1
        elif ev not in ISO_EVIDENCE:
            c[f"wrong_evidence[{ev}]"] += 1
        if kind == "missing_term":  # staged on the direct and the ISO branch
            c["no_go_term"] += 2
            continue
        # a merge pair yields one direct and one ISO row from two lines
        weight = 0.5 if kind in PAIR_KINDS else 1
        direct += weight
        iso += weight if (ln.iso and kind != "no_rat") else 0
    return {"counters": dict(c), "direct": int(direct), "iso": int(iso)}


def expected_readback(manual: list[dict]) -> dict:
    """Counters and rat-ISO rows of the chinchilla read-back job."""
    c = Counter({name: 0 for name in SIDE_OUTPUTS})
    iso = 0
    for r in manual:
        c["match_by_db[RGD]"] += 1
        if (r["annotated_object_rgd_id"] % 1_000_000) % 10 == 0:
            c["no_rat_gene"] += 1
        elif r["evidence"] in ISO_EVIDENCE:
            iso += 1
        else:
            c[f"wrong_evidence[{r['evidence']}]"] += 1
    return {"counters": dict(c), "direct": 0, "iso": iso}


def expected_changes(inputs: Inputs) -> dict:
    """Sink classification of the later mouse release against a store
    holding the rows of the plain lines of the first (``store_rows``):
    lines of the other kinds insert, as do new lines."""
    ch = inputs.changes
    rows = lambda lines: (len(lines), sum(ln.iso for ln in lines))  # noqa: E731
    d_date, i_date = rows(ch["date"])
    d_ext, _ = rows(ch["extension"])  # extensions never reach ISO rows
    d_drop, i_drop = rows(ch["dropped"])
    d_new, i_new = rows(ch["new"])
    stored = expected(inputs.mouse, plain=True)
    others = expected(inputs.mouse_next, plain=False)
    updated = d_date + i_date + d_ext
    return {
        "inserted": d_new + i_new + others["direct"] + others["iso"],
        "updated": updated,
        "touched": stored["direct"] + stored["iso"] - d_drop - i_drop - updated,
        "stale_deleted": d_drop,
        "iso_stale_deleted": i_drop,
        "before": (stored["direct"], stored["iso"]),
        "after": (
            stored["direct"] + d_new + others["direct"] - d_drop,
            stored["iso"] + i_new + others["iso"] - i_drop,
        ),
    }


def store_rows(inputs: Inputs, cfg, run_ts: datetime) -> list[dict]:
    """The FULL_ANNOT rows a load of the plain lines of the first mouse
    release leaves at ``run_ts``: one direct row per line and one rat-ISO
    row per ISO-gated line, as the QC, consolidation and merge layers
    shape them (the consolidated NOTES of a lone PMID reference is
    ``"  (<ref>)"``). Keys start above the curated rows' keys."""
    ids, out = _Ids(inputs.scale.genes), []
    qualifier = {"": None, "colocalizes_with": "located_in"}
    for ln in inputs.mouse.lines:
        if ln.kind != "plain":
            continue
        c, i = ln.cols, ln.gene % 1_000_000
        base = dict(
            term=f"term {c[4]}", rgd_object_key=1, aspect=c[8], notes=f"  ({c[5]})",
            qualifier=qualifier.get(c[3], c[3]), created_date=run_ts, last_modified_date=run_ts,
            term_acc=c[4], created_by=cfg.created_by, last_modified_by=cfg.created_by,
            xref_source=c[5], annotation_extension=None,
            original_created_date=datetime.strptime(c[13], "%Y%m%d").date(),
        )
        out.append(dict(
            base, annotated_object_rgd_id=ln.gene, data_src=cfg.source_subst.get(c[14], c[14]),
            object_symbol=f"S{MOUSE}g{i}", object_name=f"gene {i} of species {MOUSE}",
            ref_rgd_id=cfg.mgi_ref_rgd_id, evidence=c[6], with_info=c[7] or None,
            gene_product_form_id=c[16] or None,
        ))
        if ln.iso:
            r = ids.rat_of(MOUSE, i)
            out.append(dict(
                base, annotated_object_rgd_id=r, data_src="RGD", object_symbol=f"R{r}",
                object_name=f"rat gene {r}", ref_rgd_id=cfg.iso_ref_rgd_id, evidence="ISO",
                with_info=",".join(filter(None, (f"RGD:{ln.gene}", c[16]))),
                gene_product_form_id=None,
            ))
    for k, row in enumerate(out):
        row["full_annot_key"] = 10_000_000 + k
    return out


# ------------------------------------------------------------------ writing
def render(plan: GafPlan) -> list[str]:
    return ["!gaf-version: 2.2\n"] + ["\t".join(ln.cols) + "\n" for ln in plan.lines]


def write_gaf(plan: GafPlan, out_dir: str, parts: int) -> list[str]:
    """Write the GAF as ``parts`` files of contiguous lines; their
    concatenation is the same bytes for every part count."""
    os.makedirs(out_dir, exist_ok=True)
    text = render(plan)
    step = -(-len(text) // parts)
    paths = []
    for p in range(parts):
        path = os.path.join(out_dir, f"part-{p:03d}.gaf")
        with open(path, "w") as fh:
            fh.writelines(text[p * step:(p + 1) * step])
        paths.append(path)
    return paths


def write_dims(inputs: Inputs, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in inputs.dims.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
