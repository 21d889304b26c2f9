"""Correctness gates and failure accounting.

Every gate is evaluated outside the timed spans, against references that
do not run through the Spark engine:

* triple tables are compared with the set derived from
  ``datagen.generate_doc`` ground truth — the logic of
  ``oracles.kg_triples_expected`` / ``kg_triples_learned_expected``,
  applied to the pages actually generated (the oracles themselves only
  cover the default page sizes, and are used directly where they do);
* every SPARQL result is compared with a hand-written DuckDB query over
  the same snapshot parquet files the engine read.

:class:`Ledger` counts every build, append, compaction and query as one
attempted operation; an exception or a missed gate marks it failed.
"""

from __future__ import annotations

import hashlib
import traceback
from dataclasses import dataclass, field

from search_spark import datagen, oracles
from search_spark.operators.relations import DIFF, SAME

# --------------------------------------------------------------------------
# failure accounting
# --------------------------------------------------------------------------


@dataclass
class Ledger:
    """Attempted / failed operation counts for one benchmark run."""

    attempted: int = 0
    failures: dict[str, str] = field(default_factory=dict)
    kinds: dict[str, str] = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def begin(self, op_id: str, kind: str) -> str:
        if op_id in self.kinds:
            raise ValueError(f"operation id {op_id!r} used twice")
        self.kinds[op_id] = kind
        self.attempted += 1
        return op_id

    def fail(self, op_id: str, reason: str) -> None:
        # first reason wins: a later gate on an op that already raised
        # adds nothing
        self.failures.setdefault(op_id, reason)

    def run(self, op_id: str, kind: str, fn, *args, **kwargs):
        """Attempt ``fn``; an exception marks the op failed and returns
        None (a benchmark run must finish and report, not crash)."""
        self.begin(op_id, kind)
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — boundary: record and go on
            self.fail(op_id, traceback.format_exc(limit=3))
            return None

    def gate(self, op_id: str, ok: bool, detail: str) -> bool:
        if not ok:
            self.fail(op_id, f"gate: {detail}")
        return ok


# --------------------------------------------------------------------------
# expected triples from generator ground truth
# --------------------------------------------------------------------------


def expected_triples(docs, learned: bool) -> set[tuple]:
    """``(subj, pred, obj, prov)`` the pipeline must emit for ``docs``
    (``(row, ExpectedDoc)`` pairs). Rule path: StartWithTheSameLetter;
    ``learned``: the committed LinearREModel, evaluated with numpy."""
    canon = oracles.canonical_map()
    rel_pairs = set(datagen.RELATION_PAIRS)
    triples: set[tuple] = set()
    pending: list[tuple] = []
    feats: list[list[float]] = []
    for row, exp in docs:
        if row["lang"] != "en":
            continue
        uid = hashlib.md5(row["url"].encode()).hexdigest()
        sections = {p: s for p, s, _ in exp.paragraphs}
        by_sentence: dict[tuple, list] = {}
        for ppos, spos, start, end, term, etype in exp.mentions:
            if etype != "NaE":
                by_sentence.setdefault((ppos, spos), []).append(
                    (start, end, term, etype)
                )
        for (ppos, _spos), ments in by_sentence.items():
            prov = f"{uid}:{sections[ppos]}:{ppos}"
            for start, end, term, etype in ments:
                subj = canon.get(term.lower(), term)
                triples.add((subj, "has_type", etype, prov))
                for start2, end2, term2, etype2 in ments:
                    if (start, end) == (start2, end2):
                        continue
                    if (etype, etype2) not in rel_pairs:
                        continue
                    obj = canon.get(term2.lower(), term2)
                    if not learned:
                        same = term[0].lower() == term2[0].lower()
                        triples.add((subj, SAME if same else DIFF, obj, prov))
                        continue
                    gap = max(start, start2) - min(end, end2)
                    feats.append([
                        float(term[0].lower() == term2[0].lower()),
                        gap / 64.0,
                        len(term) / 32.0,
                        len(term2) / 32.0,
                        float(start < start2),
                    ])
                    pending.append((subj, obj, prov))
    if pending:
        probs = oracles._re_model_probs(feats)
        for (subj, obj, prov), p in zip(pending, probs):
            triples.add((subj, SAME if p >= 0.5 else DIFF, obj, prov))
    return triples


def set_gap(got: set, want: set) -> str:
    """Empty when equal; otherwise precision/recall and an example."""
    if got == want:
        return ""
    extra, missing = got - want, want - got
    p = (len(got) - len(extra)) / len(got) if got else 0.0
    r = (len(want) - len(missing)) / len(want) if want else 0.0
    ex = next(iter(missing or extra))
    return (f"P={p:.6f} R={r:.6f} extra={len(extra)} "
            f"missing={len(missing)} e.g. {ex!r}")


# --------------------------------------------------------------------------
# DuckDB side: the snapshot table's parquet files, read independently
# --------------------------------------------------------------------------


def duck(tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=2")
    return con


def table_sql(root: str) -> str:
    """Every committed row of a snapshot table. Only committed snapshot
    directories exist between operations (writes go to sibling temp
    directories and are renamed in), so a glob is the committed view."""
    return (f"read_parquet('{root}/data/snapshot=*/bucket=*/*.parquet', "
            "hive_partitioning = true)")


def load_table(con, root: str, name: str) -> str:
    """Read a snapshot table's files once into DuckDB table ``name``."""
    con.execute(f"CREATE TABLE {name} AS SELECT * FROM {table_sql(root)}")
    return name


def table_triples(con, src: str, urls: set | None = None) -> set[tuple]:
    rows = con.execute(
        f"SELECT DISTINCT subj, pred, obj, prov, url FROM {src}"
    ).fetchall()
    return {r[:4] for r in rows if urls is None or r[4] in urls}


def table_fingerprint(con, src: str) -> tuple[int, int]:
    """(row count, order-independent hash sum) over the data columns."""
    n, h = con.execute(
        "SELECT count(*), sum(hash(subj, pred, obj, prov, entity_type, "
        "property_value_type, ontology_source, start_char, end_char, url)"
        f"::HUGEINT) FROM {src}"
    ).fetchone()
    return int(n), int(h or 0)


# --------------------------------------------------------------------------
# the SPARQL mix and its DuckDB twins
# --------------------------------------------------------------------------

_T = "t AS (SELECT DISTINCT subj, pred, obj FROM {src})"

#: name → (SPARQL, DuckDB SQL over the same files). Pattern matching is
#: set semantics over (subj, pred, obj) — provenance rows collapse — so
#: every twin reads the DISTINCT triple set.
QUERIES: dict[str, tuple[str, str]] = {
    # BGP join anchored on a constant type
    "bgp_type_join": (
        'SELECT DISTINCT ?s ?o WHERE { ?s <has_type> "CHEMICAL" . '
        f"?s <{DIFF}> ?o . ?o <has_type> \"PROTEIN\" . }}",
        f"WITH {_T} SELECT DISTINCT a.subj, b.obj FROM t a "
        "JOIN t b ON a.subj = b.subj JOIN t c ON c.subj = b.obj "
        "WHERE a.pred = 'has_type' AND a.obj = 'CHEMICAL' "
        f"AND b.pred = '{DIFF}' AND c.pred = 'has_type' "
        "AND c.obj = 'PROTEIN'",
    ),
    # GROUP BY with COUNT
    "group_count": (
        f"SELECT ?s (COUNT(?o) AS ?n) WHERE {{ ?s <{DIFF}> ?o . }} "
        "GROUP BY ?s",
        f"WITH {_T} SELECT subj, count(*) FROM t "
        f"WHERE pred = '{DIFF}' GROUP BY subj",
    ),
    # FILTER NOT EXISTS
    "not_exists": (
        'SELECT DISTINCT ?s WHERE { ?s <has_type> "CHEMICAL" . '
        f"FILTER NOT EXISTS {{ ?s <{SAME}> ?x . }} }}",
        f"WITH {_T} SELECT DISTINCT subj FROM t "
        "WHERE pred = 'has_type' AND obj = 'CHEMICAL' AND subj NOT IN "
        f"(SELECT subj FROM t WHERE pred = '{SAME}')",
    ),
    # ASK
    "ask": (
        f"ASK {{ <C:INSULIN> <{SAME}> ?o . ?o <has_type> \"DISEASE\" . }}",
        f"WITH {_T} SELECT count(*) > 0 FROM t a JOIN t b ON a.obj = b.subj "
        f"WHERE a.subj = 'C:INSULIN' AND a.pred = '{SAME}' "
        "AND b.pred = 'has_type' AND b.obj = 'DISEASE'",
    ),
    # bounded property path (p|^p){1,2}
    "path_1_2": (
        f"SELECT DISTINCT ?o WHERE {{ <C:ASPIRIN> (<{SAME}>|^<{SAME}>)"
        "{1,2} ?o . }",
        f"WITH {_T}, e AS (SELECT subj AS a, obj AS b FROM t "
        f"WHERE pred = '{SAME}' UNION SELECT obj, subj FROM t "
        f"WHERE pred = '{SAME}'), "
        "h1 AS (SELECT b FROM e WHERE a = 'C:ASPIRIN'), "
        "h2 AS (SELECT e.b FROM h1 JOIN e ON e.a = h1.b) "
        "SELECT b FROM h1 UNION SELECT b FROM h2",
    ),
}


def result_value(result) -> object:
    """Normalize an engine result: bool for ASK, else a set of tuples."""
    if isinstance(result, bool):
        return result
    return {tuple(r) for r in result}


def oracle_value(con, name: str, src: str) -> object:
    sql = QUERIES[name][1].format(src=src)
    rows = con.execute(sql).fetchall()
    if name == "ask":
        return bool(rows[0][0])
    return {tuple(r) for r in rows}
