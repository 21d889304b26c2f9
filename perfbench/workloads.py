"""The benchmark's workloads and the operation sequence each one runs.

Both workloads have the same shape, so every end-to-end metric is
measured on each of them:

    set-up   get_spark, then the table the batch goes into: none (a fresh
             table) or a copy of the workload's base table, which is built
             once per checkout (``base_table.py``)
    append   the workload's batch
    queries  a closed loop with one client over SnapshotTable.load():
             the SPARQL mix, round after round, until --seconds is spent
             (at least one full round)

They differ in what the append is: ``build_model`` builds new pages with
``run_to_snapshot`` (the first build of the process, as in a one-batch
spark-submit job); ``ingest_query`` writes pages the program already
processed (its pool, built once per checkout) with
``SnapshotTable.append``, the snapshot layer's write path.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

from search_spark.io.snapshots import SnapshotTable
from search_spark.operators.sparql import sparql_query
from search_spark.pipeline import PipelineConfig, run_to_snapshot

from perfbench.gates import QUERIES

#: page ids of the base table and of the pool start here, far above any
#: batch page id, so no two of them share a url
BASE_DOC_OFFSET = 1_000_000
POOL_DOC_OFFSET = 2_000_000
#: the base table and the pool are the same for every --seed
BASE_SEED = 7919

REALISTIC_PAGES = {"n_para_range": (8, 12), "n_sent_range": (2, 4)}
DEFAULT_PAGES = {"n_para_range": (2, 4), "n_sent_range": (1, 3)}


@dataclass(frozen=True)
class Workload:
    """One workload; README.md and BENCHMARK.json say why it exists."""

    name: str
    learned: bool
    page_sizes: dict
    #: pages in the batch
    n_pages: int
    #: default-size pages already in the table the batch is appended to
    #: (its first snapshot, built with the workload's config); 0 = the
    #: batch goes into a fresh table
    base_pages: int
    #: 0: the batch is new pages (from --seed) built with run_to_snapshot;
    #: else the batch is pages of a pool of this many default-size pages
    #: the program processed once per checkout (chosen by --seed), whose
    #: rows are written with SnapshotTable.append
    pool_pages: int
    #: the SPARQL mix of one query round (names in gates.QUERIES)
    queries: tuple[str, ...]

    def config(self) -> PipelineConfig:
        if self.learned:
            return PipelineConfig(ner_scoring=True, learned_models=True)
        return PipelineConfig()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="build_model",
            learned=True,
            page_sizes=REALISTIC_PAGES,
            n_pages=50,
            base_pages=0,
            pool_pages=0,
            # the build is this workload's subject: a join and a path over
            # the new table keep the query round short
            queries=("bgp_type_join", "path_1_2"),
        ),
        Workload(
            name="ingest_query",
            learned=False,
            page_sizes=DEFAULT_PAGES,
            n_pages=100,
            base_pages=100,
            pool_pages=200,
            queries=tuple(QUERIES),
        ),
    )
}


def base_ids(w: Workload) -> list[int]:
    return list(range(BASE_DOC_OFFSET, BASE_DOC_OFFSET + w.base_pages))


def pool_ids(w: Workload) -> list[int]:
    return list(range(POOL_DOC_OFFSET, POOL_DOC_OFFSET + w.pool_pages))


def batch_ids(w: Workload, seed: int) -> list[int]:
    """Page ids of the batch: new pages 0.. of corpus ``seed``, or pool
    pages drawn with ``seed``."""
    if not w.pool_pages:
        return list(range(w.n_pages))
    return sorted(random.Random(seed).sample(pool_ids(w), w.n_pages))


@dataclass
class QuerySample:
    op_id: str
    phase: str
    name: str
    seconds: float
    value: object  # bool for ASK, else set of row tuples


def issue_query(table: SnapshotTable, name: str, tracer=None,
                op_id: str = "") -> tuple[object, float]:
    """One closed-loop request: load the table, run the query, collect
    every row. Returns (normalized result, seconds)."""
    text = QUERIES[name][0]
    t0 = time.perf_counter()
    if tracer is None:
        result = sparql_query(table.load(), text)
        if not isinstance(result, bool):
            result = result.collect()
    else:
        with tracer.span(op_id, "snapshot.load", "snapshot"):
            df = table.load()
        with tracer.span(op_id, "sparql.compile", "sparql", query=name):
            result = sparql_query(df, text)
        with tracer.span(op_id, "sparql.exec", "sparql", query=name):
            if not isinstance(result, bool):
                result = result.collect()
    seconds = time.perf_counter() - t0
    if isinstance(result, bool):
        return result, seconds
    return {tuple(r) for r in result}, seconds


def query_phase(ledger, table: SnapshotTable, names: tuple[str, ...],
                phase: str, budget_s: float, samples: list,
                tracer=None) -> None:
    """Issue the mix ``names`` round after round until ``budget_s`` has
    passed and at least one full round is done."""
    t0 = time.perf_counter()
    i = 0
    while i < len(names) or time.perf_counter() - t0 < budget_s:
        name = names[i % len(names)]
        op_id = ledger.begin(f"query-{len(samples) + 1}", "query")
        try:
            value, seconds = issue_query(table, name, tracer, op_id)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            ledger.fail(op_id, repr(e))
            value, seconds = None, None
        samples.append(QuerySample(op_id, phase, name, seconds, value))
        i += 1


def timed_append(spark, pages_path: str, root: str, cfg: PipelineConfig):
    """run_to_snapshot of one batch; returns (rows written, wall seconds)."""
    pages = spark.read.parquet(pages_path)
    t0 = time.perf_counter()
    m = run_to_snapshot(spark, pages, root, cfg)
    return m["n_triples"], time.perf_counter() - t0


def timed_pool_append(spark, pool_root: str, root: str, urls: list[str]):
    """SnapshotTable.append of the pool's rows for ``urls``, marking the
    urls processed; returns (rows written, wall seconds)."""
    from pyspark.sql import functions as F

    keys = spark.createDataFrame([(u,) for u in urls], "url string")
    t0 = time.perf_counter()
    pool = spark.read.parquet(f"{pool_root}/data")
    cols = [c for c in pool.columns if c not in ("snapshot", "bucket")]
    rows = pool.filter(F.col("url").isin(urls)).select(*cols)
    info = SnapshotTable(spark, root).append(rows, processed_keys=keys)
    return info.n_rows, time.perf_counter() - t0
