"""A workload's base table and pool, made once per checkout.

    python3 -m perfbench.base_table ingest_query      # from the repo root

The base table (the snapshot table the workload's batch is appended
to) and the pool (pages the program processed, whose rows a batch
writes) do not depend on ``--seed``, so they are built once per checkout:
by the program under test (``run_to_snapshot`` with the workload's
configuration), in a process of its own so that its cold start stays out
of every measured run, checked against generator ground truth, and only
then renamed into ``perfbench/_work/base/``. ``run.py`` builds them when
they are missing, copies the base table into every run's scratch
directory and reads the pool in place.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

from perfbench.run import ROOT, WORK


def base_path(w) -> str:
    return f"{WORK}/base/{w.name}-{w.base_pages}-{w.pool_pages}"


def ensure(w) -> str:
    """The directory holding ``table/`` (the base table) and ``pool/`` of
    ``w``, built first if missing."""
    dest = base_path(w)
    if not os.path.isdir(dest):
        subprocess.run([sys.executable, "-m", "perfbench.base_table", w.name],
                       cwd=ROOT, check=True, timeout=600, stdout=sys.stderr)
    return dest


def build(name: str) -> None:
    from search_spark.pipeline import run_to_snapshot
    from search_spark.session import get_spark

    from perfbench.gates import duck, expected_triples, set_gap, \
        table_sql, table_triples
    from perfbench.inputs import write_corpus
    from perfbench.run import MASTER, _environment, _spark_conf, _stop_spark
    from perfbench.workloads import BASE_SEED, DEFAULT_PAGES, WORKLOADS, \
        base_ids, pool_ids

    w = WORKLOADS[name]
    work = f"{WORK}/base/.build-{name}-{os.getpid()}"
    _environment(work)
    parts = {"table": base_ids(w), "pool": pool_ids(w)}
    corpora = {part: write_corpus(f"{work}/in/{part}", BASE_SEED, ids,
                                  **DEFAULT_PAGES)
               for part, ids in parts.items() if ids}
    spark = get_spark("perfbench-base", master=MASTER,
                      extra_conf=_spark_conf(work, False))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for part, corpus in corpora.items():
            run_to_snapshot(spark, spark.read.parquet(corpus.path),
                            f"{work}/out/{part}", w.config())
    finally:
        _stop_spark(spark)
    con = duck(f"{work}/tmp")
    for part, corpus in corpora.items():
        gap = set_gap(table_triples(con, table_sql(f"{work}/out/{part}")),
                      expected_triples(corpus.docs, w.learned))
        if gap:
            raise SystemExit(f"{part} of {name} is wrong: {gap}")
    con.close()
    os.rename(f"{work}/out", base_path(w))
    shutil.rmtree(work)


if __name__ == "__main__":
    build(sys.argv[1])
