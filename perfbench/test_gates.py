"""Negative self-test of the benchmark's correctness gates.

A corrupted result must be counted in ``ops_failed_frac``, never pass.
The test writes a snapshot table's parquet files directly from generator
ground truth (no Spark), runs the benchmark's own ``check`` over it, and
then corrupts it: one triple dropped from the table, one query row
altered, one operation raising. Run with

    python3 -m pytest perfbench/test_gates.py -q
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.gates import (
    QUERIES,
    Ledger,
    duck,
    expected_triples,
    oracle_value,
    table_sql,
)
from perfbench.inputs import write_corpus
from perfbench.run import check
from perfbench.workloads import (
    DEFAULT_PAGES,
    BASE_DOC_OFFSET,
    WORKLOADS,
    QuerySample,
)

SEED = 424242


def _write_table(root: str, docs, drop: int = 0, start_char: int = 0) -> None:
    """One snapshot holding the expected triples of ``docs`` (rule path),
    minus ``drop`` of them."""
    url_of = {hashlib.md5(row["url"].encode()).hexdigest(): row["url"]
              for row, _ in docs}
    rows = sorted(expected_triples(docs, learned=False))[drop:]
    cols = {k: [] for k in ("subj", "pred", "obj", "prov", "entity_type",
                            "property_value_type", "ontology_source",
                            "start_char", "end_char", "url")}
    for subj, pred, obj, prov in rows:
        for k, v in (("subj", subj), ("pred", pred), ("obj", obj),
                     ("prov", prov), ("entity_type", "X"),
                     ("property_value_type", None), ("ontology_source", "S"),
                     ("start_char", start_char), ("end_char", 1),
                     ("url", url_of[prov.split(":")[0]])):
            cols[k].append(v)
    path = f"{root}/data/snapshot=1/bucket=0"
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols, schema=pa.schema([
        ("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()),
        ("prov", pa.string()), ("entity_type", pa.string()),
        ("property_value_type", pa.string()),
        ("ontology_source", pa.string()), ("start_char", pa.int32()),
        ("end_char", pa.int32()), ("url", pa.string()),
    ]))
    pq.write_table(table, f"{path}/part-0.parquet")


def _run(tmp_path, drop: int = 0, start_char: int = 0) -> dict:
    work = str(tmp_path)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    base = write_corpus(f"{work}/in/base", SEED + 1,
                        list(range(BASE_DOC_OFFSET, BASE_DOC_OFFSET + 5)),
                        **DEFAULT_PAGES)
    batch = write_corpus(f"{work}/in/batch", SEED, list(range(40)),
                         **DEFAULT_PAGES)
    root = f"{work}/table"
    _write_table(root, base.docs + batch.docs, drop=drop,
                 start_char=start_char)
    ledger = Ledger()
    ledger.begin("append-1", "append")
    con = duck(f"{work}/tmp")
    samples = []
    for name in QUERIES:
        op = ledger.begin(f"query-{len(samples) + 1}", "query")
        samples.append(QuerySample(op, "after_append", name, 0.1,
                                   oracle_value(con, name, table_sql(root))))
    con.close()
    return {"w": WORKLOADS["ingest_query"], "seed": SEED,
            "ledger": ledger, "work": work, "base": base, "batch": batch,
            "main_root": root, "phase_files": {"after_append": root},
            "samples": samples, "trace": False}


def test_clean_result_passes(tmp_path):
    r = _run(tmp_path)
    check(r, store=f"{tmp_path}/fp.json")
    assert r["ledger"].failures == {}
    assert r["ledger"].failed_frac == 0.0


def test_dropped_triple_is_counted(tmp_path):
    r = _run(tmp_path, drop=1)
    check(r, store=f"{tmp_path}/fp.json")
    ledger = r["ledger"]
    assert "append-1" in ledger.failures
    assert ledger.failed_frac > 0


def test_altered_query_row_is_counted(tmp_path):
    r = _run(tmp_path)
    victim = next(s for s in r["samples"]
                  if not isinstance(s.value, bool) and s.value)
    row = next(iter(victim.value))
    victim.value = (victim.value - {row}) | {(*row[:-1], "corrupted")}
    check(r, store=f"{tmp_path}/fp.json")
    assert list(r["ledger"].failures) == [victim.op_id]
    assert r["ledger"].failed == 1


def test_changed_fingerprint_across_runs_is_counted(tmp_path):
    store = f"{tmp_path}/fp.json"
    check(_run(tmp_path / "a"), store=store)
    # same workload, seed and triple set; another column differs
    r = _run(tmp_path / "b", start_char=7)
    check(r, store=store)
    assert list(r["ledger"].failures) == ["append-1"]


def test_exception_is_counted():
    ledger = Ledger()

    def boom():
        raise RuntimeError("executor lost")

    assert ledger.run("append-1", "append", boom) is None
    assert ledger.attempted == 1 and ledger.failed == 1
    with pytest.raises(ValueError):
        ledger.begin("append-1", "append")
