#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build_model --seed 1 --seconds 2 --trace 0

Run from anywhere; the program measured is the ``search_spark`` package
next to this directory. Inputs are generated from ``--seed`` before
anything is timed. ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` is a separate run that records spans and per-layer Spark
task statistics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines above it are
a readable summary with sample counts. Scratch data lives under
``perfbench/_work/`` (kept: ``base/``, ``traces/`` and
``fingerprints.json``).
Exit code 2 without a result means the program could not be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
FINGERPRINTS = os.path.join(WORK, "fingerprints.json")
MASTER = "local[4]"
CORES = "4"
DRIVER_HEAP = "2g"

#: (name, unit) of the end-to-end metrics, printed by --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("docs_per_s", "docs/s"),
    ("triples_per_s", "triples/s"),
    ("append_s_p50", "s"),
    ("query_s_p50", "s"),
    ("query_s_p95", "s"),
    ("peak_rss_mb", "MiB"),
]

#: layers whose Spark jobs are tagged and summarized from the event log
TASK_LAYERS = ["pipeline", "extract", "segment", "ner", "relations", "link",
               "canonicalize", "materialize", "snapshot", "sparql"]

#: (name, unit) of the per-layer metrics, printed by --trace 1
PER_LAYER = [
    ("session.start_s", "s"),
    ("pipeline.build_s", "s"),
    ("extract.s", "s"),
    ("extract.paragraphs", "count"),
    ("extract.docs_dropped", "count"),
    ("segment.s", "s"),
    ("segment.sentences", "count"),
    ("segment.bad_frac", "ratio"),
    ("ner.s", "s"),
    ("ner.mentions", "count"),
    ("ner.sentences_per_s", "1/s"),
    ("relations.s", "s"),
    ("relations.pairs", "count"),
    ("relations.kept_frac", "ratio"),
    ("link.s", "s"),
    ("link.forms", "count"),
    ("link.linked_frac", "ratio"),
    ("link.jobs", "count"),
    ("canonicalize.s", "s"),
    ("canonicalize.edges", "count"),
    ("canonicalize.jobs", "count"),
    ("materialize.s", "s"),
    ("materialize.triples", "count"),
    ("materialize.mapping_broadcast", "flag"),
    ("snapshot.append_s", "s"),
    ("snapshot.files", "count"),
    ("snapshot.mb_written", "MiB"),
    ("snapshot.resume_s", "s"),
    ("snapshot.load_s", "s"),
    ("snapshot.compact_s", "s"),
    ("sparql.compile_s", "s"),
    ("sparql.exec_s", "s"),
    ("sparql.rows", "count"),
    ("sparql.jobs", "count"),
    ("pipeline.jobs", "count"),
    *[
        (f"{layer}.{stat}", unit)
        for layer in TASK_LAYERS
        for stat, unit in (("tasks", "count"), ("shuffle_mb", "MiB"),
                           ("spill_mb", "MiB"), ("task_skew", "ratio"))
    ],
    ("trace.fingerprint_match", "flag"),
    ("datagen.s", "s"),
]


def _log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _program_present() -> str | None:
    """None when ``search_spark`` imports from this checkout, else why not."""
    try:
        import search_spark
    except ImportError as e:
        return f"search_spark is not importable: {e}"
    where = os.path.abspath(os.path.dirname(search_spark.__file__))
    if os.path.dirname(where) != ROOT:
        return f"search_spark resolved outside this checkout: {where}"
    return None


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    make the checkout importable by the Python workers."""
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # every JVM spark-submit starts (its launcher too) keeps perf data and
    # temp files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.shuffle.partitions": CORES,
        # a fixed, pre-touched heap: the JVM's resident size is the same
        # in every run instead of following GC heap resizing (which swung
        # peak_rss_mb between 3.5 and 6.5 GiB run to run), so peak_rss_mb
        # moves with what lives outside the heap: Python workers, off-heap
        # buffers, metaspace
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": f"{work}/spark-local",
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and everything under it."""
    from pyspark import SparkContext

    from perfbench.procstats import wait_for_descendants

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate, then wait again
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in wait_for_descendants(timeout_s=30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:  # exited since it was listed
            pass
    alive = wait_for_descendants(timeout_s=10)
    if alive:
        raise RuntimeError(f"child processes still alive: {alive}")


def _data_files(root: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(f"{root}/data"):
        out += [os.path.join(dirpath, f) for f in files
                if f.endswith(".parquet")]
    return out


def _freeze(root: str, dest: str) -> str:
    """Copy a table's committed data files (the state a query phase read)
    so its gates can run after the session has ended."""
    shutil.copytree(f"{root}/data", f"{dest}/data")
    return dest


def _store_key(w, seed: int) -> str:
    return (f"{w.name}:seed={seed}:pages={w.n_pages}:"
            f"base={w.base_pages}:pool={w.pool_pages}")


def _store_read(store: str) -> dict:
    if not os.path.exists(store):
        return {}
    with open(store) as f:
        return json.load(f)


def _spark_fingerprint(spark, path: str) -> tuple[int, int]:
    """(rows, order-independent hash sum) of one snapshot's data; the sum
    is decimal(38,0) because a long sum overflows under ANSI mode."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = [c for c in df.columns if c not in ("bucket", "snapshot")]
    n, h = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*sorted(cols)).cast("decimal(38,0)")),
    ).first()
    return int(n), int(h or 0)


def run(args) -> dict:
    from perfbench.base_table import ensure
    from perfbench.gates import Ledger
    from perfbench.inputs import make_corpus, write_corpus
    from perfbench.procstats import PeakRss
    from perfbench.tracing import Tracer
    from perfbench.workloads import (
        BASE_SEED,
        DEFAULT_PAGES,
        WORKLOADS,
        base_ids,
        batch_ids,
        query_phase,
        timed_append,
        timed_pool_append,
    )

    w = WORKLOADS[args.workload]
    trace = bool(args.trace)
    work = f"{WORK}/{w.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    _environment(work)
    ledger = Ledger()
    cfg = w.config()

    # ---- load generation (before any timing) ---------------------------
    t = time.perf_counter()
    if w.pool_pages:
        # pool pages: their ground truth, for the gates
        batch = make_corpus(BASE_SEED, batch_ids(w, args.seed),
                            **DEFAULT_PAGES)[0]
    else:
        batch = write_corpus(f"{work}/in/batch", args.seed,
                             batch_ids(w, args.seed), **w.page_sizes)
    base = (make_corpus(BASE_SEED, base_ids(w), **DEFAULT_PAGES)[0]
            if w.base_pages else None)
    datagen_s = time.perf_counter() - t
    _log(f"inputs generated in {datagen_s:.2f}s")
    # every workload's base table and pool are built by the first run in
    # a checkout, whichever workload it runs: later runs stay short
    made = {o.name: ensure(o) for o in WORKLOADS.values()
            if o.base_pages or o.pool_pages}.get(w.name)

    main_root = f"{work}/table"
    ref_root = f"{work}/ref_table"
    samples: list = []
    phase_files: dict[str, str] = {}
    r: dict = {"w": w, "seed": args.seed, "base": base, "batch": batch,
               "work": work, "datagen_s": datagen_s, "ledger": ledger,
               "samples": samples, "main_root": main_root,
               "phase_files": phase_files, "trace": trace}

    from search_spark.io.snapshots import SnapshotTable
    from search_spark.session import get_spark

    def append(op_id, root):
        """(rows written, wall seconds) of the batch's append, or None."""
        if w.pool_pages:
            return ledger.run(op_id, "append", timed_pool_append, spark,
                              f"{made}/pool", root, batch.urls)
        return ledger.run(op_id, "append", timed_append, spark,
                          batch.path, root, cfg)

    with PeakRss() as rss:
        # ---- set-up: fresh session + the table the batch goes into ---------
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=MASTER,
                          extra_conf=_spark_conf(work, trace))
        spark.sparkContext.setLogLevel("ERROR")
        r["session_start_s"] = time.perf_counter() - t0
        if w.base_pages:
            shutil.copytree(f"{made}/table", main_root)
        r["setup_s"] = time.perf_counter() - t0
        _log(f"set-up done in {r['setup_s']:.2f}s")

        table = SnapshotTable(spark, main_root)
        if not trace:
            r["appended"] = append("append-1", main_root)
            _log("append done")
            query_phase(ledger, table, w.queries, "after_append",
                        args.seconds, samples)
            _log("query phase done")
        else:
            tracer = r["tracer"] = Tracer(spark)
            r["counts"] = {}
            if w.pool_pages:
                # the append is the program's own call: a span around it
                with tracer.span("append-1", "snapshot.append", "snapshot"):
                    append("append-1", main_root)
                r["untraced_build_s"] = 0.0
            else:
                # the untraced program first, into a twin of the table:
                # its jobs are what pipeline.* report, and its output is
                # what the traced build must fingerprint-match
                if w.base_pages:
                    shutil.copytree(f"{made}/table", ref_root)
                with tracer.span("append-ref", "build", "pipeline"):
                    out = append("append-ref", ref_root)
                r["untraced_build_s"] = out[1] if out else None
                pages = spark.read.parquet(batch.path)
                with tracer.span("append-1", "build", "traced"):
                    from perfbench.traced_build import traced_run_to_snapshot

                    counts = ledger.run(
                        "append-1", "append", traced_run_to_snapshot, spark,
                        tracer, "append-1", pages, main_root, cfg)
                r["counts"] = counts or {}
            files = _data_files(main_root)
            r["snapshot_files"] = len(files)
            last = (table.snapshots() or [0])[-1]
            snap_dir = f"{main_root}/data/snapshot={last}"
            r["mb_written"] = sum(
                os.path.getsize(f) for f in files
                if f.startswith(snap_dir + "/")) / 2**20
            query_phase(ledger, table, w.queries, "after_append",
                        args.seconds, samples, tracer)
            # compaction is traced only: it reports snapshot.compact_s
            phase_files["after_append"] = _freeze(
                main_root, f"{work}/frozen/after_append")
            with tracer.span("compact-1", "snapshot.compact", "snapshot"):
                ledger.run("compact-1", "compact", table.compact)
            if r["counts"] and r["untraced_build_s"] is not None:
                with tracer.span("check", "fingerprint", "check"):
                    r["fp_traced"] = _spark_fingerprint(spark, snap_dir)
                    r["fp_ref"] = _spark_fingerprint(
                        spark, snap_dir.replace(main_root, ref_root, 1))
        _log("measured operations done")
        _stop_spark(spark)
        _log("spark stopped")
    r["peak_rss_mb"] = rss.peak_mib
    if trace:
        from perfbench.tracing import layer_tasks

        r["layer_tasks"] = layer_tasks(f"{work}/eventlog")
    return r


def check(r: dict, store: str | None = None) -> dict:
    """Every correctness gate; returns details for the report. Table
    fingerprints persist across runs in ``store``."""
    from perfbench.gates import (
        duck,
        expected_triples,
        load_table,
        oracle_value,
        set_gap,
        table_fingerprint,
        table_triples,
    )

    w, ledger, work = r["w"], r["ledger"], r["work"]
    con = duck(f"{work}/tmp")
    learned = w.learned
    info: dict = {}
    tables: dict[str, str] = {}

    def src(root):
        if root not in tables:
            tables[root] = load_table(con, root, f"t{len(tables)}")
        return tables[root]

    def passed(op_id):
        return op_id in ledger.kinds and op_id not in ledger.failures

    def gate_table(op_id, root, corpus):
        got = table_triples(con, src(root), set(corpus.urls))
        gap = set_gap(got, expected_triples(corpus.docs, learned))
        ledger.gate(op_id, not gap, f"{op_id} triples vs ground truth {gap}")

    # the batch's rows equal its pages' ground truth, and the append
    # leaves the base table's rows as they were
    if passed("append-1"):
        gate_table("append-1", r["main_root"], r["batch"])
    if r["base"] is not None and passed("append-1"):
        gate_table("append-1", r["main_root"], r["base"])
    if passed("append-ref"):
        gate_table("append-ref", f"{work}/ref_table", r["batch"])

    # compaction changes layout only: the table before == the table after
    if passed("compact-1"):
        before = table_fingerprint(con, src(r["phase_files"]["after_append"]))
        after = table_fingerprint(con, src(r["main_root"]))
        ledger.gate("compact-1", before == after,
                    f"compaction changed content {before} != {after}")

    # every query result vs DuckDB over the files that phase read
    oracle_cache: dict = {}
    for s in r["samples"]:
        if s.op_id in ledger.failures:
            continue
        root = r["phase_files"].get(s.phase, r["main_root"])
        key = (root, s.name)
        if key not in oracle_cache:
            oracle_cache[key] = oracle_value(con, s.name, src(root))
        want = oracle_cache[key]
        ledger.gate(s.op_id, s.value == want,
                    f"{s.name} ({s.phase}) differs from DuckDB: got "
                    f"{_brief(s.value)} want {_brief(want)}")
    info["query_rows"] = {
        name: (v if isinstance(v, bool) else len(v))
        for (_, name), v in oracle_cache.items()
    }

    # full-table fingerprint: identical for the same workload and seed in
    # every run, traced or not (kept across runs in _work/fingerprints.json)
    if passed("append-1"):
        store = store or FINGERPRINTS
        fp = list(table_fingerprint(con, src(r["main_root"])))
        info["fingerprint"] = fp
        seen = _store_read(store)
        key = _store_key(w, r["seed"])
        entry = seen.get(key)
        # no record yet: no mismatch either
        info["fingerprint_match"] = entry is None or entry["fingerprint"] == fp
        if entry is None:
            seen[key] = {"fingerprint": fp}
            with open(store, "w") as f:
                json.dump(seen, f, indent=1, sort_keys=True)
        ledger.gate("append-1", info["fingerprint_match"],
                    f"fingerprint {fp} != earlier run's "
                    f"{entry and entry['fingerprint']}")
    if r["trace"] and "fp_traced" in r:
        info["fingerprint_match"] = r["fp_traced"] == r["fp_ref"]
        ledger.gate("append-1", info["fingerprint_match"],
                    f"traced fingerprint {r['fp_traced']} != untraced "
                    f"{r['fp_ref']}")
    con.close()
    return info


def _brief(v) -> str:
    if isinstance(v, (set, list)):
        return f"{len(v)} rows {sorted(v)[:3]!r}"
    return repr(v)


def end_to_end(r: dict) -> dict:
    lat = [s.seconds for s in r["samples"] if s.seconds is not None]
    rows, wall = r["appended"] or (None, None)
    n = int(wall is not None)
    m = {
        "setup_s": (r["setup_s"], "s", 1),
        "docs_per_s": (r["batch"].n_pages / wall if n else None, "docs/s",
                       n),
        "triples_per_s": (rows / wall if n else None, "triples/s", n),
        # one append per run: its wall
        "append_s_p50": (wall, "s", n),
        "query_s_p50": (statistics.median(lat) if lat else None, "s",
                        len(lat)),
        # linear interpolation between order statistics
        "query_s_p95": (statistics.quantiles(lat, n=20, method="inclusive")
                        [-1] if len(lat) > 1 else None, "s", len(lat)),
        "peak_rss_mb": (r["peak_rss_mb"], "MiB", 1),
    }
    return m


def per_layer(r: dict, info: dict) -> dict:
    tr, c = r["tracer"], r["counts"]
    lt = r["layer_tasks"]

    def span(name):
        return tr.total(name)

    def med(name):
        xs = tr.durations(name)
        return statistics.median(xs) if xs else None

    def ratio(a, b):
        return a / b if b else 0.0

    sentences_in = c.get("sentences", 0) - c.get("bad_sentences", 0)
    n_queries = len(tr.durations("sparql.exec"))
    rows = sum(
        (1 if isinstance(s.value, bool) else len(s.value))
        for s in r["samples"] if s.value is not None
    )
    v = {
        "session.start_s": r["session_start_s"],
        "pipeline.build_s": r["untraced_build_s"],
        "extract.s": span("extract"),
        "extract.paragraphs": c.get("paragraphs", 0),
        "extract.docs_dropped": c.get("docs", 0)
        - c.get("docs_with_paragraphs", 0),
        "segment.s": span("segment"),
        "segment.sentences": c.get("sentences", 0),
        "segment.bad_frac": ratio(c.get("bad_sentences", 0),
                                  c.get("sentences", 0)),
        "ner.s": span("ner"),
        "ner.mentions": c.get("mentions", 0),
        "ner.sentences_per_s": ratio(sentences_in, span("ner")),
        "relations.s": span("relations"),
        "relations.pairs": c.get("candidate_pairs", 0),
        "relations.kept_frac": ratio(c.get("relation_rows", 0),
                                     c.get("candidate_pairs", 0)),
        "link.s": span("link"),
        "link.forms": c.get("forms", 0),
        "link.linked_frac": ratio(c.get("linked_mentions", 0),
                                  c.get("mentions", 0)),
        "link.jobs": lt.get("link").jobs if "link" in lt else 0,
        "canonicalize.s": span("canonicalize"),
        "canonicalize.edges": c.get("form_edges", 0),
        "canonicalize.jobs": (lt["canonicalize"].jobs
                              if "canonicalize" in lt else 0),
        "materialize.s": span("materialize"),
        "materialize.triples": c.get("triples", 0),
        "materialize.mapping_broadcast": c.get("mapping_broadcast", 0),
        "snapshot.append_s": span("snapshot.append"),
        "snapshot.files": r.get("snapshot_files"),
        "snapshot.mb_written": r.get("mb_written"),
        "snapshot.resume_s": span("snapshot.resume"),
        "snapshot.load_s": med("snapshot.load"),
        "snapshot.compact_s": span("snapshot.compact"),
        "sparql.compile_s": med("sparql.compile"),
        "sparql.exec_s": med("sparql.exec"),
        "sparql.rows": rows,
        "sparql.jobs": ratio(lt["sparql"].jobs if "sparql" in lt else 0,
                             n_queries),
        "pipeline.jobs": lt["pipeline"].jobs if "pipeline" in lt else 0,
        "trace.fingerprint_match": int(bool(info.get("fingerprint_match"))),
        "datagen.s": r["datagen_s"],
    }
    for layer in TASK_LAYERS:
        t = lt.get(layer)
        v[f"{layer}.tasks"] = t.tasks if t else 0
        v[f"{layer}.shuffle_mb"] = t.shuffle_bytes / 2**20 if t else 0.0
        v[f"{layer}.spill_mb"] = t.spill_bytes / 2**20 if t else 0.0
        v[f"{layer}.task_skew"] = t.skew if t else 1.0
    units = dict(PER_LAYER)
    return {k: (v[k], units[k], None) for k, _ in PER_LAYER}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    why_not = _program_present()
    if why_not:
        print(f"perfbench: {why_not}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    r = run(args)
    info = check(r)
    _log("gates done")
    ledger = r["ledger"]
    metrics = per_layer(r, info) if r["trace"] else end_to_end(r)

    os.makedirs(f"{WORK}/traces", exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if r["trace"]:
        r["tracer"].dump(f"{WORK}/traces/{tag}.spans.json")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": MASTER, "datagen_s": r["datagen_s"],
        "attempted": ledger.attempted, "failed": ledger.failed,
        "ops_failed_frac": ledger.failed_frac, "failures": ledger.failures,
        "metrics": {k: {"value": v, "unit": u, "samples": n}
                    for k, (v, u, n) in metrics.items()},
        **info,
    }
    with open(f"{WORK}/traces/{tag}.report.json", "w") as f:
        json.dump(report, f, indent=1, default=str)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"{MASTER}  datagen {r['datagen_s']:.2f} s (not in any metric)")
    for k, (v, u, n) in metrics.items():
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"  {k:34s} {shown:>14s} {u:10s}"
              + (f" n={n}" if n is not None else ""))
    print(f"  {'ops_failed_frac':34s} {ledger.failed_frac:14.6g} ratio"
          f"      {ledger.failed}/{ledger.attempted}")
    for op, why in ledger.failures.items():
        print(f"  FAILED {op}: {why.strip().splitlines()[-1]}")

    missing = [k for k, (v, _, _) in metrics.items() if v is None]
    correct = ledger.failed == 0 and not missing
    shutil.rmtree(r["work"], ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": (v if v is not None else 0.0), "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
