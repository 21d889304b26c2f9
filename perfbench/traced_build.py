"""``run_to_snapshot`` re-wired from its public layer functions, with a
span and a materialization barrier at every layer boundary.

The call order and arguments follow ``pipeline.build_triples`` and
``pipeline.run_to_snapshot`` for the configurations the benchmark runs
(gazetteer NER, optional batched scoring and learned models, linking and
canonicalization on; no structured sources, no sameAs merge). Each
layer's output is persisted and counted inside its span, so a span's
duration is that layer's own work. The traced output must fingerprint
identically to the untraced ``run_to_snapshot`` — that equality catches
drift between this wiring and the pipeline's.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from search_spark import datagen
from search_spark.caching import register, release_intermediates
from search_spark.extraction.extract import extract_stage
from search_spark.io.snapshots import SnapshotTable
from search_spark.joins import broadcast_row_limit, maybe_broadcast
from search_spark.operators import linear_models as lm
from search_spark.operators.canonicalize import canonical_mapping
from search_spark.operators.linking import link_stage
from search_spark.operators.ner import ner_stage
from search_spark.operators.relations import relation_stage, remodel_scorer
from search_spark.operators.segment import segment_stage
from search_spark.operators.triples import specs_stage, triples_stage
from search_spark.pipeline import PipelineConfig

SENTENCE_KEY = ["url", "uid", "ppos", "spos"]


def _barrier(df):
    df = register(df.persist())
    return df, df.count()


def traced_run_to_snapshot(spark, tracer, op_id: str, pages, root: str,
                           cfg: PipelineConfig) -> dict:
    """Returns per-layer counts; timings live in ``tracer``'s spans."""
    if cfg.models is not None or cfg.structured_sources or \
            cfg.merge_sameas_preds or cfg.udf_partitions:
        raise ValueError("traced wiring covers the benchmark's configs only")
    c: dict = {}
    table = SnapshotTable(spark, root)
    with tracer.span(op_id, "snapshot.resume", "snapshot"):
        done = table.processed_urls()
        todo = pages if done is None else pages.join(
            done, on="url", how="left_anti")
        c["docs"] = todo.count()

    with tracer.span(op_id, "extract", "extract"):
        paragraphs = extract_stage(todo, english_only=cfg.english_only)
        if cfg.rebalance_after_extract:
            width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            paragraphs = paragraphs.repartition(width, F.col("url"))
        paragraphs, c["paragraphs"] = _barrier(paragraphs)

    with tracer.span(op_id, "segment", "segment"):
        sentences, c["sentences"] = _barrier(segment_stage(paragraphs))

    with tracer.span(op_id, "ner", "ner"):
        raw = ner_stage(sentences, cfg.patterns, with_scores=cfg.ner_scoring)
        if cfg.learned_models:
            w = lm.weights_row(spark, lm.NER_WEIGHTS_PARQUET, lm.NER_FEATURES)
            raw = lm.score_mentions_linear(
                raw.drop("score").join(
                    sentences.select(*SENTENCE_KEY, "text"), on=SENTENCE_KEY
                ),
                w,
                score_col="score",
            ).drop("text")
        mentions, c["mentions"] = _barrier(raw)

    with tracer.span(op_id, "relations", "relations"):
        scorer = None
        if cfg.re_models is not None or cfg.learned_models:
            scorer = remodel_scorer(
                cfg.re_models or lm.linear_re_registry(), sentences
            )
        relations, c["relation_rows"] = _barrier(relation_stage(
            mentions,
            datagen.relation_pairs_df(spark),
            max_per_sentence=cfg.max_mentions_per_sentence,
            scorer=scorer,
        ))

    with tracer.span(op_id, "link", "link"):
        concepts = datagen.concepts_df(spark, cfg.embedding_dim)
        linked, _ = _barrier(
            link_stage(mentions, concepts, dim=cfg.embedding_dim))
        # the link-score histogram run_to_snapshot asks build_triples for
        linked.filter(F.col("link_score").isNotNull()).groupBy(
            F.floor(F.col("link_score") * 10).cast("int").alias("b")
        ).agg(F.count(F.lit(1)).alias("n")).collect()

    with tracer.span(op_id, "canonicalize", "canonicalize"):
        mapping, n_mapping = _barrier(canonical_mapping(linked, concepts))
        c["mapping_rows"] = n_mapping

    with tracer.span(op_id, "materialize", "materialize"):
        specs = specs_stage(mentions, relations, datagen.mining_schema_df(spark))
        subj_map = maybe_broadcast(
            mapping.select(F.col("form").alias("_subj_form"),
                           F.col("canonical_id").alias("subj_canonical")),
            n_mapping,
        )
        obj_map = maybe_broadcast(
            mapping.select(F.col("form").alias("_obj_form"),
                           F.col("canonical_id").alias("obj_canonical")),
            n_mapping,
        )
        specs = (
            specs.withColumn("_subj_form", F.lower(F.col("entity")))
            .withColumn("_obj_form", F.lower(F.col("property_value")))
            .join(subj_map, on="_subj_form", how="left")
            .join(obj_map, on="_obj_form", how="left")
            .drop("_subj_form", "_obj_form")
        )
        triples, c["triples"] = _barrier(triples_stage(specs))
        c["mapping_broadcast"] = int(
            0 < n_mapping <= broadcast_row_limit(spark))

    with tracer.span(op_id, "snapshot.append", "snapshot"):
        info = table.append(triples, processed_keys=todo.select("url"))
    c["snapshot_id"] = info.snapshot_id
    c["written_rows"] = info.n_rows

    # untimed layer counts (after the spans: they add jobs of their own)
    with tracer.span(op_id, "counts", "counts"):
        c["bad_sentences"] = sentences.filter(F.col("is_bad")).count()
        c["english_docs"] = todo.filter(F.col("lang") == "en").count()
        c["docs_with_paragraphs"] = paragraphs.select("url").distinct().count()
        c["forms"] = mentions.select(F.lower("mention")).distinct().count()
        c["linked_mentions"] = linked.filter(
            F.col("concept_id").isNotNull()).count()
        c["form_edges"] = linked.filter(F.col("concept_id").isNotNull()).select(
            F.lower("mention"), "concept_id").distinct().count()
        per_sentence = mentions.groupBy(*SENTENCE_KEY).count().agg(
            F.sum(F.col("count") * (F.col("count") - 1))).first()[0]
        c["candidate_pairs"] = int(per_sentence or 0)
    release_intermediates()
    return c
