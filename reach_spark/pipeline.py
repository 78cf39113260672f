"""End-to-end pipeline driver: documents → mentions/entities/triples tables,
with per-partition metrics rows and checkpoint-based resume.

Mirrors the reference production path (ReachCLI batch driver,
src/main/scala/org/clulab/reach/ReachCLI.scala:43-153) restructured as the
Spark dataflow of SURVEY §3.1: the per-paper unit is the DataFrame row; the
only global barriers are (a) broadcast of KB/dictionaries, (b) the doc-level
shuffle before coref, (c) the CC iteration, (d) the final writes.

Resume (reference restart log, ReachCLI.scala:149-152 + application.conf
restart.*): a checkpoint table of finished doc_ids anti-joined against the
input. Deterministic mention/event ids mean a killed-and-resumed run emits
byte-identical triples.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .annotate import annotate_sentences, media_spans
from .canonicalize import canonical_entities
from .context_ops import assign_context
from .coref import coref_links, resolve_mentions
from .grounding import ground_map, kb_dataframe
from .mentions import extract_document_mentions, rescan_corpus_aliases
from .triples import assemble_triples, build_triple_occurrences


def extract_dataframe(spark: SparkSession, documents: DataFrame,
                      with_coref: bool = True,
                      persist: bool = True,
                      corpus_aliases: bool = False,
                      adhoc_kb: DataFrame | None = None,
                      max_doc_spans: int | None = None,
                      eager_persist: bool = True
                      ) -> dict[str, DataFrame]:
    """The programmatic API (reference ReachSystem.extractFrom,
    ReachSystem.scala:167-175): documents → dict of result DataFrames.

    `persist=True` materializes the mentions table once (MEMORY_AND_DISK):
    grounding, coref, context and triples all branch from it, and without a
    persist each branch would re-run the annotate+extract UDF chain. At
    production scale this is the intermediate Iceberg `mentions` table
    (SURVEY §2.1 S4 resume point).

    Mentions come from ONE fused extraction UDF
    (extract_document_mentions), which includes the doc-wide
    InstanceFinder rescan (G6): a document row carries all its spans, so
    the doc-local rescan needs no joins or extra stages.
    `corpus_aliases=True` extends the rescan corpus-wide (reference
    extractFrom(Seq(docs)), TestCoreference sent61): the alias vocabulary
    of a pass-1 run of the same UDF is collected, and only the documents
    that contain a vocabulary text are re-run with it
    (mentions.rescan_corpus_aliases)."""
    if max_doc_spans:
        # Pathological-document guard (the doc-level analog of the
        # reference's 100-token sentence parse cap, BioNLPProcessor.scala:
        # 24): documents are the atomic processing unit — coref, context
        # windows and the alias rescan are doc-scoped, exactly as the
        # reference is paper-atomic — so a crawl-scale mega-doc cannot be
        # split across tasks without changing semantics. Instead its span
        # array is capped here, bounding the worst single task. A cheap
        # column slice (no-op for every normal doc); run_pipeline.py
        # defaults this on for production crawls, the library default
        # stays exact.
        documents = documents.withColumn(
            "spans", F.slice("spans", 1, max_doc_spans))
    _extra_persisted: list[DataFrame] = []
    if not corpus_aliases:
        # hot path: ONE mapInPandas stage does span-order → sentence split
        # → extraction → doc-level alias rescan
        mentions = extract_document_mentions(documents)
    else:
        first = extract_document_mentions(documents, vocabulary=None)
        if persist:
            # the vocabulary collect and the anti-join both read the first
            # pass; persist only when the caller opted in (long-lived
            # sessions with persist=False must not accumulate cached blocks)
            first = first.persist()
            _extra_persisted.append(first)
        mentions = rescan_corpus_aliases(documents, first)
    if persist:
        # ALWAYS eager for mentions (even under eager_persist=False): the
        # downstream AQE jobs and broadcast builds launch CONCURRENTLY,
        # and concurrent jobs over an unmaterialized cache each recompute
        # its whole lineage (no cross-job dedup) — measured 3x the
        # extraction stage (the one Python stage, by far the most
        # expensive lineage to duplicate). Materializing it first pins
        # the cache; every later job is a cache read.
        #
        # gmap/grounded below are eager only when eager_persist=True (the
        # default, right for multi-branch consumers: triples + entities +
        # context + canonical each branch from them in separate actions).
        # Single-consumer callers (the flagship triples-only path) pass
        # eager_persist=False: the one action materializes the lazy
        # persists along its own lineage, saving two scheduler
        # round-trips + cache-read passes — measured 6.5s -> 4.5s warm at
        # sf0.1/local[32]. Worst case under concurrency is a duplicated
        # gmap/grounded JOIN over the already-cached mentions, never a
        # duplicated extraction.
        mentions = mentions.persist()
        mentions.count()
    # the fully annotated table is exposed (and persisted by run_batch) as
    # the S4 resume artifact only — it is NOT on the triples hot path
    sentences = annotate_sentences(documents)

    # Generic_* placeholders (unresolved anaphors awaiting doc-level coref)
    # are never grounded or canonicalized — they carry no KB identity
    groundable = ((F.col("kind") == "tbm") &
                  ~F.col("label").startswith("Generic"))
    ents = mentions.where(groundable)
    kb = kb_dataframe(spark)
    if adhoc_kb is not None:
        # user dictionary tier, consulted before every built-in KB
        # (grounding.adhoc_kb_df / reference AdHocIMKBFactory)
        from .grounding import kb_with_adhoc
        kb = kb_with_adhoc(kb, adhoc_kb)
    gmap = ground_map(ents, kb)
    if persist:
        # exposed as results["grounding_map"] so batch callers can
        # unpersist when the batch is done (no leaked cache blocks in
        # long-lived sessions)
        gmap = gmap.persist()
        if eager_persist:
            gmap.count()
    # grounding join-back in ONE scan of the mentions table: non-groundable
    # rows carry a NULL join key (never matches → g_* stay null). The
    # two-branch union this replaces scanned the cache twice and doubled
    # the task count of every downstream stage — pure dispatch overhead at
    # small SF, double cache-read traffic at 100 TB.
    _gk = F.concat_ws("\x01", "canonical", "label", "text")
    gmap_keyed = (gmap.select(_gk.alias("_gkey"),
                              "g_ns", "g_id", "g_species"))
    grounded = (mentions
                .withColumn("canonical",
                            F.when(groundable,
                                   F.coalesce("canonical", F.lower("text")))
                            .otherwise(F.col("canonical")))
                .withColumn("_gkey", F.when(groundable, _gk))
                .join(F.broadcast(gmap_keyed), "_gkey", "left")
                .drop("_gkey"))
    if persist:
        grounded = grounded.persist()
        if eager_persist:
            grounded.count()
    grounded_ents = grounded.where(groundable)

    links = coref_links(grounded) if with_coref else None
    context = assign_context(grounded)
    if with_coref:
        # Coref.resolve rewrite: generic args → antecedent content; the
        # triple log is built from the RESOLVED mentions (cross-sentence
        # anaphora materialize as triples; unresolved generics are pruned)
        resolved = resolve_mentions(grounded, links)
        if persist:
            resolved = resolved.persist()
        occurrences = build_triple_occurrences(resolved, context, gmap=gmap)
    else:
        resolved = grounded
        occurrences = build_triple_occurrences(grounded, context, gmap=gmap)
    triples = assemble_triples(occurrences)
    persisted = []
    if persist:
        persisted = _extra_persisted + [mentions, gmap, grounded]
        if with_coref:
            persisted.append(resolved)
    return LazyResults(persisted, {
        "sentences": sentences,
        "mentions": grounded,
        "resolved_mentions": resolved,
        "entities": grounded_ents,
        "coref_links": links,
        "context": context,
        "triple_occurrences": occurrences,
        "triples": triples,
        "grounding_map": gmap,
        "media": media_spans(documents),
    }, {
        # connected-components label propagation runs driver-side actions
        # per iteration at CONSTRUCTION time (canonicalize.py) — it must
        # not execute unless the caller actually consumes this table (the
        # triples-only flagship path would otherwise pay the whole CC loop)
        "canonical_entities": lambda: canonical_entities(grounded, links),
        # [T5] assembly precedence sieves (deterministic members):
        # lazy — pair generation is doc-scoped quadratic and only
        # precedence consumers should pay it
        "precedence": lambda: _precedence(resolved, sentences, occurrences),
    })


def _precedence(resolved, sentences, occurrences):
    from .assembly_ops import precedence_eers
    return precedence_eers(resolved, sentences, occurrences)


class LazyResults(dict):
    """extract_dataframe results: plain DataFrames plus entries whose
    construction is itself expensive (iterative algorithms that execute
    actions while building their plan). Lazy entries materialize on first
    access and are then cached like any other key.

    cleanup() releases every cache block the pipeline persisted — call it
    when a batch is done (run_batch does; tests do via conftest) so
    long-lived sessions never accumulate blocks."""

    def __init__(self, persisted: list, eager: dict, lazy: dict):
        super().__init__(eager)
        self._persisted = list(persisted)
        self._lazy = dict(lazy)

    def cleanup(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    def __getitem__(self, key):
        if not super().__contains__(key) and key in self._lazy:
            self[key] = self._lazy.pop(key)()
        return super().__getitem__(key)

    def __contains__(self, key):
        return super().__contains__(key) or key in self._lazy

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage/metrics rows (north-rule mandate): one row per
    physical partition with row count — written next to each output table."""
    return (df.withColumn("partition_id", F.spark_partition_id())
              .groupBy("partition_id")
              .agg(F.count("*").alias("rows"))
              .withColumn("stage", F.lit(stage)))


def run_batch(spark: SparkSession, documents: DataFrame, out_dir: str,
              resume: bool = True,
              catalog_prefix: str | None = None,
              max_doc_spans: int | None = None,
              brat_dir: str | None = None) -> dict[str, int]:
    """Batch driver with checkpoint/resume. Writes parquet tables
    (production target is Iceberg `writeTo(...).partitionedBy(...)`; parquet
    keeps the sandbox dependency-free — the table layout is identical).
    With `catalog_prefix` the final graph (triples EER + canonical
    entities) is ALSO materialized as named partitioned catalog tables via
    reach_spark.tables (V2 writeTo under a plugged Iceberg/Delta catalog,
    V1 saveAsTable otherwise). Returns row counts per output."""
    ckpt_path = os.path.join(out_dir, "checkpoint_docs")
    todo = documents
    if resume and os.path.exists(ckpt_path):
        done = spark.read.parquet(ckpt_path).select("doc_id")
        todo = documents.join(done, "doc_id", "left_anti")  # restart filter

    # pin the work set NOW — the checkpoint append below would otherwise
    # change what the lazy anti-join evaluates to
    todo = todo.persist()
    n_docs = todo.count()
    if n_docs == 0:
        return {"docs": 0}

    results = extract_dataframe(spark, todo, max_doc_spans=max_doc_spans)
    counts: dict[str, int] = {}
    t0 = time.time()
    for name in ("mentions", "triple_occurrences", "canonical_entities"):
        df = results[name]
        mode = "append" if name != "canonical_entities" else "overwrite"
        path = os.path.join(out_dir, name)
        writer = df.write.mode(mode)
        if name == "triple_occurrences":
            # partitioned write (Iceberg partitionedBy analog): predicate
            # pushdown on pred for downstream graph queries
            writer = writer.partitionBy("pred")
        writer.parquet(path)
        metrics = partition_metrics(spark.read.parquet(path), name) \
            .withColumn("wall_s", F.lit(time.time() - t0))
        metrics.write.mode("append").parquet(os.path.join(out_dir, "metrics"))
        counts[name] = spark.read.parquet(path).count()

    # EER triple table = assembly rollup over ALL occurrences appended so
    # far (this batch + every resumed batch): seen counts stay corpus-wide
    # under checkpoint/resume because the aggregate re-runs over the full
    # log — one hash aggregation, overwritten each batch
    from .triples import assemble_triples as _assemble
    occ_all = spark.read.parquet(os.path.join(out_dir, "triple_occurrences"))
    tri_path = os.path.join(out_dir, "triples")
    _assemble(occ_all).write.mode("overwrite").partitionBy("pred") \
        .parquet(tri_path)
    counts["triples"] = spark.read.parquet(tri_path).count()

    if catalog_prefix:
        # read the already-written parquet back rather than re-deriving
        # from `results` — the CC canonicalization loop must not run twice
        from .tables import materialize_graph
        materialize_graph(
            {"triples": spark.read.parquet(tri_path),
             "canonical_entities": spark.read.parquet(
                 os.path.join(out_dir, "canonical_entities"))},
            prefix=catalog_prefix, mode="overwrite")

    if brat_dir:
        # Brat standoff sink (S10): append-safe — docs are processed
        # exactly once under resume, so per-batch appends are disjoint.
        # Stage THIS batch's inputs to parquet first (overwrite) and
        # build the standoff from the compact columnar scan: the
        # standoff's windows/joins traverse the mention table six ways,
        # and re-walking the Python extraction lineage that many times
        # blows the heap on small-driver (spark-submit default) JVMs.
        from .brat import brat_ann_text, brat_doc_text
        stage = os.path.join(brat_dir, "_batch_stage")
        results["resolved_mentions"].write.mode("overwrite") \
            .parquet(os.path.join(stage, "mentions"))
        results["sentences"].write.mode("overwrite") \
            .parquet(os.path.join(stage, "sentences"))
        bm = spark.read.parquet(os.path.join(stage, "mentions"))
        bs = spark.read.parquet(os.path.join(stage, "sentences"))
        brat_ann_text(bm, bs).write.mode("append") \
            .parquet(os.path.join(brat_dir, "ann"))
        brat_doc_text(bs).write.mode("append") \
            .parquet(os.path.join(brat_dir, "txt"))

    # checkpoint finished docs LAST (all-or-nothing per batch)
    todo.select("doc_id").write.mode("append").parquet(ckpt_path)
    counts["docs"] = n_docs
    todo.unpersist()
    # release the per-batch caches (mentions / grounding map / grounded /
    # resolved): repeated run_batch calls in one session must not
    # accumulate blocks
    results.cleanup()
    return counts
