"""Incremental/streaming ingestion of the documents table.

The reference is batch-only (ReachCLI; SURVEY §2.11 'streaming absent'),
with restart-log resume. We keep that batch contract and ADD a Structured
Streaming wrapper for continuous ingestion: new parquet files landing in
the documents directory are picked up as micro-batches, run through the
identical extraction pipeline via foreachBatch, and appended to the triple
table. Exactly-once is inherited from the streaming checkpoint +
deterministic mention/event ids (duplicate reprocessing rewrites identical
rows).

Two EER-rollup strategies ship:

- `stream_pipeline` re-aggregates the FULL occurrence log after each
  micro-batch (simple, correct, but O(log size) work per batch — fine for
  bounded backfills, wrong at a 10^12-document firehose).
- `stream_eer_rollup` is the scale path: a stateful streaming aggregation
  with `applyInPandasWithState` over the occurrence log. The state store
  carries one entry per EER equivalence class; each micro-batch touches
  only the classes it has evidence for, and the sink receives an UPSERT
  CHANGELOG (only updated classes, stamped with the batch id) instead of
  a full rewrite — per-batch work is O(batch), independent of history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schemas import DOCUMENTS, TRIPLE_OCCURRENCES


def stream_pipeline(spark: SparkSession, input_dir: str, out_dir: str,
                    checkpoint_dir: str, available_now: bool = True,
                    catalog_prefix: str | None = None,
                    max_doc_spans: int | None = None):
    """readStream over the documents directory → foreachBatch extraction →
    append triples. Returns the StreamingQuery (caller awaits).

    With `catalog_prefix` each micro-batch ALSO refreshes the named
    partitioned catalog triples (from the rolled-up EER) and entities
    tables (reach_spark.tables) — the streaming arm of the "materialize
    the graph back to tables" mandate; with an Iceberg catalog plugged
    this is a snapshot-isolated commit per micro-batch.

    `max_doc_spans` caps a pathological document's span array exactly as
    in run_batch — a firehose needs the mega-doc bound at least as much as
    a backfill does."""
    from .pipeline import extract_dataframe

    src = (spark.readStream
           .schema(DOCUMENTS)
           .parquet(input_dir))

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = extract_dataframe(spark, batch_df, with_coref=False,
                                max_doc_spans=max_doc_spans)
        # the append-safe unit is the occurrence log (one row per event
        # occurrence); appending pre-aggregated EER rows per micro-batch
        # would double-count seen, so the deduped table is re-rolled-up
        # over the FULL log after each batch (same contract as
        # pipeline.run_batch)
        (res["triple_occurrences"]
         .write.mode("append").partitionBy("pred")
         .parquet(f"{out_dir}/triples"))
        (res["entities"]
         .write.mode("append")
         .parquet(f"{out_dir}/entities"))
        from .triples import assemble_triples
        eer = assemble_triples(spark.read.parquet(f"{out_dir}/triples"))
        (eer.write.mode("overwrite").partitionBy("pred")
            .parquet(f"{out_dir}/triples_eer"))
        if catalog_prefix:
            from .tables import materialize
            materialize(spark.read.parquet(f"{out_dir}/triples_eer"),
                        f"{catalog_prefix}_triples",
                        partition_by=("pred",), mode="overwrite")
            # entity rows are mention-keyed and deterministic, so replayed
            # micro-batches rewrite identical rows — dedup on mention_id
            # makes the catalog table idempotent under at-least-once
            # delivery (the triples analog of this is the EER rollup)
            materialize(spark.read.parquet(f"{out_dir}/entities")
                        .dropDuplicates(["mention_id"]),
                        f"{catalog_prefix}_entities", mode="overwrite")
        # release per-batch caches — a long-lived stream must not
        # accumulate blocks across micro-batches (same contract as
        # pipeline.run_batch)
        for key in ("mentions", "resolved_mentions", "grounding_map"):
            res[key].unpersist()

    writer = (src.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# [T2 streaming] stateful EER rollup — applyInPandasWithState
# ---------------------------------------------------------------------------

_EER_OUT = ("subj string, pred string, obj string, negated boolean, "
            "hypothesis boolean, is_direct boolean, trigger string, "
            "found_by string, seen bigint, seen_in array<string>")
_EER_STATE = ("seen bigint, hypothesis boolean, is_direct boolean, "
              "trigger string, found_by string, seen_in array<string>")


def _eer_update(key, pdfs, state):
    """Per-equivalence-class state transition: fold this batch's occurrence
    rows into the running aggregate. MUST mirror triples.assemble_triples
    exactly (count / any / any / null-skipping min / min / doc-id set) —
    tests assert state == batch aggregate over the same log."""
    import pandas as pd
    subj, pred, obj, negated = key
    if state.exists:
        seen, hyp, isd, trig, fby, seen_in = state.get
        seen_in = set(seen_in)
    else:
        seen, hyp, isd, trig, fby, seen_in = 0, False, False, None, None, \
            set()
    for pdf in pdfs:
        seen += len(pdf)
        hyp = hyp or bool(pdf["hypothesis"].any())
        isd = isd or bool(pdf["is_direct"].any())
        t = pdf["trigger"].dropna()
        if len(t):
            m = t.min()
            trig = m if trig is None else min(trig, m)
        f = pdf["found_by"].min()
        fby = f if fby is None else min(fby, f)
        seen_in.update(pdf["doc_id"])
    sorted_in = sorted(seen_in)
    state.update((seen, hyp, isd, trig, fby, sorted_in))
    yield pd.DataFrame([{"subj": subj, "pred": pred, "obj": obj,
                         "negated": negated, "hypothesis": hyp,
                         "is_direct": isd, "trigger": trig,
                         "found_by": fby, "seen": seen,
                         "seen_in": sorted_in}])


def stream_eer_rollup(spark: SparkSession, occ_dir: str, out_dir: str,
                      checkpoint_dir: str, available_now: bool = True):
    """Incremental AssemblyManager EER dedup (T2) as a STATEFUL streaming
    aggregation: readStream over the occurrence log → groupBy the
    equivalence key → `applyInPandasWithState` (state store holds the
    running per-class aggregate) → upsert changelog appended to
    `{out_dir}/triples_eer_updates` stamped with the micro-batch id.

    Scale contract: per-batch work is O(batch rows + touched classes) —
    the full-log re-aggregate of `stream_pipeline` is never run. State is
    partitioned by the equivalence key across executors (the same shuffle
    key the batch aggregate uses), and the changelog sink is the standard
    parquet-upsert pattern (with an Iceberg/Delta sink this foreachBatch
    becomes a MERGE INTO). Exactly-once folds come from the file-source
    checkpoint: a file is offered to the state transition exactly once.
    `read_eer_state` reconstructs the current table (latest row per key).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    occ = spark.readStream.schema(TRIPLE_OCCURRENCES).parquet(occ_dir)
    eer = (occ.groupBy("subj", "pred", "obj", "negated")
           .applyInPandasWithState(_eer_update, _EER_OUT, _EER_STATE,
                                   "update", GroupStateTimeout.NoTimeout))

    def sink(batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{out_dir}/triples_eer_updates"))

    writer = (eer.writeStream
              .outputMode("update")
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_metrics(spark: SparkSession, input_dir: str,
                          out_dir: str, checkpoint_dir: str,
                          window: str = "10 seconds",
                          watermark: str = "30 seconds",
                          available_now: bool = True):
    """Ingest telemetry as a WATERMARKED tumbling-window aggregation:
    arriving document files are stamped with their processing time,
    `withWatermark` bounds how long a window's state waits for late
    arrivals, and each window accumulates (docs, text_spans, media_spans,
    text_chars). Update-mode changelog to `{out_dir}/ingest_metrics`
    (batch-id-stamped, latest row per window wins — same upsert pattern
    as the EER rollup); the watermark is what lets the state store EVICT
    closed windows instead of holding every window ever seen — the
    unbounded-runtime requirement for a continuous 10^12-doc ingest."""
    src = spark.readStream.schema(DOCUMENTS).parquet(input_dir)
    is_text = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    is_media = F.filter("spans", lambda s: s["kind"] == F.lit("media"))
    agg = (src.withColumn("ingest_ts", F.current_timestamp())
           .withWatermark("ingest_ts", watermark)
           .groupBy(F.window("ingest_ts", window).alias("win"))
           .agg(F.count("*").alias("docs"),
                F.sum(F.size(is_text)).alias("text_spans"),
                F.sum(F.size(is_media)).alias("media_spans"),
                F.sum(F.aggregate(
                    is_text, F.lit(0),
                    lambda a, s: a + F.length(s["text"])))
                .alias("text_chars"))
           .select(F.col("win.start").alias("win_start"),
                   F.col("win.end").alias("win_end"),
                   "docs", "text_spans", "media_spans", "text_chars"))

    def sink(batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{out_dir}/ingest_metrics"))

    writer = (agg.writeStream
              .outputMode("update")
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_eer_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current EER table from the upsert changelog: the latest update per
    equivalence class (same schema as triples.assemble_triples)."""
    upd = spark.read.parquet(f"{out_dir}/triples_eer_updates")
    payload = F.struct("hypothesis", "is_direct", "trigger", "found_by",
                       "seen", "seen_in")
    return (upd.groupBy("subj", "pred", "obj", "negated")
            .agg(F.max_by(payload, "batch_id").alias("s"))
            .select("subj", "pred", "obj", "negated", "s.hypothesis",
                    "s.is_direct", "s.trigger", "s.found_by", "s.seen",
                    "s.seen_in"))


def stream_dedup_exact(spark: SparkSession, input_dir: str, out_dir: str,
                       checkpoint_dir: str,
                       watermark: str = "1 hour",
                       available_now: bool = True):
    """Streaming exact dedup at ingest: only the FIRST copy of each
    document content hash reaches the pipeline side of a continuous
    crawl (the streaming analog of textops.dedup_exact, which a batch
    pipeline runs as a plain hash-groupBy).

    `dropDuplicatesWithinWatermark` keys the state store on the content
    hash and EVICTS entries once the watermark passes them — bounded
    state on an unbounded crawl, the same property stream_ingest_metrics
    relies on. Within the watermark horizon a re-crawled duplicate is
    dropped exactly; past the horizon it would re-emit, which is the
    documented trade every streaming dedup at 10^12-doc scale makes
    (the periodic BATCH dedup over the accumulated table is the
    catch-all; this operator exists to keep the expensive extraction
    from running on hot near-in-time duplicates — crawl bursts,
    mirrored feeds, retry storms).

    Output: append-mode parquet of the surviving (first-seen) documents
    at `{out_dir}/deduped_docs`, content-hashed over the full ordered
    span payload (kind, text, media_ref, offset — the interleaved-table
    identity, doc_id excluded so re-crawled content under a new id still
    dedups)."""
    src = spark.readStream.schema(DOCUMENTS).parquet(input_dir)
    content_hash = F.sha2(F.to_json(F.struct("spans")), 256)
    deduped = (src
               .withColumn("content_hash", content_hash)
               .withColumn("ingest_ts", F.current_timestamp())
               .withWatermark("ingest_ts", watermark)
               .dropDuplicatesWithinWatermark(["content_hash"]))

    def sink(batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{out_dir}/deduped_docs"))

    writer = (deduped.writeStream
              .outputMode("append")
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- streaming sessionization -------------------------------------------
# Session-window state: the one OPEN session per user. Output rows carry
# status 'closed' (final) or 'open' (superseded by later updates /
# eventually a closed row); read_sessions reconstructs the session table.
_SESS_OUT = ("user_id bigint, session_start_us bigint, "
             "session_end_us bigint, n_events bigint, status string")
_SESS_STATE = "start_us bigint, last_us bigint, n_events bigint"
_SESS_GAP_US = 30 * 60 * 1_000_000   # == relational._SESSION_GAP_US


def _session_update(key, pdfs, state):
    """Per-user session-window transition: fold this batch's events (in
    event-time order) into the open session; emit a CLOSED row whenever
    the 30-min gap splits, and an OPEN row for the in-flight session so
    the sink always has the latest picture. MUST mirror
    relational.sessionize_events' gap rule (> gap starts a new session) —
    the test replays a two-batch feed against the batch operator."""
    import pandas as pd
    (user_id,) = key
    rows = []
    if state.hasTimedOut:
        if state.exists:
            s0, s1, ne = state.get
            rows.append((user_id, s0, s1, ne, "closed"))
        state.remove()
    else:
        ts: list[int] = []
        for pdf in pdfs:
            # timestamp[us/ns] → integer microseconds (session TZ is UTC)
            ts.extend(int(v) // 1000 for v in
                      pdf["ts"].astype("datetime64[ns]").astype("int64"))
        ts.sort()
        if state.exists:
            s0, s1, ne = state.get
        else:
            s0 = s1 = ne = None
        for t in ts:
            if s0 is None:
                s0, s1, ne = t, t, 1
            elif t - s1 > _SESS_GAP_US:
                rows.append((user_id, s0, s1, ne, "closed"))
                s0, s1, ne = t, t, 1
            else:
                # fold with min/max, not assignment: a late-but-within-
                # watermark event from a LATER micro-batch can have
                # t < s1 (cross-batch out-of-order; within a batch ts is
                # sorted) — plain s1 = t would shrink the session end
                # below its start
                s0, s1, ne = min(s0, t), max(s1, t), ne + 1
        if s0 is not None:
            rows.append((user_id, s0, s1, ne, "open"))
            state.update((s0, s1, ne))
            # evict once event time passes last_event + gap
            state.setTimeoutTimestamp(s1 // 1000 + _SESS_GAP_US // 1000)
    if rows:
        yield pd.DataFrame(rows, columns=["user_id", "session_start_us",
                                          "session_end_us", "n_events",
                                          "status"])


def stream_sessionize(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str, watermark: str = "30 minutes",
                      available_now: bool = True):
    """Session windows over the events stream as a custom STATEFUL
    operator (`applyInPandasWithState` with EventTimeTimeout) — the
    streaming analog of relational.sessionize_events, and the canonical
    case built-in windowed aggs can't express (the window end depends on
    the data: a session stays open while events keep arriving within the
    gap).

    State = one open session per user (three ints — bounded by the live
    user population, not history: the event-time timeout closes and
    EVICTS a user's state once the watermark passes last_event + gap).
    Per micro-batch work is O(batch events + touched users). The sink
    receives an upsert changelog: 'closed' rows are final; 'open' rows
    are superseded by later updates of the same (user, session_start).
    `read_sessions` reconstructs the current session table. In-order
    arrival per user within the watermark horizon is assumed (the
    standard session-window contract; later-than-watermark events are
    dropped by the engine).

    Precondition: `watermark` <= the 30-minute session gap
    (_SESS_GAP_US). The min/max fold in _session_update matches the
    batch sessionizer only then: with a wider watermark, a late event
    older than the open session's start minus the gap would merge into
    that session, where relational.sessionize_events splits it off."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string")
        .parquet(input_dir)
        .withWatermark("ts", watermark))
    sess = (ev.groupBy("user_id")
            .applyInPandasWithState(_session_update, _SESS_OUT,
                                    _SESS_STATE, "update",
                                    GroupStateTimeout.EventTimeTimeout))

    def sink(batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{out_dir}/session_updates"))

    writer = (sess.writeStream
              .outputMode("update")
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sessions(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current session table from the changelog: latest row per
    (user_id, session_start_us) — a closed row is final, otherwise the
    open row with the largest event count wins."""
    from pyspark.sql import Window
    upd = spark.read.parquet(f"{out_dir}/session_updates")
    w = (Window.partitionBy("user_id", "session_start_us")
         .orderBy(F.col("status").asc(),           # 'closed' < 'open'
                  F.col("n_events").desc(),
                  F.col("batch_id").desc()))
    return (upd.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("user_id", "session_start_us", "session_end_us",
                    "n_events", "status"))
