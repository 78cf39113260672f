"""Spark annotation stage: interleaved documents → sentences.

Text extraction (reference FriesEntry construction from NXML standoff,
FriesEntry.scala:22-32) is pure JVM-side column work — filter/sort/concat on
the spans array stays in whole-stage codegen; only the tokenize/tag step
drops to an Arrow-batched pandas UDF (SURVEY §2.2 N1-N4).

Skew: a long-tail doc with hundreds of text spans explodes into hundreds of
independent sentence rows, so compute skew is dissolved by the explode +
round-robin repartition on (doc_id, sent_idx) — the salted-repartition story
of SURVEY §4 (the salt is the sentence index itself).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .deps import light_deps
from .extract import annotate_sentence, split_span
from .schemas import SENTENCES


def extract_text(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → (doc_id, text, n_spans, n_text_spans).

    Media spans pass through untouched elsewhere (span-sequence invariant);
    text = concat of kind='text' spans in offset order. All built-in
    expressions — Catalyst prunes `spans` subfields it needs.
    """
    ordered = F.array_sort(
        F.filter("spans", lambda s: s["kind"] == F.lit("text")),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
                      .when(a["offset"] > b["offset"], 1).otherwise(0),
    )
    return documents.select(
        "doc_id",
        F.array_join(F.transform(ordered, lambda s: s["text"]), " ")
         .alias("text"),
        F.size("spans").alias("n_spans"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("text")))
         .alias("n_text_spans"),
    )


def text_spans(documents: DataFrame) -> DataFrame:
    """One row per text span, ordered — the unit that becomes sentences."""
    return documents.select(
        "doc_id",
        F.posexplode(
            F.array_sort(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda a, b: F.when(a["offset"] < b["offset"], -1)
                              .when(a["offset"] > b["offset"], 1).otherwise(0),
            )
        ).alias("span_pos", "span"),
    ).select("doc_id", "span_pos", F.col("span.text").alias("span_text"))


def media_spans(documents: DataFrame) -> DataFrame:
    """Media spans carried through untouched, with typed metadata parsed
    from the ref (the multimodal pass-through; decode is stubbed — see
    reach_spark.multimodal)."""
    return documents.select(
        "doc_id",
        F.explode(F.filter("spans", lambda s: s["kind"] == F.lit("media")))
         .alias("span"),
    ).select(
        "doc_id",
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def split_sentences_df(documents: DataFrame,
                       partitions: int | None = None) -> DataFrame:
    """Light sentence rows (doc_id, sent_idx, sent_text) for consumers
    that read only the sentence text (fries.sentence_frames).

    Carries NO token arrays. The extraction hot path does not read this
    table either: mentions.extract_document_mentions splits and annotates
    inside its own UDF, because shipping five nested array columns through
    Arrow between stages costs ~40x more than recomputing them. The fully
    annotated `sentences` table (annotate_sentences) is produced once as
    the S4 resume artifact, not as an inter-stage exchange format."""
    spans = text_spans(documents)
    if partitions:
        spans = spans.repartition(partitions, "doc_id", "span_pos")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            rows = []
            for doc_id, span_pos, text in zip(
                    pdf["doc_id"], pdf["span_pos"], pdf["span_text"]):
                if not text:
                    continue
                base = cache.get(text)
                if base is None:
                    base = split_span(text)
                    if len(cache) < 100_000:
                        cache[text] = base
                for li, sent in enumerate(base):
                    rows.append({"doc_id": doc_id,
                                 "sent_idx": int(span_pos) * 1000 + li,
                                 "sent_text": sent})
            yield pd.DataFrame(rows,
                               columns=["doc_id", "sent_idx", "sent_text"])

    return spans.mapInPandas(
        gen, schema="doc_id string, sent_idx int, sent_text string")


def annotate_sentences(documents: DataFrame,
                       partitions: int | None = None) -> DataFrame:
    """documents → SENTENCES rows (tokenized, tagged, lemmatized, with the
    light dependency edges of reach_spark.deps).

    Sentence index is global per document: span_pos * 1000 + local sentence
    index keeps ordering without a per-doc shuffle (bounded: sentences per
    span << 1000 under the 100-token parse guard).
    """
    spans = text_spans(documents)
    if partitions:
        spans = spans.repartition(partitions, "doc_id", "span_pos")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # annotation is a pure function of the span text — memoize per
        # partition (dedupe-before-compute; see reach_spark.mentions)
        cache: dict[str, list[dict]] = {}
        for pdf in batches:
            rows = []
            for doc_id, span_pos, text in zip(
                    pdf["doc_id"], pdf["span_pos"], pdf["span_text"]):
                if not text:
                    continue
                base = cache.get(text)
                if base is None:
                    base = []
                    for li, sent in enumerate(split_span(text)):
                        ann = annotate_sentence(sent)
                        deps = light_deps(ann["words"], ann["tags"],
                                          ann["lemmas"])
                        base.append({
                            "li": li,
                            "sent_text": sent,
                            "words": ann["words"],
                            "start_offsets": ann["start_offsets"],
                            "end_offsets": ann["end_offsets"],
                            "tags": ann["tags"],
                            "lemmas": ann["lemmas"],
                            "entities": ["O"] * len(ann["words"]),
                            "deps": [{"src": s, "dst": d, "label": lbl}
                                     for s, d, lbl in deps],
                        })
                    if len(cache) < 100_000:
                        cache[text] = base
                for b in base:
                    row = dict(b)
                    row.pop("li")
                    row["doc_id"] = doc_id
                    row["sent_idx"] = int(span_pos) * 1000 + b["li"]
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in SENTENCES.fields])

    return spans.mapInPandas(gen, schema=SENTENCES)
