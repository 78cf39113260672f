"""Spark annotation stage: interleaved documents → sentences.

Text extraction (reference FriesEntry construction from NXML standoff,
FriesEntry.scala:22-32) is pure JVM-side column work — filter/sort/concat on
the spans array stays in whole-stage codegen; only the tokenize/tag step
drops to an Arrow-batched pandas UDF (SURVEY §2.2 N1-N4).

Per-span operators (the `sentences` table here, and the N5/O1/O2/P2
seen-count queries) all run through `span_rows`: the text spans explode into
one row each, so a long-tail doc with hundreds of spans becomes hundreds of
independent rows, and one Arrow-batched mapInPandas computes each distinct
span text once per partition (dedupe-before-compute, SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from .deps import light_deps
from .extract import annotate_sentence, split_span
from .schemas import SENTENCES

MEMO_MAX = 100_000  # per-partition bound on memoized distinct texts


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


def span_rows(documents: DataFrame, span_fn: Callable[[str], list[tuple]],
              schema: str | T.StructType) -> DataFrame:
    """documents → (doc_id, span_pos, *schema) rows: every row that
    `span_fn(span_text)` returns for a non-empty text span, prefixed with
    the span's (doc_id, span_pos).

    The one per-span Spark shape: `text_spans` → ONE Arrow-batched
    mapInPandas in which `span_fn`, a pure function of the span text, runs
    once per distinct span text per partition (memo bounded by MEMO_MAX),
    so duplicated content costs a dict probe. `span_fn` ships with the
    task closure, together with whatever it captures."""
    fields = (T.StructType.fromDDL(schema) if isinstance(schema, str)
              else schema).fields
    out = T.StructType([T.StructField("doc_id", T.StringType(), False),
                        T.StructField("span_pos", T.IntegerType(), False),
                        *fields])
    cols = out.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[tuple]] = {}
        for pdf in batches:
            rows = []
            for doc_id, span_pos, text in zip(
                    pdf["doc_id"], pdf["span_pos"], pdf["span_text"]):
                if not text:
                    continue
                res = memo.get(text)
                if res is None:
                    res = span_fn(text)
                    if len(memo) < MEMO_MAX:
                        memo[text] = res
                key = (doc_id, int(span_pos))
                rows.extend(key + r for r in res)
            yield pd.DataFrame(rows, columns=cols)

    return text_spans(documents).mapInPandas(gen, schema=out)


_ANNOTATED = T.StructType([T.StructField("li", T.IntegerType(), False),
                           *SENTENCES.fields[2:]])


def annotate_span(span_text: str) -> list[tuple]:
    """One `_ANNOTATED` row per sentence of a text span: its index `li` in
    the span, then the SENTENCES fields after (doc_id, sent_idx)."""
    rows = []
    for li, sent in enumerate(split_span(span_text)):
        ann = annotate_sentence(sent)
        words = ann["words"]
        deps = light_deps(words, ann["tags"], ann["lemmas"])
        rows.append((li, sent, words, ann["start_offsets"],
                     ann["end_offsets"], ann["tags"], ann["lemmas"],
                     ["O"] * len(words),
                     [{"src": s, "dst": d, "label": lbl}
                      for s, d, lbl in deps]))
    return rows


def annotate_sentences(documents: DataFrame) -> DataFrame:
    """documents → SENTENCES rows (tokenized, tagged, lemmatized, with the
    light dependency edges of reach_spark.deps).

    Sentence index is global per document: span_pos * 1000 + local sentence
    index keeps ordering without a per-doc shuffle (split_span fails a span
    of 1000 sentences or more rather than let the indexes collide).
    """
    rows = span_rows(documents, annotate_span, _ANNOTATED)
    return rows.select(
        "doc_id",
        (F.col("span_pos") * 1000 + F.col("li")).alias("sent_idx"),
        *SENTENCES.fieldNames()[2:])
