"""Mention extraction operator: documents → flat mention rows.

One Arrow-batched pass runs the whole sentence-local Odin-style cascade
(SURVEY §2.3: the rule-engine State is sentence-local, so entities, mods,
events, regulations, negation, hypothesis and the sentence-level
completeness filter all happen here with ZERO shuffles). The dictionary is
closure-captured — Spark ships it once per executor with the task closure,
the moral equivalent of a broadcast variable for this size (~10 KB; swap to
``spark.sparkContext.broadcast`` for multi-MB dictionaries).

Dedupe-before-compute: extraction is a pure function of the sentence TEXT,
so each partition memoizes results per distinct sentence and only remaps
the deterministic mention ids per (doc_id, sent_idx). Web-scale corpora are
heavily duplicated (boilerplate, mirrored articles, near-identical
abstracts), which is exactly the long-tail the driver's skewed synthetic
corpus models — the cache turns the 120×-repeated skew docs into hash
lookups. At 100 TB the same property holds per partition; the cache is
bounded so unique-content partitions pay only a dict probe.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .annotate import MEMO_MAX
from .extract import SentenceExtractor, annotate_sentence, split_span
from .resources import entity_dictionary
from .schemas import MENTIONS

_MENTION_COLS = [f.name for f in MENTIONS.fields]


def _remap_id(prefix: str, old: str) -> str:
    return hashlib.sha1((prefix + old).encode()).hexdigest()[:16]


def _extract_base(sent_text: str, dictionary) -> list[dict]:
    # annotation is re-derived here (~0.04 ms/sentence) instead of being
    # shipped as nested Arrow columns between stages.
    # emit_generic=True: the Spark path extracts per sentence, so an
    # anaphor whose antecedent sits in a previous sentence becomes a
    # Generic_* placeholder for the doc-level coref sieves (reach_spark
    # .coref); unresolved placeholders are pruned at triple-build time
    ann = annotate_sentence(sent_text)
    ex = SentenceExtractor("", 0, ann, dictionary, emit_generic=True)
    base = []
    for m in ex.run():
        m.setdefault("canonical", None)
        base.append({k: m.get(k) for k in _MENTION_COLS})
    return base


def _rescope(base: list[dict], doc_id: str, sent_idx: int) -> list[dict]:
    """Remap the deterministic ids into this (doc, sent) scope."""
    prefix = f"{doc_id}|{sent_idx}|"
    rows = []
    for m in base:
        m2 = dict(m)
        m2["doc_id"] = doc_id
        m2["sent_idx"] = int(sent_idx)
        m2["mention_id"] = _remap_id(prefix, m["mention_id"])
        if m.get("args"):
            m2["args"] = [
                dict(a, mention_id=_remap_id(prefix, a["mention_id"]))
                for a in m["args"]]
        rows.append(m2)
    return rows


def extract_document_mentions(documents: DataFrame,
                              vocabulary: tuple | None = ()) -> DataFrame:
    """The FUSED hot path and the only mention extractor:
    documents(doc_id, spans) → mention rows in ONE mapInPandas stage —
    span ordering, sentence split, pass-1 extraction, and the doc-level
    alias-instance rescan (G6) all happen inside the UDF.

    Why fused: a document row already carries every span of the doc, so
    the doc-local InstanceFinder rescan needs NO shuffle, NO broadcast
    join, and NO second UDF stage. `vocabulary` — (text, label,
    canonical) alias instances — is added to every document's own
    instances before the rescan; `None` skips the rescan and returns the
    pass-1 rows. Both serve rescan_corpus_aliases.

    Skew: the work unit is one document (like the reference's per-paper
    loop, ReachCLI.scala:43-153). Sentence-level extraction is memoized
    per partition, so duplicated content still collapses to cache probes;
    a pathological mega-document serializes on one task — pre-split such
    docs upstream (the 1000-sentence-per-span guard bounds the damage)."""
    dictionary = entity_dictionary()
    seed = None if vocabulary is None else {tuple(v) for v in vocabulary}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        split_cache: dict[str, list[str]] = {}
        cache1: dict[str, list[dict]] = {}
        cache2: dict[tuple, list[dict]] = {}
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                tspans = sorted((s for s in rec.spans
                                 if s["kind"] == "text" and s["text"]),
                                key=lambda s: s["offset"])
                sents: list[tuple[int, str]] = []
                for pos, s in enumerate(tspans):
                    ss = split_cache.get(s["text"])
                    if ss is None:
                        ss = split_span(s["text"])
                        if len(split_cache) < MEMO_MAX:
                            split_cache[s["text"]] = ss
                    sents.extend((pos * 1000 + li, t)
                                 for li, t in enumerate(ss))
                per_sent: list[tuple[int, str, list[dict]]] = []
                for si, stext in sents:
                    base = cache1.get(stext)
                    if base is None:
                        base = _extract_base(stext, dictionary)
                        if len(cache1) < MEMO_MAX:
                            cache1[stext] = base
                    per_sent.append((si, stext, base))
                # doc-level alias instances (InstanceFinder rescan, G6):
                # extras = sorted distinct instances minted anywhere in
                # the doc, plus the seeded vocabulary; only sentences
                # containing an instance text are re-extracted, memoized
                # on (sentence, extras)
                extras = () if seed is None else tuple(sorted(seed | {
                    (m["text"], m["label"], m["canonical"])
                    for _, _, base in per_sent for m in base
                    if str(m.get("found_by", "")).startswith(
                        "alias-instance")}))
                if extras:
                    for i, (si, stext, base) in enumerate(per_sent):
                        if not any(t in stext for t, _, _ in extras):
                            continue
                        key = (stext, extras)
                        b2 = cache2.get(key)
                        if b2 is None:
                            d = dict(dictionary)
                            for t, lab, canon in extras:
                                d.setdefault(t.lower(), (lab, canon))
                            b2 = _extract_base(stext, d)
                            if len(cache2) < MEMO_MAX:
                                cache2[key] = b2
                        per_sent[i] = (si, stext, b2)
                for si, _stext, base in per_sent:
                    rows.extend(_rescope(base, rec.doc_id, si))
            yield pd.DataFrame(rows, columns=_MENTION_COLS)

    docs = documents.select("doc_id", "spans")
    # UDF-compute parallelism is input-partition parallelism: a small
    # parquet input arrives as ONE split, which would serialize the whole
    # cascade on one core (measured: the sf0.1 corpus ran 1-task). Fan out
    # to the session's cores when the scan is narrower than that; at
    # production scale the input already carries >= cores partitions and
    # this is a no-op (no shuffle inserted).
    parts = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parts:
        docs = docs.repartition(parts, "doc_id")
    return docs.mapInPandas(gen, schema=MENTIONS)


def rescan_corpus_aliases(documents: DataFrame,
                          first: DataFrame) -> DataFrame:
    """Corpus-wide alias instance propagation: names minted by an alias
    construction in one document become dictionary entries for every
    document (reference ReachSystem.extractFrom(Seq(doc1, doc2)) sharing
    aliases across papers, TestCoreference sent61).

    `first` is extract_document_mentions(documents, vocabulary=None):
    the pass-1 rows, which still carry the alias-instance mentions that a
    rescan re-finds as plain dictionary hits. Their vocabulary is bounded
    by the corpus's alias constructions — dimension-table sized — so it
    is collected to the driver. Only documents whose text spans contain a
    vocabulary text are re-extracted, with the vocabulary seeded into
    their rescan. Every other document has no alias instance of its own,
    so its pass-1 rows are final; they are kept via a broadcast anti-join
    on doc_id."""
    vocab = tuple(sorted({
        tuple(r) for r in first
        .where(F.col("found_by").startswith("alias-instance"))
        .select("text", "label", "canonical").distinct().collect()}))
    if not vocab:
        return first
    texts = F.array(*[F.lit(t) for t in sorted({t for t, _, _ in vocab})])
    hit = documents.where(F.exists(
        "spans", lambda s: (s["kind"] == "text") &
        F.exists(texts, lambda t: s["text"].contains(t))))
    kept = first.join(F.broadcast(hit.select("doc_id")), "doc_id",
                      "left_anti")
    return kept.unionByName(extract_document_mentions(hit, vocab))
