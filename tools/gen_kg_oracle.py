"""Generate reach_spark/_kg_expected.py — the per-fixture expected outputs
that back the DuckDB oracles for `kg_triples_flagship` and
`kg_canonical_entities`.

Why this is a valid oracle: the driver's interleaved input is DETERMINISTIC
— `__spark_entry__._interleaved_documents` keys each doc's two text spans to
fixture sentences by (doc_id % N) and ((doc_id*7+3) % N). Extraction is
sentence-local (coref off in the flagship), grounding is a pure function of
(canonical, label) against the static KB, and doc-level alias propagation
cannot leak across fixtures (validated below). So the corpus output is a
pure composition of per-fixture outputs, which this script computes ONCE by
running the real pipeline on a one-doc-per-fixture corpus, and the oracle
SQL reconstructs corpus-level results by joining the per-fixture tables
against the doc→fixture mapping derived from `documents`.

Validations enforced here (the assumptions that make per-fixture exact):
  1. No alias-instance text minted by fixture i appears in any other
     fixture j — so pairing fixtures in one doc never changes extraction.
  2. Every canonical key grounds to exactly ONE gid across all fixtures —
     so the triple-formatting gid join is corpus-subset-independent.

Run: python tools/gen_kg_oracle.py   (regenerate whenever fixtures.py or
the extraction/grounding code changes; tests/test_operators_misc.py pins
the fixture-corpus hash so a stale file fails loudly).
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row, functions as F  # noqa: E402

from reach_spark.fixtures import fixture_sentences  # noqa: E402
from reach_spark.session import get_spark  # noqa: E402


def fixture_corpus_sha() -> str:
    h = hashlib.sha256()
    for s in fixture_sentences():
        h.update(s.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


def main() -> None:
    from reach_spark.pipeline import extract_dataframe

    spark = get_spark(app_name="gen_kg_oracle")
    sents = fixture_sentences()
    n = len(sents)
    docs = spark.createDataFrame(
        [Row(doc_id=str(i),
             spans=[Row(kind="text", text=s, media_ref="", offset=0)])
         for i, s in enumerate(sents)])
    res = extract_dataframe(spark, docs, with_coref=False)

    # ---- validation 1: no cross-fixture alias-instance contamination ----
    inst = (res["mentions"]
            .where(F.col("found_by").startswith("alias-instance"))
            .select("doc_id", "text").distinct().collect())
    bad = []
    for r in inst:
        i = int(r["doc_id"])
        for j, s in enumerate(sents):
            if j != i and r["text"] in s:
                bad.append((i, r["text"], j))
    if bad:
        raise SystemExit(
            f"cross-fixture alias contamination (per-fixture oracle would "
            f"be wrong): {bad[:10]}")

    # ---- validation 2: one gid per canonical key ------------------------
    from reach_spark.grounding import ground_map, kb_dataframe
    ents = res["mentions"].where(F.col("kind") == "tbm")
    gmap = ground_map(ents, kb_dataframe(spark))
    dup = (gmap.select("canonical",
                       F.concat_ws(":", "g_ns", "g_id").alias("gid"))
           .distinct().groupBy("canonical").count()
           .where(F.col("count") > 1).collect())
    if dup:
        raise SystemExit(f"canonical keys with >1 gid (corpus-dependent "
                         f"triple formatting): {[r['canonical'] for r in dup]}")

    # ---- per-fixture triple occurrences ---------------------------------
    occ = (res["triple_occurrences"]
           .select(F.col("doc_id").cast("int").alias("fidx"),
                   "subj", "pred", "obj", "negated")
           .collect())
    triples = sorted(
        ((r["fidx"], r["subj"], r["pred"], r["obj"], bool(r["negated"]))
         for r in occ),
        key=lambda t: (t[0], t[1] or "", t[2], t[3], t[4]))

    # ---- per-fixture canonicalization edges (alias_edges + doc_id; keep
    # in sync with reach_spark.canonicalize.alias_edges) ------------------
    g = res["mentions"]
    key_node = F.concat(F.lit("key:"),
                        F.coalesce("canonical", F.lower("text")))
    id_node = F.concat(F.lit("id:"), "g_ns", F.lit(":"), "g_id")
    e1 = (g.where(F.col("kind") == "tbm")
          .where(F.col("label") != "Site")
          .where(~F.col("label").startswith("Generic"))
          .where(F.col("g_ns").isNotNull())
          .select("doc_id", key_node.alias("src"), id_node.alias("dst"))
          .distinct())
    rel = (g.where(F.col("kind") == "relation")
           .where(F.col("label") == "Alias")
           .select("doc_id",
                   F.concat(F.lit("key:"),
                            F.try_element_at("args", F.lit(1))["canonical"])
                   .alias("src"),
                   F.concat(F.lit("key:"),
                            F.try_element_at("args", F.lit(2))["canonical"])
                   .alias("dst"))
           .where(F.col("src") != F.col("dst"))
           .distinct())
    edges = sorted({(int(r["doc_id"]), r["src"], r["dst"])
                    for r in e1.unionByName(rel).collect()})

    # ---- per-fixture event TAMs + allowed within-fixture pairs ---------
    # backs the t5_precedence (Reichenbach decision surface) oracle: the
    # corpus's event-pair population = per-doc (cross-span pairs from the
    # two fixtures' event TAM lists) + (each fixture's own allowed ordered
    # pairs). Validity constraints (arg-of / reg-controlled exclusions)
    # are sentence-local, so the per-fixture pair list is corpus-exact;
    # TAM is a pure function of the sentence token array, so it is
    # span-offset-independent.
    from reach_spark.assembly_ops import _event_pairs, event_tams
    tams = event_tams(res["resolved_mentions"], res["sentences"])
    ev_rows = sorted(
        ((int(r["doc_id"]), r["tense"], r["aspect"],
          int(r["sent_idx"]), int(r["trigger_start"]))
         for r in tams.select("doc_id", "tense", "aspect", "sent_idx",
                              "trigger_start").collect()))
    events = [(f, t, a) for f, t, a, _, _ in ev_rows]
    pair_rows = (_event_pairs(tams)
                 .select(F.col("doc_id").cast("int").alias("fidx"),
                         "tense1", "aspect1", "tense2", "aspect2")
                 .collect())
    pair_tams = sorted((r["fidx"], r["tense1"], r["aspect1"],
                        r["tense2"], r["aspect2"]) for r in pair_rows)

    # ---- per-fixture rows of the per-span queries ----------------------
    # o2_dep_events, n5_crf_ner, o1_token_rules and p2_polarity_ml: each
    # interleaved span is exactly one fixture text, so each query's span
    # function over the fixture text — the same function its Spark query
    # runs through annotate.span_rows, sentence split and si*1000 offsets
    # included — is that fixture's expected rows.
    from reach_spark.crf import crf_span_rows
    from reach_spark.extract import o1_span_rows
    from reach_spark.odin_graph import match_span_rows
    from reach_spark.polarity_ml import polarity_span_rows
    from reach_spark.resources import entity_dictionary
    dictionary = entity_dictionary()

    def per_fixture(span_fn):
        return sorted((i,) + r for i, s in enumerate(sents)
                      for r in span_fn(s))

    dep_events = per_fixture(lambda s: match_span_rows(s, dictionary))
    crf_ner = per_fixture(crf_span_rows)
    o1_sites = per_fixture(lambda s: o1_span_rows(s, dictionary))
    pol_ml = per_fixture(lambda s: polarity_span_rows(s, dictionary))

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "reach_spark", "_kg_expected.py")
    with open(out, "w") as f:
        f.write('"""GENERATED by tools/gen_kg_oracle.py — do not edit.\n\n'
                "Per-fixture expected triple occurrences and "
                "canonicalization edges for the\nDuckDB oracles of "
                "kg_triples_flagship / kg_canonical_entities.\n"
                '"""\n\n')
        f.write(f"N_FIXTURES = {n}\n")
        f.write(f'FIXTURE_SHA = "{fixture_corpus_sha()}"\n\n')
        f.write("# (fidx, subj, pred, obj, negated) — subj None for "
                "unregulated simple events\nTRIPLES = [\n")
        for t in triples:
            f.write(f"    {t!r},\n")
        f.write("]\n\n# (fidx, src, dst)\nEDGES = [\n")
        for e in edges:
            f.write(f"    {e!r},\n")
        f.write("]\n\n# (fidx, tense, aspect) — one row per event mention\n"
                "EVENTS = [\n")
        for e in events:
            f.write(f"    {e!r},\n")
        f.write("]\n\n# (fidx, tense1, aspect1, tense2, aspect2) — allowed"
                " ordered within-fixture pairs\nPAIR_TAMS = [\n")
        for p in pair_tams:
            f.write(f"    {p!r},\n")
        f.write("]\n\n# (fidx, rule, pred, themes, causes, sites, sources,"
                " dests) — dependency-rule events (odin_graph)\n"
                "DEP_EVENTS = [\n")
        for d in dep_events:
            f.write(f"    {d!r},\n")
        f.write("]\n\n# (fidx, label, start, end, text) — statistical-NER"
                " rows (crf)\nCRF_NER = [\n")
        for d in crf_ner:
            f.write(f"    {d!r},\n")
        f.write("]\n\n# (fidx, evt_label, trigger, ml_sign, agree) — "
                "ML-polarity rows (polarity_ml)\nPOLARITY_ML = [\n")
        for d in pol_ml:
            f.write(f"    {d!r},\n")
        f.write("]\n\n# (fidx, rule, label, start, end, text, canonical) —"
                " token-rule rows (o1)\nO1_SITES = [\n")
        for d in o1_sites:
            f.write(f"    {d!r},\n")
        f.write("]\n")
    print(f"wrote {out}: {len(triples)} triple rows, {len(edges)} edge "
          f"rows, {len(events)} event rows, {len(pair_tams)} pair rows, "
          f"{len(dep_events)} dep-event rows, "
          f"{len(crf_ner)} crf-ner rows, {len(pol_ml)} polarity-ml rows, "
          f"{len(o1_sites)} o1-site rows, "
          f"N={n}, sha={fixture_corpus_sha()}")
    spark.stop()


if __name__ == "__main__":
    main()
