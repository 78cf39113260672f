"""Spark-layer tests: span-sequence invariant, grounding contracts,
determinism, checkpoint/resume (FIXTURES.md §1 invariant + BASELINE.md
resumability target)."""

import shutil

import pytest

from pyspark.sql import Row, functions as F

from reach_spark.pipeline import extract_dataframe, run_batch
from reach_spark.synth import make_documents


@pytest.fixture(scope="module")
def docs(spark):
    return make_documents(spark, n_docs=24, skew_every=8,
                          skew_repeat=15).cache()


@pytest.fixture(scope="module")
def results(spark, docs):
    return extract_dataframe(spark, docs)


def test_span_sequence_invariant(spark, docs):
    """Output record's span sequence equals the input's on
    (kind, text, media_ref, order); media spans pass through untouched."""
    before = docs.select(
        "doc_id",
        F.sha2(F.to_json(F.array_sort(
            "spans",
            lambda a, b: F.when(a["offset"] < b["offset"], -1)
                          .when(a["offset"] > b["offset"], 1)
                          .otherwise(0))), 256).alias("h"))
    # the pipeline never mutates documents; media spans are carried to the
    # media table and text spans to sentences — reassemble and compare count
    from reach_spark.annotate import media_spans, text_spans
    n_media = media_spans(docs).count()
    n_text = text_spans(docs).count()
    n_all = docs.select(F.explode("spans")).count()
    assert n_media + n_text == n_all
    # determinism of the input itself (same seed → same hash set)
    docs2 = make_documents(spark, n_docs=24, skew_every=8, skew_repeat=15)
    after = docs2.select(
        "doc_id",
        F.sha2(F.to_json(F.array_sort(
            "spans",
            lambda a, b: F.when(a["offset"] < b["offset"], -1)
                          .when(a["offset"] > b["offset"], 1)
                          .otherwise(0))), 256).alias("h"))
    assert before.exceptAll(after).count() == 0


def test_grounding_contract_gr3(spark):
    """'MEK phosphorylates Ras.' → both TBMs grounded non-uaz, one
    Phosphorylation + one Positive_regulation → one reg triple
    (TestGrounding.scala:38-47, the minimum end-to-end slice)."""
    one = spark.createDataFrame([Row(doc_id="g3", spans=[
        Row(kind="text", text="MEK phosphorylates Ras.", media_ref="",
            offset=0)])])
    res = extract_dataframe(spark, one, with_coref=False)
    ents = {r["text"]: r for r in res["entities"].collect()}
    assert ents["MEK"]["g_ns"] == "uniprot"
    assert ents["Ras"]["g_ns"] == "uniprot"
    trip = res["triples"].collect()
    regs = [t for t in trip if t["pred"] == "Positive_regulation->Phosphorylation"]
    assert len(regs) == 1
    assert regs[0]["subj"].startswith("MEK::uniprot:")
    assert regs[0]["obj"].startswith("Ras::uniprot:")
    assert regs[0]["obj"].endswith(".phos")
    assert regs[0]["negated"] is False


def test_grounding_contract_gr1(spark):
    """'p65 and NF-kappaB p65 are the same entity.' → the two p65 mentions
    share one grounding id (TestGrounding.scala:12-29)."""
    one = spark.createDataFrame([Row(doc_id="g1", spans=[
        Row(kind="text", text="p65 and NF-kappaB p65 are the same entity.",
            media_ref="", offset=0)])])
    res = extract_dataframe(spark, one, with_coref=False)
    p65 = [r for r in res["entities"].collect() if r["text"] == "p65"]
    assert len(p65) == 2
    assert p65[0]["g_id"] == p65[1]["g_id"]
    assert p65[0]["g_ns"] != "uaz"


def test_negated_triple_reg10(spark):
    """'ASPP1 fails to upregulate the phosphorylation of ASPP2.' →
    reg triple with negated=true (FIXTURES.md §3.6 golden)."""
    one = spark.createDataFrame([Row(doc_id="r10", spans=[
        Row(kind="text",
            text="ASPP1 fails to upregulate the phosphorylation of ASPP2.",
            media_ref="", offset=0)])])
    res = extract_dataframe(spark, one, with_coref=False)
    regs = [t for t in res["triples"].collect()
            if t["pred"].startswith("Positive_regulation")]
    assert len(regs) == 1 and regs[0]["negated"] is True


def test_canonicalization_components(spark, results):
    canon = results["canonical_entities"].collect()
    assert len(canon) > 0
    # every component resolves to exactly one canonical id
    assert len({c["component"] for c in canon}) == len(canon)


def test_determinism_two_runs(spark, docs):
    """Two full runs on the same input → identical triple sets
    (deterministic IDs everywhere, SURVEY §7)."""
    a = extract_dataframe(spark, docs, with_coref=False)["triple_occurrences"]
    b = extract_dataframe(spark, docs, with_coref=False)["triple_occurrences"]
    cols = ["doc_id", "sent_idx", "event_id", "subj", "pred", "obj",
            "negated"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_checkpoint_resume(spark, tmp_path_factory):
    """Kill-and-resume: batch 1 (half the docs) then full input → second run
    processes only the remainder; triples equal a one-shot run."""
    out1 = str(tmp_path_factory.mktemp("resume"))
    full = make_documents(spark, n_docs=12, skew_every=0).cache()
    half = full.where(F.col("doc_id") < "doc42_000000006")
    c1 = run_batch(spark, half, out1)
    assert c1["docs"] == 6
    c2 = run_batch(spark, full, out1)
    assert c2["docs"] == 6  # only the remainder (restart anti-join)
    resumed = spark.read.parquet(out1 + "/triple_occurrences")

    out2 = str(tmp_path_factory.mktemp("oneshot"))
    run_batch(spark, full, out2)
    oneshot = spark.read.parquet(out2 + "/triple_occurrences")
    cols = ["doc_id", "sent_idx", "event_id", "subj", "pred", "obj"]
    assert resumed.select(cols).exceptAll(oneshot.select(cols)).count() == 0
    assert oneshot.select(cols).exceptAll(resumed.select(cols)).count() == 0
    # the EER rollup (incl. corpus-wide seen counts) must also be identical
    # between the resumed run and the one-shot run
    ecols = ["subj", "pred", "obj", "negated", "seen"]
    er = spark.read.parquet(out1 + "/triples").select(ecols)
    eo = spark.read.parquet(out2 + "/triples").select(ecols)
    assert er.exceptAll(eo).count() == 0
    assert eo.exceptAll(er).count() == 0
    # metrics rows exist with partition lineage
    metrics = spark.read.parquet(out1 + "/metrics")
    assert {"partition_id", "rows", "stage"} <= set(metrics.columns)
    shutil.rmtree(out1, ignore_errors=True)
    shutil.rmtree(out2, ignore_errors=True)


def test_context_window(spark):
    """Species context flows ±3 sentences (Policy4, Policies.scala:63-98)."""
    sents = ["MEK phosphorylates Ras.",
             "This was observed in human cells.",
             "AKT1 is acetylated at lysine 163."]
    one = spark.createDataFrame([Row(doc_id="ctx", spans=[
        Row(kind="text", text=t, media_ref="", offset=i)
        for i, t in enumerate(sents)])])
    res = extract_dataframe(spark, one, with_coref=False)
    ctx = {r["sent_idx"]: r["context_species"]
           for r in res["context"].collect()}
    assert any("taxonomy" in s for v in ctx.values() for s in (v or []))
    # sentence 0 inherits species from sentence 1 (within +3 window)
    assert ctx[0] and any("taxonomy" in s for s in ctx[0])


def test_uniprot_overrides(spark):
    """Override KB parity (TestOverrides.scala:22-40): authoritative
    UniProt accessions for the manually-overridden names."""
    from reach_spark.grounding import ground_map, kb_dataframe
    sent = ("ADAM17, AKT1, AKT2, ASPP1, ASPP2, Casp8, EGF, EGFR, ERK5 and "
            "GSK3beta are GGPs.")
    docs = spark.createDataFrame(
        [Row(doc_id="ovr", spans=[Row(kind="text", text=sent,
                                      media_ref="", offset=0)])])
    res = extract_dataframe(spark, docs, with_coref=False)
    ents = res["entities"].select("text", "g_ns", "g_id").collect()
    got = {r["text"]: (r["g_ns"], r["g_id"]) for r in ents}
    expected = {
        "ADAM17": "P78536", "AKT1": "P31749", "AKT2": "P31751",
        "ASPP1": "Q96KQ4", "ASPP2": "Q13625", "Casp8": "Q14790",
        "EGF": "P01133", "EGFR": "P00533", "ERK5": "Q13164",
        "GSK3beta": "P49841",
    }
    for name, acc in expected.items():
        assert got.get(name) == ("uniprot", acc), (name, got.get(name))


def test_namespace_routing_by_label(spark):
    """Test{Protein,Family,Organ}Resolutions analog: each entity label
    routes to its KB namespace (G1 label→KB routing,
    ReachEntityLookup.scala:56-92)."""
    sent = ("MEK and the Ras family in the liver of a mouse with apoptosis "
            "and GTP in HeLa cells.")
    docs = spark.createDataFrame([Row(doc_id="ns1", spans=[
        Row(kind="text", text=sent, media_ref="", offset=0)])])
    res = extract_dataframe(spark, docs, with_coref=False)
    ns_by_text = {r["text"]: r["g_ns"] for r in res["entities"].collect()}
    assert ns_by_text["MEK"] == "uniprot"
    assert ns_by_text["Ras family"] == "pfam"
    assert ns_by_text["liver"] == "uberon"
    assert ns_by_text["mouse"] == "taxonomy"
    assert ns_by_text["apoptosis"] == "go"
    assert ns_by_text["GTP"] == "pubchem"
    assert ns_by_text["HeLa"] == "cellosaurus"


def test_key_transform_breadth(spark):
    """G2 transforms beyond the basic six (ReachKBKeyTransforms.scala
    :28-95): construct-tag prefixes (FLAG-Akt1 → Akt1's accession) and
    species prefixes (hASPP2, caught by the shape NER, → ASPP2's
    accession)."""
    docs = spark.createDataFrame([Row(doc_id="kt1", spans=[
        Row(kind="text", text="FLAG-Akt1 binds hASPP2.", media_ref="",
            offset=0)])])
    res = extract_dataframe(spark, docs, with_coref=False)
    got = {r["text"]: (r["g_ns"], r["g_id"])
           for r in res["entities"].collect()}
    assert got["FLAG-Akt1"] == ("uniprot", "P31749")
    assert got["hASPP2"] == ("uniprot", "Q13625")


def test_az_failsafe_grounding(spark):
    """TestAzFailsafeKB.scala contract: an unknown surface form grounds to
    a deterministic UAZ id — stable across case variants of the same key,
    distinct for distinct keys, never empty."""
    from reach_spark.grounding import ground_map, kb_dataframe
    ents = spark.createDataFrame(
        [("xxxq", "Gene_or_gene_product", "XXXQ"),
         ("xxxq", "Gene_or_gene_product", "xxxq"),
         ("xxxxq", "Gene_or_gene_product", "XXXXQ")],
        ["canonical", "label", "text"])
    by_canon = {r["canonical"]: r for r in
                ground_map(ents, kb_dataframe(spark)).collect()}
    assert by_canon["xxxq"]["g_ns"] == "uaz"
    assert by_canon["xxxq"]["g_id"].startswith("UAZ")
    assert by_canon["xxxxq"]["g_ns"] == "uaz"
    assert by_canon["xxxq"]["g_id"] != by_canon["xxxxq"]["g_id"]
    # repeat resolution returns the identical id (pure content hash)
    again = {r["canonical"]: r["g_id"] for r in
             ground_map(ents, kb_dataframe(spark)).collect()}
    assert again["xxxq"] == by_canon["xxxq"]["g_id"]


def test_ner_stoplist(spark):
    """Lowercase common-word collisions never become entities
    (ner_stoplist mechanism, TestNERStopList.scala)."""
    from reach_spark.extract import extract_sentence
    from reach_spark.resources import NER_STOPLIST, entity_dictionary
    d = dict(entity_dictionary())
    # poison the dictionary with a stoplisted common word, as a large KB
    # inevitably does ("cell" is a synonym in real KBs)
    d["cell"] = ("Gene_or_gene_product", "cell")
    _, ms = extract_sentence("t", 0, "The cell is small.", d)
    assert not [m for m in ms if m["kind"] == "tbm"]
    # capitalized form still matches (stoplist is lowercase-only)
    _, ms2 = extract_sentence("t", 0, "Cell is small.", d)
    assert [m for m in ms2 if m["kind"] == "tbm"]


def test_alias_instance_propagation(spark):
    """Doc-wide InstanceFinder rescan (G6, coref/Alias.scala:12-75): a name
    minted by an alias construction in sentence 0 becomes an entity in
    sentence 1 of the SAME doc, with the shared grounding canonical —
    TestCoreference.scala:500-507 (sent45a/b across FriesEntries)."""
    docs = spark.createDataFrame([Row(doc_id="aliasDoc", spans=[
        Row(kind="text",
            text="Akt1 (a.k.a. Akt334, AktTR, or Akt4H) is phosphorylated. "
                 "AktTR is ubiquitinated.",
            media_ref="", offset=0)])])
    res = extract_dataframe(spark, docs, with_coref=False)
    ms = res["mentions"].collect()
    akttr = [m for m in ms if m["text"] == "AktTR" and m["kind"] == "tbm"]
    akt1 = [m for m in ms if m["text"] == "Akt1"]
    assert len(akttr) == 2  # defining sentence + rescanned sentence 2
    assert all(m["canonical"] == akt1[0]["canonical"] for m in akttr)
    ubiq = [m for m in ms if m["label"] == "Ubiquitination"]
    assert len(ubiq) == 1 and ubiq[0]["sent_idx"] == 1


def test_corpus_alias_propagation(spark):
    """Corpus-wide mode (reference extractFrom(Seq(doc1, doc2)),
    TestCoreference.scala:622-635 sent61): an alias defined in doc2 makes
    '23peM' an entity in doc1 with ASPP1's grounding."""
    docs = spark.createDataFrame([
        Row(doc_id="testDoc1", spans=[
            Row(kind="text", text="We examine the role of 23peM.",
                media_ref="", offset=0)]),
        Row(doc_id="testDoc2", spans=[
            Row(kind="text", text="23peM (ASPP1) is a common protein.",
                media_ref="", offset=0)]),
    ])
    res = extract_dataframe(spark, docs, with_coref=False,
                            corpus_aliases=True)
    ms = res["mentions"].collect()
    nonces = [m for m in ms if m["text"] == "23peM"]
    assert {m["doc_id"] for m in nonces} == {"testDoc1", "testDoc2"}
    assert all(m["canonical"] == "aspp1" for m in nonces)


def test_max_doc_spans_guard(spark):
    """Pathological-document guard: max_doc_spans caps the span array
    (bounding the worst single task) while a doc under the cap is exact.
    Docs are the atomic unit — the cap is the doc-level analog of the
    100-token sentence parse guard."""
    span = {"kind": "text", "text": "Ras phosphorylates MEK.",
            "media_ref": "", "offset": 0}
    many = [dict(span, offset=i) for i in range(30)]
    docs = spark.createDataFrame(
        [("big", many), ("small", many[:2])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    capped = extract_dataframe(spark, docs, with_coref=False,
                               persist=False, max_doc_spans=5)
    per_doc = {r["doc_id"]: r["n"] for r in
               capped["mentions"].where("kind = 'tbm'")
               .groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per_doc["big"] == 5 * per_doc["small"] / 2  # 5 spans survive
    exact = extract_dataframe(spark, docs, with_coref=False, persist=False)
    n_exact = (exact["mentions"].where("kind = 'tbm'")
               .where("doc_id = 'big'").count())
    assert n_exact == 30 * per_doc["small"] / 2  # default: no cap


def test_span_sentence_guard(spark):
    """sent_idx = span_pos * 1000 + index in span: a span of 1000 or
    more sentences would collide, so the one split_span guard raises —
    called directly and inside the fused extraction UDF alike."""
    from pyspark.errors import PythonException

    from reach_spark.extract import split_span
    from reach_spark.mentions import extract_document_mentions
    assert len(split_span("Ras binds MEK. " * 999)) == 999
    text = "Ras binds MEK. " * 1000
    with pytest.raises(ValueError, match="sent_idx encoding would collide"):
        split_span(text)
    docs = spark.createDataFrame([Row(doc_id="mega", spans=[
        Row(kind="text", text=text, media_ref="", offset=0)])])
    with pytest.raises(PythonException,
                       match="sent_idx encoding would collide"):
        extract_document_mentions(docs).collect()


def test_span_operators_match_one_thread(spark):
    """Every per-span operator runs its span function through
    annotate.span_rows: Spark's (keys, seen) table equals a one-thread
    Counter of that span function over the non-empty text spans. The
    input has a two-sentence span (si * 1000 offsets), the same span
    text in two documents (a memo hit) and an empty text span."""
    from collections import Counter
    from functools import partial

    from reach_spark.annotate import annotate_sentences, text_spans
    from reach_spark.crf import crf_ner_df, crf_span_rows
    from reach_spark.extract import o1_span_rows, split_span, token_rules_df
    from reach_spark.odin_graph import dep_events_df, match_span_rows
    from reach_spark.polarity_ml import polarity_ml_df, polarity_span_rows
    from reach_spark.resources import entity_dictionary

    two = ("TopBP1 phosphorylates ATR at Ser-216. "
           "Ras activation increases the phosphorylation of MEK.")
    one = "ASPP1 binds p53 and the Kras-GTP complex."

    def span(text, offset):
        return Row(kind="text", text=text, media_ref="", offset=offset)

    docs = spark.createDataFrame([
        Row(doc_id="a", spans=[span(two, 0), span("", 1), span(one, 2)]),
        Row(doc_id="b", spans=[span(two, 0)])])
    spans = text_spans(docs).collect()
    texts = [r["span_text"] for r in spans]
    assert sorted(texts) == sorted([two, "", one, two])

    dictionary = entity_dictionary()
    cases = [
        (crf_ner_df, crf_span_rows),
        (token_rules_df, partial(o1_span_rows, dictionary=dictionary)),
        (dep_events_df, partial(match_span_rows, dictionary=dictionary)),
        (polarity_ml_df, partial(polarity_span_rows, dictionary=dictionary)),
    ]
    for query, span_fn in cases:
        want = Counter(r for t in texts if t for r in span_fn(t))
        assert want, query.__name__
        got = {tuple(r[:-1]): r["seen"] for r in query(docs).collect()}
        assert got == dict(want), query.__name__
    assert any(r[1] >= 1000 for r in crf_span_rows(two))  # 2nd sentence

    # sentences table: sent_idx = span_pos * 1000 + index in the span
    got = sorted((r["doc_id"], r["sent_idx"], r["sent_text"])
                 for r in annotate_sentences(docs).collect())
    want = sorted((r["doc_id"], r["span_pos"] * 1000 + li, sent)
                  for r in spans if r["span_text"]
                  for li, sent in enumerate(split_span(r["span_text"])))
    assert got == want
    assert [(d, i) for d, i, _ in got] == [
        ("a", 0), ("a", 1), ("a", 2000), ("b", 0), ("b", 1)]


# sha256 of the canonical JSON of mentions._extract_base over every
# fixture sentence, recorded while annotate_sentence still computed the
# light dependency parse for the negation check
_FIXTURE_BASE_SHA256 = ("ceab003e3c9b76d42d041be278886396"
                        "ddfed4484f0243652605fc16cdf17a07")


def test_extraction_never_parses(spark, monkeypatch):
    """The light dependency parse feeds only the sentences table and the
    O2 dependency rules. Mention extraction never calls it, and its
    output is unchanged from when it parsed every sentence."""
    import hashlib
    import json

    from reach_spark import deps
    from reach_spark.fixtures import fixture_sentences
    from reach_spark.mentions import _extract_base
    from reach_spark.resources import entity_dictionary

    def no_parse(*_args):
        raise AssertionError("light_deps called during mention extraction")

    monkeypatch.setattr(deps, "light_deps", no_parse)
    dictionary = entity_dictionary()
    base = [_extract_base(s, dictionary) for s in fixture_sentences()]
    blob = json.dumps(base, sort_keys=True, default=str).encode()
    assert hashlib.sha256(blob).hexdigest() == _FIXTURE_BASE_SHA256
    # the patch reaches this driver process only (Spark's Python workers
    # import their own reach_spark): planning and collecting the pipeline
    # must not parse driver-side
    docs = spark.createDataFrame([Row(doc_id="np", spans=[
        Row(kind="text", text="MEK does not inhibit ERK.", media_ref="",
            offset=0)])])
    res = extract_dataframe(spark, docs, with_coref=False, persist=False)
    assert any(t["negated"] for t in res["triples"].collect())
