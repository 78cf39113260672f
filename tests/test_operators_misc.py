"""Mutation splitting (F8), alias canonization (G6), FRIES sink (S5)."""

from pyspark.sql import Row, functions as F

from reach_spark.extract import extract_sentence
from reach_spark.pipeline import extract_dataframe
from reach_spark.resources import entity_dictionary

DICT = entity_dictionary()


def test_mutation_splitting_f8():
    """Entity with k>1 Mutant mods → k copies, one per mutation
    (ReachSystem.scala:257-275)."""
    _, mentions = extract_sentence(
        "d", 0, "The EGFR T669A L858R mutant phosphorylates ERBB3.", DICT)
    egfr = [m for m in mentions if m["kind"] == "tbm" and m["text"] == "EGFR"]
    assert len(egfr) == 2
    muts = sorted(m["mods"][0]["evidence_text"] for m in egfr)
    assert muts == ["L858R", "T669A"]
    assert len({m["mention_id"] for m in egfr}) == 2


def test_alias_relation_g6():
    _, mentions = extract_sentence(
        "d", 0, "Ras (HRAS) binds AKT.", DICT)
    aliases = [m for m in mentions if m["label"] == "Alias"]
    assert len(aliases) == 1
    texts = {a["text"] for a in aliases[0]["args"]}
    assert texts == {"Ras", "HRAS"}


def test_alias_feeds_canonicalization(spark):
    """The alias pair must land key:ras and key:hras in one component."""
    one = spark.createDataFrame([Row(doc_id="a1", spans=[
        Row(kind="text", text="Ras (HRAS) binds AKT.", media_ref="",
            offset=0)])])
    res = extract_dataframe(spark, one, with_coref=False)
    canon = res["canonical_entities"].collect()
    joint = [c for c in canon if c["names"] and
             "ras" in c["names"] and "hras" in c["names"]]
    assert len(joint) == 1


def test_fries_frames(spark, tmp_path):
    from reach_spark.fries import entity_frames, event_frames, write_fries
    one = spark.createDataFrame([Row(doc_id="f1", spans=[
        Row(kind="text", text="MEK phosphorylates Ras.", media_ref="",
            offset=0)])])
    res = extract_dataframe(spark, one, with_coref=False)
    ef = entity_frames(res["mentions"]).collect()
    assert {e["text"] for e in ef} == {"MEK", "Ras"}
    assert all(e["frame_type"] == "entity-mention" for e in ef)
    vf = event_frames(res["mentions"]).collect()
    assert any(v["type"] == "Phosphorylation" for v in vf)
    regs = [v for v in vf if v["type"] == "Positive_regulation"]
    assert regs and {a["role"] for a in regs[0]["arguments"]} == \
        {"controller", "controlled"}
    write_fries(res["mentions"], str(tmp_path))
    assert spark.read.json(str(tmp_path) + "/fries_events").count() >= 2


def test_context_policies(spark):
    """[C2/C3] The three context policies (Policies.scala:11-98): padded
    sees species from a FOLLOWING sentence, preceding does not, fill
    carries context forward unboundedly."""
    from reach_spark.context_ops import assign_context
    sents = ["This was observed in human cells.",
             "MEK phosphorylates Ras.",
             "AKT1 binds ASPP2.",
             "ERK1 binds ASPP1.",
             "MEK binds GTP.",
             "p53 binds MDM2.",
             "EGFR is acetylated."]
    # species ONLY in sentence 0; sentence 6 is > 3 sentences away
    docs = spark.createDataFrame([Row(doc_id="cp", spans=[
        Row(kind="text", text=t, media_ref="", offset=i)
        for i, t in enumerate(sents)])])
    res = extract_dataframe(spark, docs, with_coref=False)
    m = res["mentions"]

    def species_at(policy, fallback=False):
        ctx = assign_context(m, policy=policy,
                             species_fallback=fallback).collect()
        return {r["sent_idx"]: list(r["context_species"] or []) for r in ctx}

    padded = species_at("padded")
    assert padded[1000] and not padded[6000]  # ±3 reaches s1, not s6
    fill = species_at("fill")
    assert fill[6000]  # carries forward unboundedly
    prec = species_at("preceding")
    assert prec[3000] and not prec[6000]
    # 'preceding' at the species sentence itself still sees it
    assert prec[0]
    # default-species fallback (Policies.scala:27-35): with it on (the
    # production default), the out-of-window sentence 6 inherits the
    # document-dominant species — the reference's "have fallback species"
    # behavior (context/TestDeterministicPolicies.scala)
    padded_fb = species_at("padded", fallback=True)
    assert padded_fb[6000] == padded_fb[1000]  # inherits the doc default
    ctx_all = {r["sent_idx"]: list(r["context_all"] or [])
               for r in assign_context(m, species_fallback=True).collect()}
    assert any(s.startswith("Species=") for s in ctx_all[6000])


def test_fries_frame_linking(spark, tmp_path):
    """S5 spec completeness (doc/fries-data-representation-spec.txt:60-151,
    TestFriesOutput.scala analog): passage, sentence, mention and context
    frames exist with the spec's reference structure — every sentence
    frame points at an existing passage frame, every mention frame at an
    existing sentence frame, and species context rides on event frames."""
    from reach_spark.fries import (context_frames, entity_frames,
                                   event_frames, passage_frames,
                                   sentence_frames, write_fries)
    docs = spark.createDataFrame([Row(doc_id="fr1", spans=[
        Row(kind="text", text="MEK phosphorylates Ras.", media_ref="",
            offset=0),
        Row(kind="text", text="This was observed in human cells.",
            media_ref="", offset=1)])])
    res = extract_dataframe(spark, docs, with_coref=False)
    sents = res["sentences"]
    passages = {r["frame_id"] for r in passage_frames(docs).collect()}
    assert passages == {"pass-fr1-0", "pass-fr1-1"}
    sfs = sentence_frames(sents).collect()
    assert {s["frame_id"] for s in sfs} == {"sent-fr1-0-0", "sent-fr1-1-0"}
    assert all(s["passage"] in passages for s in sfs)
    sids = {s["frame_id"] for s in sfs}
    efs = entity_frames(res["mentions"]).collect()
    assert efs and all(e["sentence"] in sids for e in efs)
    vfs = event_frames(res["mentions"], res["context"]).collect()
    assert vfs and all(v["sentence"] in sids for v in vfs)
    # species context from sentence 2 rides on the sentence-1 event frames
    # via the ±3 window
    assert any(v["context"] and any("taxonomy" in c for c in v["context"])
               for v in vfs)
    cfs = context_frames(res["context"]).collect()
    assert cfs and all(c["scope"] in sids for c in cfs)
    write_fries(res["mentions"], str(tmp_path), documents=docs,
                sentences=sents, context=res["context"])
    assert spark.read.json(str(tmp_path) + "/fries_passages").count() == 2
    assert spark.read.json(str(tmp_path) + "/fries_sentences").count() == 2


def test_dsv_and_plaintext_sources(spark, tmp_path):
    """S2 connectors land on the documents schema and feed the pipeline
    (reference PaperReader.scala:102-137, utils/DSVParser.scala)."""
    from reach_spark.sources import read_dsv, read_plaintext
    from reach_spark.pipeline import extract_dataframe
    tsv = tmp_path / "in.tsv"
    tsv.write_text("doc_id\ttext\nd1\tMEK phosphorylates Ras.\n"
                   "d2\tASPP1 is an inhibitor of ASPP2\n")
    docs = read_dsv(spark, str(tsv))
    assert docs.columns == ["doc_id", "spans"]
    res = extract_dataframe(spark, docs, with_coref=False)
    preds = {r["pred"] for r in res["triples"].collect()}
    assert "Positive_regulation->Phosphorylation" in preds
    assert "Negative_activation" in preds

    txtdir = tmp_path / "txts"
    txtdir.mkdir()
    (txtdir / "p1.txt").write_text("MEK binds to Ras.")
    docs2 = read_plaintext(spark, str(txtdir))
    rows = docs2.collect()
    assert rows and rows[0]["doc_id"] == "p1"


def test_index_card_sink(spark):
    """S6 IndexCard sink: one card per event occurrence with the reference
    interaction_type vocabulary (IndexCardOutput.scala): a regulation over
    a PTM event → adds_modification with a modifications struct."""
    from reach_spark.fries import index_cards
    from reach_spark.pipeline import extract_dataframe
    from pyspark.sql import Row
    docs = spark.createDataFrame([Row(doc_id="c1", spans=[
        Row(kind="text", text="MEK phosphorylates Ras.", media_ref="",
            offset=0)])])
    res = extract_dataframe(spark, docs, with_coref=False)
    cards = index_cards(res["triple_occurrences"]).collect()
    itypes = {c["extracted_information"]["interaction_type"] for c in cards}
    assert "adds_modification" in itypes  # Positive_regulation->PTM card
    mod_cards = [c for c in cards
                 if c["extracted_information"]["interaction_type"]
                 == "adds_modification"]
    assert all(
        c["extracted_information"]["modifications"][0]["modification_type"]
        == "phosphorylation" for c in mod_cards)


def test_simple_event_rules_are_data():
    """[O5] The simple-event families load from the declarative rule file
    (reach_spark/rules/simple_events.yml, the reference events_master.yml
    template-instantiation analog) and are the single source of truth for
    both the extractor stems and the export PTM suffixes."""
    from reach_spark.resources import (SIMPLE_EVENT_STEMS,
                                       load_simple_event_rules)
    from reach_spark.triples import PTM_SUFFIX
    stems, suffixes, alts = load_simple_event_rules()
    assert stems == SIMPLE_EVENT_STEMS
    assert suffixes == PTM_SUFFIX
    assert stems["Phosphorylation"] == ("phosphorylat", "phosphorylation")
    assert PTM_SUFFIX["Dephosphorylation"] == "dephos"
    # alias spellings (ubiquit(in|yl)ate, events_master.yml:93) are data too
    assert alts["ubiquitylat"] == "ubiquitinat"


def test_rule_file_covers_reference_families():
    """[O5 parity] Every simple-event family the reference master file
    instantiates (events_master.yml simple-event_template imports) is
    covered by our declarative rule file — De- families derive from the
    base stems (the extractor's de-prefix handling + mechanical De-
    suffixes), so De-X counts as covered when X is."""
    import os
    ref = ("/root/reference/main/src/main/resources/org/clulab/reach/"
           "biogrammar/events_master.yml")
    if not os.path.exists(ref):
        import pytest
        pytest.skip("reference checkout not available")
    import yaml
    with open(ref) as f:
        doc = yaml.safe_load(f)
    fams = {r["vars"]["eventName"] for r in doc.get("rules", [])
            if isinstance(r, dict) and
            "simple-event_template" in str(r.get("import", "")) and
            "eventName" in r.get("vars", {})}
    from reach_spark.resources import SIMPLE_EVENT_STEMS
    covered = set(SIMPLE_EVENT_STEMS) | {
        "De" + k.lower() for k in SIMPLE_EVENT_STEMS}
    missing = fams - covered
    assert not missing, f"reference families not in our rule file: {missing}"


def test_complex_event_rules_are_data():
    """[O5] Regulation/activation/binding/translocation/transcription/
    degradation/conversion trigger lexicons load from
    rules/complex_events.yml — the declared single source of truth for
    the complex-event cascade vocabulary."""
    from reach_spark import resources as R
    rules = R.load_complex_event_rules()
    assert rules["regulation"]["posTriggerStems"] == R.POS_TRIGGER_STEMS
    assert rules["regulation"]["negTriggerStems"] == R.NEG_TRIGGER_STEMS
    assert rules["families"]["Binding"]["verbalStems"] == \
        R.BINDING_VERB_STEMS
    assert rules["families"]["Translocation"]["verbalStems"] == \
        R.TRANSLOCATION_STEMS
    assert "inhibit" in R.NEG_TRIGGER_STEMS
    assert "activat" in R.POS_TRIGGER_STEMS


def test_complex_rule_file_covers_reference_triggers():
    """[O5 parity] Our pos/neg regulation stem lists cover the reference
    master grammar's posTriggers/negTriggers vars verbatim
    (events_master.yml:6-7) — the vocabulary the pos-reg/neg-reg templates
    instantiate."""
    import os
    import re
    ref = ("/root/reference/main/src/main/resources/org/clulab/reach/"
           "biogrammar/events_master.yml")
    if not os.path.exists(ref):
        import pytest
        pytest.skip("reference checkout not available")
    import yaml
    with open(ref) as f:
        doc = yaml.safe_load(f)
    ref_pos = set(doc["vars"]["posTriggers"].split("|"))
    ref_neg = set(doc["vars"]["negTriggers"].split("|"))
    from reach_spark import resources as R
    assert ref_pos <= set(R.POS_TRIGGER_STEMS), \
        ref_pos - set(R.POS_TRIGGER_STEMS)
    assert ref_neg <= set(R.NEG_TRIGGER_STEMS), \
        ref_neg - set(R.NEG_TRIGGER_STEMS)
    # binding vocabulary: the reference bind_events.yml trigger words are
    # prefix-covered by our binding stems
    bind = ("/root/reference/main/src/main/resources/org/clulab/reach/"
            "biogrammar/events/bind_events.yml")
    with open(bind) as f:
        text = f.read()
    words = set(re.findall(
        r"\b(bind\w*|bound|interact\w*|associat\w*|heterodimer\w*|"
        r"dimeriz\w*|ligat\w*|complex\w*)\b", text.lower()))
    stems = R.BINDING_VERB_STEMS + R.BINDING_NOUNS
    uncovered = {w for w in words
                 if not any(w.startswith(s) for s in stems)}
    assert not uncovered, uncovered


def test_register_trigger_stems_runtime():
    """[O5] Extending a complex-event lexicon at runtime is pure data: a
    new negative-regulation stem and a new binding verbal stem are picked
    up by the cascade immediately, and unregistration restores the prior
    vocabulary."""
    from reach_spark import resources as R
    from reach_spark.extract import extract_sentence
    d = R.entity_dictionary()
    # nonsense stems that are not in any shipped lexicon
    def neg_labels(ms):
        return [m["label"] for m in ms
                if m["label"].startswith("Negative_")]
    _, ms = extract_sentence("d", 0, "MEK obliterxates Ras.", d)
    assert not neg_labels(ms)
    R.register_trigger_stems("negTriggerStems", ["obliterx"])
    try:
        _, ms = extract_sentence("d", 0, "MEK obliterxates Ras.", d)
        # controlled is a plain entity -> Negative_activation (reference
        # activation-vs-regulation routing)
        assert neg_labels(ms) == ["Negative_activation"]
    finally:
        R.unregister_trigger_stems("negTriggerStems", ["obliterx"])
    _, ms = extract_sentence("d", 0, "MEK obliterxates Ras.", d)
    assert not neg_labels(ms)

    _, ms = extract_sentence("d", 0, "MEK conjoinxates with Ras.", d)
    assert "Binding" not in [m["label"] for m in ms]
    R.register_trigger_stems("Binding.verbalStems", ["conjoinx"])
    try:
        _, ms = extract_sentence("d", 0, "MEK conjoinxates with Ras.", d)
        assert "Binding" in [m["label"] for m in ms]
    finally:
        R.unregister_trigger_stems("Binding.verbalStems", ["conjoinx"])


def test_register_event_family_runtime():
    """[O5] A NEW event family registered as pure data is picked up by the
    whole cascade (verbal form + regulation wrapper) with no code change."""
    from reach_spark import resources as R
    from reach_spark.extract import extract_sentence
    R.register_event_family("Palmitoylation", "palmitoylat",
                            "palmitoylation", "palm")
    try:
        _, ms = extract_sentence("d", 0, "MEK palmitoylates Ras.",
                                 R.entity_dictionary())
        labs = [m["label"] for m in ms]
        assert "Palmitoylation" in labs
        assert "Positive_regulation" in labs
        assert R.PTM_SUFFIXES["Depalmitoylation"] == "depalm"
    finally:
        R.unregister_event_family("Palmitoylation")
    _, ms = extract_sentence("d2", 0, "MEK palmitoylates Ras.",
                             R.entity_dictionary())
    assert "Palmitoylation" not in [m["label"] for m in ms]


def test_kg_expected_not_stale():
    """The generated per-fixture oracle data (reach_spark/_kg_expected.py)
    pins a hash of the fixture corpus; if fixtures.py changes without
    re-running tools/gen_kg_oracle.py, this fails loudly instead of the
    driver's DuckDB oracle silently mismatching."""
    import hashlib
    from reach_spark import _kg_expected as E
    from reach_spark.fixtures import fixture_sentences
    sents = fixture_sentences()
    h = hashlib.sha256()
    for s in sents:
        h.update(s.encode("utf-8"))
        h.update(b"\x00")
    assert E.N_FIXTURES == len(sents)
    assert E.FIXTURE_SHA == h.hexdigest()[:16], (
        "fixtures.py changed — regenerate with: python tools/gen_kg_oracle.py")
    assert len(E.TRIPLES) > 500 and len(E.EDGES) > 1000


def test_triple_eer_dedup(spark):
    """T1/T2/T4: duplicate evidence collapses to ONE row per equivalence
    class with seen = evidence count (AssemblyExporter.scala:114-180) —
    the same sentence in two docs and twice within one doc → seen=3."""
    from pyspark.sql import Row
    sent = "MEK phosphorylates Ras."
    docs = spark.createDataFrame([
        Row(doc_id="d1", spans=[
            Row(kind="text", text=sent, media_ref="", offset=0),
            Row(kind="text", text=sent, media_ref="", offset=1)]),
        Row(doc_id="d2", spans=[
            Row(kind="text", text=sent, media_ref="", offset=0)]),
    ])
    res = extract_dataframe(spark, docs, with_coref=False)
    trip = res["triples"].collect()
    regs = [t for t in trip
            if t["pred"] == "Positive_regulation->Phosphorylation"]
    assert len(regs) == 1  # ONE row per EER, not one per occurrence
    assert regs[0]["seen"] == 3
    assert sorted(regs[0]["seen_in"]) == ["d1", "d2"]
    occ = res["triple_occurrences"].where(
        F.col("pred") == "Positive_regulation->Phosphorylation")
    assert occ.count() == 3


def test_sessionize_events_semantics(spark):
    """Gap-based sessionization: a >30-min gap starts a new session;
    within-gap events accrue; sessions index from 1 per user."""
    import datetime as dt
    from reach_spark.relational import sessionize_events
    import tempfile, os
    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "a", 0.0, "{}"),
        (1, base + dt.timedelta(minutes=10), 1, "a", 0.0, "{}"),
        (2, base + dt.timedelta(minutes=50), 1, "a", 0.0, "{}"),  # gap 40m
        (3, base, 2, "a", 0.0, "{}"),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string") \
        .write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {(r["user_id"], r["session_idx"]):
           (r["n_events"], r["first_event_id"], r["last_event_id"],
            r["duration_us"])
           for r in sessionize_events(spark, d).collect()}
    assert got == {
        (1, 1): (2, 0, 1, 10 * 60 * 1_000_000),
        (1, 2): (1, 2, 2, 0),
        (2, 1): (1, 3, 3, 0),
    }


def test_winnow_guarantee(spark):
    """Winnowing's core property (Schleimer et al. SIGMOD'03): two
    documents sharing a run of >= W + k - 1 tokens (here 4 + 3 - 1 = 6)
    MUST share at least one selected fingerprint value; selection is also
    far sparser than the full shingle set."""
    import tempfile, os
    from reach_spark.textops import QUERIES
    shared = "alpha beta gamma delta epsilon zeta"   # 6 shared tokens
    rows = [
        (0, "x1 x2 x3 " + shared + " x4 x5", "en", "s", 0),
        (1, "y1 " + shared + " y2 y3 y4 y5 y6", "en", "s", 0),
        (2, "totally different words only here never matching", "en",
         "s", 0),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(os.path.join(d,
                                                      "documents.parquet"))
    fp = QUERIES["doc_winnow"][0](spark, d)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared 6-token run must share a print"
    assert not (by_doc[0] & by_doc.get(2, set()))
    # sparsity: fewer selections than shingles (n_tokens - 2 shingles/doc)
    assert all(len(v) < 10 for v in by_doc.values())


def test_vocab_topk_hand_computed(spark):
    """Top-K vocabulary over a 3-doc corpus: counts, (count DESC, token)
    tie-break ranks, and floored coverage ppm."""
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": ["aa bb", "aa cc!", "aa bb 7"]})
    d = "/tmp/vocab_topk_test"
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    from reach_spark import textops
    fn, _ = textops.QUERIES["vocab_topk"]
    rows = {r["token"]: (r["rank"], r["n"], r["coverage_ppm"])
            for r in fn(spark, d).collect()}
    # tokens: aa x3, bb x2, cc x1, ! x1, 7 x1  (total 8)
    assert rows["aa"] == (1, 3, 375000)
    assert rows["bb"] == (2, 2, 250000)
    # ties n=1 rank by token string ascending: '!' < '7' < 'cc'
    assert rows["!"][0] == 3 and rows["7"][0] == 4 and rows["cc"][0] == 5
    assert rows["cc"][2] == 125000


def test_decontaminate_ngram_hand_computed(spark):
    """Docs 0/1 form the benchmark; doc 102 shares a 3-gram with doc 0,
    doc 203 shares nothing."""
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 102, 203],
        "text": ["the cat sat on the mat",
                 "completely different benchmark line here",
                 "yesterday the cat sat on a rug",
                 "no overlap at all in this row"]})
    d = "/tmp/decontam_test"
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    from reach_spark import textops
    fn, _ = textops.QUERIES["decontaminate_ngram"]
    rows = {r["doc_id"]: (r["n_hits"], r["is_contaminated"])
            for r in fn(spark, d).collect()}
    assert set(rows) == {102, 203}
    assert rows[102] == (2, True)   # 'the cat sat' + 'cat sat on'
    assert rows[203] == (0, False)


def test_decontaminate_plan_broadcasts_benchmark(spark):
    from reach_spark import textops
    fn, _ = textops.QUERIES["decontaminate_ngram"]
    plan = fn(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_hand_computed(spark):
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [5], "text": ["hello a@b.com world"]})
    d = "/tmp/pii_test"
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    from reach_spark import textops
    fn, _ = textops.QUERIES["pii_scrub"]
    r = fn(spark, d).collect()[0]
    # original email + the synthetic appended one; one synthetic phone
    assert r["n_emails"] == 2 and r["n_phones"] == 1
    import hashlib
    expected = ("hello <EMAIL> world Contact <EMAIL> or <PHONE>")
    assert r["redacted_md5"] == hashlib.md5(expected.encode()).hexdigest()


def test_quality_repetition_hand_computed(spark):
    """'a b a b a b' -> 3-grams [aba, bab, aba, bab] (4 total, 2 distinct)
    -> dup_ppm = 500000; a short doc with <3 words has zero shingles."""
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [1, 2],
                        "text": ["a b a b a b", "hi there"]})
    d = "/tmp/qual_rep_test"
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    from reach_spark import textops
    fn, _ = textops.QUERIES["quality_repetition"]
    rows = {r["doc_id"]: (r["n_shingles"], r["n_distinct"], r["dup_ppm"])
            for r in fn(spark, d).collect()}
    assert rows[1] == (4, 2, 500000)
    assert rows[2][2] == 0


def test_sample_mix_deterministic_and_rate_bounded(spark):
    """Same input -> identical kept counts on repeat; kept fraction is
    within a loose band of the stratum rate (md5 buckets ~uniform)."""
    from reach_spark import textops
    fn, _ = textops.QUERIES["sample_mix_stratified"]
    a = {r["lang"]: (r["n_docs"], r["n_kept"])
         for r in fn(spark, "/root/testdata/sf0.01").collect()}
    b = {r["lang"]: (r["n_docs"], r["n_kept"])
         for r in fn(spark, "/root/testdata/sf0.01").collect()}
    assert a == b and a
    for lang, (n, kept) in a.items():
        assert 0 <= kept <= n


def test_pack_sequences_hand_computed(spark):
    """Docs of 3/510/2 tokens at BLOCK=512: offsets 0/3/513 -> doc 2
    spans blocks 0-1 (3+510=513 crosses the boundary), doc 3 starts in
    block 1 at offset 1."""
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b c", " ".join(["t"] * 510), "x y"]})
    d = "/tmp/pack_test"
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    from reach_spark import textops
    fn, _ = textops.QUERIES["pack_sequences"]
    rows = {r["doc_id"]: (r["tok_offset"], r["first_block"],
                          r["last_block"], r["tok_offset_in_block"])
            for r in fn(spark, d).collect()}
    assert rows[1] == (0, 0, 0, 0)
    assert rows[2] == (3, 0, 1, 3)
    assert rows[3] == (513, 1, 1, 1)


def test_pack_sequences_buckets_shard_the_prefix_sum(spark):
    """The scalable-prefix-sum shape: the per-doc running sum window is
    PARTITIONED (by bucket) and the bucket bases arrive via a broadcast
    join — the corpus-size window never runs single-partition."""
    from reach_spark import textops
    fn, _ = textops.QUERIES["pack_sequences"]
    df = fn(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the big window's partition spec names the bucket column
    import re
    wins = [l for l in plan.splitlines() if "Window" in l]
    assert any("bucket" in w for w in wins), wins


def test_substring_spans_hand_computed(spark):
    """ExactSubstr dedup: a K=8-token run shared by two docs produces a
    merged maximal span in each; overlapping shingle hits collapse to ONE
    interval; a unique doc emits nothing."""
    import tempfile, os
    from reach_spark import textops
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9"        # 9 tokens -> 2 dup shingles
    rows = [
        (0, "a1 a2 " + shared + " a3", "en", "s", 0),   # span tokens 2..10
        (1, shared + " b1 b2 b3", "en", "s", 0),        # span tokens 0..8
        (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "en", "s", 0),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(os.path.join(d,
                                                      "documents.parquet"))
    fn, _ = textops.QUERIES["dedup_substring_spans"]
    got = {r["doc_id"]: r for r in fn(spark, d).collect()}
    assert set(got) == {0, 1}, "unique doc must emit nothing"
    r0, r1 = got[0], got[1]
    # doc 0: shared run starts at token 2 -> shingle starts 2 and 3 merge
    assert (r0["span_start"], r0["span_end"]) == (2, 10)
    assert r0["dup_tokens"] == 9 and r0["n_dup_shingles"] == 2
    assert r0["max_docs"] == 2
    # doc 1: run at start
    assert (r1["span_start"], r1["span_end"]) == (0, 8)
    assert r1["dup_tokens"] == 9 and r1["n_dup_shingles"] == 2


def test_quality_lm_rank_hand_computed(spark):
    """Zipf-surprisal quality: ranks over a 2-doc corpus, floor(log2(rank))
    bits per token, integer mean millibits, rare-token count vs top-K."""
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [1, 2],
                        "text": ["aa aa aa bb", "aa bb cc dd"]})
    d = "/tmp/quality_lm_rank_test"
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    from reach_spark import textops
    fn, _ = textops.QUERIES["quality_lm_rank"]
    got = {r["doc_id"]: r for r in fn(spark, d).collect()}
    # counts: aa=4 bb=2 cc=1 dd=1 -> ranks aa=1 bb=2 cc=3 dd=4
    # bits: aa=0 bb=1 cc=1 dd=2
    r1, r2 = got[1], got[2]
    assert r1["n_tokens"] == 4 and r1["bits_total"] == 0 * 3 + 1
    assert r1["mean_millibits"] == 1000 // 4
    assert r2["n_tokens"] == 4 and r2["bits_total"] == 0 + 1 + 1 + 2
    assert r2["mean_millibits"] == 4000 // 4
    assert r1["n_rare"] == 0 and r2["n_rare"] == 0  # all within top-500


def test_kmeans_and_semdedup_two_groups(spark):
    """Two orthogonal vector groups: Lloyd separates them into two final
    clusters, and SemDeDup keeps exactly the lowest id per near-dup set
    (within-group cosine 1.0 >= tau; cross-group 0.0 < tau)."""
    import tempfile, os
    from reach_spark import similarity
    rows = [(i, [1.0, 0.0, 0.0, 0.0] if i < 8 else [0.0, 1.0, 0.0, 0.0])
            for i in range(16)]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>") \
        .write.mode("overwrite").parquet(os.path.join(d,
                                                      "embeddings.parquet"))
    km, _ = similarity.QUERIES["kmeans_embeddings"]
    clusters = {r["vec_id"]: r["cluster"] for r in km(spark, d).collect()}
    a = {clusters[i] for i in range(8)}
    b = {clusters[i] for i in range(8, 16)}
    assert len(a) == 1 and len(b) == 1 and a != b
    sd, _ = similarity.QUERIES["dedup_semantic"]
    got = {r["vec_id"]: (r["keep"], r["dup_of"])
           for r in sd(spark, d).collect()}
    assert got[0] == (True, None) and got[8] == (True, None)
    for i in list(range(1, 8)) + list(range(9, 16)):
        assert got[i] == (False, 0 if i < 8 else 8), i


def test_doc_keywords_tfidf_hand_computed(spark):
    """TF-IDF keywords: a term unique to one doc outranks a corpus-wide
    term despite lower tf; integer score = tf * (1 + floor(log2(N//df)))."""
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["common common common unique",
                 "common other", "common thing", "common stuff"]})
    d = "/tmp/kw_tfidf_test"
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{d}/documents.parquet")
    from reach_spark import textops
    fn, _ = textops.QUERIES["doc_keywords_tfidf"]
    rows = [r for r in fn(spark, d).collect() if r["doc_id"] == 1]
    by_rank = {r["rank"]: r for r in rows}
    # doc1: common tf=3 df=4 -> score 3*(1+log2(4//4))=3
    #       unique tf=1 df=1 -> score 1*(1+log2(4//1))=1*3=3 -> tie,
    #       token ASC: 'common' < 'unique'
    assert by_rank[1]["token"] == "common" and by_rank[1]["score"] == 3
    assert by_rank[2]["token"] == "unique" and by_rank[2]["score"] == 3


def test_read_nxml(spark, tmp_path):
    """S2 NXML branch (PaperReader.scala:85-100): JATS paper → interleaved
    documents — pmc id, title/abstract/body paragraphs in order, <fig> as
    a media span + caption text span, ignoreSections subtrees dropped
    (application.conf:30)."""
    from reach_spark.sources import read_nxml
    (tmp_path / "PMC77.nxml").write_text(
        '<?xml version="1.0"?>'
        '<article xmlns:xlink="http://www.w3.org/1999/xlink">'
        '<front><article-meta>'
        '<article-id pub-id-type="pmc">77</article-id>'
        '<title-group><article-title>TopBP1  and ATR</article-title>'
        '</title-group>'
        '<abstract><p>TopBP1 phosphorylates ATR.</p></abstract>'
        '</article-meta></front><body>'
        '<sec sec-type="intro"><title>Intro</title>'
        '<p>Mek binds Erk.</p>'
        '<fig id="f1"><caption><p>Fig 1. ASPP1 binds p53.</p></caption>'
        '<graphic xlink:href="fig1.jpg"/></fig></sec>'
        '<sec sec-type="methods"><title>Methods</title>'
        '<p>RIPA buffer.</p></sec>'
        '<sec><title>References</title><p>Smith 2019.</p></sec>'
        '</body></article>')
    (tmp_path / "broken.nxml").write_text("<article><unclosed")
    (tmp_path / "notxml.txt").write_text("ignored")
    rows = read_nxml(spark, str(tmp_path)).collect()
    assert len(rows) == 1  # broken XML drops, .txt filtered
    r = rows[0]
    assert r.doc_id == "77"
    kinds = [(s["kind"], s["offset"]) for s in r.spans]
    assert [o for _k, o in kinds] == list(range(len(kinds)))
    texts = [s["text"] for s in r.spans if s["kind"] == "text"]
    assert texts[0] == "TopBP1 and ATR"            # whitespace normalized
    assert "TopBP1 phosphorylates ATR." in texts
    assert any(t.startswith("Fig 1.") for t in texts)
    media = [s for s in r.spans if s["kind"] == "media"]
    assert media and media[0]["media_ref"] == "fig1.jpg"
    # caption directly follows its figure (interleaving preserved)
    mo = media[0]["offset"]
    nxt = [s for s in r.spans if s["offset"] == mo + 1]
    assert nxt and nxt[0]["text"].startswith("Fig 1.")
    joined = " ".join(texts)
    assert "RIPA" not in joined and "Smith" not in joined


def test_mixing_rates_water_fill(spark):
    """mixing_rates: the binding source (smallest tokens*sum_w/weight)
    keeps everything; every other source downsamples; realized shares
    track the sqrt-temperature targets within integer-ppm floor error."""
    from reach_spark import textops
    fn, _ = textops.QUERIES["mixing_rates"]
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(0 < r.keep_ppm <= 1_000_000 for r in rows)
    # binding source keeps (nearly) everything — two integer floors
    # (t_star, then the ppm) shave at most a few ppm off 1.0
    assert max(r.keep_ppm for r in rows) >= 999_900
    total_planned = sum(r.planned_tokens for r in rows)
    for r in rows:
        share_ppm = r.planned_tokens * 1_000_000 // total_planned
        # realized share within 2% absolute of the target (floors +
        # the whole-kept binding source wobble the tail)
        assert abs(share_ppm - r.target_ppm) < 20_000, (r, share_ppm)
    assert all(r.planned_tokens <= r.tokens for r in rows)


def test_retention_and_funnel(spark):
    """retention_cohorts: week_offset 0 is each cohort's max (everyone is
    active in their first week); funnel_conversion: ppm consistent with
    the counted columns."""
    from reach_spark import relational
    sf = "/root/testdata/sf0.001"
    rows = relational.QUERIES["retention_cohorts"][0](spark, sf).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = \
            r.active_users
    for cw, offs in by_cohort.items():
        assert 0 in offs
        assert offs[0] == max(offs.values()), (cw, offs)
    f = relational.QUERIES["funnel_conversion"][0](spark, sf).collect()
    assert f
    for r in f:
        assert 0 <= r.converted <= r.signups
        assert r.conv_ppm == r.converted * 1_000_000 // r.signups


def test_read_warc(spark, tmp_path):
    """WARC-lite connector: response records get their HTTP envelope
    stripped and the REAL content type from the HTTP headers (html →
    tag-stripped text span; image → media span with the target URI);
    conversion records pass through; warcinfo is skipped; Content-Length
    is honored byte-exactly even when a payload contains 'WARC/1.0'."""
    from reach_spark.sources import read_warc

    def rec(wtype, uri, rid, ctype, payload: bytes) -> bytes:
        h = (f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
             f"WARC-Target-URI: {uri}\r\n"
             f"WARC-Record-ID: <{rid}>\r\n"
             f"Content-Type: {ctype}\r\n"
             f"Content-Length: {len(payload)}\r\n\r\n")
        return h.encode() + payload + b"\r\n\r\n"

    html_http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html;"
                 b" charset=utf-8\r\n\r\n"
                 b"<html><head><style>p{a:b}</style></head><body>"
                 b"<p>KRAS &amp; MEK bind.</p>"
                 b"<script>var x = 'WARC/1.0';</script></body></html>")
    png_http = (b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n"
                b"\x89PNG\r\n\x1a\nWARC/1.0 fake inside binary")
    warc = (rec("warcinfo", "", "urn:info:0", "application/warc-fields",
                b"software: test\r\n")
            + rec("response", "http://x.test/a", "urn:uuid:a",
                  "application/http;msgtype=response", html_http)
            + rec("response", "http://x.test/img", "urn:uuid:b",
                  "application/http;msgtype=response", png_http)
            + rec("conversion", "http://x.test/c", "urn:uuid:c",
                  "text/plain", b"plain  body\ntext"))
    (tmp_path / "crawl.warc").write_bytes(warc)

    rows = {r.doc_id: r.spans for r in
            read_warc(spark, str(tmp_path)).collect()}
    assert set(rows) == {"urn:uuid:a", "urn:uuid:b", "urn:uuid:c"}
    a = rows["urn:uuid:a"]
    assert len(a) == 1 and a[0].kind == "text"
    assert a[0].text == "KRAS & MEK bind."          # tags/script/style gone
    b = rows["urn:uuid:b"]
    assert len(b) == 1 and b[0].kind == "media"
    assert b[0].media_ref == "http://x.test/img"
    c = rows["urn:uuid:c"]
    assert c[0].kind == "text" and c[0].text == "plain body text"

    # the connector output feeds the pipeline unchanged (span invariant)
    from reach_spark.annotate import extract_text
    texts = {r.doc_id: r.text for r in
             extract_text(read_warc(spark, str(tmp_path))).collect()}
    assert texts["urn:uuid:a"] == "KRAS & MEK bind."


def test_read_warc_malformed_length_and_folded_headers(spark, tmp_path):
    """ADVICE r4 hardening: (a) a record with a missing/invalid
    Content-Length is SKIPPED, with resync at the CRLFCRLF+WARC/ record
    terminator — its payload is never scanned for a bare 'WARC/', so a
    body containing that string can't spawn garbage records; (b) folded
    (continuation-line) headers are unfolded before parsing, so a folded
    Content-Length is honored instead of silently reading as missing."""
    from reach_spark.sources import read_warc

    good = b"good payload text"
    bad_payload = b"junk WARC/1.0 fake-header\r\n\r\n trailing"
    warc = (
        # record with NO Content-Length and a payload containing WARC/
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Target-URI: http://x.test/bad\r\n"
        b"WARC-Record-ID: <urn:uuid:bad>\r\n"
        b"Content-Type: text/plain\r\n\r\n"
        + bad_payload + b"\r\n\r\n"
        # record whose Content-Length is FOLDED onto a continuation line
        + b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Target-URI: http://x.test/folded\r\n"
        b"WARC-Record-ID: <urn:uuid:folded>\r\n"
        b"Content-Type: text/plain\r\nContent-Length:\r\n "
        + str(len(good)).encode() + b"\r\n\r\n"
        + good + b"\r\n\r\n")
    (tmp_path / "crawl.warc").write_bytes(warc)

    rows = {r.doc_id: r.spans for r in
            read_warc(spark, str(tmp_path)).collect()}
    # the malformed record is dropped, never resynced-into; the folded
    # one parses byte-exactly
    assert set(rows) == {"urn:uuid:folded"}
    assert rows["urn:uuid:folded"][0].text == "good payload text"
