"""Light dependency layer (N7 down-payment) — reach_spark/deps.py.

Covers the grammar-relevant UD subset censused from the reference's
biogrammar/vars.yml:1-80 (nsubj / nsubjpass / dobj / nmod_of / nmod_by /
conj_and / neg / aux) and the `deps` column of the sentences table. The
extraction hot path does not parse: negation there is surface-scoped
(NegationHandler.scala:10-112 cue window), checked end to end below.
"""

from reach_spark.deps import light_deps
from reach_spark.extract import annotate_sentence, extract_sentence
from reach_spark.resources import entity_dictionary

DICT = entity_dictionary()


def _parse(text: str) -> dict:
    """annotate_sentence plus its light dependency edges under "deps"."""
    ann = annotate_sentence(text)
    ann["deps"] = light_deps(ann["words"], ann["tags"], ann["lemmas"])
    return ann


def _deps(text: str) -> list[tuple[int, int, str]]:
    return _parse(text)["deps"]


def _has(edges, src_word, dst_word, label, words):
    idx = {w: i for i, w in enumerate(words)}
    return (idx[src_word], idx[dst_word], label) in [tuple(e) for e in edges]


class TestLightDeps:
    def test_active_nsubj_dobj(self):
        ann = _parse("MEK phosphorylates ERK.")
        assert _has(ann["deps"], "phosphorylates", "MEK", "nsubj", ann["words"])
        assert _has(ann["deps"], "phosphorylates", "ERK", "dobj", ann["words"])

    def test_passive_nsubjpass_and_agent(self):
        ann = _parse("ERK is phosphorylated by MEK.")
        assert _has(ann["deps"], "phosphorylated", "ERK", "nsubjpass",
                    ann["words"])
        assert _has(ann["deps"], "phosphorylated", "is", "aux", ann["words"])
        # passive agent: nmod_by on the verb (reference agent patterns)
        assert _has(ann["deps"], "phosphorylated", "MEK", "nmod_by",
                    ann["words"])
        # no dobj for the passive
        assert not any(e[2] == "dobj" for e in ann["deps"])

    def test_nmod_of_np_head(self):
        ann = _parse("Phosphorylation of ASPP2 by MAPK occurs.")
        assert _has(ann["deps"], "Phosphorylation", "ASPP2", "nmod_of",
                    ann["words"])
        assert _has(ann["deps"], "ASPP2", "MAPK", "nmod_by", ann["words"])

    def test_nmod_of_skips_determiner_takes_run_head(self):
        ann = _parse("TopBP1 inhibits the kinase activity of ATR.")
        # "activity of ATR" — head is the noun left of 'of', dep the NP head
        assert _has(ann["deps"], "activity", "ATR", "nmod_of", ann["words"])

    def test_conj_and(self):
        ann = _parse("MEK and ERK are kinases.")
        assert _has(ann["deps"], "MEK", "ERK", "conj_and", ann["words"])

    def test_neg_edge_not(self):
        ann = _parse("TopBP1 does not inhibit ATR.")
        assert _has(ann["deps"], "inhibit", "not", "neg", ann["words"])

    def test_neg_edge_fails_to(self):
        ann = _parse("RAS fails to activate MEK.")
        # cue token is 'fails'; edge lands on the governed verb
        assert _has(ann["deps"], "activate", "fails", "neg", ann["words"])

    def test_neg_transparent_adverb(self):
        ann = _parse("RAS does not strongly activate MEK.")
        assert _has(ann["deps"], "activate", "not", "neg", ann["words"])

    def test_no_neg_edge_in_affirmative(self):
        assert not any(e[2] == "neg"
                       for e in _deps("MEK phosphorylates ERK."))

    def test_pure_function_of_annotation(self, spark):
        # the sentences table's deps column is light_deps of the row's own
        # annotation, carried as {src,dst,label} structs
        from pyspark.sql import Row

        from reach_spark.annotate import annotate_sentences
        docs = spark.createDataFrame([Row(doc_id="d", spans=[
            Row(kind="text", text="TopBP1 does not inhibit ATR.",
                media_ref="", offset=0)])])
        (row,) = annotate_sentences(docs).collect()
        again = light_deps(row["words"], row["tags"], row["lemmas"])
        assert [(d["src"], d["dst"], d["label"]) for d in row["deps"]] \
            == [tuple(e) for e in again]
        assert any(d["label"] == "neg" for d in row["deps"])


class TestNegationViaDeps:
    """detect_negations scopes surface cues (including 'fails to' and an
    adverb between cue and trigger) to the nearest following trigger —
    the sentences that carry a neg edge in the light parse, checked end
    to end: net behavior must match the reference handler."""

    def _events(self, text):
        _, mentions = extract_sentence("d", 0, text, DICT)
        return [m for m in mentions if m["kind"] == "event"]

    @staticmethod
    def _negated(ev):
        return any(m["kind"] == "Negation" for m in ev["mods"])

    def test_negated_event(self):
        evs = self._events("MEK does not phosphorylate ERK.")
        # negation lands on the outermost event over the trigger
        # (regulation wrapper), per DarpaActions negation transfer
        assert evs and any(self._negated(ev) for ev in evs)

    def test_affirmative_event(self):
        evs = self._events("MEK phosphorylates ERK.")
        assert evs and all(not self._negated(ev) for ev in evs)

    def test_negated_neg_edge_shapes(self):
        # the three shapes TestLightDeps parses into a neg edge
        for text in ("MEK does not inhibit ERK.",
                     "RAS fails to activate MEK.",
                     "RAS does not strongly activate MEK."):
            evs = self._events(text)
            assert evs and any(self._negated(ev) for ev in evs), text

    def test_double_negative_parity(self):
        # F4 parity: two cues in the same trigger scope cancel
        # (NegationHandler.scala:115-137)
        evs = self._events("MEK does not fail to phosphorylate ERK.")
        assert evs and all(not self._negated(ev) for ev in evs)


def test_ccomp_finite_complement():
    """UD ccomp (vars.yml `complements: xcomp|ccomp` — the finite half):
    matrix verb -> clause verb across the complementizer 'that'."""
    ann = _parse("We show that TopBP1 phosphorylates ATR.")
    deps = {(s, d, l) for s, d, l in ann["deps"]}
    w = ann["words"]
    show, phos = w.index("show"), w.index("phosphorylates")
    assert (show, phos, "ccomp") in deps
    # the embedded clause still gets its own subject/object
    assert (phos, w.index("TopBP1"), "nsubj") in deps
    assert (phos, w.index("ATR"), "dobj") in deps


def test_ccomp_not_on_relative_or_purpose_that():
    """'the kinase that phosphorylates X' is a relative clause
    (acl_relcl, noun before 'that'); 'so that' is purpose — neither
    emits ccomp."""
    ann = _parse(
        "The kinase that phosphorylates ATR binds TopBP1.")
    assert not any(l == "ccomp" for _s, _d, l in ann["deps"])
    ann2 = _parse(
        "MEK is degraded so that ERK accumulates.")
    assert not any(l == "ccomp" for _s, _d, l in ann2["deps"])


def test_ccomp_passive_embedded_clause():
    """'We found that Mek was phosphorylated by Erk' — ccomp lands on
    the embedded passive verb."""
    ann = _parse("We found that Mek was phosphorylated by Erk.")
    deps = {(s, d, l) for s, d, l in ann["deps"]}
    w = ann["words"]
    assert (w.index("found"), w.index("phosphorylated"), "ccomp") in deps
