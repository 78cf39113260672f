"""[P2] Statistical polarity classifier: the deterministic analog of the
reference's DL polarity engine (`polarity/ml/
DeepLearningPolarityClassifier.scala`: a biLSTM over the event sentence
with argument spans masked by role tags — maskOption "tag_name" — that
assigns Positive/Negative polarity to regulation/activation events).

No LSTM and no labeled spreadsheet can ship, so the analog is an
averaged perceptron over the SAME input representation (role-masked
sentence bag + trigger window features), trained deterministically on
the fixture corpus with the linguistic polarity engine's composed signs
as supervision (`tools/train_polarity.py` → committed `_polarity_weights
.py`). Because wrapper-sign composition is in the training labels
("the inhibition of X increases ..." is labeled Negative_regulation),
the classifier learns CONTEXT cues, and on neutral triggers the
linguistic tier cannot read ("X regulates Y", trigger unseen in
training) the context features alone decide — the LSTM's role.

Spark shape (polarity_ml_df): `annotate.span_rows` over the span function
`polarity_span_rows` → hash aggregate; oracle = per-fixture expected rows
from the same `polarity_span_rows` code path."""

from __future__ import annotations

from typing import Any

_ROLE_MASK = {"controller": "@CONTROLLER", "controlled": "@CONTROLLED",
              "theme": "@THEME", "cause": "@CONTROLLER",
              "destination": "@DEST", "source": "@SOURCE",
              "site": "@SITE"}


def _masked_lemmas(lemmas: list[str], ev: dict,
                   span_of: dict[str, tuple[int, int]]) -> list[str]:
    toks = list(lemmas)
    for a in ev.get("args", ()):
        span = span_of.get(a["mention_id"])
        if span is None:
            continue
        mask = _ROLE_MASK.get(a["role"], "@ARG")
        for i in range(span[0], min(span[1], len(toks))):
            toks[i] = mask
    return toks


def _semantic_cues() -> tuple[tuple[str, ...], tuple[str, ...]]:
    from . import resources as R
    neg = tuple(sorted(set(R.NEG_TRIGGER_STEMS) | set(R.NEG_NOUN_WRAPPERS)))
    pos = tuple(sorted(set(R.POS_TRIGGER_STEMS) | set(R.POS_NOUN_WRAPPERS)))
    return neg, pos


def event_features(lemmas: list[str], ev: dict,
                   span_of: dict[str, tuple[int, int]]) -> list[str]:
    """Role-masked bag + trigger-window features — the perceptron's view
    of what the reference LSTM reads (masked token sequence) — plus
    semantic-cue counts outside the trigger span (the
    DarpaActions.countSemanticNegatives signal the LSTM must learn from
    scratch; a count feature is the small-data equivalent)."""
    toks = _masked_lemmas(lemmas, ev, span_of)
    t0, t1 = ev["trigger_start"], ev["trigger_end"]
    n = len(toks)
    feats = ["trig=" + " ".join(lemmas[t0:t1]).lower()]
    # bag over CONTENT lemmas only: role masks, punctuation, and
    # function words carry the corpus class prior, not event context
    skip = {".", ",", ";", "the", "a", "an", "of", "to", "and", "or",
            "in", "by", "is", "be", "was", "were", "that", "this", "we"}
    feats.extend("bow=" + t for t in set(toks)
                 if not t.startswith("@") and t not in skip)
    for off in (-3, -2, -1, 1, 2, 3):
        i = (t0 if off < 0 else t1 - 1) + off
        feats.append(f"w{off:+d}=" + (toks[i] if 0 <= i < n else "<pad>"))
    # bigram through the trigger ("failure to <trig>", "<trig> of")
    if t0 > 0:
        feats.append("pre2=" + toks[t0 - 1] + "_" +
                     (toks[t0 - 2] if t0 > 1 else "<s>"))
    # cue counts in the LEFT window only: sign-flipping wrappers precede
    # the trigger ("loss of X increases", "fails to activate", "the
    # inhibition of X promotes"); right-side cues belong to other events
    # in conjoined clauses and would pollute the signal
    neg, pos = _semantic_cues()
    lo = max(0, t0 - 5)
    n_neg = min(sum(1 for t in toks[lo:t0] if t.startswith(neg)), 2)
    n_pos = min(sum(1 for t in toks[lo:t0] if t.startswith(pos)), 2)
    feats.append(f"negcue={n_neg}")
    feats.append(f"poscue={n_pos}")
    # the trigger's a-priori lexical sign (prefix match against the
    # published stem lexicons) and its interaction with the cue counts —
    # double flips ("inhibition of X decreases Y" → Positive) are an XOR
    # of trigger sign and wrapper parity, inexpressible for a linear
    # model without the conjunction feature
    tl = lemmas[t0].lower()
    tsign = ("neg" if tl.startswith(neg) else
             "pos" if tl.startswith(pos) else "neutral")
    feats.append("tsign=" + tsign)
    feats.append(f"tsignXneg={tsign}:{n_neg}")
    feats.append(f"tsignXpos={tsign}:{n_pos}")
    return feats


def classify(lemmas: list[str], ev: dict,
             span_of: dict[str, tuple[int, int]]) -> str:
    """'Positive' or 'Negative' under the committed weights (score tie →
    Positive, the reference's majority class)."""
    from . import _polarity_weights as PW
    s = 0
    for f in event_features(lemmas, ev, span_of):
        s += PW.W.get(f, 0)
    return "Positive" if s >= 0 else "Negative"


def complex_events(sent_text: str, dictionary) -> list[tuple[dict, list]]:
    """(event, lemmas, span_of) inputs for every regulation/activation in
    one sentence — shared by training, query, and oracle generator."""
    from .extract import extract_sentence
    ann, mentions = extract_sentence("d", 0, sent_text, dictionary)
    span_of = {m["mention_id"]:
               (m.get("trigger_start") if m.get("trigger_start") is not None
                else m.get("start", 0),
                m.get("trigger_end") if m.get("trigger_end") is not None
                else m.get("end", 0))
               for m in mentions if "mention_id" in m}
    evs = [m for m in mentions if m.get("kind") == "event" and
           m["label"].split("_")[0] in ("Positive", "Negative")]
    return [(ev, ann["lemmas"], span_of) for ev in evs]


def polarity_rows(sent_text: str, dictionary) -> list[tuple]:
    """(evt_label, trigger, ml_sign, agree) rows for one sentence — the
    unit shared by the Spark query and the oracle generator."""
    rows = []
    for ev, lemmas, span_of in complex_events(sent_text, dictionary):
        ml = classify(lemmas, ev, span_of)
        rows.append((ev["label"], ev["trigger_text"], ml,
                     ev["label"].startswith(ml)))
    return rows


def polarity_span_rows(span_text: str, dictionary) -> list[tuple]:
    """polarity_rows for every sentence of one text span — the span
    function of polarity_ml_df."""
    from .extract import split_sentences
    return [r for sent in split_sentences(span_text)
            for r in polarity_rows(sent, dictionary)]


def polarity_ml_df(documents) -> "DataFrame":  # noqa: F821
    """[P2] Corpus-wide ML-polarity table: one row per distinct
    (evt_label, trigger, ml_sign, agree) with corpus SEEN count."""
    from functools import partial

    from pyspark.sql import functions as F

    from .annotate import span_rows
    from .resources import entity_dictionary

    ev = span_rows(documents,
                   partial(polarity_span_rows, dictionary=entity_dictionary()),
                   "evt_label string, trigger string, ml_sign string, "
                   "agree boolean")
    return (ev.groupBy("evt_label", "trigger", "ml_sign", "agree")
              .agg(F.count("*").alias("seen")))


__all__ = ["event_features", "classify", "complex_events",
           "polarity_rows", "polarity_span_rows", "polarity_ml_df"]
