"""[N5] Statistical NER: an averaged-perceptron linear-chain tagger
(CRF-style emission/transition features + Viterbi decode) — the
deterministic re-expression of the reference's statistical NER layer
(`processors/src/main/scala/org/clulab/processors/bionlp/ner/CRFNER.scala`:
a CRFClassifier over word/shape/affix/context features; `RuleNER` +
CRF is the reference's two-tier recall design).

No trained model can ship from the reference, so the weights are LEARNED
HERE, deterministically: `tools/train_crf.py` runs a fixed-seed averaged
structured perceptron over the 810-fixture corpus with the repo's own
rule/dictionary NER as supervision, and commits the scaled-integer
weights as `_crf_weights.py` (the generated-artifact pattern of
`_kg_expected.py`). Decoding is exact Viterbi over the committed weights
— a real sequence model that generalizes to unseen surface forms through
shape/affix/context features (e.g. novel camel-case symbols the
dictionary lacks), unlike the pure longest-match dictionary pass.

Spark shape (crf_ner_df): `annotate.span_rows` over the span function
`crf_span_rows`, then a hash aggregate; the oracle is the per-fixture
expected-row recomposition (tools/gen_kg_oracle.py calls the same
`crf_span_rows`)."""

from __future__ import annotations

from typing import Any

# BIO tagset over the entity classes the rule NER emits on the corpus
O_TAG = "O"


def word_shape(w: str) -> str:
    """Collapsed orthographic shape: 'Mdm2' → 'Xxd', 'GFP' → 'X',
    'p53' → 'xd', 'alpha-helix' → 'x-x' (runs collapsed)."""
    out = []
    for c in w:
        k = ("X" if c.isupper() else
             "x" if c.islower() else
             "d" if c.isdigit() else c)
        if not out or out[-1] != k:
            out.append(k)
    return "".join(out)


def token_features(words: list[str], tags: list[str], i: int) -> list[str]:
    """Emission features for token i — the CRFNER feature family:
    lexical identity, shape, affixes, tag, orthographic flags, and ±1
    context words/shapes."""
    w = words[i]
    lw = w.lower()
    n = len(words)
    prev_w = words[i - 1] if i else "<s>"
    next_w = words[i + 1] if i + 1 < n else "</s>"
    return [
        "w=" + lw,
        "shape=" + word_shape(w),
        "suf3=" + lw[-3:],
        "suf2=" + lw[-2:],
        "pre3=" + lw[:3],
        "tag=" + tags[i],
        "dig=" + ("1" if any(c.isdigit() for c in w) else "0"),
        "dash=" + ("1" if "-" in w else "0"),
        "caps=" + ("1" if w.isupper() and len(w) > 1 else "0"),
        "mix=" + ("1" if any(c.isupper() for c in w[1:]) else "0"),
        "pw=" + prev_w.lower(),
        "nw=" + next_w.lower(),
        "pshape=" + word_shape(prev_w),
        "nshape=" + word_shape(next_w),
    ]


def viterbi(words: list[str], tags: list[str],
            W: dict[str, dict[str, int]], T: dict[str, int],
            labels: list[str]) -> list[str]:
    """Exact max-score path under emission weights W[feature][label] and
    transition weights T['prev>cur']."""
    n = len(words)
    if not n:
        return []
    nl = len(labels)
    lab_idx = {lab: j for j, lab in enumerate(labels)}
    # emission scores per token (dense over labels, sparse row iteration)
    emits = []
    for i in range(n):
        e = [0] * nl
        for f in token_features(words, tags, i):
            row = W.get(f)
            if row:
                for lab, v in row.items():
                    e[lab_idx[lab]] += v
        emits.append(e)
    NEG = float("-inf")
    prev_scores = [emits[0][j] + T.get("<s>>" + labels[j], 0)
                   for j in range(nl)]
    back: list[list[int]] = []
    for i in range(1, n):
        cur = [NEG] * nl
        bp = [0] * nl
        em = emits[i]
        for j, lab in enumerate(labels):
            best, arg = NEG, 0
            for k in range(nl):
                s = prev_scores[k] + T.get(labels[k] + ">" + lab, 0)
                if s > best:
                    best, arg = s, k
            cur[j] = best + em[j]
            bp[j] = arg
        back.append(bp)
        prev_scores = cur
    j = max(range(nl), key=lambda k: prev_scores[k])
    path = [j]
    for bp in reversed(back):
        j = bp[j]
        path.append(j)
    return [labels[j] for j in reversed(path)]


def decode_entities(words: list[str], tags: list[str]
                    ) -> list[tuple[int, int, str]]:
    """(start, end, label) entity spans from the BIO Viterbi path under
    the committed weights."""
    from . import _crf_weights as CW
    bio = viterbi(words, tags, CW.W, CW.T, CW.LABELS)
    spans = []
    i = 0
    n = len(bio)
    while i < n:
        t = bio[i]
        if t.startswith("B-"):
            lab = t[2:]
            j = i + 1
            while j < n and bio[j] == "I-" + lab:
                j += 1
            spans.append((i, j, lab))
            i = j
        else:
            i += 1
    return spans


def crf_rows(sent_text: str) -> list[tuple]:
    """(label, start, end, text) rows for one sentence — the unit shared
    by the Spark query and the oracle generator (one code path defines
    query and oracle, like odin_graph.match_rows)."""
    from .extract import annotate_sentence
    ann = annotate_sentence(sent_text)
    words, tags = ann["words"], ann["tags"]
    return [(lab, s, e, " ".join(words[s:e]))
            for s, e, lab in decode_entities(words, tags)]


def crf_span_rows(span_text: str) -> list[tuple]:
    """crf_rows for every sentence of one text span, start and end
    shifted by sentence index * 1000 — the span function of crf_ner_df."""
    from .extract import split_sentences
    return [(lab, si * 1000 + s, si * 1000 + e, txt)
            for si, sent in enumerate(split_sentences(span_text))
            for lab, s, e, txt in crf_rows(sent)]


def crf_ner_df(documents) -> "DataFrame":  # noqa: F821
    """[N5] Corpus-wide CRF-NER table over interleaved documents: one row
    per distinct (label, start, end, text) with corpus SEEN count."""
    from pyspark.sql import functions as F

    from .annotate import span_rows

    ev = span_rows(documents, crf_span_rows,
                   "label string, start int, end int, text string")
    return (ev.groupBy("label", "start", "end", "text")
              .agg(F.count("*").alias("seen")))


__all__ = ["word_shape", "token_features", "viterbi", "decode_entities",
           "crf_rows", "crf_span_rows", "crf_ner_df", "O_TAG"]
