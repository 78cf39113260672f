"""Light deterministic dependency layer — the N7 down-payment.

The reference parses with CoreNLP's UD-enhanced parser and its grammars
match dependency paths (biogrammar/vars.yml:1-80 censuses the relations the
templates actually consume: nsubj / nsubjpass / dobj / nmod_of / nmod_by /
conj_and / neg / aux). This module produces THAT subset deterministically
from the POS-lite tags — not a general parser (documented divergence,
SURVEY §2.2 N7): a rule chunker good enough to carry the grammar-relevant
edges in the sentences table (`deps` column, schemas.DEP) so handlers can
consume dependency structure instead of raw token windows.

Edge convention matches the reference's outgoingEdges orientation:
(src=head token, dst=dependent token, label=relation). Deterministic,
pure function of (words, tags, lemmas) — safe to recompute anywhere.

Consumers: the `sentences` table (annotate.annotate_sentences) and the
dependency-pattern rules of odin_graph.dep_event_matches (O2). The
extraction hot path does not parse: its negation is surface-scoped
(extract.SentenceExtractor.detect_negations).
"""

from __future__ import annotations

_NEG_CUES = frozenset({"not", "no", "cannot", "never", "unable", "little"})
_GENERAL_PREPS = frozenset({"at", "on", "in", "to", "with", "for", "from",
                            "between", "into", "onto"})
_NMOD_PREPS = frozenset({"of", "by"}) | _GENERAL_PREPS
_FAIL_VERBS = frozenset({"fails", "fail", "failed", "failure"})
_CONJ = frozenset({"and", "or", "nor"})
_REL_PRONOUNS = frozenset({"which", "that", "who"})
# subject-raising heads for xcomp ("X continues/appears/is able to V"):
# lemma-ish forms the POS-lite tagger may read as nouns
_XCOMP_HEADS = frozenset({"continue", "begin", "start", "appear", "seem",
                          "tend", "serve", "act", "need", "able", "unable",
                          "likely", "known", "shown", "reported"})
# sentence-initial subordinators for the conservative advcl subset
# ("upon"/"following" are prepositional, owned by the nmod tier)
_ADVCL_MARKERS = frozenset({"when", "while", "after", "before", "because",
                            "although", "if", "once", "whereas"})
# report/cognition matrix verbs for the ccomp tier ("We show that ..."):
# the POS-lite tagger reads many of these as nouns after a pronoun, so —
# like _XCOMP_HEADS — they are admitted by lemma (keyed via _lemma_ish,
# plus the common irregular pasts)
_CCOMP_HEADS = frozenset({"show", "showed", "shown", "demonstrate",
                          "suggest", "indicate", "find", "found",
                          "report", "confirm", "reveal", "revealed",
                          "observe", "note", "conclude", "propose",
                          "establish", "mean", "imply", "argue",
                          "ensure", "hypothesize", "believe", "know",
                          "known"})


def _lemma_ish(lw: str) -> str:
    """Strip 3sg -s / past -d the way _XCOMP_HEADS is keyed (continues →
    continue, tends → tend); leaves -ed/-n participles to the listed
    forms."""
    if lw.endswith("s") and not lw.endswith("ss"):
        return lw[:-1]
    if lw.endswith("ued") or lw.endswith("red"):
        return lw[:-1]
    return lw


# token → "is an xcomp raising head by lemma" (pure function of the lowered
# token — memoized across every sentence a worker sees, like the POS/lemma
# memos in extract.py; _lemma_ish was the single hottest call in the
# extraction profile at one call per token per sentence)
_XHEAD_MEMO: dict[str, bool] = {}
_XHEAD_MAX = 200_000


def _is_xcomp_head_word(lw: str) -> bool:
    v = _XHEAD_MEMO.get(lw)
    if v is None:
        v = _lemma_ish(lw) in _XCOMP_HEADS
        if len(_XHEAD_MEMO) < _XHEAD_MAX:
            _XHEAD_MEMO[lw] = v
    return v


def light_deps(words: list[str], tags: list[str],
               lemmas: list[str]) -> list[tuple[int, int, str]]:
    """(src, dst, label) edges for the grammar-relevant UD subset:
    neg, nsubj, nsubjpass, dobj, nmod_of, nmod_by, nmod_<prep> for the
    general prepositions (at/on/in/to/with/for/from), conj_and, aux,
    plus the clause tier (vars.yml:55-68 census): xcomp, ccomp, acl_relcl
    (UD acl:relcl), acl (reduced relative participle), appos, and the
    noun-modifier tier (vars.yml:50 census): amod (adjectival +
    participial premodifier), compound, nummod, advmod, nmod_poss."""
    n = len(words)
    lows = [w.lower() for w in words]
    # determiner-governed gerunds are nominals in UD ("The binding of
    # p53 ..." — binding/NOUN heads the nmod_of edge, not a VBG verb)
    tags = [("NN" if t == "VBG" and i > 0 and tags[i - 1] == "DT" else t)
            for i, t in enumerate(tags)]
    # per-token predicate arrays hoisted out of the rule loops below (each
    # loop re-tested these 1-3x per token; one pass here makes the layer
    # ~2x cheaper per sentence with identical edges)
    isv = [t.startswith("V") for t in tags]
    isn = [t == "NN" or t == "CD" for t in tags]
    endsly = [lw.endswith("ly") for lw in lows]
    edges: list[tuple[int, int, str]] = []

    # --- neg: cue attaches to the nearest following verb-ish token ------
    # (CoreNLP attaches 'not' to its governing verb; the surface window
    # mirrors extract.detect_negations' 4-token scope so both agree)
    for i, lw in enumerate(lows):
        is_cue = lw in _NEG_CUES or "n't" in lw or (
            lw in _FAIL_VERBS and i + 1 < n and
            (lows[i + 1] in ("to", "not") or isv[i + 1]))
        if not is_cue:
            continue
        for j in range(i + 1, min(n, i + 5)):
            # adverbs/determiners/aux are transparent ('not strongly
            # inhibited' → neg on 'inhibited')
            if endsly[j] or tags[j] in ("DT", "AUX", "."):
                continue
            if isv[j] or tags[j] == "NN":
                edges.append((j, i, "neg"))
                break

    for i, t in enumerate(tags):
        if not isv[i]:
            continue
        # --- aux + passive detection ---------------------------------
        is_passive = t == "VBN" and i > 0 and tags[i - 1] == "AUX"
        k = i - 1
        while k >= 0 and (tags[k] == "AUX" or endsly[k] or
                          lows[k] in ("often", "not", "never", "to")):
            if tags[k] == "AUX":
                edges.append((i, k, "aux"))
            k -= 1
        # --- nsubj / nsubjpass: nearest noun-ish head run to the left --
        if k >= 0 and isn[k]:
            # UD coordination headedness: in "Raf and PI3K bind", nsubj
            # attaches to the FIRST conjunct (Raf) and conj_and carries
            # Raf→PI3K, so rule paths ">nsubj (>conj_and)?" reach both.
            # NOT when the pair is a PP object ("the binding of X and Y
            # promotes ..." — the subject head is the nominal, and the
            # nearest-noun reading keeps the cascade's attachment).
            if k >= 2 and lows[k - 1] in _CONJ and isn[k - 2] \
                    and (k < 3 or lows[k - 3] not in _NMOD_PREPS):
                k -= 2
            edges.append((i, k, "nsubjpass" if is_passive else "nsubj"))
        # --- dobj: nearest noun-ish token to the right (active only) ---
        if not is_passive:
            j = i + 1
            while j < n and (tags[j] == "DT" or endsly[j]):
                j += 1
            if j < n and isn[j]:
                edges.append((i, j, "dobj"))

    # --- nmod_<prep>: "X of Y" → edge X→Y ------------------------------
    # of/by are the grammar-critical pair (genitive + passive agent); the
    # general-preposition tier (vars.yml preps_general: at/on/in/to/with/
    # for/from) carries site and locative attachment for the dependency
    # rules (odin_graph), attaching to a verb head when one directly
    # precedes ("phosphorylated at Ser21" → nmod_at on the verb, the UD
    # obl edge the reference site patterns traverse).
    for i, lw in enumerate(lows):
        if lw in _NMOD_PREPS and 0 < i < n - 1:
            # head = nearest noun-ish left, dependent = head of the right NP.
            # For "by" also allow a passive-verb head ("phosphorylated by
            # MEK" → nmod_by on the verb — the agent pattern the reference
            # grammars match, e.g. simple-event_template.yml agent rules)
            h = i - 1
            if not (isn[h] or
                    (lw == "by" and tags[h] == "VBN") or
                    (lw in _GENERAL_PREPS and isv[h])):
                continue
            j = i + 1
            while j < n and tags[j] == "DT":
                j += 1
            if j < n and isn[j]:
                # NP head = last noun of the run; an uppercase→lowercase
                # transition ends the NP (entity heads sit last — a
                # following lowercase "noun" is usually a mis-tagged verb,
                # e.g. "MAPK occurs")
                while j + 1 < n and isn[j + 1] and not (
                        any(c.isupper() for c in words[j]) and
                        words[j + 1].islower()):
                    j += 1
                edges.append((h, j, f"nmod_{lw}"))

    # --- conj_and: "X and Y" with matching noun-ish tags ----------------
    for i, lw in enumerate(lows):
        if lw in _CONJ and 0 < i < n - 1 and \
                isn[i - 1] and isn[i + 1]:
            edges.append((i - 1, i + 1, f"conj_{lw}"))

    # --- xcomp: "fails/continues/was shown to phosphorylate" -----------
    # (UD xcomp — vars.yml `complements: xcomp|ccomp`): open clausal
    # complement with subject raising; head verb → infinitive verb across
    # "to" (negation/adverbs transparent). Rule paths climb "<xcomp
    # >nsubj" to recover the raised subject as cause/controller. Raising
    # heads the POS-lite tagger reads as nouns (continues, appears, acts)
    # are admitted by the lemma list and get their own nsubj repaired so
    # the climb still lands on the subject NP.
    for i, t in enumerate(tags):
        is_head = isv[i] or _is_xcomp_head_word(lows[i])
        if not is_head:
            continue
        j = i + 1
        while j < n and (lows[j] in ("not", "never") or endsly[j]):
            j += 1
        if j + 1 < n and lows[j] == "to" and isv[j + 1]:
            edges.append((i, j + 1, "xcomp"))
            if not isv[i] and not any(
                    e[0] == i and e[2] in ("nsubj", "nsubjpass")
                    for e in edges):
                k = i - 1
                while k >= 0 and tags[k] == "AUX":   # "was shown to",
                    k -= 1                           # "is able to"
                if k >= 0 and isn[k]:
                    edges.append((i, k, "nsubj"))

    # --- ccomp: "We show/found that X phosphorylates Y" -----------------
    # (UD ccomp — the other half of vars.yml `complements: xcomp|ccomp`):
    # finite clausal complement under a matrix verb across the
    # complementizer "that". Conservative shape: the token BEFORE "that"
    # must be verb-ish (a noun there is a relative clause, owned by the
    # acl_relcl tier below); the clause verb is the first verb after
    # "that" with at least one intervening noun (the embedded subject).
    # "so that"/"such that" adverbial purposes are excluded.
    for i, lw in enumerate(lows):
        if lw != "that" or i == 0 or i + 2 >= n:
            continue
        head_ok = isv[i - 1] or _lemma_ish(lows[i - 1]) in _CCOMP_HEADS \
            or lows[i - 1] in _CCOMP_HEADS
        if not head_ok or lows[i - 1] in ("so", "such"):
            continue
        saw_noun = False
        for j in range(i + 1, n):
            if isv[j]:
                if saw_noun:
                    edges.append((i - 1, j, "ccomp"))
                break
            if isn[j]:
                saw_noun = True

    # --- acl_relcl: "X, which/that phosphorylates Y" --------------------
    # (UD acl:relcl — vars.yml `relative_clause`; underscore spelling to
    # stay in the layer's nmod_of label convention): head noun → clause
    # verb across the relative pronoun. A complementizer "that" after a
    # verb ("We show that ...") has no nounish head and is skipped.
    for r, lw in enumerate(lows):
        if lw not in _REL_PRONOUNS or r == 0:
            continue
        h = r - 1
        if tags[h] == ".":                 # "X, which ..."
            h -= 1
        if h < 0 or not isn[h]:
            continue
        j = r + 1
        while j < n and (tags[j] == "AUX" or endsly[j] or
                         lows[j] in ("not", "never")):
            j += 1
        if j < n and isv[j]:
            edges.append((h, j, "acl_relcl"))

    # --- acl: reduced relative participle "ERK phosphorylated by MEK
    # accumulates" (UD acl — vars.yml `adjective_clause: acl|acl_by`):
    # noun → directly-following VBN, only when the participle's right
    # context is a prepositional attachment (by/at/on/in/with). A nounish
    # right neighbour means simple-past transitive ("MEK phosphorylated
    # ERK") — that reading stays with nsubj/dobj.
    for h, t in enumerate(tags):
        if not isn[h] or h + 2 >= n or tags[h + 1] != "VBN":
            continue
        if lows[h + 2] in ("by", "at", "on", "in", "with"):
            edges.append((h, h + 1, "acl"))

    # --- appos: "RAF, an activator of MEK, ..." -------------------------
    # (UD appos — vars.yml `standalone_appositive`): noun → head of the
    # determiner-introduced NP after the comma. The determiner requirement
    # keeps plain list commas ("MEK, ERK, and RAF") out; the head is the
    # last noun BEFORE any preposition (so "<appos" from the 'activator'
    # trigger reaches RAF while '>nmod_of' still reaches MEK); any verb or
    # auxiliary before the NP closes invalidates the appositive reading.
    for a, t in enumerate(tags):
        if not isn[a] or a + 2 >= n or tags[a + 1] != ".":
            continue
        if lows[a + 2] not in ("a", "an", "the"):
            continue
        b = -1
        j = a + 3
        while j < n and j <= a + 8 and tags[j] != ".":
            if isv[j] or tags[j] == "AUX":
                b = -1
                break
            if tags[j] == "IN":
                break
            if isn[j]:
                b = j
            j += 1
        if b > 0:
            edges.append((a, b, "appos"))

    # --- advcl_by: "inhibits apoptosis by phosphorylating BAD" ----------
    # (UD advcl with a 'by' marker — vars.yml:66 adverbial_clause
    # `advcl|advcl_by`, the controller-climb the reference's reg/event
    # templates traverse as `</${adverbial_clause}/`): matrix verb →
    # gerund across the by-marker. Rule paths climb "<advcl_by >nsubj" to
    # recover the matrix subject as the gerund event's cause.
    for i, lw in enumerate(lows):
        if lw == "by" and 0 < i < n - 1 and tags[i + 1] == "VBG":
            h = i - 1
            while h >= 0 and not isv[h]:
                h -= 1
            if h >= 0:
                edges.append((h, i + 1, "advcl_by"))

    # --- advcl: "When NUSAP1 is depleted, MK7c declines" ----------------
    # sentence-initial subordinate clause (the conservative deterministic
    # subset): marker + clause verb before the comma, main verb after it;
    # edge main → clause verb (UD advcl orientation).
    if n > 3 and lows[0] in _ADVCL_MARKERS:
        comma = next((j for j in range(1, n) if words[j] == ","), -1)
        if comma > 1:
            sub = next((j for j in range(1, comma) if isv[j]), -1)
            main = next((j for j in range(comma + 1, n) if isv[j]), -1)
            if sub >= 0 and main >= 0:
                edges.append((main, sub, "advcl"))

    # --- nmod_poss: "QRZ9's phosphorylation of WXV44" -------------------
    # (UD nmod:poss — vars.yml:50 noun_modifiers and the reg templates'
    # possessive_noun shapes; underscore spelling per the layer's label
    # convention): the tokenizer keeps "X's" whole, so the possessor IS
    # the "'s" token. Adjectives/adverbs are transparent ("QRZ9's rapid
    # phosphorylation"). Edge nominal head → possessor, UD orientation,
    # so nominal-event rules recover the genitive agent via >nmod_poss.
    for i, lw in enumerate(lows):
        if len(lw) < 3 or not lw.endswith("'s") or not isn[i]:
            continue
        j = i + 1
        while j < n and (tags[j] in ("JJ", "RB") or endsly[j]):
            j += 1
        if j < n and isn[j]:
            # NP head = rightmost noun of the contiguous noun run (the
            # pos-lite tagger defaults unknown premodifiers to NN, so
            # "QRZ9's rapid ubiquitination" reads [NN NN] — take the last)
            while j + 1 < n and isn[j + 1]:
                j += 1
            edges.append((j, i, "nmod_poss"))

    # --- noun-modifier tier (vars.yml:50 noun_modifiers census:
    # amod|compound|advmod|nmod:poss|nummod — nmod_poss above, the other
    # four here). Pure graph enrichment: every rule constraint in
    # rules/*.yml is ^…$-anchored, so new labels cannot change existing
    # matches; consumers are the syntax standoff and future rule shapes.

    # amod: adjectival (JJ) or PARTICIPIAL (VBN) premodifier → NP head.
    # UD attaches the modifier to the noun it modifies: head = rightmost
    # noun of the contiguous run, ended by the same uppercase→lowercase
    # transition as the nmod tier. A VBN preceded by a noun-ish token is
    # simple-past transitive ("MEK phosphorylated ERK") — that reading
    # stays with nsubj/dobj; participial amod covers "The phosphorylated
    # ERK …" / "levels of ubiquitinated p53" (the PTM-premodifier shape
    # the cascade reads as an entity modification).
    for j, t in enumerate(tags):
        is_adj = t == "JJ"
        is_part = t == "VBN" and (j == 0 or not isn[j - 1])
        if not (is_adj or is_part) or j + 1 >= n or not isn[j + 1]:
            continue
        h = j + 1
        while h + 1 < n and isn[h + 1] and not (
                any(c.isupper() for c in words[h]) and
                words[h + 1].islower()):
            h += 1
        edges.append((h, j, "amod"))

    # compound: noun-noun premodifiers inside one NP run ("KRAS protein",
    # "insulin receptor") — head = last NN of the run, one edge per
    # earlier NN. The POS-lite tagger defaults unknown premodifiers to NN
    # (adjectives included), so this is precision-gated: the run breaks at
    # -ly tokens and at the uppercase→lowercase boundary (the NP-head
    # convention above), and a modifier must LOOK nominal — an
    # uppercase/digit entity symbol or a bio-nominal suffix (-in/-or/
    # -ase/…). "distinct subunits" (defaulted-NN adjective) stays out;
    # "insulin receptor", "KRAS protein" come through. CD stays out
    # (nummod below).
    def _nominal_shape(w: str) -> bool:
        if any(c.isupper() or c.isdigit() for c in w):
            return True
        return w.endswith(("in", "or", "ase", "ate", "ide", "one", "gen",
                           "some", "mer", "tide", "body", "protein",
                           "factor", "ion"))

    a = 0
    while a < n:
        if tags[a] != "NN" or endsly[a]:
            a += 1
            continue
        h = a
        # the uppercase→lowercase boundary usually marks a mis-tagged
        # verb ("MAPK occurs") — but a lowercase continuation with a
        # nominal suffix is a genuine head ("KRAS protein", "Raf kinase")
        while h + 1 < n and tags[h + 1] == "NN" and not endsly[h + 1] \
                and (not (any(c.isupper() for c in words[h]) and
                          words[h + 1].islower())
                     or _nominal_shape(words[h + 1])):
            h += 1
        for m in range(a, h):
            if _nominal_shape(words[m]):
                edges.append((h, m, "compound"))
        a = h + 1

    # nummod: digit numeral directly before its noun ("2 subunits",
    # "5 sites") — adjacent-only, CD tag (the tagger reads digit tokens
    # as CD; spelled-out numerals default to NN and are not attached —
    # documented precision gap).
    for c, t in enumerate(tags):
        if t == "CD" and c + 1 < n and tags[c + 1] == "NN":
            edges.append((c + 1, c, "nummod"))

    # advmod: -ly/RB adverb directly before the verb or adjective it
    # scales ("strongly inhibits", "highly specific") — conservative
    # adjacent-only subset; 'not/never' are owned by the neg tier.
    for i in range(n - 1):
        if (endsly[i] or tags[i] == "RB") and \
                lows[i] not in _NEG_CUES and \
                (isv[i + 1] or tags[i + 1] == "JJ"):
            edges.append((i + 1, i, "advmod"))

    return edges
