"""Sentence-local extraction core: tokenize → POS-lite → lemma → dictionary
NER → Odin-style rule cascade (entities, modifications, simple events,
bindings, regulations, activations, negation, hypothesis, polarity).

These are pure Python functions over token arrays — deliberately free of any
Spark import so they unit-test instantly; the Spark operators wrap them in
Arrow-batched ``mapInPandas`` (SURVEY.md §2.2-§2.4: every NLP operator is a
vectorized UDF; the State of the Odin fixpoint is sentence-local, so the whole
cascade runs in one partition-local pass with zero shuffles — SURVEY §2.3 O3).

Reference semantics being reimplemented (file:line cites, no code copied);
SURVEY §2 operator IDs in brackets:
  - [N2-N4] tokenizer / POS-lite / lemma: processors/.../BioNLPProcessor.scala:18-53
    (N5's statistical CRF NER is deliberately folded into the dictionary
    NER [N6]; N7's dependency parse is replaced by the surface grammar —
    documented divergence, README §divergences)
  - [N6] rule NER longest match: processors/.../ner/KBLoader.scala:51-67
  - [O1] token-pattern rules (entities, sites, mutants, mods):
    biogrammar/entities/entities.yml:9-298, mutants.yml, modifications.yml
  - [O2] dependency-pattern rule semantics re-expressed as surface +
    transparency heuristics: simple-event_template.yml:18-290,
    pos-reg/neg-reg templates, bind_events.yml
  - [O3] priority/fixpoint scheduling: the fixed cascade order in run()
    (entities → mods → aliases → simple → bindings → regs) mirrors
    events_master.yml:412-510 priorities 1-14
  - [O4] State lookup (mentionsFor): sentence-local entity/event array
    scans (ent_starting_at / events list) — zero-shuffle State
  - [O5] grammar templating: the 13 PTM types expand from
    SIMPLE_EVENT_STEMS like RuleReader.scala:12-53 expands ${eventName}
  - [A2-A4] relation unpacking / NER-overlap guards: DarpaActions.scala:35-77
  - [A5-A7] PTM/EventSite/Mutant storage (mods, not events):
    darpa/DarpaActions.scala:84-146
  - [A8] ubiquitin-theme drop: DarpaActions.scala:153-162 (_emit_binding)
  - [A9] handleAutoEvent (auto-verbal split): DarpaActions.scala:170-193
  - [A10-A11] mkRegulation/mkActivation guards (distinct grounding,
    overlap, event-controller preference): DarpaActions.scala:197-238
  - [A12-A13] bindings incl. pair explosion: DarpaActions.scala:250-289
  - [A14] siteSniffer (sites_near): DarpaActions.scala:294-325
  - [A16] splitSimpleEvents: DarpaActions.scala:334-368
  - [A17] cleanupEvents ordering (sites → negation → hypothesis → split):
    DarpaActions.scala:371-380 = the tail of run()
  - [A18] convertEventToEntity (event controllers reduce to their output
    entity in _controller_arg): DarpaActions.scala:581-665
  - [F1] keepMostCompleteMentions: darpa/MentionFilter.scala:371-390
  - [F3-F5] negation + parity + hypothesis: darpa/NegationHandler.scala,
    HypothesisHandler.scala
  - [F6] regulation-type KD/KO/DN/OE/CHEM detection:
    darpa/RegulationHandler.scala:19-172
  - [F7] hyphen role flip: darpa/HyphenHandle.scala:32-71
  - [F8] mutation splitting: ReachSystem.scala:257-275
  - [P1] linguistic polarity (wrapper-sign composition):
    polarity/LinguisticPolarityEngine.scala:60-75
(A15 proteinBetween and F2 filterOverlappingMentions are dep-path filters
whose precision effect the surface grammar subsumes: args are only grabbed
within NP-local windows, so a GGP on the path blocks the grab by
construction.)
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
import re
from typing import Any

from . import resources as R

Token = str
Mention = dict[str, Any]

# ---------------------------------------------------------------------------
# Tokenization & sentence split (reference BioNLPProcessor.scala:18-30 —
# bio-aware tokenizer; ours keeps protein names like "NF-kappaB", "T669A",
# "p65" intact and splits punctuation)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    # \w keeps unicode letters ("β-D-galactose", "PI3KC2β") in one token;
    # internal commas join chemical names ("fructose-1,6-bisphosphate") —
    # list commas are still split because English puts a space after them
    r"\w(?:[\w+/'.,-]*[\w+])?|\S"
)
_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+(?=[A-Z\"(])")

MAX_SENT_TOKENS = 100  # parse guard, reference BioNLPProcessor.scala:24


# NOTE: no bare `[A-Z]\.` branch — the splitter only breaks before a
# capital, so a single-capital "abbreviation" merge would glue
# "...protein kinase C." onto the next sentence; genus initials
# ("S. cerevisiae") are never split in the first place (lowercase
# continuation fails the split lookahead)
_ABBREV_END_RE = re.compile(
    r"\b(?:a\.k\.a|e\.g|i\.e|cf|vs|ca|approx|et\s+al|[Ff]ig|[Nn]o)\.$")


def split_sentences(text: str) -> list[str]:
    parts = [p.strip() for p in _SENT_SPLIT_RE.split(text)]
    parts = [p for p in parts if p]
    # re-merge false splits after abbreviations ("a.k.a. Akt334", "Fig. 2",
    # single-initial "S. cerevisiae") — CoreNLP's tokenizer-level
    # abbreviation list, BioNLPProcessor.scala:18-30
    out: list[str] = []
    for p in parts:
        if out and _ABBREV_END_RE.search(out[-1]):
            out[-1] = out[-1] + " " + p
        else:
            out.append(p)
    return out


def split_span(text: str) -> list[str]:
    """split_sentences for one text span of a document. Spark paths number
    a sentence span_pos * 1000 + its index in the span, so a span that
    yields 1000 sentences or more fails loudly instead of colliding."""
    sents = split_sentences(text)
    if len(sents) >= 1000:
        raise ValueError(
            f"span yields {len(sents)} sentences (>= 1000); sent_idx "
            "encoding would collide — split the span upstream")
    return sents


def tokenize(sent: str) -> tuple[list[str], list[int], list[int]]:
    words, starts, ends = [], [], []
    # unicode dash variants (en-dash complexes: 'p53–ASPP2 complex',
    # TestRegulationEvents sent54d) normalize to ASCII hyphen BEFORE
    # matching so the compound stays one token — 1:1 in length, so
    # character offsets are unchanged
    sent = sent.replace("–", "-").replace("‐", "-").replace("−", "-")
    aw, ast, aen = words.append, starts.append, ends.append
    for m in _TOKEN_RE.finditer(sent):
        s, e = m.span()
        w = sent[s:e]
        # split trailing sentence punctuation glued to a word
        if e - s > 1 and w[-1] in ".,;:":
            aw(w[:-1])
            ast(s)
            aen(e - 1)
            aw(w[-1])
            ast(e - 1)
            aen(e)
        else:
            aw(w)
            ast(s)
            aen(e)
    return words, starts, ends


_PREPS = {"of", "by", "in", "on", "at", "to", "with", "between", "from",
          "upon", "into", "for", "via", "through", "within", "during",
          "among", "under", "after", "before", "without"}
_DETS = {"the", "a", "an", "this", "that", "these", "those", "both", "its",
         "their", "our", "such", "each", "any", "all", "some", "no"}
_CONJ = {"and", "or", "nor", "but"}
_AUX = {"is", "was", "are", "were", "be", "been", "being", "has", "have",
        "had", "can", "could", "may", "might", "will", "would", "shall",
        "should", "must", "does", "did", "do", "am"}
_VERB_SUFFIXES = ("ates", "ate", "ated", "ating", "izes", "ize", "ized",
                  "izing", "yses", "yse", "ysed", "ysing", "yzes", "yze",
                  "yzed", "yzing", "ifies", "ify", "ified")
_KNOWN_VERBS = {
    "binds", "bind", "bound", "binding", "interacts", "interact",
    "associates", "associate", "associated", "fails", "fail", "failed",
    "promotes", "promote", "promoted", "promotted", "increases", "increase",
    "increased", "decreases", "decrease", "decreased", "inhibits", "inhibit",
    "inhibited", "activates", "activate", "activated", "regulates",
    "regulate", "regulated", "induces", "induce", "induced", "observed",
    "observe", "tested", "test", "required", "require", "requires",
    "augmented", "augment", "suppresses", "suppress", "suppressed",
    "blocks", "block", "blocked", "translocates", "translocate",
    "translocated", "transcribed", "transcribes", "transcribe", "expressed",
    "expresses", "express", "recruits", "recruit", "recruited", "digested",
    # translocation verb forms — ONLY inflected forms that cannot be
    # nominals ("the transport of X" must stay NN for the nominal rules)
    "transports", "transported", "relocalizes", "relocalized",
    "relocates", "relocated", "redistributes", "redistributed",
    "migrates", "migrated", "exported", "imported",
    "fractioned", "degrades", "degrade", "degraded", "upregulates",
    "upregulate", "upregulated", "downregulates", "downregulate",
    "downregulated", "mediates", "mediate", "mediated", "enhances",
    "enhance", "enhanced", "reduces", "reduce", "reduced", "prevents",
    "prevent", "prevented", "stimulates", "stimulate", "stimulated",
    "hypothesized", "hypothesize", "speculated", "suggests", "suggested",
    "disrupted", "disrupts", "disrupt", "abolished", "abolishes",
    "aids", "aided", "causes", "cause", "caused", "attenuates",
    "attenuate", "attenuated", "elevates", "elevate", "elevated",
    "diminishes", "diminish", "diminished", "impairs", "impair",
    "impaired", "restores", "restore", "restored", "triggers",
    "triggered", "drives", "drive", "driven", "represses", "repress",
    "repressed", "deactivates", "deactivate", "deactivated",
    "depletes", "deplete", "depleted", "depleting",
}


# per-token memo tables: both taggers are pure functions of the token, and
# corpus vocabulary is Zipfian — on real text the dict probe replaces the
# suffix/set cascade for ~99% of tokens. Bounded so adversarial vocab can't
# grow worker memory unboundedly.
_POS_MEMO: dict[str, str] = {}
_LEMMA_MEMO: dict[str, str] = {}
_MEMO_MAX = 1_000_000


def pos_tag(words: list[str]) -> list[str]:
    """POS-lite: IN / DT / CC / MD-aux (AUX) / V* / CD / NN / punctuation.
    Coarse but sufficient for the surface grammar (reference uses CoreNLP
    MaxEnt tags, BioNLPProcessor.scala:46-53 — deliberate simplification)."""
    memo = _POS_MEMO
    out = []
    for w in words:
        t = memo.get(w)
        if t is None:
            t = _pos_one(w)
            if len(memo) < _MEMO_MAX:
                memo[w] = t
        out.append(t)
    return out


def _pos_one(w: str) -> str:
    lw = w.lower()
    if not any(c.isalnum() for c in w):
        return "."
    if lw in _PREPS:
        return "IN"
    if lw in _DETS:
        return "DT"
    if lw in _CONJ:
        return "CC"
    if lw in _AUX or lw.endswith("n't"):
        return "AUX"
    if lw in _KNOWN_VERBS or lw.endswith(_VERB_SUFFIXES):
        if lw.endswith(("ed", "en")):
            return "VBN"
        if lw.endswith("ing"):
            return "VBG"
        if lw.endswith("s"):
            return "VBZ"
        return "VB"
    if w.replace(".", "").replace(",", "").isdigit():
        return "CD"
    return "NN"


def lemmatize(words: list[str]) -> list[str]:
    """Suffix-rule lemmatizer. Trigger matching is prefix-stem based, so
    near-miss lemmas are harmless (reference uses CoreNLP's lemmatizer)."""
    memo = _LEMMA_MEMO
    out = []
    for w in words:
        lm = memo.get(w)
        if lm is None:
            lm = _lemma_one(w)
            if len(memo) < _MEMO_MAX:
                memo[w] = lm
        out.append(lm)
    return out


def _lemma_one(w: str) -> str:
    lw = w.lower()
    if lw in _AUX or len(lw) <= 3:
        return lw
    if lw.endswith("ies") and len(lw) > 4:
        return lw[:-3] + "y"
    if lw.endswith("sses"):
        return lw[:-2]
    if lw.endswith("es") and lw[-3] in "sxzo":
        return lw[:-2]
    if lw.endswith("s") and not lw.endswith(("ss", "us", "is")):
        return lw[:-1]
    if lw.endswith("ied"):
        return lw[:-3] + "y"
    if lw.endswith("ed") and len(lw) > 4:
        stem = lw[:-2]
        if stem.endswith(("at", "iz", "uc", "as", "ot", "ut", "ir",
                          "ag", "in", "ok", "ar", "or", "ul")):
            return stem + "e"
        return stem
    if lw.endswith("ing") and len(lw) > 5:
        stem = lw[:-3]
        if stem.endswith(("at", "iz", "uc", "as")):
            return stem + "e"
        return stem
    return lw


def annotate_sentence(sent_text: str) -> dict[str, Any]:
    words, starts, ends = tokenize(sent_text)
    if len(words) > MAX_SENT_TOKENS:  # parse guard / skew anchor
        words, starts, ends = (words[:MAX_SENT_TOKENS],
                               starts[:MAX_SENT_TOKENS],
                               ends[:MAX_SENT_TOKENS])
    tags = pos_tag(words)
    lemmas = lemmatize(words)
    return {
        "sent_text": sent_text,
        "words": words,
        "start_offsets": starts,
        "end_offsets": ends,
        "tags": tags,
        "lemmas": lemmas,
    }


# ---------------------------------------------------------------------------
# Mention helpers
# ---------------------------------------------------------------------------

def mention_id(doc_id: str, sent_idx: int, label: str, start: int, end: int,
               rule: str, extra: str = "") -> str:
    key = f"{doc_id}|{sent_idx}|{label}|{start}|{end}|{rule}|{extra}"
    return hashlib.sha1(key.encode()).hexdigest()[:16]


def _mk(doc_id: str, sent_idx: int, kind: str, label: str, start: int,
        end: int, words: list[str], rule: str, trigger: tuple | None = None,
        args: list | None = None, mods: list | None = None,
        is_direct: bool = False, extra: str = "") -> Mention:
    text = " ".join(words[start:end])
    return {
        "doc_id": doc_id, "sent_idx": sent_idx,
        "mention_id": mention_id(doc_id, sent_idx, label, start, end, rule,
                                 extra),
        "kind": kind, "label": label,
        "labels": list(R.label_closure(label)),
        "start": start, "end": end, "text": text,
        "trigger_start": trigger[0] if trigger else None,
        "trigger_end": trigger[1] if trigger else None,
        "trigger_text": " ".join(words[trigger[0]:trigger[1]]) if trigger else None,
        "args": args or [], "mods": mods or [],
        "is_direct": is_direct, "found_by": rule, "keep": True,
        "is_controlled": False,
    }


def _arg(role: str, m: Mention) -> dict:
    """Arg struct with denormalized canonical/target_label (see schemas.ARG).
    For an event referenced as an argument (a regulation's controlled or an
    event controller), the display text/canonical come from its first theme
    (convertEventToEntity depth-1, DarpaActions.scala:581-665)."""
    if m["kind"] == "event":
        theme = next((a for a in m["args"] if a["role"] == "theme"), None)
        if theme is None:
            # activations/regulations carry controller/controlled, not
            # theme — convertEventToEntity reduces them to the CONTROLLED
            # participant ("Shp2 regulates Gab1-mediated Akt activation"
            # → the regulation's obj is Akt, not the trigger word;
            # wild-PMC tier r5)
            theme = next((a for a in m["args"]
                          if a["role"] == "controlled"), None)
        return {"role": role, "mention_id": m["mention_id"],
                "text": theme["text"] if theme else m["text"],
                "canonical": theme["canonical"] if theme else None,
                "target_label": m["label"]}
    return {"role": role, "mention_id": m["mention_id"], "text": m["text"],
            "canonical": m.get("canonical", m["text"].lower()),
            "target_label": m["label"]}


def _mod(kind: str, label: str | None = None, evidence: str | None = None,
         site: str | None = None, negated: bool = False) -> dict:
    return {"kind": kind, "label": label, "evidence_text": evidence,
            "site_text": site, "negated": negated}


# ---------------------------------------------------------------------------
# Entity NER: broadcast-dictionary longest match + Site/Mutant token rules
# ---------------------------------------------------------------------------

def _is_event_nominal(s: str) -> bool:
    """'phosphorylation', 'monoubiquitination', 'translocation'… — tails
    that are event nominals, not entity-name parts ("p53-phosphorylation")."""
    for _, (_, nstem) in R.SIMPLE_EVENT_STEMS.items():
        if s.startswith(nstem) or s.startswith("de" + nstem):
            return True
    return s.startswith(("translocation", "transcription", "expression"))


_SITE_AA_RE = re.compile(r"^([ACDEFGHIKLMNPQRSTVWY])[-]?(\d+)$")
_MUTANT_RE = re.compile(r"^([ACDEFGHIKLMNPQRSTVWY])(\d+)([ACDEFGHIKLMNPQRSTVWY])$")
# assay potency/toxicity measures (IC50, EC50, CC50, LD50, TD50, IC90...)
_ASSAY_MEASURE_RE = re.compile(r"^(?:IC|EC|CC|LD|TD)\d{2,3}$")
# bare amino-acid names (3-letter + the phospho-acceptor full names) —
# the residue tail of a protein-site hyphen compound ("p53-Ser 15")
_AA_NAMES = frozenset({
    "ala", "arg", "asn", "asp", "cys", "gln", "glu", "gly", "his", "ile",
    "leu", "lys", "met", "phe", "pro", "ser", "thr", "trp", "tyr", "val",
    "serine", "threonine", "tyrosine"})


def _adjectival_tail(tail: str) -> bool:
    """Hyphen-compound tail that reads as a plain adjective, so the
    compound is a modifier phrase over the head entity, not a new entity
    ('FGFR3-skeletal dysplasias', 'Gab1-specific'). Lowercase alphabetic
    with an adjectival suffix or an explicit modifier word."""
    return tail.isalpha() and tail.islower() and (
        tail.endswith(("al", "ic", "ous", "ive"))
        or tail in ("dependent", "independent", "specific", "sensitive",
                    "insensitive", "positive", "negative", "deficient",
                    "like", "type", "rich", "free"))
# HGVS-ish mutant token shapes (reference mutants.yml / modifications.yml
# mutant rules): Ser785His, ΔF508, K29del, K29_M30insQSK, G31_Q33dup,
# Arg83fs, … The shape vocabulary is DATA in rules/mutant_tokens.yml
# (odin rule format, `mutantType` meta); compiled here to a flat
# (regex, type) list so the per-token probe stays a plain C-level match.
_MUTANT_SHAPES: list[tuple[re.Pattern, str]] | None = None


def _mutant_shapes() -> list[tuple[re.Pattern, str]]:
    global _MUTANT_SHAPES
    if _MUTANT_SHAPES is None:
        from .odin import load_rules
        shapes = []
        for rule in load_rules(package_file="mutant_tokens.yml").rules:
            # each rule is one positive word-regex constraint by contract
            (kind, pred), = rule._first
            assert kind == "pred" and pred.field == "word" \
                and not pred.negated, rule.name
            shapes.append((pred.matcher, str(rule.meta["mutantType"])))
        _MUTANT_SHAPES = shapes
    return _MUTANT_SHAPES


@lru_cache(maxsize=65536)
def _mutant_shape(w: str) -> str | None:
    """Pure function of the token (patterns are static rule data) —
    memoized like _match_trigger_cached; hot in attach_entity_mods."""
    for pat, mtype in _mutant_shapes():
        if pat.search(w):
            return mtype
    return None
_AA3_RE = re.compile(r"^(Ala|Arg|Asn|Asp|Cys|Gln|Glu|Gly|His|Ile|Leu|Lys|"
                     r"Met|Phe|Pro|Ser|Thr|Trp|Tyr|Val)[-]?(\d+)$", re.I)


# ---------------------------------------------------------------------------
# [O1] Site token rules: patterns live in rules/entity_tokens.yml and are
# compiled by odin.py (the TokenPattern/ThompsonVM analog); the functions
# below are the rules' `action:` bindings — enumeration unpacking and
# canonical-form computation, the counterpart of the reference's
# mkBioMention / unpackRelations actions (DarpaActions.scala). Each action
# receives the match span and returns (mentions, end-of-consumed-span),
# or None to VETO so the next rule tries the same start position.
# ---------------------------------------------------------------------------

def _act_site_residue_list(doc_id, sent_idx, words, lows, existing, found,
                           s, e):
    """'Lys residues 104 and 147' → one Site per residue number; 'multiple
    lysine residues ( K164 , 370 , ... )' → the head phrase is itself a
    Site AND each paren element is one, bare numbers inheriting the head's
    amino-acid prefix (TestRegulationEvents sent35 enumeration)."""
    n = len(words)
    lw = lows[s]
    aa = R.AA_SHORT.get(lw) or R.AMINO_ACIDS[lw]
    k = s + 2
    ms = []
    hit = in_paren = False
    while k < n:
        if words[k] == "(" and not in_paren and not hit:
            in_paren = True
            k += 1
        elif words[k].isdigit():
            m = _mk(doc_id, sent_idx, "tbm", "Site", k, k + 1, words,
                    "site-residue-list")
            m["canonical"] = f"{aa}{words[k]}"
            ms.append(m)
            hit = True
            k += 1
        elif in_paren and _SITE_AA_RE.match(words[k]):
            sm = _SITE_AA_RE.match(words[k])
            m = _mk(doc_id, sent_idx, "tbm", "Site", k, k + 1, words,
                    "site-residue-list")
            m["canonical"] = f"{sm.group(1)}{sm.group(2)}"
            ms.append(m)
            hit = True
            k += 1
        elif lows[k] in (",", "and", "or"):
            k += 1
        elif in_paren and words[k] == ")":
            k += 1
            break
        else:
            break
    if not hit:
        return None
    if in_paren:
        # the generic head phrase ("lysine residues") is a Site too —
        # the underspecified acetylation site
        m = _mk(doc_id, sent_idx, "tbm", "Site", s, s + 2, words,
                "site-residue-head")
        m["canonical"] = f"{aa}residues"
        ms.append(m)
    return ms, k


def _act_site_aa_num(doc_id, sent_idx, words, lows, existing, found, s, e):
    """'serine 125' / 'Ser 253'; a trailing bare-number enumeration
    inherits the amino-acid prefix: 'serine 125, 126, and 127' → three
    Sites (TestTemplaticSimpleEvents.scala:348)."""
    n = len(words)
    lw = lows[s]
    aa = R.AMINO_ACIDS.get(lw) or R.AA_SHORT[lw]
    m = _mk(doc_id, sent_idx, "tbm", "Site", s, s + 2, words, "site-aa-num")
    m["canonical"] = f"{aa}{words[s+1]}"
    ms = [m]
    i = s + 2
    while i < n:
        if lows[i] in (",", "and", "or"):
            i += 1
        elif words[i].isdigit():
            m = _mk(doc_id, sent_idx, "tbm", "Site", i, i + 1, words,
                    "site-aa-num-list")
            m["canonical"] = f"{aa}{words[i]}"
            ms.append(m)
            i += 1
        else:
            break
    return ms, i


def _act_site_aa_bare(doc_id, sent_idx, words, lows, existing, found, s, e):
    m = _mk(doc_id, sent_idx, "tbm", "Site", s, s + 1, words, "site-aa-bare")
    m["canonical"] = R.AMINO_ACIDS[lows[s]]
    return [m], e


def _act_site_code(doc_id, sent_idx, words, lows, existing, found, s, e):
    m = _mk(doc_id, sent_idx, "tbm", "Site", s, s + 1, words, "site-code")
    m["canonical"] = words[s]
    return [m], e


def _act_site_aa3(doc_id, sent_idx, words, lows, existing, found, s, e):
    m = _mk(doc_id, sent_idx, "tbm", "Site", s, s + 1, words, "site-aa3")
    m["canonical"] = words[s]
    return [m], e


def _act_site_domain(doc_id, sent_idx, words, lows, existing, found, s, e):
    """'<Cap> domain(s)' — vetoed when the head token is already inside a
    dictionary or site mention (the reference prefers the entity)."""
    if any(m["start"] <= s < m["end"] for m in existing) or \
            any(m["start"] <= s < m["end"] for m in found):
        return None
    m = _mk(doc_id, sent_idx, "tbm", "Site", s, e, words, "site-domain")
    m["canonical"] = " ".join(words[s:e])
    return [m], s  # non-consuming: scan resumes at the head token + 1


_SITE_ACTIONS = {
    "site_residue_list": _act_site_residue_list,
    "site_aa_num": _act_site_aa_num,
    "site_aa_bare": _act_site_aa_bare,
    "site_code": _act_site_code,
    "site_aa3": _act_site_aa3,
    "site_domain": _act_site_domain,
}

_ENTITY_TOKEN_RULES = None


def _entity_token_rules():
    global _ENTITY_TOKEN_RULES
    if _ENTITY_TOKEN_RULES is None:
        from .odin import load_rules
        _ENTITY_TOKEN_RULES = load_rules(package_file="entity_tokens.yml")
    return _ENTITY_TOKEN_RULES


def _find_sites(doc_id: str, sent_idx: int, words: list[str],
                lows: list[str], existing: list[Mention]) -> list[Mention]:
    """Positional first-rule-wins dispatch over the compiled site rules:
    at each unconsumed token the rules try in file order; the first
    non-vetoed match runs its action and (if consuming) advances the scan
    past the action's consumed span — the Odin entity-grammar priority
    semantics the hand-written branch cascade used to implement."""
    n = len(words)
    fields = [{"word": w} for w in words]
    found: list[Mention] = []
    engine = _entity_token_rules()
    candidates = engine.candidates
    start_ok = engine.start_ok
    i = 0
    while i < n:
        if not start_ok(words[i]):
            i += 1
            continue
        advanced = False
        # per-word dispatch index: only the rules whose entry gate can
        # pass at this word are probed, in file order (exact — the same
        # _first_ok gate match_at re-checks)
        for rule in candidates(words[i]):
            end = rule.match_at(fields, i)
            if end is None:
                continue
            res = _SITE_ACTIONS[rule.action](
                doc_id, sent_idx, words, lows, existing, found, i, end)
            if res is None:
                continue
            ms, nxt = res
            found.extend(ms)
            if rule.consume and nxt > i:
                i = nxt
                advanced = True
            break
        if not advanced:
            i += 1
    return found


def find_entities(doc_id: str, sent_idx: int, words: list[str],
                  dictionary: dict[str, tuple[str, ...]],
                  max_ngram: int = 5) -> list[Mention]:
    """Greedy longest-match dictionary NER (reference KBLoader rule NER,
    invoked first in ReachSystem.extractEntitiesFrom, ReachSystem.scala:183)."""
    lows = [w.lower() for w in words]
    n = len(words)
    out: list[Mention] = []
    # multi-word probes only fire at tokens that START some multi-word
    # entry (EntityDict.first_words) — drops the scan from max_ngram
    # dictionary probes per token to ~1, the property that keeps this flat
    # as the dictionary grows to bioresources scale
    first_words = getattr(dictionary, "first_words", None)
    i = 0
    while i < n:
        # fast miss-path (the overwhelmingly common case on web text):
        # a hyphen-free token that is neither a dictionary entry nor the
        # first word of any multi-word entry can only fall through to the
        # final `else: i += 1` below — skip the probe loop and the hyphen
        # split chains entirely (exact-equivalence guarded by first_words)
        if first_words is not None and "-" not in words[i] and \
                lows[i] not in dictionary and lows[i] not in first_words \
                and not lows[i].endswith("'s"):
            i += 1
            continue
        hit = None
        top = min(max_ngram, n - i) \
            if first_words is None or lows[i] in first_words else 1
        for k in range(top, 0, -1):
            key = " ".join(lows[i:i + k])
            if key in dictionary:
                hit = (k, dictionary[key])
                break
        if hit:
            k, (label, canon) = hit
            if k == 1 and words[i].islower() and lows[i] in R.NER_STOPLIST:
                # lowercase common-word collision (BioNERPostProcessor
                # stoplist semantics, ner_stoplist.txt)
                i += 1
                continue
            nxt = lows[i + k] if i + k < n else ""
            if nxt.startswith("substrate"):
                # substrate constraint: "The K-Ras substrate" is not an
                # entity mention (entities.yml post-attributive guard;
                # TestEntities.scala sent6)
                i += k + 1
                continue
            if nxt in ("inhibitor", "inhibitors") and \
                    (i + k + 1 >= n or lows[i + k + 1] != "of"):
                # "Ras inhibitor" is a Simple_chemical drug phrase
                # (TestEntities.scala sent9a-b)
                m = _mk(doc_id, sent_idx, "tbm", "Simple_chemical", i,
                        i + k + 1, words, "rule-ner-inhibitor")
                m["canonical"] = " ".join(lows[i:i + k + 1])
                out.append(m)
                i += k + 1
                continue
            m = _mk(doc_id, sent_idx, "tbm", label, i, i + k, words,
                    "rule-ner")
            m["canonical"] = canon
            out.append(m)
            i += k
        elif "-" in words[i] and lows[i].split("-", 1)[0] in dictionary \
                and not lows[i].split("-", 1)[1].endswith(("ed", "ing")) \
                and not _is_event_nominal(lows[i].split("-", 1)[1]):
            # hyphen compound whose head is a known entity: "Ras-GDP",
            # "RAS-GTP" — one entity over the whole token, canonical =
            # the full lowered form (entities.yml hyphen rules);
            # "p53-phosphorylation" is an event, not an entity
            head, tail = lows[i].split("-", 1)
            if _adjectival_tail(tail) and tail not in dictionary:
                # plain adjective tail: "FGFR3-skeletal dysplasias" /
                # "Gab1-specific" is a modifier phrase, not an entity
                # named by the whole token (wild-PMC tier r5)
                i += 1
                continue
            label, canon = dictionary[head]
            m = _mk(doc_id, sent_idx, "tbm", label, i, i + 1, words,
                    "rule-ner-hyphen-compound")
            if tail in _AA_NAMES:
                # residue tail: "p53-Ser 15 phosphorylation" is protein
                # p53 + site Ser 15, not an entity named 'p53-ser' (the
                # reference bio tokenizer splits the hyphen so its NER
                # sees p53 alone; wild-PMC tier r5). Ground as the head
                # and read the arg text as the head protein.
                m["text"] = words[i].split("-", 1)[0]
                m["canonical"] = canon
            else:
                m["canonical"] = lows[i]
            out.append(m)
            i += 1
        elif "-" in words[i] and lows[i].rsplit("-", 1)[-1] in dictionary \
                and not lows[i].rsplit("-", 1)[0].endswith(("ed", "ing")):
            # mutant/prefix compound whose tail is known: "G12V-Ras"
            label, _ = dictionary[lows[i].rsplit("-", 1)[-1]]
            m = _mk(doc_id, sent_idx, "tbm", label, i, i + 1, words,
                    "rule-ner-hyphen-tail")
            m["canonical"] = lows[i]
            # "K650M-FGFR3" carries its own substitution mutant
            # (TestModifications sent10/12; mutation split F8 then copies)
            pre = words[i].rsplit("-", 1)[0]
            if _MUTANT_RE.match(pre):
                m["canonical"] = lows[i].rsplit("-", 1)[-1]
                # the mention text is the protein alone — the reference
                # bio tokenizer splits "R399Q-XRCC1" so downstream args
                # read "XRCC1" (TestTemplaticSimpleEvents.scala:428-438)
                m["text"] = words[i].rsplit("-", 1)[-1]
                m["mods"].append(
                    _mod("Mutant", "SubstitutionMutant", pre))
            out.append(m)
            i += 1
        elif len(lows[i]) > 3 and lows[i].endswith("'s") and \
                lows[i][:-2] in dictionary and \
                not (words[i][:-2].islower() and
                     lows[i][:-2] in R.NER_STOPLIST):
            # possessive form of a known entity: "Raf's" — the reference's
            # bio tokenizer splits the genitive clitic so its NER sees a
            # clean "Raf" token; ours keeps the token whole, so strip the
            # "'s" at lookup. Canonical is the stripped key (grounding
            # stays exact); the mention covers the whole token.
            label, canon = dictionary[lows[i][:-2]]
            m = _mk(doc_id, sent_idx, "tbm", label, i, i + 1, words,
                    "rule-ner-possessive")
            m["canonical"] = canon
            out.append(m)
            i += 1
        else:
            i += 1
    # [O1] Site token rules: compiled from rules/entity_tokens.yml by the
    # odin.py TokenPattern engine (patterns are DATA; the enumeration /
    # canonicalization actions below are code, mirroring the reference's
    # pattern-in-YAML + mkBioMention/unpackRelations-in-Scala split).
    # Positional first-rule-wins dispatch reproduces the Odin entity
    # grammar's priority semantics over "serine 827", "Y63", "Ser-827",
    # residue enumerations, "<X> domain(s)".
    out.extend(_find_sites(doc_id, sent_idx, words, lows, out))
    # [N5] shape NER: the deterministic stand-in for the reference's CRF
    # recall on UNSEEN protein names (CRFNER.scala + BioNERPostProcessor
    # shape features) — dictionary-only NER would miss novel gene symbols
    # entirely. Conservative token shapes: uppercase-initial alphanumeric
    # WITH a digit ("ZZANK9", "GRK5L2") or camel-case with an internal
    # uppercase run ("hemAT"-like, "AktTR"-like); sites/mutants/refs and
    # anything overlapping a dictionary/site mention are excluded. These
    # entities ground via the uaz failsafe, exactly like CRF-found
    # unknowns in the reference.
    covered = set()
    for e in out:
        covered.update(range(e["start"], e["end"]))
    for i, w in enumerate(words):
        if i in covered:
            continue
        ck = _shape_ner_key(w)   # all token-only predicates, memoized
        if ck is None or lows[i] in dictionary:
            continue
        if i > 0 and lows[i - 1].rstrip(".") in (
                "figure", "figures", "fig", "table", "tables"):
            continue
        m = _mk(doc_id, sent_idx, "tbm", "Gene_or_gene_product", i, i + 1,
                words, "shape-ner")
        m["canonical"] = ck
        out.append(m)
    return out


@lru_cache(maxsize=262144)
def _shape_ner_key(w: str) -> str | None:
    """Token-only half of the shape-NER predicate chain: returns the
    canonical key for a shape candidate, None otherwise. Pure function of
    the token, so it memoizes across every sentence a worker sees —
    corpus token vocabularies are Zipf-bounded, which turns the regex +
    character-class scans (the hottest per-token work in find_entities)
    into one dict probe per occurrence. Position-dependent filters
    (dictionary membership, coverage, figure/table left context) stay in
    the caller."""
    if len(w) < 3 or len(w) > 12:
        return None
    if "-" in w or "/" in w or "." in w or "," in w or "_" in w:
        return None
    if w.lower() in R.NER_STOPLIST:
        return None
    if _SITE_AA_RE.match(w) or _MUTANT_RE.match(w) or _AA3_RE.match(w):
        return None
    if w.endswith(("RNA", "RNAs", "DNA", "DNAs")):
        return None  # mRNA(s)/shRNA/tRNA/cDNA — nucleic acids, not proteins
    if _ASSAY_MEASURE_RE.match(w):
        return None  # IC50/EC50/CC50/LD50 — assay potency measures, not
        # entities ("the IC50 for erlotinib", wild-PMC precision tier r5)
    low2 = w[:2].lower() if len(w) > 3 else ""
    shape_digit = (w[0].isupper() and any(c.isdigit() for c in w) and
                   sum(c.isalpha() for c in w) >= 2 and
                   not w.isdigit())
    shape_camel = (w[0].islower() and w.isalnum() and
                   sum(c.isupper() for c in w) >= 2 and
                   low2 not in ("sh", "si", "sg", "mi"))
    # Greek-letter compounds: "GTPγS", "TGFβ", "IFNγ" — uppercase-initial
    # alphanumerics with a Greek char are protein/reagent names the
    # digit/camel shapes miss (wild-PMC tier r5)
    shape_greek = (w[0].isupper() and w.isalnum() and
                   any("Ͱ" <= c <= "Ͽ" for c in w) and
                   sum(c.isascii() and c.isalpha() for c in w) >= 2)
    if not (shape_digit or shape_camel or shape_greek):
        return None
    return R.canonical_key(w)


def _site_after(words: list[str], lows: list[str], entities: list[Mention],
                pos: int) -> str | None:
    """Site text from 'at SITE' starting near `pos` (skipping
    protein/proteins interceders) — for PTM-mod site capture."""
    n = len(words)
    j = pos
    hops = 0
    while j < n and hops < 3:
        if lows[j] in ("protein", "proteins", "fragment"):
            j += 1
            hops += 1
            continue
        if lows[j] == "at":
            for e in entities:
                if e["label"] == "Site" and e["start"] >= j + 1 and \
                        e["start"] <= j + 2:
                    return e["text"]
            return None
        return None
    return None


@lru_cache(maxsize=65536)
def _ptm_participle_label(lw: str) -> str | None:
    """'ubiquitinated' -> 'Ubiquitination', 'deubiquitinated' -> 'De...';
    None otherwise. Pure function of the token; memoized (hot path)."""
    if not lw.endswith("ed"):
        return None
    for pre in ("", "mono", "di", "poly"):  # monoubiquitinated K-Ras
        w = lw[len(pre):] if pre and lw.startswith(pre) else (
            lw if not pre else None)
        if w is None:
            continue
        for ev_label, (vstem, _) in R.SIMPLE_EVENT_STEMS.items():
            if w.startswith(vstem):
                return ev_label
            if not pre and w.startswith("de" + vstem):
                return "De" + ev_label.lower()
    return None


@lru_cache(maxsize=65536)
def _is_binding_verb(lw: str) -> bool:
    return any(lw.startswith(s) for s in R.BINDING_VERB_STEMS)


@lru_cache(maxsize=262144)
def _mutant_halves_tok(w: str) -> tuple[tuple, tuple]:
    """Token-only mutant detection, memoized: (slash-halves, shape-halves).
    slash-halves = each '/'-separated substitution ('K156M/H204M'), valid
    only when >1 half or the whole token matches; shape-halves = the
    _mutant_shape fallback. The position-dependent '>'-substitution and
    'mutation of' branches stay in attach_entity_mods."""
    halves = tuple((h, "SubstitutionMutant") for h in w.split("/")
                   if _MUTANT_RE.match(h))
    if not (halves and (len(halves) > 1 or _MUTANT_RE.match(w))):
        halves = ()
    mtype = _mutant_shape(w)
    shaped = ((w, mtype),) if mtype is not None else ()
    return halves, shaped


def attach_entity_mods(words: list[str], lows: list[str],
                       entities: list[Mention]) -> set[int]:
    """PTM participle modifiers ("ubiquitinated Ras", "Ras that is
    ubiquitinated at serine 286") and Mutant tokens ("EGFR T669A mutant")
    become mods on the entity, not events (reference storePTM /
    storeMutants, DarpaActions.scala:84-146; modifications.yml). Returns
    trigger positions consumed as modifiers (the event pass skips them)."""
    ent_at = {}
    for e in entities:
        for t in range(e["start"], e["end"]):
            ent_at[t] = e
    n = len(words)
    consumed: set[int] = set()
    # every trigger token that became an entity-mod participle — wider
    # than `consumed` (the premodifier branch leaves the token free for
    # the surface event pass's own dedup); odin_graph marks these as
    # ModificationTrigger pseudo-mentions for the dependency rules'
    # faithful !mention=ModificationTrigger trigger constraint
    attach_entity_mods.mod_positions = mod_positions = set()
    for i, lw in enumerate(lows):
        lbl = _ptm_participle_label(lw)
        if lbl is not None:
            nxt = i + 1
            # participle directly before an entity and NOT followed later
            # by "by" within the NP → PTM modifier
            if nxt in ent_at and not (nxt + 1 < n and lows[nxt + 1] == "by"):
                e = ent_at[nxt]
                if e["start"] == nxt and e["label"] not in ("Site",):
                    site = _site_after(words, lows, entities, e["end"])
                    e["mods"].append(_mod("PTM", lbl, words[i], site=site))
                    mod_positions.add(i)
            # "ENT that is|was VBN (at SITE)" — relative-clause modifier,
            # not an event (modifications.yml); consume the trigger
            if i >= 3 and lows[i - 1] in ("is", "was", "been") and \
                    lows[i - 2] in ("that", "which") and i - 3 in ent_at:
                e = ent_at[i - 3]
                if e["end"] == i - 2 and e["label"] not in ("Site",):
                    site = _site_after(words, lows, entities, i + 1)
                    e["mods"].append(_mod("PTM", lbl, words[i], site=site))
                    consumed.add(i)
    # Mutant tokens attach to nearest entity left (else right); a
    # slash-joined list "K156M/H204M" carries one Mutant per half
    # (TestModifications sent15 paren mutant lists)
    _DETS_ANA = ("this", "the", "that", "these", "those")
    for i, w in enumerate(words):
        slashed, shaped = _mutant_halves_tok(w)
        if not slashed and not shaped and \
                lows[i] not in ("mutation", "mutations") and \
                (i + 2 >= n or words[i + 1] != ">"):
            continue   # token can produce no mutant halves — fast path
        # "the K341L mutant" is a mutant ANAPHOR (resolve_mutant_anaphors),
        # not a modifier of the previous entity — skipping here prevents a
        # duplicate Mutant mod on the antecedent (TestCoreference sent32a)
        if i > 0 and i + 1 < n and lows[i - 1] in _DETS_ANA and \
                lows[i + 1].startswith("mutant"):
            continue
        halves = list(slashed)
        if not halves:
            # split '>' substitution: '76A > T' tokenizes to three
            # tokens (mutantTest16 '76A>T')
            if (i + 2 < n and words[i + 1] == ">" and
                    re.match(r"^\d+[A-Z]$", w) and
                    re.match(r"^[A-Z]$", words[i + 2])):
                halves = [(w + ">" + words[i + 2], "SubstitutionMutant")]
            else:
                halves = list(shaped)
            # bare 'Mutation(s) of (the) ENT (gene)' → unspecified mutant
            # (mutantTest15); skipped when a specific mutant token sits
            # directly left ('Ser785His mutation of RAS' — the token rule
            # already attaches it)
            if (not halves and lows[i] in ("mutation", "mutations") and
                    i + 1 < n and lows[i + 1] == "of" and
                    not (i > 0 and (_MUTANT_RE.match(words[i - 1]) or
                                    _mutant_shape(words[i - 1])))):
                halves = [(w, "UnspecifiedMutant")]
        if halves:
            target = None
            for e in entities:
                if e["end"] <= i and e["label"] != "Site":
                    if target is None or e["end"] > target["end"]:
                        target = e
            if target is None:
                for e in entities:
                    if e["start"] > i and e["label"] != "Site":
                        target = e
                        break
            if target is not None:
                for h, mtype in halves:
                    target["mods"].append(_mod("Mutant", mtype, h))
    mod_positions |= consumed
    return consumed


# ---------------------------------------------------------------------------
# Event grammar (surface-pattern reimplementation of the templatic grammars)
# ---------------------------------------------------------------------------

def _auto_label(label: str) -> str:
    """Reflexive/auto event label: AutoPhosphorylation < Phosphorylation
    (taxonomy.yml:45); other auto PTMs keep the base label."""
    return "AutoPhosphorylation" if label == "Phosphorylation" else label


@lru_cache(maxsize=65536)
def _sign_of_stem(lw: str) -> int:
    """+1 / -1 / 0 by prefix against the pos/neg trigger stems
    (events_master.yml:5-7). Longest stem wins so 'upregul' beats none and
    'downreg' beats 'regul' (which is unspecified → 0)."""
    best, sign = 0, 0
    for s in R.POS_TRIGGER_STEMS:
        if lw.startswith(s) and len(s) > best:
            best, sign = len(s), 1
    for s in R.NEG_TRIGGER_STEMS:
        if lw.startswith(s) and len(s) > best:
            best, sign = len(s), -1
    return sign


@lru_cache(maxsize=262144)
def _conv_token_gate(lw: str) -> bool:
    """Can this token start ANY find_conversions branch? (nominal
    'conversion of', CONVERSION_STEMS active/passive, '*ed by' PTM
    passive-with-product)."""
    return (lw.startswith("conversion")
            or lw.startswith(R.CONVERSION_STEMS)
            or lw.endswith("ed"))


@lru_cache(maxsize=262144)
def _binding_token_gate(lw: str) -> bool:
    """Can this token start ANY find_bindings branch? (hyphen compound
    triggers, 'bound' relative, binding verb stems, binding nouns,
    complex-'formation')."""
    return (lw.endswith(("-binding", "-bound"))
            or lw == "bound" or lw == "formation"
            or _is_binding_verb(lw)
            or lw in R.BINDING_NOUNS)


_SWITCH_TOKENS = frozenset({
    "switch", "switches", "switched", "switching",
    "turn", "turns", "turned", "turning"})


@lru_cache(maxsize=262144)
def _reg_token_gate(lw: str) -> bool:
    """Can this token start ANY find_regulations branch? Pure function of
    the lowered token — the union of every branch's token-level guard.
    False for the overwhelming majority of corpus tokens, so the
    regulation pass costs one dict probe per ordinary token."""
    return (lw == "role"
            or lw in R.POS_AGENT_NOUNS or lw in R.NEG_AGENT_NOUNS
            or ("-" in lw and lw.endswith(("ing", "ed", "en")))
            or lw in _SWITCH_TOKENS
            or _sign_of_stem(lw) != 0
            or lw.startswith("regul"))


def _wrapper_sign(lw: str) -> int:
    if lw in R.POS_NOUN_WRAPPERS:
        return 1
    if lw in R.NEG_NOUN_WRAPPERS:
        return -1
    return 0


# participial pre-modifiers whose stem carries no sign but that negate a
# bare-NP controller's presence ("lost/silenced PTPN13 increases ...")
_NEG_PREMOD_EXTRA = frozenset({"lost", "absent", "silenced", "ablated"})


def _premod_neg(lw: str) -> bool:
    """True iff a token directly left of a bare entity controller reads
    as a NEGATIVE participial pre-modifier — "decreased/lost PTPN13
    increases EphrinB1 activation" flips the controller sign (wild-PMC
    tier, r5; the bare-NP analog of the wrapper-nominal
    SEMANTIC_NEGATIVE flip). Slash compounds flip if ANY segment is
    negative; positive/unsigned modifiers are inert."""
    for part in lw.split("/"):
        if part in _NEG_PREMOD_EXTRA:
            return True
        if part.endswith(("ed", "en")) and _sign_of_stem(part) == -1:
            return True
    return False


@lru_cache(maxsize=65536)
def _match_trigger_cached(lw: str) -> tuple[str, str, bool] | None:
    """token -> (event_label, form verb|noun, is_auto); memoized - the per-token trigger match is a pure function of the lowered token and the hot path of the cascade. De-prefix guard: deubiquitination must NOT match Ubiquitination (simple-event_template.yml triggerPrefix !word=/^(de|auto)/)."""
    # alias spellings from the rule file (the reference's lemma-regex
    # alternation ubiquit(in|yl)ate, events_master.yml:93-94):
    # 'ubiquitylates' normalizes to the canonical stem before matching
    for alt, canon in R.ALT_TRIGGER_STEMS.items():
        if alt in lw:
            lw = lw.replace(alt, canon, 1)
            break
    # mono-/di-/poly- prefixes keep the base event type
    # ("monoubiquitination" is still a Ubiquitination)
    core = lw
    for pre in ("mono-", "poly-", "multi-", "mono", "poly", "di-", "di"):
        if lw.startswith(pre) and len(lw) > len(pre) + 4:
            stripped = lw[len(pre):]
            if any(stripped.startswith(s) for pair in
                   R.SIMPLE_EVENT_STEMS.values() for s in pair):
                core = stripped
                break
    for label, (vstem, nstem) in R.SIMPLE_EVENT_STEMS.items():
        if core.startswith("auto") and core[4:].startswith(nstem):
            return label, "noun", True
        if core.startswith("auto") and core[4:].startswith(vstem):
            return label, "verb", True
        if core.startswith("de") and core[2:].startswith(nstem):
            return "De" + label.lower(), "noun", False
        if core.startswith("de") and core[2:].startswith(vstem):
            return "De" + label.lower(), "verb", False
        if core.startswith(nstem):
            return label, "noun", False
        if core.startswith(vstem):
            return label, "verb", False
    if lw.startswith(R.TRANSLOCATION_STEMS):
        form = "noun" if lw.endswith(("tion", "ment")) else "verb"
        return "Translocation", form, False
    if lw.startswith("transcri"):
        form = "noun" if lw.startswith("transcription") else "verb"
        return "Transcription", form, False
    # expression/overexpression → Transcription (transcription_events.yml
    # expression triggers)
    core_x = lw[2:] if lw.startswith("re-") else lw
    if core_x.startswith(("express", "overexpress", "reexpress")):
        form = "noun" if "sion" in core_x else "verb"
        return "Transcription", form, False
    if lw in ("level", "levels", "amount", "amounts", "quantity",
              "loss"):
        return "Amount", "noun", False
    # secretion_events.yml (triggerLemma secret|exocyt; label Secretion,
    # a child of IncreaseAmount in taxonomy.yml:35). 'release' stays a
    # Translocation trigger here — in the reference both rules fire and
    # priorities arbitrate; surface-grammar divergence, documented.
    if lw.startswith(("secretion", "exocytosis")):
        return "Secretion", "noun", False
    if lw.startswith("secret") and not lw.startswith("secretar"):
        return "Secretion", "verb", False
    if lw.startswith("degrad"):
        form = "noun" if lw.startswith("degradation") else "verb"
        # taxonomy.yml maps Degradation under DecreaseAmount; export label
        # is the parent, matching the reference's output vocabulary.
        return "DecreaseAmount", form, False
    return None

class SentenceExtractor:
    """Runs the full sentence-local cascade: priorities mirror the Odin
    wiring (entities → mods → simple events → bindings → regs → activations
    → cleanup; events_master.yml:412-510)."""

    def __init__(self, doc_id: str, sent_idx: int, ann: dict[str, Any],
                 dictionary: dict[str, tuple[str, ...]],
                 emit_generic: bool = False):
        # emit_generic=True (the Spark per-sentence path): an anaphor with
        # no SENTENCE-local antecedent is emitted as a Generic_entity /
        # Generic_event placeholder instead of suppressing the event, so
        # the DOC-level coref sieves (reach_spark.coref) can resolve it;
        # unresolved generics are pruned at triple-build time — the same
        # net suppression as emit_generic=False (Coref.resolve argsComplete
        # pruning, Coref.scala:92-100). The False default keeps the
        # fixture harness semantics (whole fixture = one extraction unit).
        self.emit_generic = emit_generic
        self.doc_id = doc_id
        self.sent_idx = sent_idx
        self.words: list[str] = ann["words"]
        self.lows = [w.lower() for w in self.words]
        self.tags: list[str] = ann["tags"]
        self.lemmas: list[str] = ann["lemmas"]
        self.n = len(self.words)
        self.dictionary = dictionary
        self.entities: list[Mention] = []
        self.events: list[Mention] = []
        self.consumed_triggers: set[int] = set()
        # token positions of unresolvable generic anaphors ('the mutant'
        # with no mutant-bearing antecedent): event rules must not reach
        # across them to an earlier clause (TestCoreference sent32b/33b)
        self.generic_blocked: set[int] = set()

    # -- helpers ---------------------------------------------------------
    def ent_ending_at(self, i: int, bio_only: bool = True) -> Mention | None:
        for e in self.entities:
            if e["end"] == i + 1 and (not bio_only or e["label"] != "Site"):
                return e
        return None

    def ent_starting_at(self, i: int, bio_only: bool = True) -> Mention | None:
        for e in self.entities:
            if e["start"] == i and (not bio_only or e["label"] != "Site"):
                return e
        return None

    def site_at(self, i: int) -> Mention | None:
        for e in self.entities:
            if e["start"] <= i < e["end"] and e["label"] == "Site":
                return e
        return None

    def nearest_ent_left(self, i: int, skip: set[str] = frozenset({"Site"}),
                         max_hops: int = 10) -> Mention | None:
        """Closest bio entity leftward. Relative-clause markers and commas
        are transparent ('via Pde2, which specifically hydrolyzes X' — the
        subject sits across ', which'); a closed parenthetical is skipped
        whole (appositive: 'Akt (a.k.a. X) is phosphorylated' → Akt);
        sentence-final punctuation stops."""
        j = i - 1
        hops = 0
        while j >= 0 and hops < max_hops:
            if self.words[j] == ")":
                depth = 1
                k = j - 1
                while k >= 0 and depth:
                    if self.words[k] == ")":
                        depth += 1
                    elif self.words[k] == "(":
                        depth -= 1
                    k -= 1
                if depth == 0:
                    j = k
                    hops += 1
                    continue
            e = self.ent_ending_at(j)
            if e and e["label"] not in skip:
                if self._cell_np_after(e):
                    # entity heading a cell NP is a cell-line context
                    # carrier, not a subject ("BT474 cells express
                    # endogenous PTPN13", "Gab1 -/- MEFs ..." — the cell
                    # line hosts the event; wild-PMC tier r5)
                    j = e["start"] - 1
                    hops += 1
                    continue
                return e
            lw = self.lows[j]
            if lw in {".", ";", ":"}:
                return None
            j -= 1
            hops += 1
        return None

    def conj_ents_right(self, i: int, max_hops: int = 6) -> list[Mention]:
        """Entity NP list after position i: ENT (, ENT)* (and|or ENT)?
        Skips determiners/adjective-ish tokens before the first entity."""
        out: list[Mention] = []
        j = i
        hops = 0
        while j < self.n and hops < max_hops:
            e = self.ent_starting_at(j)
            if e:
                out.append(e)
                j = e["end"]
                # continue through conj chain
                while j < self.n:
                    if self.lows[j] in {",", "and", "or", "nor"}:
                        j2 = j + 1
                        # allow adjectives between conj and entity
                        while j2 < self.n and self.tags[j2] in {"DT"}:
                            j2 += 1
                        e2 = self.ent_starting_at(j2)
                        if e2:
                            out.append(e2)
                            j = e2["end"]
                            continue
                    break
                return out
            lj = self.lows[j]
            if self.tags[j] in {"DT", "CD"} or lj in {
                    "basal", "putative", "conserved", "free", "total",
                    "endogenous", "tyrosine", "serine", "threonine",
                    "two", "three", "four", "five", "several", "multiple",
                    "wild-type", "nucleotide", "mutant", "active",
                    "linear", "kinase", "dead", "substrate", "substrates",
                    ","} or \
                    self._is_ptm_participle(lj):
                j += 1
                hops += 1
                continue
            if lj.endswith("ed") and _match_trigger_cached(lj) is None:
                # generic participle premodifier: "by the
                # co-immunoprecipitated DNA-PK" — transparent unless the
                # token is itself an event trigger
                # (TestTemplaticSimpleEvents.scala:449)
                j += 1
                hops += 1
                continue
            if lj == "of" and j > i and self.lows[j - 1] in {
                    "mutant", "mutants", "form", "forms", "fragment",
                    "fragments", "variant", "variants", "version",
                    "versions"}:
                # relational NP head: "a kinase dead mutant of ERK5" →
                # the object is ERK5 (TestTemplaticSimpleEvents.scala:584)
                j += 1
                hops += 1
                continue
            if j + 1 < self.n and self.lows[j + 1].startswith("substrate"):
                # suppressed attributive entity: "the mTOR substrate,
                # 4EBP1" — hop the attributive token, the appositive is
                # the mention (TestTemplaticSimpleEvents.scala:413)
                j += 1
                hops += 1
                continue
            return out
        return out

    @staticmethod
    def _is_ptm_participle(lw: str) -> bool:
        """'ubiquitinated', 'non-ubiquitinated', 'phosphorylated' etc. used
        as entity modifiers inside an NP."""
        core = lw[4:] if lw.startswith("non-") else lw
        if not core.endswith("ed"):
            return False
        for vstem, _ in R.SIMPLE_EVENT_STEMS.values():
            if core.startswith(vstem) or core.startswith("de" + vstem):
                return True
        return False

    def conj_ents_left(self, i: int,
                       across_clause: bool = False) -> list[Mention]:
        """Entity chain immediately left of i, walking over conj and
        site/adjective tokens: "... EGFR and ERBB3 tyrosine <TRIG>".
        across_clause extends transparency over ", but not" + adjectival
        conjunct modifiers ("mutant p32, but not recombinant ASPP2 and GST
        proteins, bind ..." → one series; negation lands as a mod —
        TestBindingEvents sent36); used only for binding-verb subjects
        where the series IS the subject NP."""
        out: list[Mention] = []
        j = i - 1
        # skip site words / adjectives / NP heads / auxiliaries directly
        # before trigger ("PTEN protein expression", "ASPP1 and ASPP2 are
        # bound by ...")
        pre_skip = {"basal", "putative", "conserved", "tyrosine", "serine",
                    "threonine", "total", "protein", "gene", "mrna", "and"}
        sep_skip = {"and", "or", ","}
        if across_clause:
            pre_skip |= {",", "proteins"}
            sep_skip |= {"but", "not", "recombinant", "purified",
                         "endogenous", "wild-type", "mutant"}
        while j >= 0 and (self.site_at(j) or self.tags[j] == "AUX" or
                          self.lows[j] in pre_skip):
            j -= 1
        while j >= 0:
            e = self.ent_ending_at(j)
            if e:
                out.append(e)
                j = e["start"] - 1
                moved = False
                while j >= 0 and self.lows[j] in sep_skip:
                    j -= 1
                    moved = True
                if moved:
                    continue
                break
            break
        out.reverse()
        return out

    def _event(self, label: str, trig: tuple[int, int], theme: Mention,
               rule: str, site: Mention | None = None,
               cause_text_extra: str = "") -> Mention:
        args = [_arg("theme", theme)]
        if site is not None:
            args.append(_arg("site", site))
        ev = _mk(self.doc_id, self.sent_idx, "event", label, trig[0],
                 trig[1], self.words, rule, trigger=trig, args=args,
                 extra=theme["mention_id"] + (site["mention_id"] if site else "")
                 + cause_text_extra)
        return ev

    def _reg(self, label: str, trig: tuple[int, int], controller: Mention,
             controlled: Mention, rule: str) -> Mention:
        args = [_arg("controller", controller), _arg("controlled", controlled)]
        if controlled["kind"] == "event":
            controlled["is_controlled"] = True
        return _mk(self.doc_id, self.sent_idx, "event", label, trig[0],
                   trig[1], self.words, rule, trigger=trig, args=args,
                   extra=controller["mention_id"] + controlled["mention_id"])

    # -- simple events ---------------------------------------------------
    def match_simple_event_trigger(self, i: int) -> tuple[str, str, bool] | None:
        return _match_trigger_cached(self.lows[i])
    _PRON_SG = frozenset({"it", "its"})
    _PRON_PL = frozenset({"they", "them", "their"})

    def resolve_pronoun(self, pos: int,
                        exclude: frozenset = frozenset()) -> list[Mention]:
        """Pronominal anaphora (pronominalMatch sieve,
        DarpaLinks.scala:171-260, resolution explode Coref.scala:35-110):
        singular → the sentence-subject (leftmost prior in the SAME
        sentence), else the most recent mention of a PRECEDING sentence
        (LinearSelector closest-prior: TestCoreference sent56a/b, sent16);
        plural → ALL prior entities. `exclude` bars an event's own other
        arguments from antecedenthood ("BEF phosphorylates it" → no
        event)."""
        if pos < 0 or pos >= self.n:
            return []
        lw = self.lows[pos]
        if lw not in self._PRON_SG and lw not in self._PRON_PL:
            return []
        prior = [e for e in self.entities
                 if e["end"] <= pos and
                 e["label"] not in R.CONTEXT_ENTITY_LABELS and
                 e["label"] != "Site" and
                 e["mention_id"] not in exclude]
        prior.sort(key=lambda e: e["start"])
        if not prior:
            return []
        if lw in self._PRON_PL:
            return prior
        boundary = -1
        for b in range(pos - 1, -1, -1):
            if self.words[b] in (".", "!", "?"):
                boundary = b
                break
        same_sent = [e for e in prior if e["start"] > boundary]
        if same_sent:
            return [same_sent[0]]
        return [prior[-1]]

    def _pronoun_at(self, pos: int) -> bool:
        return 0 <= pos < self.n and (self.lows[pos] in self._PRON_SG or
                                      self.lows[pos] in self._PRON_PL)

    def _np_anaphor_head(self, pos: int) -> int | None:
        """Demonstrative generic-NP anaphor head at `pos` ('this protein',
        'these proteins') — nounPhraseMatch material for the doc-level
        sieves. Definite-article NPs ('the protein') are NOT anaphoric
        (generic_blocked, TestCoreference sent33c) and named NPs ('this
        ASPP1 protein') resolve by other rules."""
        if 0 < pos < self.n and \
                self.lows[pos] in R.GENERIC_NP_HEADS and \
                self.lows[pos - 1] in ("this", "that", "these", "those") \
                and pos not in self.generic_blocked and \
                self.ent_starting_at(pos) is None and \
                self.site_at(pos) is None:
            return pos
        return None

    _ANA_DETS = frozenset({"this", "the", "that", "these", "those"})

    def resolve_mutant_anaphors(self) -> None:
        """mutantProteinMatch, sentence-local half (darpa/DarpaLinks.scala
        :77-110, compatibleMutants CorefUtils.scala:105-117; TestCoreference
        sent31-33). Three anaphor shapes over 'mutant(s)':

          'this mutant ASPP1'  → the named entity gains the closest prior
              same-protein specific mutants (sent31a) or, failing that, a
              GENERIC Mutant mod (sent31b — mention survives, unresolved);
          'the K341L mutant'   → mints a resolved copy of the closest prior
              entity carrying that exact mutant (sent32a); no antecedent →
              no mention (sent32b);
          'the mutant'         → mints a resolved copy of the closest prior
              entity with any specific mutant (sent33a); no antecedent →
              no mention, so no downstream binding (sent33b/c)."""
        def specific_muts(e: Mention) -> list[dict]:
            return [m for m in e["mods"] if m["kind"] == "Mutant" and
                    not str(m.get("evidence_text", "")).startswith("mutant")]

        minted: list[Mention] = []
        for i in range(self.n):
            if not self.lows[i].startswith("mutant") or \
                    self.tags[i].startswith("V"):
                continue
            nxt_ent = self.ent_starting_at(i + 1)
            if i > 0 and self.lows[i - 1] in self._ANA_DETS and \
                    nxt_ent is not None:
                # 'this mutant ASPP1'
                ante = None
                for e in self.entities:
                    if e["end"] <= i - 1 and \
                            e["canonical"] == nxt_ent["canonical"] and \
                            specific_muts(e):
                        if ante is None or e["end"] > ante["end"]:
                            ante = e
                if ante is not None:
                    have = {m["evidence_text"] for m in nxt_ent["mods"]
                            if m["kind"] == "Mutant"}
                    nxt_ent["mods"].extend(
                        m for m in specific_muts(ante)
                        if m["evidence_text"] not in have)
                elif not specific_muts(nxt_ent):
                    nxt_ent["mods"].append(
                        _mod("Mutant", "GenericMutant", "mutant"))
                continue
            prev = self.words[i - 1] if i > 0 else ""
            if i > 1 and self.lows[i - 2] in self._ANA_DETS and \
                    _MUTANT_RE.match(prev):
                # 'the K341L mutant'
                ante = None
                for e in self.entities:
                    if e["end"] <= i - 2 and any(
                            m["evidence_text"] == prev
                            for m in specific_muts(e)):
                        if ante is None or e["end"] > ante["end"]:
                            ante = e
                if ante is not None:
                    minted.append(self._mint_mutant_copy(ante, i))
                elif self.emit_generic:
                    # doc-level candidate: generic entity carrying the
                    # SPECIFIC mutation for the mutantProteinMatch sieve
                    self._mint_generic_entity(
                        i, mods=[_mod("Mutant", "SubstitutionMutant", prev)])
                else:
                    # unresolvable mutant anaphor occupies the NP: block
                    # event rules from reaching across it (sent32b)
                    self.generic_blocked.add(i)
                continue
            if i > 0 and self.lows[i - 1] in self._ANA_DETS:
                # bare 'the mutant'
                ante = None
                for e in self.entities:
                    if e["end"] <= i - 1 and specific_muts(e):
                        if ante is None or e["end"] > ante["end"]:
                            ante = e
                if ante is not None:
                    minted.append(self._mint_mutant_copy(ante, i))
                elif self.emit_generic:
                    self._mint_generic_entity(
                        i, mods=[_mod("Mutant", "GenericMutant", "mutant")])
                else:
                    self.generic_blocked.add(i)
        self.entities.extend(minted)
        # 'the protein' (definite article + bare generic head, no entity
        # inside the NP) never takes an antecedent in the reference sieves
        # — only demonstratives do ('this protein', coref_entities.yml) —
        # so it blocks event rules like an unresolved anaphor
        # (TestCoreference sent33c: 'ASPP1 ... and the protein binds GTP'
        # must NOT produce a binding)
        for i in range(1, self.n):
            if self.lows[i] in R.GENERIC_NP_HEADS and \
                    self.lows[i] != "complex" and \
                    self.lows[i - 1] == "the" and \
                    self.ent_starting_at(i + 1) is None and \
                    (i + 1 >= self.n or
                     self.lows[i + 1] not in (",", "(", ")")) and \
                    self.site_at(i) is None and \
                    self.ent_starting_at(i) is None:
                self.generic_blocked.add(i)

    def _mint_generic_entity(self, pos: int,
                             mods: list | None = None) -> Mention:
        """Generic_entity placeholder at a pronoun / unresolved-anaphor
        position (reference generic CorefTextBoundMention; resolved or
        pruned by the doc-level sieves)."""
        m = _mk(self.doc_id, self.sent_idx, "tbm", "Generic_entity", pos,
                min(pos + 1, self.n), self.words, "generic-anaphor")
        m["canonical"] = None
        lw = self.lows[pos]
        num = "plural" if (lw in self._PRON_PL or
                           (lw in R.GENERIC_NP_HEADS and
                            lw.endswith("s"))) else "singular"
        m["mods"].append(_mod("Generic", num, self.words[pos]))
        if mods:
            m["mods"].extend(mods)
        self.entities.append(m)
        return m

    def _mint_mutant_copy(self, ante: Mention, pos: int) -> Mention:
        """Resolved singleton at the anaphor position carrying the
        antecedent's surface/canonical/mods (Coref.toSingletons)."""
        m = _mk(self.doc_id, self.sent_idx, "tbm", ante["label"], pos,
                pos + 1, self.words, "mutant-anaphor",
                extra=ante["mention_id"])
        m["text"] = ante["text"]
        m["canonical"] = ante["canonical"]
        m["mods"] = [dict(md) for md in ante["mods"]]
        return m

    def _indefinite_np_before(self, i: int) -> bool:
        """'a cistron', 'a protein' directly before position i: an
        indefinite generic NP, which never takes an antecedent
        (open-class generic filtering, Coref.scala:353-377)."""
        j = i - 1
        if j < 1 or self.ent_ending_at(j) is not None:
            return False
        return self.tags[j] == "NN" and self.lows[j - 1] in ("a", "an")

    @staticmethod
    def match_simple_event_trigger_text(s: str) -> str | None:
        """Event label for a bare nominal string ('phosphorylation')."""
        for label, (_, nstem) in R.SIMPLE_EVENT_STEMS.items():
            if s.startswith("de" + nstem):
                return "De" + label.lower()
            if s.startswith(nstem):
                return label
        if s.startswith("translocation"):
            return "Translocation"
        if s.startswith(("transcription", "expression")):
            return "Transcription"
        return None

    _SITE_SCAN_SKIP = frozenset({",", "and", "or", "multiple", "several",
                                 "various", "numerous", "(", ")"})

    def _site_scan_skippable(self, k: int) -> bool:
        lwk = self.lows[k]
        return (self.tags[k] == "DT" or lwk in self._SITE_SCAN_SKIP or
                lwk.startswith("residue") or lwk in R.AA_SHORT or
                lwk in R.AMINO_ACIDS)

    def sites_near(self, lo: int, hi: int) -> list[Mention]:
        """Sites attached via "at SITE" / "on ... SITE" / paren residue list
        in [lo, hi) (siteSniffer semantics, DarpaActions.scala:294-325)."""
        sites = []
        j = lo
        while j < hi and j < self.n:
            if self.lows[j] in ("at", "on") or self.words[j] == "(":
                # [lo, hi) bounds the ANCHOR search; once anchored, the
                # site list itself may run past the window ("at multiple
                # lysine residues ( K164 , 370 , ... )")
                k = j + 1
                while k < self.n:
                    s = self.site_at(k)
                    if s and s["start"] == k:
                        sites.append(s)
                        k = s["end"]
                        if k < self.n and self.lows[k] in (",", "and", "or",
                                                           "(", ")"):
                            k += 1
                            continue
                        break
                    if self._site_scan_skippable(k):
                        k += 1
                        continue
                    break
                j = k
            j += 1
        return sites

    def paren_site_list(self, i: int) -> list[Mention]:
        """Residue list "(Y63, Y68, Y200)" following token i."""
        if i < self.n and self.words[i] == "(":
            sites, k = [], i + 1
            while k < self.n and self.words[k] != ")":
                s = self.site_at(k)
                if s and s["start"] == k:
                    sites.append(s)
                    k = s["end"]
                elif self.lows[k] == ",":
                    k += 1
                else:
                    return []
            return sites
        return []

    def find_simple_events(self) -> None:
        i = 0
        while i < self.n:
            if i in self.consumed_triggers:  # PTM-modifier trigger (A5)
                i += 1
                continue
            # hyphen cause-compound trigger: "p53-phosphorylation of ERK"
            # → Phosphorylation(ERK) + Positive_regulation(p53)
            lw = self.lows[i]
            if "-" in lw:
                head, _, tail = lw.partition("-")
                if head in self.dictionary and _is_event_nominal(tail):
                    hh = self.match_simple_event_trigger_text(tail)
                    if hh is not None and i + 1 < self.n and \
                            self.lows[i + 1] == "of":
                        labh, canonh = self.dictionary[head]
                        cause = _mk(self.doc_id, self.sent_idx, "tbm", labh,
                                    i, i + 1, self.words, "rule-ner-hyphen")
                        cause["canonical"] = canonh
                        cause["text"] = self.words[i].partition("-")[0]
                        self.entities.append(cause)
                        for theme in self.conj_ents_right(i + 2):
                            self._split_event_and_reg(
                                hh, (i, i + 1), theme, cause,
                                "simple-hyphen-cause")
                        i += 1
                        continue
                    if hh is not None:
                        # genitive compound: "p53-acetylation" without a
                        # following "of" — the head IS the theme
                        # (TestTemplaticSimpleEvents.scala:495)
                        labh, canonh = self.dictionary[head]
                        theme = _mk(self.doc_id, self.sent_idx, "tbm", labh,
                                    i, i + 1, self.words, "rule-ner-hyphen")
                        theme["canonical"] = canonh
                        theme["text"] = self.words[i].partition("-")[0]
                        self.entities.append(theme)
                        self._split_event_and_reg(
                            hh, (i, i + 1), theme, None,
                            "simple-hyphen-genitive")
                        i += 1
                        continue
            if lw in ("ligated", "conjugated") and i + 1 < self.n and \
                    self.lows[i + 1] == "to":
                # "Ras ligated to Ubiquitin" → Ubiquitination(Ras)
                # (modification-grammar ligate rule,
                # TestTemplaticSimpleEvents.scala:97)
                ub = self.ent_starting_at(i + 2)
                if ub is not None and ub["canonical"] == "ubiquitin":
                    th = self.nearest_ent_left(i)
                    if th is not None:
                        self.events.append(self._event(
                            "Ubiquitination", (i, i + 1), th,
                            "ligated-to-ubiquitin"))
                        self.consumed_triggers.add(i)
                        i += 1
                        continue
            hit = self.match_simple_event_trigger(i)
            if not hit:
                i += 1
                continue
            label, form, is_auto = hit
            lw = self.lows[i]
            trig = (i, i + 1)
            if form == "verb":
                if lw.endswith("ed") or lw.endswith("en"):
                    self._passive_or_participle(label, trig, is_auto)
                elif self.tags[i].startswith("V") or (
                        label == "Translocation" and i > 0 and
                        self.lows[i - 1] == "to"):
                    # POS-lite misses infinitives ("to release p53 to the
                    # cytosol"); the from/to argument shape disambiguates
                    self._active_verbal(label, trig, is_auto)
                elif label == "Translocation":
                    # noun usage of a verb-form trigger: "its release from
                    # the plasma membrane", "insulin release"
                    self._nominal_translocation(trig)
            elif label == "Translocation":
                self._nominal_translocation(trig)
            else:
                self._nominal(label, trig, is_auto)
            i += 1

    def _split_event_and_reg(self, label: str, trig: tuple[int, int],
                             theme: Mention, cause: Mention | None,
                             rule: str, site: Mention | None = None,
                             reg_sign: int = 1) -> Mention | None:
        """splitSimpleEvents (DarpaActions.scala:334-368): the simple event
        keeps theme(+site), isDirect=true when a cause existed; the cause
        becomes controller of a Positive_regulation over the event
        (Negative_regulation when reg_sign < 0, e.g. '... in response to
        RAS inhibition')."""
        if theme["canonical"] == "ubiquitin" or (
                cause is not None and cause["canonical"] == "ubiquitin"):
            return None  # mkUbiquitination guard, DarpaActions.scala:153-162
        if theme["label"] in R.CONTEXT_ENTITY_LABELS:
            return None  # PTM themes are BioChemicalEntities (taxonomy.yml)
        if cause is not None and cause["label"] in R.CONTEXT_ENTITY_LABELS:
            # a context-class subject (Organ/Species/CellLine) hosts the
            # event, it never causes it ("breast cancer subtypes express
            # Her2" — the tissue is context; wild-PMC tier r5)
            cause = None
        reg_label = ("Positive_regulation" if reg_sign > 0
                     else "Negative_regulation")
        ev = self._event(label, trig, theme, rule, site=site,
                         cause_text_extra=cause["mention_id"] if cause else "")
        ev["is_direct"] = cause is not None
        self.events.append(ev)
        self.consumed_triggers.add(trig[0])
        if cause is not None and cause["mention_id"] != theme["mention_id"]:
            reg = self._reg(reg_label, trig, cause, ev,
                            rule + "-split")
            self.events.append(reg)
        elif cause is not None:  # autoevent: controller == theme
            reg = self._reg(reg_label, trig, cause, ev,
                            rule + "-auto")
            self.events.append(reg)
        return ev

    def _active_verbal(self, label: str, trig: tuple[int, int],
                       is_auto: bool) -> None:
        i = trig[0]
        extra_subjs: list[Mention] = []
        if self._pronoun_at(i - 1):
            # plural pronoun subject: "they phosphorylate ASPP2" → one
            # event, one regulation per resolved controller
            resolved = self.resolve_pronoun(i - 1)
            if not resolved and self.emit_generic:
                # cross-sentence controller ('MEK is common. It
                # phosphorylates Ras.'): generic controller for the
                # doc-level pronominalMatch sieve; if it never resolves,
                # only the regulation is pruned (the inner event row
                # re-emerges un-regulated, triples.py surviving-reg gate)
                resolved = [self._mint_generic_entity(i - 1)]
            subj = resolved[0] if resolved else None
            extra_subjs = resolved[1:]
        elif self._indefinite_np_before(i):
            # "a cistron phosphorylates ASPP2" — indefinite generic
            # subject never resolves (Coref.scala:353-377) → no controller
            subj = None
        else:
            subj = self.nearest_ent_left(i)
            if subj is None and self.emit_generic and \
                    self._np_anaphor_head(i - 1) is not None:
                # demonstrative-NP subject with no in-sentence antecedent
                # ('ASPP2 is common. This protein phosphorylates Ras.') —
                # nounPhraseMatch material (DarpaLinks.scala:240-354)
                subj = self._mint_generic_entity(i - 1)
        if is_auto:
            if subj is not None:
                sites = self.sites_near(i + 1, min(self.n, i + 10))
                self._split_event_and_reg(
                    _auto_label(label), trig, subj, subj, "auto-verbal",
                    site=sites[0] if sites else None)
            return
        if label == "Translocation":
            # object present → subject is the cause ("ASPP2 ... translocates
            # Pde2 from X to Y") unless the subject is a cellular component
            # ("the plasma membrane ... release p53 to the cytosol" → source)
            objs = [o for o in self.conj_ents_right(i + 1)
                    if o["label"] not in R.CONTEXT_ENTITY_LABELS]
            if objs:
                theme = objs[0]
                sources, dests, cause = self._scan_from_to_by(theme["end"])
                if self.lows[i].startswith(("recruit", "release")) and \
                        not sources and not dests:
                    return  # "recruit Shp2" alone is not a translocation
                if subj is not None and \
                        subj["label"] in R.CONTEXT_ENTITY_LABELS:
                    sources = sources or [subj]
                elif subj is not None and cause is None:
                    cause = subj
                self._emit_translocations(trig, theme, "transloc-verbal-obj",
                                          sources=sources, dests=dests,
                                          cause=cause)
            elif subj is not None and \
                    subj["label"] not in R.CONTEXT_ENTITY_LABELS:
                self._emit_translocations(trig, subj, "transloc-verbal")
            return
        themes = self.conj_ents_right(i + 1)
        if not themes:
            # pronoun object: "BEF sumoylates it" → resolve to the
            # sentence subject, excluding the event's own controller
            j2 = i + 1
            while j2 < self.n and self.tags[j2] == "DT":
                j2 += 1
            if j2 < self.n and self.lows[j2] == "itself" and \
                    subj is not None:
                # reflexive auto event: "EGFR phosphorylates itself."
                self._split_event_and_reg(_auto_label(label), trig, subj,
                                          subj, "auto-reflexive")
                return
            if self._pronoun_at(j2):
                excl = frozenset({subj["mention_id"]}) if subj else frozenset()
                themes = self.resolve_pronoun(j2, excl)
                if not themes and self.emit_generic:
                    themes = [self._mint_generic_entity(j2)]
            if not themes:
                return
        sites = self.sites_near(themes[-1]["end"], min(self.n, themes[-1]["end"] + 10))
        if not sites:
            sites = self.paren_site_list(themes[-1]["end"] + 1) or \
                self.paren_site_list(themes[-1]["end"])
        # "three HuR residues (Y63, Y68, Y200)" — residues then paren list
        if not sites and themes[-1]["end"] < self.n and \
                self.lows[themes[-1]["end"]].startswith("residue"):
            sites = self.paren_site_list(themes[-1]["end"] + 1)
        for theme in themes:
            evs = []
            if sites:
                for s in sites:
                    evs.append(self._split_event_and_reg(
                        label, trig, theme, subj, "simple-verbal", site=s))
            else:
                evs.append(self._split_event_and_reg(
                    label, trig, theme, subj, "simple-verbal"))
            for extra in extra_subjs:  # plural pronoun controllers
                for ev in evs:
                    if ev is not None:
                        self.events.append(self._reg(
                            "Positive_regulation", trig, extra, ev,
                            "simple-verbal-split"))

    def _scan_from_to_by(self, start: int, limit: int = 16) -> tuple[
            list[Mention], list[Mention], Mention | None]:
        """Scan right of `start` for 'from SRC (and SRC)*', 'to/into DST
        (and DST)*' and 'by CAUSE' (translocation_events.yml argument
        shapes). Sources conj-distribute like destinations ("release from
        the plasma membrane and nuclear membrane" → one event per source,
        TestTranslocationEvents sent3b)."""
        sources: list[Mention] = []
        dests: list[Mention] = []
        cause = None
        j = start
        stop = min(self.n, start + limit)
        while j < stop:
            lw = self.lows[j]
            if lw == "from" and not sources:
                cands = self.conj_ents_right(j + 1)
                if cands:
                    sources.extend(cands)
                    j = sources[-1]["end"]
                    continue
            if lw in ("to", "into") and not dests and \
                    (j == 0 or self.lows[j - 1] not in
                     ("binding", "bind", "binds", "bound")):
                # "binding to X" is that predicate's partner, never this
                # translocation's destination ("translocation of ASPP2,
                # which results in the increased binding to p53" —
                # wild-PMC tier r5)
                cands = self.conj_ents_right(j + 1)
                if cands:
                    dests.extend(cands)
                    j = dests[-1]["end"]
                    continue
            if lw == "by" and cause is None:
                cands = self.conj_ents_right(j + 1)
                if cands and cands[0]["label"] not in R.CONTEXT_ENTITY_LABELS:
                    cause = cands[0]
                    j = cands[0]["end"]
                    continue
            if lw in (".", ";"):
                break
            j += 1
        return sources, dests, cause

    def _emit_translocations(self, trig: tuple[int, int], theme: Mention,
                             rule: str, sources: list[Mention] | None = None,
                             dests: list[Mention] | None = None,
                             cause: Mention | None = None) -> None:
        """Translocation with source(s) ('from ENT (and ENT)*') and
        destination(s) ('to ENT (and ENT)*') — one event per source×dest
        combination (reference translocation_events.yml shape;
        TestTranslocationEvents sent3b/c). A cause splits into a
        Positive_regulation wrapper (splitSimpleEvents, A16). Recruitment
        to a *promoter* NP is transcription-factor binding, not transport
        (bind_events.yml recruitment rules; TestBindingEvents sent34)."""
        i = trig[0]
        if sources is None and dests is None and cause is None:
            sources, dests, cause = self._scan_from_to_by(i + 1)
        dests = dests or []
        sources = sources or []
        if dests and dests[-1]["end"] < self.n and \
                self.lows[dests[-1]["end"]] in ("promoter", "promoters"):
            for d in dests:
                self._emit_binding(trig, theme, d,
                                   "binding-promoter-recruit")
            return
        emitted: list[Mention] = []
        for s in (sources or [None]):
            for d in dests:
                ev = self._event(
                    "Translocation", trig, theme, rule,
                    cause_text_extra=d["mention_id"] +
                    (s["mention_id"] if s else ""))
                ev["args"].append(_arg("destination", d))
                if s is not None:
                    ev["args"].append(_arg("source", s))
                self.events.append(ev)
                emitted.append(ev)
            if not dests:
                ev = self._event(
                    "Translocation", trig, theme, rule,
                    cause_text_extra=s["mention_id"] if s else "")
                if s is not None:
                    ev["args"].append(_arg("source", s))
                self.events.append(ev)
                emitted.append(ev)
        if cause is not None and cause["mention_id"] != theme["mention_id"]:
            for ev in emitted:
                ev["is_direct"] = True
                self.events.append(self._reg("Positive_regulation", trig,
                                             cause, ev, rule + "-split"))
        self.consumed_triggers.add(i)

    def _nominal_translocation(self, trig: tuple[int, int]) -> None:
        """Nominal translocation: 'KRAS translocation to the cytosol and
        nucleus', 'Recruitment of p53 from the cytosol to the plasma
        membrane'."""
        i = trig[0]
        theme = None
        scan_from = i + 1
        if i + 1 < self.n and self.lows[i + 1] == "of":
            cands = self.conj_ents_right(i + 2)
            if cands and cands[0]["label"] not in R.CONTEXT_ENTITY_LABELS:
                theme = cands[0]
                scan_from = theme["end"]
        if theme is None:
            left = self.conj_ents_left(i)
            if left and left[-1]["label"] not in R.CONTEXT_ENTITY_LABELS:
                theme = left[-1]
        if theme is None and i > 0 and self.lows[i - 1] in ("its", "their"):
            # possessive anaphor theme: "... and its release from the
            # plasma membrane" → the sentence subject
            # (TestTranslocationEvents sent3a-c)
            resolved = self.resolve_pronoun(i - 1)
            if resolved:
                theme = resolved[0]
        if theme is None:
            return
        sources, dests, cause = self._scan_from_to_by(scan_from)
        if not sources and not dests:
            if self.lows[i].startswith(("release", "secretion")):
                # bare nominal 'release' with a genitive theme is a
                # Secretion, not a transport ("insulin release" —
                # secretion_events.yml triggerLemma secret|release|exocyt,
                # events_master.yml:41-44; TestRegulationEvents sent63)
                left = self.conj_ents_left(i)
                th = left[-1] if left else None
                if th is not None and \
                        th["label"] not in R.CONTEXT_ENTITY_LABELS:
                    self.events.append(
                        self._event("Secretion", trig, th,
                                    "secretion-genitive"))
                    self.consumed_triggers.add(i)
            return
        self._emit_translocations(trig, theme, "transloc-nominal",
                                  sources=sources, dests=dests, cause=cause)

    def _passive_or_participle(self, label: str, trig: tuple[int, int],
                               is_auto: bool) -> None:
        i = trig[0]
        # aux chain left → passive; or reduced relative with "by" following
        j = i - 1
        has_aux = False
        have_aux = False
        hops = 0
        while j >= 0 and hops < 4:
            if self.lows[j] in ("is", "was", "are", "were", "be", "been",
                                "being", "am", "become", "becomes",
                                "became", "get", "gets", "got", "isn't",
                                "wasn't", "aren't", "weren't"):
                # be-form (incl. negated contractions): the passive marker
                has_aux = True
                j -= 1
                hops += 1
                continue
            if self.tags[j] == "AUX":
                # have/do/modal auxiliaries are TRANSPARENT, not passive
                # markers: 'A had phosphorylated B' is ACTIVE past-perfect
                # (theme=B), while 'A had been phosphorylated' still finds
                # the 'been' deeper in the chain
                if self.lows[j] in ("has", "have", "had", "hasn't",
                                    "haven't", "hadn't"):
                    have_aux = True
                j -= 1
                hops += 1
                continue
            if self.lows[j] in ("able", "to", "not", "never", "often",
                                "sometimes", "always", "still", "also") or \
                    self.lows[j].endswith("ly") or \
                    self.site_at(j):  # site premodifier: "is tyrosine
                # phosphorylated" (adverbs/sites are transparent)
                j -= 1
                hops += 1
                continue
            break
        by_ent = None
        by_extra: list[Mention] = []
        site = None
        k = i + 1
        while k < min(self.n, i + 12):
            if self.lows[k] == "by":
                # context entities never control events ("secreted by HeLa
                # cells" — mkRegulation bioprocess guard)
                cands = [c for c in self.conj_ents_right(k + 1)
                         if c["label"] not in R.CONTEXT_ENTITY_LABELS]
                if cands:
                    # ALL coordinated agents: "acetylated by p300 and CBP"
                    # → every cause regulates every event
                    # (TestRegulationEvents sent35)
                    by_ent = cands[0]
                    by_extra = cands[1:]
                break
            k += 1
        sites = self.sites_near(i, min(self.n, i + 8))
        site = sites[0] if sites else None
        if have_aux and not has_aux and by_ent is None:
            # pure perfect chain ('A has/had phosphorylated B'): ACTIVE
            # voice — subject is the cause, object the theme
            self._active_verbal(label, trig, is_auto)
            return
        if has_aux or by_ent is not None:
            # pronoun subject: "it is often ubiquitinated" → resolve to
            # the sentence subject; an unresolvable pronoun suppresses
            # the event (Coref.resolve isComplete pruning, Coref.scala:428)
            k = i - 1
            while k >= 0 and (self.tags[k] == "AUX" or
                              self.lows[k].endswith("ly") or
                              self.lows[k] in ("often", "not", "never",
                                               "to", "able")):
                k -= 1
            if self._indefinite_np_before(k + 1):
                return  # "a protein is phosphorylated" — unresolvable
            if self._pronoun_at(k) or (self.emit_generic and
                                       self._np_anaphor_head(k) is not None):
                excl = frozenset({by_ent["mention_id"]}) if by_ent \
                    else frozenset()
                resolved = self.resolve_pronoun(k, excl) \
                    if self._pronoun_at(k) else []
                if not resolved and self.emit_generic:
                    # 'It is phosphorylated.' / 'This protein is
                    # phosphorylated.' with the antecedent in a previous
                    # sentence: emit with a generic theme for the
                    # doc-level pronominalMatch/nounPhraseMatch sieves
                    resolved = [self._mint_generic_entity(k)]
                for t in resolved:
                    if label == "Translocation":
                        self._emit_translocations(trig, t,
                                                  "transloc-passive-pron")
                    else:
                        self._split_event_and_reg(label, trig, t, by_ent,
                                                  "simple-passive-pron",
                                                  site=site)
                return
            # PTM/translocation themes are BioChemicalEntities, never
            # context entities (taxonomy.yml theme constraints) — walk
            # through cellular components etc. ("... to the nucleus, is
            # subsequently phosphorylated" → theme is the earlier GGP)
            theme = self.nearest_ent_left(
                i, skip=frozenset({"Site"}) | R.CONTEXT_ENTITY_LABELS,
                max_hops=16)
            if theme is None and by_ent is not None:
                # pre-nominal participle with agent: "The phosphorylated
                # p53 by ASPP2 ..." → theme is the participle's own NP
                # head (TestModifications sent9: event with cause, NOT a
                # PTM)
                cand = self.ent_starting_at(i + 1)
                if cand is not None and \
                        cand["mention_id"] != by_ent["mention_id"]:
                    theme = cand
            if theme is not None:
                if label == "Translocation":
                    self._emit_translocations(trig, theme,
                                              "transloc-passive")
                    return
                if site is None and not sites and theme["start"] >= 2 and \
                        self.lows[theme["start"] - 1] == "of":
                    # site-headed subject NP: "The BRCT1 domain of XRCC1
                    # is phosphorylated" → the head is the event's site
                    # (TestTemplaticSimpleEvents.scala:441)
                    s_pre = self.site_at(theme["start"] - 2)
                    if s_pre is not None:
                        site = s_pre
                causes: list[Mention | None] = [by_ent] + by_extra
                rsgn = 1
                if by_ent is None:
                    # "... is phosphorylated in response to EGF" → the
                    # response phrase carries the controller(s)
                    resp, rsgn = self._cause_responses(i + 1)
                    causes = resp or [None]
                lbl = _auto_label(label) if is_auto else label
                # a site LIST splits into one event per site ("acetylated
                # at multiple lysine residues (K164, 370, ...)" →
                # 8 acetylations; each further cause regulates each event
                # → |causes| × |sites| regulations, sent35's 16); a
                # mutant-split theme ("The K650M, K660M, and K650E-FGFR3
                # mutants are phosphorylated") emits per F8 copy
                themes_all = [e for e in self.entities
                              if e["start"] == theme["start"] and
                              e["end"] == theme["end"] and
                              e["label"] == theme["label"]] or [theme]
                evs = []
                for th in themes_all:
                    for s in (sites if len(sites) > 1 else [site]):
                        ev = self._split_event_and_reg(
                            lbl, trig, th, causes[0], "simple-passive",
                            site=s, reg_sign=rsgn)
                        if ev is not None:
                            evs.append(ev)
                rl = ("Positive_regulation" if rsgn > 0
                      else "Negative_regulation")
                for c in causes[1:]:
                    # further coordinated causes regulate the SAME events
                    # ("in response to either EGF or NRG" → 2 regs, 1 event)
                    for ev in evs:
                        self.events.append(self._reg(
                            rl, trig, c, ev, "simple-passive-split"))
            return
        # simple-past active: "MEK5D phosphorylated a kinase dead mutant
        # of ERK5" — subject entity ends DIRECTLY before the verb, object
        # NP right, no aux/agent (TestTemplaticSimpleEvents.scala:584-605);
        # anything between subject and trigger (a DT, a preposition as in
        # "to hydroxylated RAS-GTP") means participle premodifier instead
        if i > 0 and self.ent_ending_at(i - 1) is not None and \
                self.conj_ents_right(i + 1):
            self._active_verbal(label, trig, is_auto)
            return
        # bare participle postmodifier: "the levels of MCL-1 and BIM
        # expressed in ..." → one Transcription per NP-chain entity
        if label == "Transcription":
            for t in self.conj_ents_left(i):
                if t["label"] not in R.CONTEXT_ENTITY_LABELS:
                    self._split_event_and_reg(label, trig, t, None,
                                              "transcr-participle")
            return
        # participle before entity with a following "by ENT" in the same NP
        # ("The phosphorylated ASPP2 fragment by MAPK1 ...")
        nxt_ent = self.ent_starting_at(i + 1)
        if nxt_ent is not None:
            for k in range(nxt_ent["end"], min(self.n, nxt_ent["end"] + 3)):
                if self.lows[k] == "by":
                    cands = self.conj_ents_right(k + 1)
                    if cands:
                        self._split_event_and_reg(label, trig, nxt_ent,
                                                  cands[0],
                                                  "simple-reduced-relative")
                    return

    def _nominal(self, label: str, trig: tuple[int, int],
                 is_auto: bool) -> None:
        i = trig[0]
        themes: list[Mention] = []
        cause: Mention | None = None
        causes: list[Mention] = []
        site: Mention | None = None
        fol_sign = 1
        rule = "simple-nominal"
        if label == "Amount":
            # "increased levels of p53" → IncreaseAmount / DecreaseAmount;
            # bare "the level of X" → Amount; "loss of X" → DecreaseAmount
            # (amount template, triggerLemma amount|level|quantity|loss)
            mod_sign = -1 if self.lows[i] == "loss" else 0
            if mod_sign == 0 and i > 0:
                mod_sign = _sign_of_stem(self.lows[i - 1])
            if i + 1 < self.n and self.lows[i + 1] == "of":
                cands = self.conj_ents_right(i + 2)
                if cands:
                    lbl = ("Amount" if mod_sign == 0 else
                           "IncreaseAmount" if mod_sign > 0
                           else "DecreaseAmount")
                    for t in cands:
                        ev = self._event(lbl, trig, t, "amount-nominal")
                        self.events.append(ev)
                        self.consumed_triggers.add(i)
                        if mod_sign != 0 and self.lows[i] != "loss":
                            self.consumed_triggers.add(i - 1)
            return
        if label == "Secretion" and not (
                i + 1 < self.n and self.lows[i + 1] == "of"):
            # genitive theme: 'INF-gamma secretion' — the left compound is
            # the THEME, not a cause (secretion_events.yml secretion_1)
            left = self.conj_ents_left(i)
            if left and left[-1]["label"] not in R.CONTEXT_ENTITY_LABELS:
                self.events.append(
                    self._event("Secretion", trig, left[-1],
                                "secretion-genitive"))
                self.consumed_triggers.add(i)
            return
        # "TRIGGER of ENT (by ENT)?" — compound entity directly before the
        # trigger is the cause ("Ras phosphorylation of ASPP2")
        if i + 1 < self.n and self.lows[i + 1] == "of":
            themes = self.conj_ents_right(i + 2)
            if len(themes) == 1 and \
                    themes[0]["end"] < self.n and \
                    self.lows[themes[0]["end"]] in ("targets",
                                                    "substrates",
                                                    "target",
                                                    "substrate"):
                # "phosphorylation of mTOR targets" / "degradation of
                # HuR target mRNAs": the theme is the (unnamed) targets
                # of the entity, not the entity itself (wild-PMC tier
                # r5) — emit nothing rather than a wrong theme
                themes = []
            if themes:
                k = themes[-1]["end"]
                while k < min(self.n, themes[-1]["end"] + 6):
                    if self.lows[k] == "by":
                        cands = self.conj_ents_right(k + 1)
                        if cands:
                            cause = cands[0]
                        break
                    if self.lows[k] in (".", ",", ";") or self.tags[k].startswith("V") \
                            or self.tags[k] == "AUX":
                        break
                    k += 1
                if cause is None:
                    left = self.conj_ents_left(i)
                    if left:
                        cause = left[-1]
                if cause is None and themes:
                    # "The phosphorylation of AKT1 following MEK
                    # activation / following inhibition of MEK" →
                    # right-side controller with wrapper sign
                    # (TestRegulation sent54/54c)
                    f, fs = self._controller_following(themes[-1]["end"])
                    if f is not None:
                        cause = f
                        fol_sign = fs
            rule = "simple-nominal-of"
        # "of TRIGGER on ENT" ("the effects of monoubiquitination on Ras")
        if not themes and i >= 1 and self.lows[i - 1] == "of" and \
                i + 1 < self.n and self.lows[i + 1] == "on":
            themes = self.conj_ents_right(i + 2)
            rule = "simple-nominal-of-on"
        # "TRIGGER at <sites> of/for ENT"
        # ("ubiquitination at Lys residues 104 and 147 of K-Ras")
        if not themes and i + 1 < self.n and self.lows[i + 1] in ("at", "on"):
            sites_here = self.sites_near(i, min(self.n, i + 14))
            if sites_here:
                j = max(s["end"] for s in sites_here)
                lim = min(self.n, j + 4)
                while j < lim:
                    if self.lows[j] in ("of", "for"):
                        themes = self.conj_ents_right(j + 1)
                        break
                    if self.lows[j] in (".", ";") or self.tags[j].startswith("V"):
                        break
                    j += 1
                if themes:
                    for theme in themes:
                        for s in sites_here:
                            self._split_event_and_reg(
                                label, trig, theme, None,
                                "simple-nominal-at-sites", site=s)
                    return
        # paren-modified compound: "ERK(T202/Y204) phosphorylation" → one
        # event per paren site; "ERK(K156M/H204M) phosphorylation" → the
        # mutants already split ERK into copies (F8), one event per copy
        # (TestModifications sent14-16)
        if not themes and i >= 1 and self.words[i - 1] == ")":
            open_pos = None
            for q in range(i - 2, max(-1, i - 8), -1):
                if self.words[q] == "(":
                    open_pos = q
                    break
            if open_pos is not None and open_pos >= 1:
                heads = [e for e in self.entities
                         if e["end"] == open_pos and
                         e["label"] not in ("Site",)]
                inner_sites = []
                for t in range(open_pos + 1, i - 1):
                    for off, part in enumerate(self.words[t].split("/")):
                        if _SITE_AA_RE.match(part):
                            sm = _mk(self.doc_id, self.sent_idx, "tbm",
                                     "Site", t, t + 1, self.words,
                                     "site-paren-list", extra=str(off))
                            sm["text"] = part
                            sm["canonical"] = part
                            self.entities.append(sm)
                            inner_sites.append(sm)
                if heads and inner_sites:
                    for h in heads:
                        for s in inner_sites:
                            self._split_event_and_reg(
                                label, trig, h, None,
                                "simple-nominal-paren-sites", site=s)
                    return
                if heads:
                    themes = heads
                    rule = "simple-nominal-compound"
        # compound: "ENT TRIGGER" — unless "TRIGGER site(s) in/of X"
        # pattern, where the compound entity is the cause (reg3 pattern)
        if not themes:
            nxt = i + 1
            site_head = (nxt < self.n and
                         self.lows[nxt] in ("site", "sites") and
                         nxt + 1 < self.n and self.lows[nxt + 1] in ("in", "of", "on"))
            # bare site descriptor: "a CK2 phosphorylation site." names
            # the kinase's site, not an event on CK2 (modification-site
            # exclusion, TestModifications modSiteExcludeTest1)
            if (nxt < self.n and self.lows[nxt] in ("site", "sites")
                    and not site_head):
                return
            left = self.conj_ents_left(i)
            if site_head:
                cause = left[-1] if left else None
                themes = self.conj_ents_right(nxt + 2)
                rule = "simple-nominal-sites-in"
            elif left:
                themes = left
                rule = "simple-nominal-compound"
                # site adjectives between entity and trigger ("tyrosine
                # phosphorylation")
                for j in range(left[-1]["end"], i):
                    s = self.site_at(j)
                    if s:
                        site = s
                # by-cause after the trigger ("ASPP2 phosphorylation by
                # Ras"); one coordinated process noun is transparent and
                # ALL conjoined agents control ("RAS deubiquitination and
                # degradation by ASPP2 and p53" → one reg per agent,
                # TestTemplaticSimpleDeEvents testDeubiquitinationObjNom2)
                k = i + 1
                if (k + 2 < self.n and self.lows[k] in ("and", "or") and
                        (_is_event_nominal(self.lows[k + 1]) or
                         self.lows[k + 1].endswith(
                             ("tion", "sis", "ing")))):
                    k += 2
                if k < self.n and self.lows[k] == "by":
                    cands = self.conj_ents_right(k + 1)
                    if cands:
                        causes = cands
            elif self._pronoun_at(i - 1):
                # possessive anaphor: "as is their phosphorylation" →
                # one event per resolved antecedent. A tensed verb
                # directly before the pronoun makes its subject the
                # CONTROLLER, not an antecedent ("RAF1 accelerates their
                # phosphorylation" → their = the earlier conjuncts, never
                # RAF1 itself; wild-PMC tier r5)
                excl: frozenset = frozenset()
                if i >= 2 and self.tags[i - 2].startswith("V") and \
                        not self.lows[i - 2].endswith("ing"):
                    subj = self.nearest_ent_left(i - 2)
                    if subj is not None:
                        excl = frozenset({subj["mention_id"]})
                themes = self.resolve_pronoun(i - 1, excl)
                rule = "simple-nominal-pron"
                if not themes:
                    return
        if is_auto and not themes:
            left = self.conj_ents_left(i)
            if left:
                themes = left
                cause = left[-1]
                rule = "auto-nominal"
        if is_auto and themes and cause is None:
            cause = themes[-1]
        # light-verb subject: "Cells expressing ErbB3 show tyrosine
        # phosphorylation" — theme is the entity across the light verb
        if not themes:
            j, hops, crossed = i - 1, 0, False
            while j >= 0 and hops < 8:
                if self.lows[j] in ("show", "shows", "showed", "exhibit",
                                    "exhibits", "exhibited", "display",
                                    "displayed", "undergo", "undergoes",
                                    "underwent"):
                    crossed = True
                e = self.ent_ending_at(j)
                if e is not None:
                    if crossed and e["label"] not in R.CONTEXT_ENTITY_LABELS:
                        # full subject conjunction: "K-Ras and H-Ras
                        # underwent mono-ubiquitination" → one event per
                        # conjunct (TestTemplaticSimpleEvents.scala:479)
                        themes = self.conj_ents_left(e["end"]) or [e]
                        rule = "simple-nominal-lightverb"
                    break
                j -= 1
                hops += 1
        if not themes:
            return
        reg_sign = fol_sign
        if cause is None and not causes:
            cause, reg_sign = self._cause_response(trig[1])
        if not causes:
            causes = [cause]
        sites2 = self.sites_near(trig[0], min(self.n, trig[1] + 8))
        site_list = [site] if site is not None else (sites2 or [None])
        evs = []
        for theme in themes:
            # one event per attached site ("STAT1 phosphorylation on Y123
            # and T546" → 2 events; siteSniffer A14 per-site explode)
            for s in site_list:
                ev = self._split_event_and_reg(
                    _auto_label(label) if is_auto else label, trig, theme,
                    causes[0], rule, site=s, reg_sign=reg_sign)
                if ev is not None:
                    evs.append(ev)
        rl = ("Positive_regulation" if reg_sign > 0
              else "Negative_regulation")
        for c in causes[1:]:
            # further coordinated by-agents regulate the SAME events
            for ev in evs:
                self.events.append(self._reg(rl, trig, c, ev,
                                             rule + "-split"))

    _RESPONSE_SIGNS = {"treatment": 1, "stimulation": 1, "exposure": 1,
                       "addition": 1, "inhibition": -1, "depletion": -1,
                       "knockdown": -1, "silencing": -1}

    def _cause_response(self, pos: int) -> tuple[Mention | None, int]:
        """First 'in response to' controller (single-cause callers)."""
        causes, sgn = self._cause_responses(pos)
        return (causes[0] if causes else None), sgn

    def _cause_responses(self, pos: int) -> tuple[list[Mention], int]:
        """'... in response to treatment with RAS' / 'to RAS treatment' /
        'to stimulation with either EGF or NRG' → (controllers, sign)
        (pos-reg_template in-response-to rules, TestRegulation sent48-53)."""
        k = pos
        stop = min(self.n, pos + 10)
        while k < stop:
            if self.lows[k] == "response" and k + 1 < self.n and \
                    self.lows[k + 1] == "to":
                k2 = k + 2
                sgn = self._RESPONSE_SIGNS.get(self.lows[k2]) \
                    if k2 < self.n else None
                if sgn is not None and k2 + 1 < self.n and \
                        self.lows[k2 + 1] in ("with", "of"):
                    j = k2 + 2
                    if j < self.n and self.lows[j] in ("either", "both"):
                        j += 1
                    cands = self.conj_ents_right(j)
                    if cands:
                        return cands, sgn
                cands = self.conj_ents_right(k2)
                if cands:
                    e = cands[0]
                    sgn = self._RESPONSE_SIGNS.get(
                        self.lows[e["end"]]) if e["end"] < self.n else None
                    return cands, (sgn if sgn is not None else 1)
                return [], 1
            if self.lows[k] in (".", ";"):
                break
            k += 1
        return [], 1

    # -- conversions ------------------------------------------------------
    def _first_ent_right(self, pos: int, max_hops: int = 6) -> Mention | None:
        """First entity starting within `max_hops` tokens right of pos
        (lenient NP scan: 'to the more metabolically useful glucose
        1-phosphate')."""
        j, hops = pos, 0
        while j < self.n and hops < max_hops:
            if self.lows[j] in (".", ";", ","):
                return None
            e = self.ent_starting_at(j)
            if e is not None:
                return e
            j += 1
            hops += 1
        return None

    def _emit_conversion(self, trig: tuple[int, int], theme: Mention,
                         product: Mention | None,
                         ctrl: Mention | None, rule: str) -> None:
        ev = self._event("Conversion", trig, theme, rule,
                         cause_text_extra=(product["mention_id"]
                                           if product else "") +
                         (ctrl["mention_id"] if ctrl else ""))
        if product is not None:
            ev["args"].append(_arg("product", product))
        self.events.append(ev)
        self.consumed_triggers.add(trig[0])
        if ctrl is not None:
            self.events.append(self._reg("Positive_regulation", trig,
                                         ctrl, ev, rule + "-split"))

    def find_conversions(self) -> None:
        """Conversion events (conversion_events.yml): 'conversion of X
        to/into Y (by Z)', 'Z converts X to Y', 'X is converted/epimerized
        to Y by Z', PTM-passive with product ('phosphorylated by
        galactokinase to galactose 1-phosphate')."""
        i = 0
        while i < self.n:
            lw = self.lows[i]
            if not _conv_token_gate(lw):
                # token starts no conversion branch (all three branches
                # key on conversion*/CONVERSION_STEMS/*ed) — memoized skip
                i += 1
                continue
            trig = (i, i + 1)
            if lw.startswith("conversion") and i + 1 < self.n and \
                    self.lows[i + 1] == "of":
                theme = self._first_ent_right(i + 2, 4)
                product = ctrl = None
                if theme is not None:
                    j = theme["end"]
                    while j < min(self.n, theme["end"] + 10):
                        if self.lows[j] in ("to", "into") and product is None:
                            product = self._first_ent_right(j + 1, 6)
                        if self.lows[j] == "by" and ctrl is None:
                            ctrl = self._first_ent_right(j + 1, 4)
                        j += 1
                    if ctrl is None:
                        ctrl = self.nearest_ent_left(i, max_hops=8)
                    self._emit_conversion(trig, theme, product, ctrl,
                                          "conversion-nominal")
            elif lw.startswith(R.CONVERSION_STEMS):
                if lw.endswith(("ed", "en")):
                    theme = self.nearest_ent_left(
                        i, skip=frozenset({"Site"}) |
                        R.CONTEXT_ENTITY_LABELS, max_hops=14)
                    product = ctrl = None
                    j = i + 1
                    while j < min(self.n, i + 12):
                        if self.lows[j] in ("to", "into") and product is None:
                            product = self._first_ent_right(j + 1, 6)
                        if self.lows[j] == "by" and ctrl is None:
                            ctrl = self._first_ent_right(j + 1, 4)
                        j += 1
                    if theme is not None and product is not None:
                        self._emit_conversion(trig, theme, product, ctrl,
                                              "conversion-passive")
                else:
                    ctrl = self.nearest_ent_left(i, max_hops=8)
                    theme = self._first_ent_right(i + 1, 5)
                    product = None
                    if theme is not None:
                        j = theme["end"]
                        while j < min(self.n, theme["end"] + 8):
                            if self.lows[j] in ("to", "into"):
                                product = self._first_ent_right(j + 1, 6)
                                break
                            j += 1
                        if product is not None:
                            self._emit_conversion(trig, theme, product,
                                                  ctrl, "conversion-active")
            elif lw.endswith("ed") and self.match_simple_event_trigger(i) \
                    and i + 1 < self.n and self.lows[i + 1] == "by":
                # PTM passive with product: "X is phosphorylated by Z to Y"
                ctrl = self._first_ent_right(i + 2, 4)
                product = None
                if ctrl is not None and ctrl["end"] < self.n and \
                        self.lows[ctrl["end"]] == "to":
                    product = self._first_ent_right(ctrl["end"] + 1, 6)
                if product is not None and \
                        product["label"] == "Simple_chemical":
                    theme = self.nearest_ent_left(
                        i, skip=frozenset({"Site"}) |
                        R.CONTEXT_ENTITY_LABELS, max_hops=12)
                    if theme is not None:
                        ev = self._event("Conversion", trig, theme,
                                         "conversion-ptm-passive",
                                         cause_text_extra=product["mention_id"])
                        ev["args"].append(_arg("product", product))
                        self.events.append(ev)
                        if ctrl is not None:
                            self.events.append(self._reg(
                                "Positive_regulation", trig, ctrl, ev,
                                "conversion-ptm-passive-split"))
            i += 1

    # -- bindings ---------------------------------------------------------
    def find_bindings(self) -> None:
        i = 0
        while i < self.n:
            if i in self.consumed_triggers:  # e.g. translocation 'recruit'
                i += 1
                continue
            lw = self.lows[i]
            if not _binding_token_gate(lw):
                # token starts no binding branch (every branch keys on
                # -binding/-bound/bound/binding-verb-stem/binding-noun/
                # formation) — memoized skip
                i += 1
                continue
            # hyphenated "<ENT>-binding activity of <ENT>"
            if lw.endswith("-binding"):
                prefix = lw[:-len("-binding")]
                if prefix in self.dictionary:
                    label1, canon1 = self.dictionary[prefix]
                    fake1 = _mk(self.doc_id, self.sent_idx, "tbm", label1,
                                i, i + 1, self.words, "rule-ner-hyphen")
                    fake1["canonical"] = canon1
                    fake1["text"] = self.words[i].split("-")[0]
                    self.entities.append(fake1)
                    theme2 = None
                    for j in range(i + 1, min(self.n, i + 5)):
                        if self.lows[j] == "of":
                            cands = self.conj_ents_right(j + 1)
                            if cands:
                                theme2 = cands[0]
                            break
                    if theme2 is not None:
                        self._emit_binding((i, i + 1), fake1, theme2,
                                           "binding-hyphen")
                i += 1
                continue
            # participle premodifier pair: "the fraction of GTP-bound Ras"
            # → Binding(GTP, Ras) (bind_events.yml bound-premod rules;
            # TestBindingEvents sent32)
            if lw.endswith("-bound"):
                prefix = lw[:-len("-bound")]
                theme2 = self.ent_starting_at(i + 1)
                if prefix in self.dictionary and theme2 is not None:
                    labb, canonb = self.dictionary[prefix]
                    fakeb = _mk(self.doc_id, self.sent_idx, "tbm", labb,
                                i, i + 1, self.words, "rule-ner-hyphen")
                    fakeb["canonical"] = canonb
                    fakeb["text"] = self.words[i].rsplit("-", 1)[0]
                    self.entities.append(fakeb)
                    self._emit_binding((i, i + 1), fakeb, theme2,
                                       "binding-bound-premod")
                i += 1
                continue
            # reduced relative: "Ras that is GTP bound is phosphorylated"
            # → Binding(Ras, GTP) (TestBindingEvents sent37b)
            if lw == "bound":
                e2 = self.ent_ending_at(i - 1)
                if e2 is not None and e2["start"] >= 2 and \
                        self.lows[e2["start"] - 1] in ("is", "was") and \
                        self.lows[e2["start"] - 2] in ("that", "which"):
                    e1 = self.ent_ending_at(e2["start"] - 3)
                    if e1 is not None:
                        self._emit_binding((i, i + 1), e1, e2,
                                           "binding-that-is-bound")
                        i += 1
                        continue
            is_verb = _is_binding_verb(lw) \
                and self.tags[i].startswith(("V", "N")) and lw not in R.BINDING_NOUNS
            is_noun = lw in R.BINDING_NOUNS or (
                # "Complex formation between Gab1 and ... Shp2"
                # (bind_events.yml formation rules; TestBindingEvents
                # sent40/41)
                lw == "formation" and i > 0 and
                self.lows[i - 1] == "complex")
            # passive: "ASPP1 and ASPP2 are bound by RAS-GTP"
            # ("bound" participle + following "by CAUSE-as-theme")
            if is_verb and lw.endswith(("ed", "en", "und")):
                by_ent = None
                k = i + 1
                while k < min(self.n, i + 6) and self.lows[k] in (
                        "by", "directly", "more", "subsequently") or (
                        k < min(self.n, i + 6) and self.lows[k].endswith("ly")):
                    if self.lows[k] == "by":
                        cands = self.conj_ents_right(k + 1)
                        if cands:
                            by_ent = cands[0]
                        break
                    k += 1
                if by_ent is not None:
                    theme1s = self.conj_ents_left(i)
                    if not theme1s:
                        t = self.nearest_ent_left(i, max_hops=12)
                        theme1s = [t] if t is not None else []
                    for t1 in theme1s:
                        self._emit_binding((i, i + 1), t1, by_ent,
                                           "binding-passive")
                    if theme1s:
                        i += 1
                        continue
            if is_verb and (self.tags[i].startswith("V") or lw == "bound"):
                if (i - 1) in self.generic_blocked or \
                        (i - 2) in self.generic_blocked:
                    i += 1
                    continue
                # ability light-verb chain is transparent for the subject
                # series: "Smad3LC and Smad3C were able to bind APC10" /
                # "... exhibited the ability to bind" (bind_events.yml
                # xcomp subject inheritance; TestBindingEvents sent38/39)
                subj_from = i
                if i >= 3 and self.lows[i - 1] == "to":
                    k, seen_ability = i - 1, False
                    chain = {"to", "able", "unable", "ability", "capacity",
                             "capable", "the", "exhibited", "exhibit",
                             "exhibits", "showed", "had", "has", "have",
                             "were", "was", "are", "is", "of"}
                    while k >= 0 and self.lows[k] in chain:
                        if self.lows[k] in ("able", "unable", "ability",
                                            "capacity", "capable"):
                            seen_ability = True
                        k -= 1
                    if seen_ability:
                        subj_from = k + 1
                subjs = self.conj_ents_left(subj_from, across_clause=True)
                if not subjs:
                    s = self.nearest_ent_left(i)
                    subjs = [s] if s is not None else []
                if not subjs:
                    # pronoun subject ("It binds Mek", "It then binds X"):
                    # adverbs are transparent (DarpaLinks pronominalMatch)
                    k = i - 1
                    while k > 0 and (self.lows[k].endswith("ly") or
                                     self.lows[k] in ("then", "also",
                                                      "subsequently")):
                        k -= 1
                    subjs = self.resolve_pronoun(k)
                    if not subjs and self.emit_generic and \
                            (self._pronoun_at(k) or
                             self._np_anaphor_head(k) is not None):
                        subjs = [self._mint_generic_entity(k)]
                # possessed-domain subject: 'the RBD of PI3KC2β binds
                # Ras' → the domain (Family) joins its protein in ONE
                # 3-arg binding (TestBindingEvents sent17)
                extra_sub: list[Mention] = []
                if len(subjs) == 1 and subjs[0]["start"] >= 2 and \
                        self.lows[subjs[0]["start"] - 1] == "of":
                    dom = self.ent_ending_at(subjs[0]["start"] - 2)
                    if dom is not None and dom["label"] == "Family":
                        extra_sub = [dom]
                j = i + 1
                while j < self.n and (self.lows[j] in ("to", "with",
                                                       "directly", "more")
                                      or self.lows[j].endswith("ly")
                                      # hyphenated premodifier that is
                                      # not itself an entity
                                      # ('nucleotide-free Ras')
                                      or ("-" in self.words[j] and
                                          self.ent_starting_at(j)
                                          is None)):
                    j += 1
                objs = self.conj_ents_right(j)
                # "RB1 binds the BCL2 promoter" — a promoter-headed object
                # NP is a DNA region, not a Binding theme
                # (TestBindingEvents sent47/48 expect no bindings)
                objs = [o for o in objs
                        if not (o["end"] < self.n and self.lows[o["end"]]
                                in ("promoter", "promoters"))]
                if not objs and subjs and self._pronoun_at(j):
                    # pronoun object: "BEF binds it" → resolve to the
                    # nearest non-subject antecedent (TestCoreference
                    # sent9; DarpaLinks pronominalMatch object case)
                    excl = frozenset(s["mention_id"] for s in subjs)
                    objs = self.resolve_pronoun(j, excl)[:1]
                if not subjs and objs and lw == "bound":
                    # fronted participle: "Once bound to RAD51, the DNA-PK
                    # holoenzyme facilitates ..." → subject follows the
                    # comma (binding_oncebound, TestBindingEvents sent27)
                    k = objs[0]["end"]
                    if k < self.n and self.words[k] == ",":
                        objs = objs[:1]
                        k += 1
                        hops = 0
                        while k < self.n and hops < 5:
                            e2 = self.ent_starting_at(k)
                            if e2 is not None:
                                subjs = [e2]
                                break
                            if self.tags[k].startswith("V"):
                                break
                            k += 1
                            hops += 1
                for subj in subjs:
                    for o in objs:
                        self._emit_binding((i, i + 1), subj, o,
                                           "binding-verbal",
                                           extra_themes=extra_sub)
            elif is_noun:
                t1 = t2 = None
                t2s: list[Mention] = []
                # slash-pair compound next to complex/heterodimer:
                # "the complex Ku70/Ku80", "Ku70/Ku80 heterodimer"
                if lw in ("complex", "heterodimer", "dimer"):
                    hyph = self._hyphen_pair_binding(i)
                    if hyph:
                        i += 1
                        continue
                    # hyphen chain before the complex noun: "the
                    # Mek-Ras-Akt1 complex" → one n-ary binding
                    # (TestBindingEvents sent43)
                    if i > 0 and "-" in self.words[i - 1]:
                        parts = self.lows[i - 1].split("-")
                        if len(parts) >= 2 and all(
                                p in self.dictionary for p in parts):
                            raw = self.words[i - 1].split("-")
                            chain = []
                            for off, h in enumerate(parts):
                                lab, canon = self.dictionary[h]
                                fm = _mk(self.doc_id, self.sent_idx, "tbm",
                                         lab, i - 1, i, self.words,
                                         "rule-ner-hyphen-pair",
                                         extra=str(off))
                                fm["canonical"] = canon
                                fm["text"] = raw[off]
                                self.entities.append(fm)
                                chain.append(fm)
                            ev = self._emit_binding(
                                (i, i + 1), chain[0], chain[1],
                                "binding-hyphen-pair",
                                extra_themes=chain[2:])
                            self._wrap_following(ev, (i, i + 1), i + 1)
                            i += 1
                            continue
                    for jn in (i - 1, i + 1):
                        if 0 <= jn < self.n and "/" in self.words[jn]:
                            halves = self.lows[jn].split("/", 1)
                            if len(halves) == 2 and all(
                                    h in self.dictionary for h in halves):
                                pair = []
                                for off, h in enumerate(halves):
                                    lab, canon = self.dictionary[h]
                                    fm = _mk(self.doc_id, self.sent_idx,
                                             "tbm", lab, jn, jn + 1,
                                             self.words,
                                             "rule-ner-slash-pair",
                                             extra=str(off))
                                    fm["canonical"] = canon
                                    fm["text"] = self.words[jn].split(
                                        "/", 1)[off]
                                    self.entities.append(fm)
                                    pair.append(fm)
                                self._emit_binding((i, i + 1), pair[0],
                                                   pair[1],
                                                   "binding-slash-pair")
                                break
                    else:
                        # "X and Y coexist in a common complex" / "X and Y
                        # are present in a complex" → pairwise binding of
                        # the subject series (bind_events.yml complex-NP
                        # rules; TestBindingEvents sent28/29)
                        jn = i - 1
                        hops = 0
                        while jn >= 0 and hops < 8 and \
                                self.ent_ending_at(jn) is None:
                            if self.lows[jn] in (".", ";"):
                                break
                            jn -= 1
                            hops += 1
                        series = (self.conj_ents_left(
                            jn + 1, across_clause=True)
                            if jn >= 0 and self.ent_ending_at(jn)
                            else [])
                        for a in range(len(series)):
                            for b in range(a + 1, len(series)):
                                self._emit_binding(
                                    (i, i + 1), series[a], series[b],
                                    "binding-in-complex")
                    i += 1
                    continue
                # gerund: "capable of binding linear polyubiquitin",
                # "by binding to its numerous effectors such as Raf and PI3K"
                if lw == "binding" and i > 0 and self.lows[i - 1] in (
                        "of", "by") and (
                        i + 1 >= self.n or
                        self.lows[i + 1] not in ("of", "between")):
                    subj = self.nearest_ent_left(i - 1, max_hops=12)
                    j = i + 1
                    while j < self.n and self.lows[j] in ("to", "with"):
                        j += 1
                    objs = self._np_entities_right(j)
                    if subj is not None and objs:
                        for o in objs:
                            self._emit_binding((i, i + 1), subj, o,
                                               "binding-gerund")
                        i += 1
                        continue
                if i + 1 < self.n and self.lows[i + 1] in ("between", "of"):
                    cands = self.conj_ents_right(i + 2)
                    if self.lows[i + 1] == "between" and len(cands) == 1:
                        # appositive descriptor between the conjuncts:
                        # "between Gab1 and the protein tyrosine
                        # phosphatase Shp2" (TestBindingEvents sent40)
                        k = cands[0]["end"]
                        if k < self.n and self.words[k] == ",":
                            # appositive after the FIRST conjunct:
                            # "between p85, the regulatory subunit of
                            # PI-3 kinase, and ... Gab1" (sent41) — skip
                            # to the list-resuming ", and"
                            j2 = k + 1
                            while (j2 < self.n and self.words[j2] != ","
                                   and self.lows[j2] not in (".", ";")):
                                j2 += 1
                            if (j2 + 1 < self.n and self.words[j2] == ","
                                    and self.lows[j2 + 1] == "and"):
                                k = j2 + 1
                        if k < self.n and self.lows[k] == "and":
                            nxt = self._np_entities_right(k + 1, max_hops=8)
                            # the conjunct's head entity, not a site
                            # modifier ("three canonical tyrosine
                            # phosphorylation sites on Gab1" → Gab1)
                            nxt = [e for e in nxt
                                   if e["label"] != "Site"] or nxt
                            if nxt:
                                cands = [cands[0], nxt[0]]
                    if self.lows[i + 1] == "between" and len(cands) >= 2:
                        t1, t2 = cands[0], cands[1]
                    elif self.lows[i + 1] == "of" and cands:
                        t1 = cands[0]
                        if len(cands) >= 2:
                            # "binding of p53 and K-Ras"
                            t2s = cands[1:]
                        else:
                            for j in range(t1["end"],
                                           min(self.n, t1["end"] + 4)):
                                if self.lows[j] in ("to", "with", "by"):
                                    t2s = self.conj_ents_right(j + 1)
                                    break
                else:
                    # hyphenated compound: "the RAS-ASPP interaction",
                    # "the Mek-Ras-Akt1 complex" → ONE binding over all
                    # chain members (mkBindingsFromPairs n-ary complex,
                    # TestBindingEvents sent43 expects size 1 with 3 args)
                    if i > 0 and "-" in self.words[i - 1]:
                        full = self.lows[i - 1].split("-")
                        parts = (full if len(full) >= 2 and all(
                            p in self.dictionary for p in full)
                            else self.lows[i - 1].split("-", 1))
                        if len(parts) >= 2 and all(
                                p in self.dictionary for p in parts):
                            raw = (self.words[i - 1].split("-")
                                   if len(parts) > 2
                                   else self.words[i - 1].split("-", 1))
                            chain = []
                            for off, h in enumerate(parts):
                                lab, canon = self.dictionary[h]
                                fm = _mk(self.doc_id, self.sent_idx, "tbm",
                                         lab, i - 1, i, self.words,
                                         "rule-ner-hyphen-pair",
                                         extra=str(off))
                                fm["canonical"] = canon
                                fm["text"] = raw[off]
                                self.entities.append(fm)
                                chain.append(fm)
                            ev = self._emit_binding(
                                (i, i + 1), chain[0], chain[1],
                                "binding-hyphen-pair",
                                extra_themes=chain[2:])
                            self._wrap_following(ev, (i, i + 1), i + 1)
                            i += 1
                            continue
                    left = self.conj_ents_left(i)
                    if not left and self._pronoun_at(i - 1):
                        resolved = self.resolve_pronoun(i - 1)
                        if len(resolved) >= 2:
                            # "as is their binding" → one binding over the
                            # resolved antecedent set
                            for a in range(len(resolved)):
                                for b in range(a + 1, len(resolved)):
                                    self._emit_binding(
                                        (i, i + 1), resolved[a],
                                        resolved[b], "binding-pron-plural")
                            i += 1
                            continue
                        if resolved:
                            left = resolved
                    if left:
                        t1 = left[-1]
                        for j in range(i + 1, min(self.n, i + 4)):
                            if self.lows[j] in ("to", "with", "by"):
                                t2s = self.conj_ents_right(j + 1)
                                if not t2s:
                                    k2 = j + 1
                                    while k2 < self.n and \
                                            self.tags[k2] == "DT":
                                        k2 += 1
                                    t2s = self.resolve_pronoun(
                                        k2, frozenset({t1["mention_id"]}))
                                break
                if t1 is not None and t2 is None and t2s:
                    for t2x in t2s:
                        self._emit_binding((i, i + 1), t1, t2x,
                                           "binding-nominal")
                elif t1 is not None and t2 is not None:
                    self._emit_binding((i, i + 1), t1, t2, "binding-nominal")
            i += 1

    def _hyphen_pair_binding(self, i: int) -> bool:
        """'heterodimer Ku70-DNA ligase IV' (TestBindingEvents sent22): a
        complex noun followed by a hyphen pair whose TAIL may be a
        multi-word dictionary entry — the right half of the hyphen token
        plus following tokens longest-match against the dictionary."""
        jn = i + 1
        if jn >= self.n or "-" not in self.words[jn]:
            return False
        left, right0 = self.lows[jn].split("-", 1)
        if left not in self.dictionary:
            return False
        # longest match for the tail: right half alone, or right half +
        # up to 3 following tokens ("dna ligase iv")
        tail_end, tail_key = 0, None
        for k in range(min(3, self.n - jn - 1), -1, -1):
            key = " ".join([right0] + self.lows[jn + 1:jn + 1 + k])
            if key in self.dictionary:
                tail_end, tail_key = k, key
                break
        if tail_key is None:
            return False
        lab1, canon1 = self.dictionary[left]
        fm1 = _mk(self.doc_id, self.sent_idx, "tbm", lab1, jn, jn + 1,
                  self.words, "rule-ner-hyphen-pair", extra="0")
        fm1["canonical"] = canon1
        fm1["text"] = self.words[jn].split("-", 1)[0]
        lab2, canon2 = self.dictionary[tail_key]
        fm2 = _mk(self.doc_id, self.sent_idx, "tbm", lab2, jn,
                  jn + 1 + tail_end, self.words, "rule-ner-hyphen-pair",
                  extra="1")
        fm2["canonical"] = canon2
        fm2["text"] = " ".join(
            [self.words[jn].split("-", 1)[1]] +
            self.words[jn + 1:jn + 1 + tail_end])
        self.entities.extend([fm1, fm2])
        self._emit_binding((i, i + 1), fm1, fm2, "binding-hyphen-pair")
        return True

    def _emit_binding(self, trig: tuple[int, int], t1: Mention, t2: Mention,
                      rule: str,
                      extra_themes: list[Mention] | None = None
                      ) -> Mention | None:
        """Binding with the same-grounding / overlap / ubiquitin guards
        (mkBindingsFromPairs, DarpaActions.scala:250-289). extra_themes
        extends the pair to an n-ary complex ("the Mek-Ras-Akt1 complex")."""
        if t1["canonical"] == t2["canonical"]:
            return None
        if "ubiquitin" in (t1["canonical"], t2["canonical"]):
            return None
        if t1["label"] in R.CONTEXT_ENTITY_LABELS or \
                t2["label"] in R.CONTEXT_ENTITY_LABELS:
            return None  # "a mouse binds GTP" → not a biochemical binding
        pair_rules = ("rule-ner-hyphen-pair", "rule-ner-slash-pair")
        same_token_pair = (t1["found_by"] in pair_rules and
                           t2["found_by"] in pair_rules)
        if not same_token_pair and not (t1["end"] <= t2["start"] or
                                        t2["end"] <= t1["start"]):
            return None
        themes = [t1, t2] + [t for t in (extra_themes or [])
                             if t["label"] not in R.CONTEXT_ENTITY_LABELS]
        args = [_arg("theme", t) for t in themes]
        ev = _mk(self.doc_id, self.sent_idx, "event", "Binding", trig[0],
                 trig[1], self.words, rule, trigger=trig, args=args,
                 is_direct=True,
                 extra="".join(t["mention_id"] for t in themes))
        self.events.append(ev)
        self.consumed_triggers.add(trig[0])
        return ev

    def _wrap_following(self, ev: Mention | None, trig: tuple[int, int],
                        pos: int) -> None:
        """Right-side controller wrapper over an emitted event:
        'p53–ASPP2 complex ... following RAS activation' → the entity in
        the following/upon/after phrase regulates the event with the
        wrapper's sign (TestRegulationEvents sent54d)."""
        if ev is None:
            return
        f, fs = self._controller_following(pos)
        if f is not None:
            rl = ("Positive_regulation" if fs > 0
                  else "Negative_regulation")
            self.events.append(self._reg(rl, trig, f, ev,
                                         "binding-following"))

    # -- regulations / activations ----------------------------------------
    def _controlled_arg(self, pos: int,
                        exclude: frozenset = frozenset()
                        ) -> tuple[Mention | None, int, str]:
        """What is being controlled starting near token pos: an event whose
        trigger is at/after pos (within the NP), an activation wrapper
        ("activation of ENT" → the entity with sign), or an entity.
        Returns (mention, sign_multiplier, kind)."""
        j = pos
        hops = 0
        while j < self.n and hops < 6:
            if self.lows[j].endswith(("-mediated", "-induced", "-driven",
                                      "-dependent", "-stimulated")):
                # "RAS1 activates [AKT-induced apoptosis]": the hyphen
                # compound + direct entity is an EMBEDDED activation — the
                # controlled is the inner event (mkRegulation nesting,
                # DarpaActions.scala:166-205; TestRegulationEvents sent56).
                # With a wrapper+of following instead ("MUC1-C-mediated
                # activation of IKKbeta") the token stays a transparent
                # premodifier (TestPolarity sen42).
                pre, _, hstem = self.lows[j].rpartition("-")
                hsign = _sign_of_stem(hstem[:-2] if hstem.endswith("ed")
                                      else hstem)
                nxt_ws = (_wrapper_sign(self.lows[j + 1])
                          if j + 1 < self.n else 0)
                inner_ent = self.ent_starting_at(j + 1)
                if hsign != 0 and pre in self.dictionary and \
                        inner_ent is not None and nxt_ws == 0:
                    lab, canon = self.dictionary[pre]
                    ctrl_in = _mk(self.doc_id, self.sent_idx, "tbm", lab,
                                  j, j + 1, self.words, "rule-ner-hyphen")
                    ctrl_in["canonical"] = canon
                    ctrl_in["text"] = self.words[j].rpartition("-")[0]
                    self.entities.append(ctrl_in)
                    n_before = len(self.events)
                    self._emit_reg_or_act((j, j + 1), ctrl_in, 1,
                                          inner_ent, hsign, "entity",
                                          "act-embedded-hyphen")
                    if len(self.events) > n_before:
                        return self.events[-1], 1, "event"
                j += 1
                hops += 1
                continue
            if self.tags[j] in ("DT", "CD") or self.lows[j] in (
                    "basal", "putative", "conserved", "dose", "levels",
                    "kinase", "catalytic", "enzymatic", "gtpase", "in"):
                j += 1
                hops += 1
                continue
            # neutral wrapper: "the kinase activity of DNA-PK" → DNA-PK
            if self.lows[j] in ("activity", "function", "signaling",
                                "signalling") and j + 1 < self.n and \
                    self.lows[j + 1] == "of":
                cands = self.conj_ents_right(j + 2)
                if cands:
                    return cands[0], 1, "entity"
            # event controlled: an already-found simple event whose trigger
            # token sits here or whose theme NP starts here; when the
            # nominal carried its own cause ("the phosphorylation of AFT
            # by BEF"), the controlled is the REGULATION built from it —
            # regulation nesting ("Akt inhibits the phosphorylation of AFT
            # by BEF" → Neg_reg(Akt, Pos_reg(BEF, Phospho(AFT))),
            # events_master.yml:410-433, TestRegulationEvents sent46)
            for ev in self.events:
                if ev["kind"] == "event" and ev["label"] not in (
                        "Positive_regulation", "Negative_regulation") and \
                        ev["trigger_start"] is not None and \
                        j <= ev["trigger_start"] <= j + 8:
                    for reg in self.events:
                        if reg["label"] in ("Positive_regulation",
                                            "Negative_regulation") and \
                                reg["trigger_start"] == \
                                ev["trigger_start"]:
                            return reg, 1, "event"
                    return ev, 1, "event"
            lw = self.lows[j]
            ws = _wrapper_sign(lw)
            if ws != 0 and j + 1 < self.n and self.lows[j + 1] == "of":
                cands = self.conj_ents_right(j + 2)
                if cands:
                    return cands[0], ws, "entity"
            # demonstrative event anaphor as the CONTROLLED: 'ASPP1
            # promotes this phosphorylation.' — resolve to the prior
            # in-sentence simple event (its regulation wrapper if one
            # shares the trigger), else, in emit_generic mode, a
            # Generic_event placeholder for the doc-level simpleEventMatch
            # sieve (DarpaLinks.scala:364-420)
            anah = self.match_simple_event_trigger(j)
            if anah is not None and anah[1] == "noun" and j > 0 and \
                    self.lows[j - 1] in ("this", "that", "these",
                                         "those") and \
                    (j + 1 >= self.n or self.lows[j + 1] != "of"):
                best = None
                for ev in self.events:
                    if ev["kind"] == "event" and ev["label"] == anah[0] \
                            and ev["trigger_start"] is not None and \
                            ev["trigger_start"] < j:
                        if best is None or \
                                ev["trigger_start"] > best["trigger_start"]:
                            best = ev
                if best is not None:
                    for reg in self.events:
                        if reg["label"] in ("Positive_regulation",
                                            "Negative_regulation") and \
                                reg["trigger_start"] == \
                                best["trigger_start"]:
                            return reg, 1, "event"
                    return best, 1, "event"
                if self.emit_generic:
                    g = _mk(self.doc_id, self.sent_idx, "event",
                            "Generic_event", j - 1, j + 1, self.words,
                            "generic-event-anaphor", trigger=(j, j + 1))
                    g["labels"] = ["Generic_event", anah[0]]
                    self.events.append(g)
                    return g, 1, "event"
                return None, 1, "none"
            e = self.ent_starting_at(j)
            if e:
                # embedded participle activation as the controlled:
                # "enhances [EGF induced activation of PI-3]" → synthesize
                # the inner Positive_activation now and hand it to the
                # outer trigger as an event (early-pos-reg priority
                # scheduling, events_master.yml:412-510; reference
                # TestCoreference sent55 expects posreg(controlled=posact))
                p = e["end"]
                if p + 1 < self.n and self.tags[p].startswith(("V", "J")) \
                        and self.lows[p].endswith(("ed", "en")) and \
                        _sign_of_stem(self.lows[p]) != 0 and \
                        p not in self.consumed_triggers:
                    q = p + 1
                    ws = _wrapper_sign(self.lows[q])
                    if ws != 0 and q + 1 < self.n and \
                            self.lows[q + 1] == "of":
                        inner = self.conj_ents_right(q + 2)
                        if inner:
                            n_before = len(self.events)
                            self._emit_reg_or_act(
                                (p, p + 1), e, 1, inner[0],
                                _sign_of_stem(self.lows[p]) * ws,
                                "entity", "act-embedded")
                            self.consumed_triggers.add(p)
                            if len(self.events) > n_before:
                                return self.events[-1], 1, "event"
                    elif ws == 0:
                        # direct embedded activation: "restore [retinoic
                        # acid induced apoptosis]" — inner activation,
                        # outer trigger regulates it (TestRegulationEvents
                        # sent57 expects exactly ONE activation)
                        inner_ent = self.ent_starting_at(q)
                        if inner_ent is not None:
                            n_before = len(self.events)
                            self._emit_reg_or_act(
                                (p, p + 1), e, 1, inner_ent,
                                _sign_of_stem(self.lows[p]), "entity",
                                "act-embedded-direct")
                            self.consumed_triggers.add(p)
                            if len(self.events) > n_before:
                                return self.events[-1], 1, "event"
                if e["end"] < self.n:
                    pf = self.lows[e["end"]]
                    if pf in ("sensitivity", "resistance", "sensitization",
                              "insensitivity"):
                        # attribute NP head: "increases docetaxel
                        # sensitivity" is not a control of the chemical
                        # (TestActivationEvents sent44/45 expect none)
                        return None, 1, "none"
                    ws2 = _wrapper_sign(pf)
                    if ws2 != 0 and not (
                            e["end"] + 1 < self.n and
                            self.lows[e["end"] + 1] == "of"):
                        # controlled-side genitive wrapper: "ATP reduced
                        # [GSH depletion]" → controlled GSH with the
                        # wrapper's sign folded in (neg × neg = pos;
                        # TestRegulationEvents sent60)
                        return e, ws2, "entity"
                return e, 1, "entity"
            if self._pronoun_at(j):
                # "ASPP2 activates it" → resolve, barring the controller
                resolved = self.resolve_pronoun(j, exclude)
                if resolved:
                    return resolved[0], 1, "entity"
            return None, 1, "none"
        return None, 1, "none"

    _KD_GERUNDS = frozenset({"silencing", "depleting", "inhibiting",
                             "suppressing", "ablating", "blocking",
                             "downregulating", "knocking"})
    _KD_POSTFIX = frozenset({"knockdown", "knock-down", "silencing",
                             "depletion", "ablation", "deletion",
                             "knockout", "knock-out"})
    # adjectives heading an absence-PP over the controller entity
    # ("deficient in PTEN", "devoid of X") — wild-PMC tier, r5
    _ABSENT_PRE = frozenset({"deficient", "depleted", "devoid"})
    # nouns heading a cell NP whose premodifying entity is a context
    # carrier, never a subject/controller — wild-PMC tier, r5
    _CELL_NP_NOUNS = frozenset({"cells", "cell", "mefs", "fibroblasts"})

    def _cell_np_after(self, e: Mention) -> bool:
        """True iff the entity directly heads a cell NP — optionally
        across a genotype marker ('Gab1 -/- MEFs', 'PTEN +/- cells')."""
        k = e["end"]
        while k < self.n and self.lows[k] in ("-", "/", "+"):
            k += 1
        return k < self.n and self.lows[k] in self._CELL_NP_NOUNS

    def _kd_gerund_controller(self, pos: int) -> Mention | None:
        """Gerund knockdown subject: 'silencing TAK1 [in ... cells]
        suppresses ...' → controller TAK1 with sign -1 (the KD phrase IS
        the clause subject; TestPolarity sen42). The gerund's entity wins
        over closer entities only when those sit inside an 'in'-PP or are
        context-labeled (dep-parse-free approximation of the nsubj path)."""
        seen_in = False
        for j in range(pos - 1, max(-1, pos - 15), -1):
            lw = self.lows[j]
            if lw in (".", ";", "which"):
                return None
            if lw == "in":
                seen_in = True
            e = self.ent_ending_at(j)
            if e is not None and e["label"] not in R.CONTEXT_ENTITY_LABELS \
                    and not seen_in:
                # the closer entity IS the gerund's object when a KD
                # gerund directly precedes it ('silencing TAK1 suppresses')
                if e["start"] > 0 and \
                        self.lows[e["start"] - 1] in self._KD_GERUNDS:
                    return e
                return None  # a plain subject entity is closer
            if lw in self._KD_GERUNDS and j + 1 < self.n:
                ent = self.ent_starting_at(j + 1)
                return ent
        return None

    def _controller_arg(self, pos: int,
                        max_hops: int = 8) -> tuple[Mention | None, int]:
        """Controller NP ending at/before pos: entity, wrapper-noun of
        entity ("the inhibition of X" → X with sign -1), or event (converted
        to its theme entity per convertEventToEntity,
        DarpaActions.scala:581-665)."""
        kd = self._kd_gerund_controller(pos)
        if kd is not None:
            return kd, -1
        j = pos - 1
        hops = 0
        while j >= 0 and hops < max_hops:
            lw = self.lows[j]
            if lw == ",":
                # participial/relative appositive between commas is
                # transparent: "TSC2 ..., acting downstream of AKT,
                # negatively regulates ..." → the subject sits across the
                # whole ", V-ing ... ," span
                for q in range(j - 2, max(-1, j - 10), -1):
                    if self.words[q] == "," and (
                            self.lows[q + 1].endswith("ing") or
                            self.lows[q + 1] in ("which", "who")):
                        j = q
                        break
                j -= 1
                hops += 1
                continue
            if lw in ("clearly", "able", "to", "thus", "also",
                      "strongly", "significantly", "dose", "activity",
                      "mutant", "mutants", "protein", "fragment", "not",
                      "gene", "genes", "fails", "fail", "failed") or \
                    lw.endswith("ly") or \
                    self.tags[j] in ("AUX", "DT"):
                j -= 1
                hops += 1
                continue
            e = self.ent_ending_at(j)
            if e is not None and e["label"] in R.CONTEXT_ENTITY_LABELS:
                # Species/CellLine/Organ mentions never control events
                # ("in human cancers, ... switching off p53" — Wip1 is the
                # controller, not 'human'; mkRegulation bioprocess guard)
                j = e["start"] - 1
                hops += 1
                continue
            if e is not None and self._cell_np_after(e):
                # an entity heading a cell NP is a cell-line context
                # carrier, not a controller ("BT474 cells express
                # endogenous PTPN13", "Gab1 -/- MEFs that express ..." —
                # the cell line hosts the event; wild-PMC tier r5, the
                # shape-NER analog of the CONTEXT_ENTITY_LABELS guard
                # above)
                j = e["start"] - 1
                hops += 1
                continue
            if e:
                # wrapper noun left of entity NP: "inhibition of X"
                k = e["start"] - 1
                # a determiner between 'of' and the entity is transparent
                # for the wrapper ("deletion of the RBD reduced ..." —
                # wild-PMC tier r5)
                kk = k
                while kk >= 1 and self.tags[kk] == "DT":
                    kk -= 1
                if kk >= 1 and self.lows[kk] == "of":
                    ws = _wrapper_sign(self.lows[kk - 1])
                    if ws != 0:
                        return e, ws
                    # simple-event nominal as controller: "phosphorylation of X"
                    hit = self.match_simple_event_trigger(kk - 1)
                    if hit and hit[1] == "noun":
                        return e, 1
                # dominant-negative modifier flips the controller sign
                # ("Dominant negative IL-6 impaired..." → Positive_activation)
                if k >= 0 and self.lows[k] in ("negative",
                                               "dominant-negative"):
                    return e, -1
                # postfix knockdown noun: "TAK1 knockdown suppresses ..."
                # → controller TAK1 with sign -1
                if e["end"] < self.n and \
                        self.lows[e["end"]] in self._KD_POSTFIX:
                    return e, -1
                # absence-of-controller PP: "tumors deficient in PTEN
                # have activated Akt" → PTEN controls through its
                # ABSENCE, sign -1 (wild-PMC tier, r5 — the bare-NP
                # analog of the KD postfix above)
                if k >= 1 and self.lows[k] in ("in", "of") and \
                        self.lows[k - 1] in self._ABSENT_PRE:
                    return e, -1
                if k >= 0 and self.lows[k] in ("lacking", "without"):
                    return e, -1
                # negative participial pre-modifier on a bare entity
                # controller: "decreased/lost PTPN13 increases ..." →
                # sign -1 (wild-PMC tier, r5)
                if k >= 0 and _premod_neg(self.lows[k]):
                    return e, -1
                return e, 1
            # bare wrapper directly: "RAS activation" handled via compound
            hit = self.match_simple_event_trigger(j)
            if hit and hit[1] == "noun":
                left = self.conj_ents_left(j)
                if left:
                    # sign modifier on the controller nominal ("decreased
                    # PTPN13 expression enhances..." → controller sign -1,
                    # SEMANTIC_NEGATIVE path capture, P1 polarity)
                    pre = left[0]["start"] - 1
                    mod = _sign_of_stem(self.lows[pre]) if pre >= 0 else 0
                    return left[-1], (mod if mod != 0 else 1)
                # event anaphor: "this phosphorylation upregulates STAT1"
                # — resolves to the prior event ONLY with a definite or
                # demonstrative determiner (generic-mention gating,
                # Coref.scala:353-377); the event converts to its theme
                # entity (convertEventToEntity, A18)
                det = self.lows[j - 1] if j > 0 else ""
                if det in ("this", "that", "these", "those", "the"):
                    for ev in self.events:
                        if ev["kind"] == "event" and \
                                ev["label"] == hit[0] and \
                                ev["trigger_start"] is not None and \
                                ev["trigger_start"] < j:
                            theme = next(
                                (a for a in ev["args"]
                                 if a["role"] == "theme"), None)
                            if theme is not None:
                                for e in self.entities:
                                    if e["mention_id"] == \
                                            theme["mention_id"]:
                                        return e, 1
                return None, 1  # indefinite event anaphor: no controller
            j -= 1
            hops += 1
        return None, 1

    def find_regulations(self) -> None:
        i = 0
        while i < self.n:
            lw = self.lows[i]
            if i in self.consumed_triggers:
                i += 1
                continue
            if not _reg_token_gate(lw):
                # token can start NO regulation branch (every branch below
                # keys on a pure-token predicate: role/agent-noun/hyphen-
                # trigger/phrasal-switch/sign-stem/regul) — memoized skip
                i += 1
                continue
            # "X plays no/little role in the phosphorylation of Y" →
            # regulation; the no/little cue is picked up by the negation
            # handler (NegationHandler bigrams, NegationHandler.scala:10-112)
            if lw == "role" and i + 1 < self.n and self.lows[i + 1] == "in":
                play_pos = None
                for k in range(max(0, i - 3), i):
                    if self.lows[k] in ("plays", "play", "played"):
                        play_pos = k
                if play_pos is not None:
                    ctrl = self.nearest_ent_left(play_pos)
                    ctld, csign, ckind = self._controlled_arg(i + 2)
                    if ctrl is not None and ctld is not None and \
                            ckind == "event":
                        self._emit_reg_or_act((i, i + 1), ctrl, 1, ctld,
                                              csign, ckind,
                                              "plays-role-in")
                i += 1
                continue
            # agent nouns: "X is an activator of Y" / "... of the
            # ubiquitination of Y" (controlled may itself be an event)
            if lw in R.POS_AGENT_NOUNS or lw in R.NEG_AGENT_NOUNS:
                sign = 1 if lw in R.POS_AGENT_NOUNS else -1
                subj = self.nearest_ent_left(i)
                if subj is not None and i + 1 < self.n and self.lows[i + 1] == "of":
                    ctld, csign, ckind = self._controlled_arg(i + 2)
                    if ckind == "event":
                        self._emit_reg_or_act((i, i + 1), subj, 1, ctld,
                                              sign * csign, "event",
                                              "agent-noun-reg")
                    else:
                        for o in self.conj_ents_right(i + 2):
                            self._emit_reg_or_act((i, i + 1), subj, 1, o,
                                                  sign, "entity",
                                                  "agent-noun")
                else:
                    # "mTOR activator Rapamycin": controlled left,
                    # controller right (apposition-style agent compound)
                    ctld = self.ent_ending_at(i - 1, bio_only=True)
                    ctrl = self.ent_starting_at(i + 1)
                    if ctld is not None and ctrl is not None:
                        self._emit_reg_or_act((i, i + 1), ctrl, 1, ctld,
                                              sign, "entity",
                                              "agent-noun-compound")
                i += 1
                continue
            # hyphenated trigger: "KRas-inducing TFs (TWIST1, ...)" —
            # the prefix entity is the controlled, the following NP
            # entities are controllers (HyphenHandle.scala:32-71 swap)
            if "-" in lw and lw.endswith("ing"):
                pre, _, trig_part = lw.rpartition("-")
                hsign = _sign_of_stem(trig_part)
                if hsign != 0 and pre in self.dictionary:
                    lab, canon = self.dictionary[pre]
                    ctld = _mk(self.doc_id, self.sent_idx, "tbm", lab,
                               i, i + 1, self.words, "rule-ner-hyphen")
                    ctld["canonical"] = canon
                    ctld["text"] = self.words[i].rpartition("-")[0]
                    self.entities.append(ctld)
                    ctrls = self._np_entities_right(i + 1)
                    for c in ctrls:
                        self._emit_reg_or_act((i, i + 1), c, 1, ctld,
                                              hsign, "entity",
                                              "hyphen-activation")
                i += 1
                continue
            # "E2-induced SRC-3 phosphorylation" → controller=E2 over the
            # following event(s) (hyphen participle controller compound)
            if "-" in lw and lw.endswith(("ed", "en")):
                pre, _, trig_part = lw.rpartition("-")
                hsign = _sign_of_stem(trig_part)
                if hsign != 0 and pre in self.dictionary:
                    evs = [ev for ev in self.events
                           if ev["kind"] == "event" and
                           ev["trigger_start"] is not None and
                           i < ev["trigger_start"] <= i + 5 and
                           not ev["label"].endswith(("regulation",
                                                     "activation"))]
                    if evs:
                        lab, canon = self.dictionary[pre]
                        ctrl = _mk(self.doc_id, self.sent_idx, "tbm", lab,
                                   i, i + 1, self.words, "rule-ner-hyphen")
                        ctrl["canonical"] = canon
                        ctrl["text"] = self.words[i].rpartition("-")[0]
                        self.entities.append(ctrl)
                        for ev in evs:
                            self._emit_reg_or_act((i, i + 1), ctrl, 1, ev,
                                                  hsign, "event",
                                                  "hyphen-controller")
                        i += 1
                        continue
            # phrasal activation trigger: "switching off X" / "turns on X"
            # (neg-reg_template phrasal triggers)
            if lw in ("switch", "switches", "switched", "switching",
                      "turn", "turns", "turned", "turning") and \
                    i + 2 < self.n and self.lows[i + 1] in ("off", "on"):
                psign = -1 if self.lows[i + 1] == "off" else 1
                if lw.endswith("ing") and i > 0 and \
                        self.lows[i - 1] in ("by", "thereby"):
                    ctrl, wsign = self._controller_arg(i, max_hops=18)
                else:
                    ctrl, wsign = self._controller_arg(i)
                if ctrl is not None:
                    for o in self._np_entities_right(i + 2, max_hops=8):
                        self._emit_reg_or_act((i, i + 2), ctrl, wsign, o,
                                              psign, "entity",
                                              "phrasal-switch")
                i += 1
                continue
            sign = _sign_of_stem(lw)
            # nominal regulation trigger: "Inhibition of mTOR by rapamycin",
            # "resulted in up-regulation of the MKP3 gene" (pos-reg_template
            # nominal rules). Controller = by-phrase, else nearest entity
            # left — aborting at an intervening verbal trigger, which owns
            # the relation ("Ras inhibits activation of X").
            if sign != 0 and not self.tags[i].startswith("V") and \
                    not lw.endswith(("ed", "en", "ing")) and \
                    i + 1 < self.n and self.lows[i + 1] in ("of", "in"):
                ctld, csign, ckind = None, 1, "entity"
                cands = self.conj_ents_right(i + 2)
                if cands and self.lows[i + 1] == "in":
                    # an entity after 'in' inside a cell-context NP is a
                    # location, not the controlled ("BRAF inhibition in
                    # NF1 deficient cells" — TestActivationEvents sent46);
                    # amount NPs stay valid ("reduction in FoxO levels")
                    e0 = cands[0]
                    ctx = {"deficient", "depleted", "null", "expressing",
                           "positive", "negative", "cells", "cell",
                           "mice", "patients", "tumors", "mutant"}
                    if any(self.lows[k] in ctx
                           for k in range(e0["end"],
                                          min(self.n, e0["end"] + 3))):
                        cands = []
                if cands:
                    ctld = cands[0]
                else:
                    for ev in self.events:
                        if ev["kind"] == "event" and not \
                                ev["label"].endswith(("regulation",
                                                      "activation")) and \
                                ev["trigger_start"] is not None and \
                                i + 1 < ev["trigger_start"] <= i + 3:
                            ctld, ckind = ev, "event"
                            break
                if ctld is not None:
                    ctrl = None
                    end = ctld["end"] if ckind == "entity" else i + 2
                    k = end
                    while k < min(self.n, end + 5):
                        if self.lows[k] == "by":
                            cc = self.conj_ents_right(k + 1)
                            if cc:
                                ctrl = cc[0]
                            break
                        if self.tags[k].startswith("V") or \
                                self.lows[k] in (".", ";", ","):
                            break
                        k += 1
                    if ctrl is None:
                        j = i - 1
                        hops = 0
                        while j >= 0 and hops < 12:
                            if _sign_of_stem(self.lows[j]) != 0 and \
                                    self.tags[j].startswith("V"):
                                break  # verbal trigger owns this relation
                            e = self.ent_ending_at(j)
                            if e:
                                ctrl = e
                                break
                            j -= 1
                            hops += 1
                    if ctrl is not None:
                        self._emit_reg_or_act((i, i + 1), ctrl, 1, ctld,
                                              sign * csign, ckind,
                                              "reg-nominal")
                        i += 1
                        continue
            # premodifier nominal activation: "... results in subsequent
            # MEK activation" (TestActivationEvents sent42) — the entity
            # directly before the nominal trigger is the controlled. Does
            # not fire when the compound is itself a right-side controller
            # phrase ("following MEK activation", _controller_following)
            # or when a verbal sign trigger to the left owns the relation.
            if sign != 0 and not self.tags[i].startswith("V") and \
                    not lw.endswith(("ed", "en", "ing")) and \
                    (i + 1 >= self.n or self.lows[i + 1] not in
                     ("of", "in", "by")):
                ctld = self.ent_ending_at(i - 1)
                if ctld is not None and (
                        ctld["start"] == 0 or
                        self.lows[ctld["start"] - 1] not in (
                            "following", "upon", "after", "by", "with",
                            "during")):
                    ctrl = None
                    j = ctld["start"] - 1
                    hops = 0
                    while j >= 0 and hops < 12:
                        if _sign_of_stem(self.lows[j]) != 0 and \
                                self.tags[j].startswith("V"):
                            break  # verbal trigger owns this relation
                        e = self.ent_ending_at(j)
                        if e:
                            ctrl = e
                            break
                        j -= 1
                        hops += 1
                    if ctrl is not None:
                        self._emit_reg_or_act((i, i + 1), ctrl, 1, ctld,
                                              sign, "entity",
                                              "act-nominal-premod")
                        i += 1
                        continue
            verbal = self.tags[i].startswith("V") or (
                lw.endswith("ing") and i > 0 and
                self.lows[i - 1] in ("by", "thereby"))
            if sign == 0 and verbal and lw.startswith("regul") and i > 0:
                # adverb fixes the sign of neutral 'regulates'
                # ("negatively regulates mTORC1" — P1 adverb capture)
                if self.lows[i - 1] == "negatively":
                    sign = -1
                elif self.lows[i - 1] == "positively":
                    sign = 1
            if sign == 0 or not verbal:
                i += 1
                continue
            if lw.endswith(("ed", "en")) and i + 1 < self.n and \
                    self.lows[i + 1] == "by":
                # passive: "CTRLD is TRIGGERED by CTRL"
                controlled, csign, ckind = self._controlled_backward(i)
                controller, wsign = self._controller_arg_from(i + 2)
                if controller is not None and controlled is not None:
                    self._emit_reg_or_act((i, i + 1), controller, wsign,
                                          controlled, sign * csign, ckind,
                                          "reg-passive")
                i += 1
                continue
            if lw.endswith(("ed", "en")) and not self._has_aux_before(i) \
                    and (i == 0 or self.lows[i - 1] != "by"):
                # bare participle trigger ("RAS induced increased binding")
                # fires only with an ADJACENT controller entity; otherwise
                # it is a controller-NP modifier ("suggest that decreased
                # PTPN13 expression increases ...") consumed as the sign
                # flip of the real trigger (P1 SEMANTIC_NEGATIVE capture)
                k = i - 1
                if k >= 0 and self.lows[k].endswith("ly"):
                    k -= 1
                if k < 0 or self.ent_ending_at(k) is None:
                    # "with" + participle + entity is a state adjective
                    # on that entity, never a trigger controlled by the
                    # matrix subject ("mNeuNT associates with activated
                    # Src" — wild-PMC tier, r5; the reference reads the
                    # participle as an entity modification)
                    if i > 0 and self.lows[i - 1] == "with":
                        nxt = self.conj_ents_right(i + 1)
                        if nxt and nxt[0]["start"] == i + 1:
                            i += 1
                            continue
                    # no adjacent controller: a later tensed verb means
                    # this participle pre-modifies that verb's controller
                    # NP — leave the relation to the tensed trigger
                    later_tensed = any(
                        self.tags[m].startswith("V") and
                        not self.lows[m].endswith(("ed", "en", "ing"))
                        for m in range(i + 1, min(self.n, i + 10)))
                    if later_tensed:
                        i += 1
                        continue
            extra_controllers: list[Mention] = []
            if self._pronoun_at(i - 1):
                # pronoun controller: "they upregulate the phosphorylation
                # of ASPP2" → one regulation per resolved antecedent
                resolved = self.resolve_pronoun(i - 1)
                controller = resolved[0] if resolved else None
                extra_controllers = resolved[1:]
                wsign = 1
            elif lw.endswith("ing") and i > 0 and \
                    self.lows[i - 1] in ("by", "thereby"):
                # "by V-ing" gerund: the logical subject is the MAIN
                # clause's subject, not the nearest (object) NP —
                # "TSC2 ... regulates mTORC1 by inhibiting ... Rheb" →
                # controller TSC2 (dep-grammar nsubj inheritance,
                # pos-reg_template.yml gerund rules)
                controller, wsign = None, 1
                for k in range(i - 2, max(-1, i - 14), -1):
                    if self.tags[k].startswith("V") and \
                            (_sign_of_stem(self.lows[k]) != 0 or
                             self.lows[k].startswith("regul")) and \
                            not self.lows[k].endswith(("ing",)):
                        controller, wsign = self._controller_arg(k)
                        break
                if controller is None:
                    controller, wsign = self._controller_arg(
                        i, max_hops=18)
            else:
                controller, wsign = self._controller_arg(i)
                if controller is not None and i > 0 and \
                        self.lows[i - 1] == "and":
                    # conjoined VP shares the first VP's subject:
                    # "Insulin inhibits X and activates Y" → Insulin
                    for k in range(i - 2, max(-1, i - 10), -1):
                        if self.tags[k].startswith("V") and \
                                _sign_of_stem(self.lows[k]) != 0:
                            c2, w2 = self._controller_arg(k)
                            if c2 is not None:
                                controller, wsign = c2, w2
                            break
            if controller is not None and not extra_controllers:
                # conjoined controller series: "MKK4 and JNKK and MKK3 and
                # MAPKK6, which directly activate X" → one event per
                # conjunct (dep conj_and expansion, vars.yml)
                series = self.conj_ents_left(controller["end"])
                if len(series) > 1 and \
                        self.lows[max(0, series[0]["start"] - 1)] in \
                        ("of", "in"):
                    # wrapper argument list, not conjoined subjects:
                    # "the binding of ASPP1 and ASPP2 promotes ..." keeps
                    # ONE regulation (reg_s20)
                    series = []
                if len(series) > 1 and any(
                        m["mention_id"] == controller["mention_id"]
                        for m in series):
                    extra_controllers = [
                        m for m in series
                        if m["mention_id"] != controller["mention_id"]]
            if controller is not None:
                # mutation-split copies (F8) each control their own
                # regulation ("K650M, K660M, and K650E-FGFR3 mutants cause
                # ..." → one reg per mutant copy, TestRegulation sent31)
                seen_ids = {controller["mention_id"]} | {
                    m["mention_id"] for m in extra_controllers}
                extra_controllers.extend(
                    e for e in self.entities
                    if e["start"] == controller["start"] and
                    e["end"] == controller["end"] and
                    e["label"] == controller["label"] and
                    e["mention_id"] not in seen_ids)
            controlled, csign, ckind = self._controlled_arg(
                i + 1, exclude=frozenset({controller["mention_id"]})
                if controller else frozenset())
            if controller is None and controlled is not None:
                # right-side controller: "... following MEK inhibition"
                controller, wsign = self._controller_following(
                    controlled.get("end", i + 1))
            if controller is not None and controlled is not None and \
                    controller["mention_id"] != controlled.get("mention_id"):
                targets = [controlled]
                if ckind == "entity":
                    conj = self.conj_ents_right(controlled["start"])
                    if len(conj) > 1:
                        targets = conj
                else:
                    # all simple events sharing the controlled trigger
                    # ("enhances EphrinB1 and Erk1 phosphorylation" → one
                    # reg per theme of the shared nominal trigger)
                    ts = controlled["trigger_start"]
                    targets = [ev for ev in self.events
                               if ev["kind"] == "event" and
                               ev["trigger_start"] == ts and
                               not ev["label"].endswith(("regulation",
                                                         "activation"))]
                    if not targets and \
                            controlled["label"].endswith(("activation",
                                                          "regulation")):
                        # regulation over an (embedded) activation or a
                        # nested regulation event
                        targets = [controlled]
                # anaphoric controlled ("... mobilizes the X and Y
                # complexes away, accelerating their degradation"): an
                # entity that is itself one of the pronoun's antecedents
                # cannot control the regulation over it, and a
                # comma-preceded gerund's logical subject is the
                # preceding CLAUSE, never a nearby entity — both shapes
                # fabricate n-squared regulations over the antecedent set
                # (wild-PMC tier, r5)
                pron_ante = ({a["mention_id"] for t in targets
                              if t.get("found_by") == "simple-nominal-pron"
                              for a in t["args"] if a["role"] == "theme"}
                             if ckind == "event" else set())
                comma_gerund = (lw.endswith("ing") and i > 0 and
                                self.lows[i - 1] == ",")
                for t in targets:
                    skip_entity_ctrl = (
                        t.get("found_by") == "simple-nominal-pron" and
                        comma_gerund)
                    for ctrl in [controller] + extra_controllers:
                        if skip_entity_ctrl or (
                                ctrl["mention_id"] in pron_ante and
                                t.get("found_by") == "simple-nominal-pron"):
                            continue
                        self._emit_reg_or_act((i, i + 1), ctrl, wsign,
                                              t, sign * csign, ckind,
                                              "reg-active")
            i += 1

    def _np_entities_right(self, j: int, max_hops: int = 20) -> list[Mention]:
        """All entities in the NP region right of j, entering parenthesized
        lists: 'TFs (TWIST1, SNAIL1, SLUG, ZEB1, and FOXC2) in the CD45 -
        cells' — stops at a verb."""
        out = []
        hops = 0
        while j < self.n and hops < max_hops:
            if self.tags[j].startswith("V") or self.lows[j] in (".", ";"):
                break
            e = self.ent_starting_at(j)
            if e:
                out.append(e)
                j = e["end"]
            else:
                j += 1
            hops += 1
        return out

    def _controller_following(self, pos: int) -> tuple[Mention | None, int]:
        """Right-side controller: 'following/upon/after/by MEK inhibition'
        or '... the inhibition of MEK' — entity + wrapper-noun compound
        (the reg-passive nominal-controller shape)."""
        j = pos
        hops = 0
        while j < self.n and hops < 12:
            if self.lows[j] in ("following", "upon", "after"):
                k = j + 1
                while k < self.n and self.tags[k] == "DT":
                    k += 1
                e = self.ent_starting_at(k)
                if e and e["end"] < self.n:
                    ws = _wrapper_sign(self.lows[e["end"]])
                    if ws != 0:
                        return e, ws
                ws = _wrapper_sign(self.lows[k]) if k < self.n else 0
                if ws != 0 and k + 1 < self.n and self.lows[k + 1] == "of":
                    cands = self.conj_ents_right(k + 2)
                    if cands:
                        return cands[0], ws
            j += 1
            hops += 1
        return None, 1

    def _has_aux_before(self, i: int) -> bool:
        j = i - 1
        hops = 0
        while j >= 0 and hops < 3:
            if self.tags[j] == "AUX":
                return True
            if self.lows[j] in ("not", "never", "clearly"):
                j -= 1
                hops += 1
                continue
            return False
        return False

    def _controlled_backward(self, i: int) -> tuple[Mention | None, int, str]:
        """Controlled NP left of a passive trigger: prefer an event whose
        span ends before i, else an entity."""
        best = None
        for ev in self.events:
            if ev["kind"] == "event" and ev["label"] not in (
                    "Positive_regulation", "Negative_regulation") and \
                    ev["trigger_start"] is not None and ev["trigger_start"] < i:
                if best is None or ev["trigger_start"] > best["trigger_start"]:
                    best = ev
        if best is not None:
            # prefer the cause-built regulation sharing the trigger
            # ("The phosphorylation of AFT by BEF is inhibited by ..." →
            # controlled = Pos_reg(BEF, Phospho(AFT)); nesting, sent47)
            for reg in self.events:
                if reg["label"] in ("Positive_regulation",
                                    "Negative_regulation") and \
                        reg["trigger_start"] == best["trigger_start"]:
                    return reg, 1, "event"
            return best, 1, "event"
        e = self.nearest_ent_left(i)
        return e, 1, "entity"

    def _controller_arg_from(self, pos: int) -> tuple[Mention | None, int]:
        """Controller NP starting at pos (after 'by'): wrapper or entity."""
        j = pos
        hops = 0
        while j < self.n and hops < 4:
            if self.tags[j] == "DT":
                j += 1
                hops += 1
                continue
            ws = _wrapper_sign(self.lows[j])
            if ws != 0 and j + 1 < self.n and self.lows[j + 1] == "of":
                cands = self.conj_ents_right(j + 2)
                if cands:
                    return cands[0], ws
            # event-nominal controller ("... inhibited by the
            # ubiquitination of Akt") → the event converts to its output
            # entity (convertEventToEntity A18, DarpaActions.scala:581-665)
            hit = self.match_simple_event_trigger(j)
            if hit is not None and hit[1] == "noun" and \
                    j + 1 < self.n and self.lows[j + 1] == "of":
                cands = self.conj_ents_right(j + 2)
                if cands:
                    return cands[0], 1
            # entity with adjective premodifiers: "by wild-type FGFR3"
            # (conj_ents_right carries the premodifier skip set)
            cands = self.conj_ents_right(j)
            if cands:
                return cands[0], 1
            return None, 1
        return None, 1

    def _emit_reg_or_act(self, trig: tuple[int, int], controller: Mention,
                         ctrl_sign: int, controlled: Mention, sign: int,
                         ckind: str, rule: str) -> None:
        """Regulation when controlled is an event; Activation when it is an
        entity (mkRegulation/mkActivation, DarpaActions.scala:197-238).
        Final polarity = product of trigger sign and wrapper signs
        (LinguisticPolarityEngine.scala:60-75 flip semantics)."""
        total = sign * ctrl_sign
        if total == 0:
            return
        if ckind == "event":
            if controller["label"] == "BioProcess":
                # bioprocess-valid guard (mkRegulation, A10): "Apoptosis
                # promotes the phosphorylation of p53" → no regulation
                return
            label = ("Positive_regulation" if total > 0
                     else "Negative_regulation")
        else:
            label = ("Positive_activation" if total > 0
                     else "Negative_activation")
            if controller["mention_id"] == controlled["mention_id"]:
                return
            # distinct-grounding guard (mkActivation/mkRegulation,
            # DarpaActions.scala:197-238): "MEK activates MEK" → nothing
            if controller.get("canonical") == controlled.get("canonical"):
                return
            # a BioProcess controller is only valid over a BioProcess
            # controlled ("Cell aging increases apoptosis" — yes;
            # "Apoptosis activated p53" — no; bioprocessValid,
            # DarpaActions.scala:448-453)
            if controller["label"] == "BioProcess" and \
                    controlled["label"] != "BioProcess":
                return
            # a context-class controlled (Organ/Species/CellLine/...) is
            # a location, never an activation target ("... decreased in
            # the skin of mice" must not emit activation-of-skin;
            # wild-PMC tier r5 — the controlled-side analog of the
            # CONTEXT_ENTITY_LABELS controller guard)
            if controlled["label"] in R.CONTEXT_ENTITY_LABELS:
                return
        reg = self._reg(label, trig, controller, controlled, rule)
        self.events.append(reg)
        self.consumed_triggers.add(trig[0])

    # -- negation / hypothesis / cleanup -----------------------------------
    def detect_negations(self) -> None:
        """Surface negation cues scoped to the nearest following trigger
        (NegationHandler.scala:10-112) with even-parity cancellation
        ("doesn't fail to phosphorylate" → not negated;
        NegationHandler.scala:115-137 F4)."""
        neg_positions = []
        for i, lw in enumerate(self.lows):
            if lw in ("not", "no", "cannot", "never", "unable",
                      "little") or "n't" in lw:
                neg_positions.append(i)
            elif lw in ("fails", "fail", "failed", "failure") and \
                    i + 1 < self.n and (
                    self.lows[i + 1] in ("to", "not") or
                    self.tags[i + 1].startswith("V")):
                neg_positions.append(i)
            elif lw in ("absence", "lack") and i + 1 < self.n and \
                    self.lows[i + 1] == "of":
                # downward-entailing PP head: an event inside "in the
                # absence of / lack of ..." is asserted NOT to occur
                # ("ERK activation in the absence of any increase in
                # phosphorylation of EGFR" — wild-PMC tier, r5; beyond
                # the reference's NegationHandler cue set, inert on the
                # fixture corpus). The same nearest-following-trigger
                # window below scopes it to the PP-local event.
                neg_positions.append(i)
        if not neg_positions:
            return
        for ev in self.events:
            ts = ev["trigger_start"]
            if ts is None:
                continue
            in_scope = {p for p in neg_positions
                        if p < ts and ts - p <= 4 and not any(
                            q in self.consumed_triggers
                            for q in range(p + 1, ts))}
            if len(in_scope) % 2 == 1:  # parity rule F4
                self._attach_negation(ev, self.words[min(in_scope)])

    def _attach_negation(self, ev: Mention, cue: str) -> None:
        """Negation lands on the outermost event over this trigger: if a
        regulation wraps ev (same trigger via -split), move it there
        (splitSimpleEvents negation transfer, DarpaActions.scala:334-368)."""
        target = ev
        for other in self.events:
            if other is ev:
                continue
            if other["label"].endswith("regulation") and any(
                    a["role"] == "controlled" and
                    a["mention_id"] == ev["mention_id"]
                    for a in other["args"]):
                target = other
                break
        if ev["label"].endswith(("regulation", "activation")):
            target = ev
        if not any(m["kind"] == "Negation" and m["evidence_text"] == cue
                   for m in target["mods"]):
            target["mods"].append(_mod("Negation", evidence=cue,
                                       negated=True))

    def detect_hypotheses(self) -> None:
        if not self.events:   # mods attach to events only — skip the scan
            return
        cue_pos = [i for i, lw in enumerate(self.lows)
                   if lw in R.HYPOTHESIS_CUES]
        if not cue_pos:
            return
        # clause scope: a cue scopes triggers after it (reference uses
        # dep-degree-2 neighborhood; surface approximation)
        for ev in self.events:
            ts = ev["trigger_start"]
            if ts is None:
                continue
            if any(p < ts for p in cue_pos):
                ev["mods"].append(_mod("Hypothesis",
                                       evidence=self.words[min(
                                           p for p in cue_pos if p < ts)]))

    def detect_regulation_types(self) -> None:
        """KD/KO/DN/OE/CHEM keyword counting (RegulationHandler.scala:19-172):
        max count wins, tie-break by distance to trigger."""
        if not any(ev["label"].endswith(("regulation", "activation"))
                   for ev in self.events):
            return   # mods attach to reg/act events only — skip the scan
        text = " ".join(self.lows)
        counts = {k: sum(text.count(kw) for kw in kws)
                  for k, kws in R.REGTYPE_KEYWORDS.items()}
        best = max(counts.values()) if counts else 0
        if best == 0:
            return
        winners = [k for k, v in counts.items() if v == best]
        kind = sorted(winners)[0]
        for ev in self.events:
            if ev["label"].endswith(("regulation", "activation")):
                ev["mods"].append(_mod(kind))

    def keep_most_complete(self) -> None:
        """Sentence-local completeness pruning (pruneMentions /
        keepMostCompleteMentions, MentionFilter.scala:371-430): within a
        (label, trigger, theme-set) group keep only the max-arg events
        (site-ful beats site-less from the same trigger); collapse exact
        duplicates (same label + arg ids); drop regulations whose
        controlled got pruned."""
        # max-arg pruning per (label, trigger, themes)
        groups: dict[tuple, int] = {}
        for ev in self.events:
            if ev["label"].endswith(("regulation", "activation")):
                continue
            themes = tuple(sorted(a["mention_id"] for a in ev["args"]
                                  if a["role"] == "theme"))
            gkey = (ev["label"], ev["trigger_start"], themes)
            groups[gkey] = max(groups.get(gkey, 0), len(ev["args"]))
        seen: dict[tuple, Mention] = {}
        for ev in self.events:
            if ev["label"].endswith(("regulation", "activation")):
                key = (ev["label"],
                       tuple(sorted(a["mention_id"] for a in ev["args"])))
            else:
                themes = tuple(sorted(a["mention_id"] for a in ev["args"]
                                      if a["role"] == "theme"))
                gkey = (ev["label"], ev["trigger_start"], themes)
                if len(ev["args"]) < groups[gkey]:
                    continue  # a more complete event exists (pruneMentions)
                key = (ev["label"],
                       tuple(sorted((a["role"], a["mention_id"])
                                    for a in ev["args"])))
            if key not in seen:
                seen[key] = ev
        kept = set(id(m) for m in seen.values())
        # an Activation that duplicates a Regulation is dropped: same
        # controller, same sign, and the regulation's controlled EVENT has
        # the activation's controlled entity as a theme ("Up-regulation of
        # MKP3 expression by Ras" keeps only Pos_reg(Ras → Transcription
        # (MKP3)); mkActivation regulation-overlap check,
        # DarpaActions.scala:207-238 / TestRegulationEvents sent59)
        ev_by_id = {m["mention_id"]: m for m in self.events}
        reg_keys = set()
        for m in self.events:
            if id(m) not in kept or not m["label"].endswith("regulation"):
                continue
            ctrl = next((a for a in m["args"]
                         if a["role"] == "controller"), None)
            ctld = next((a for a in m["args"]
                         if a["role"] == "controlled"), None)
            if ctrl is None or ctld is None:
                continue
            inner = ev_by_id.get(ctld["mention_id"])
            if inner is None or inner.get("kind") != "event":
                continue
            sign = 1 if m["label"].startswith("Positive") else -1
            for a in inner.get("args", []):
                if a["role"] == "theme":
                    reg_keys.add((ctrl["text"], sign, a["text"]))
        if reg_keys:
            for m in self.events:
                if id(m) not in kept or \
                        not m["label"].endswith("activation"):
                    continue
                ctrl = next((a for a in m["args"]
                             if a["role"] == "controller"), None)
                ctld = next((a for a in m["args"]
                             if a["role"] == "controlled"), None)
                if ctrl is None or ctld is None:
                    continue
                sign = 1 if m["label"].startswith("Positive") else -1
                if (ctrl["text"], sign, ctld["text"]) in reg_keys:
                    kept.discard(id(m))
        surviving_ids = {m["mention_id"] for m in self.events
                         if id(m) in kept}
        out = []
        for ev in self.events:
            if id(ev) not in kept:
                continue
            if ev["label"].endswith("regulation"):
                ok = all(a["mention_id"] in surviving_ids or
                         a["role"] == "controller" for a in ev["args"]
                         if a["role"] == "controlled")
                if not ok:
                    continue
            out.append(ev)
        self.events = out

    _ALIAS_MARKERS = (
        ("hereafter", "referred", "to", "as"),
        ("sometimes", "called"), ("also", "called"),
        ("previously", "known", "as"), ("also", "known", "as"),
        ("better", "known", "as"),
        ("alias",), ("a.k.a",), ("aka",), ("a.k.a.",),
    )

    _NAMEISH_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9-]{1,19}$")

    def _nameish_at(self, j: int, allow_lower: bool = False) -> bool:
        """Unknown capitalized/alphanumeric token that looks like a
        protein name ('BEF4H', 'AktTR', '23peM') — alias targets may be
        outside every KB (coref/Alias.scala InstanceFinder semantics).
        allow_lower admits lowercase gene names ('eyeless') when a
        licensing construction (homolog apposition) vouches for them."""
        if not (0 <= j < self.n):
            return False
        w = self.words[j]
        return (self._NAMEISH_RE.match(w) is not None and
                any(c.isalpha() for c in w) and
                (allow_lower or not w.islower()) and
                self.ent_starting_at(j, bio_only=False) is None and
                self.site_at(j) is None and
                not _SITE_AA_RE.match(w) and
                _match_trigger_cached(w.lower()) is None)

    def _alias_marker_end(self, j: int) -> int | None:
        """If an alias-marker phrase starts at token j, return the index
        after it."""
        for marker in self._ALIAS_MARKERS:
            if j + len(marker) <= self.n and all(
                    self.lows[j + k].rstrip(".") == m.rstrip(".")
                    for k, m in enumerate(marker)):
                end = j + len(marker)
                # markers may be followed by a stray '.' or ':' token
                # ("a.k.a .", "aka: sirolimus" — TestCoreference sent21)
                if end < self.n and self.words[end] in (".", ":"):
                    end += 1
                return end
        return None

    def _mk_alias_target(self, j: int, label: str) -> Mention:
        m = _mk(self.doc_id, self.sent_idx, "tbm", label, j, j + 1,
                self.words, "alias-instance")
        m["canonical"] = self.lows[j]
        self.entities.append(m)
        return m

    def _alias_series(self, j: int, label: str,
                      allow_create: bool = True,
                      allow_lower: bool = False
                      ) -> tuple[list[Mention], bool]:
        """Targets starting at j: ENT (,{ENT})* ((or|and) ENT)?. Returns
        (targets, shareable) — an 'and' series is NOT shareable
        (TestCoreference.scala sent43: 'BEF and Akt (a.k.a. ...)').
        Unknown nameish tokens become entities only when a marker phrase
        licensed the construction (allow_create)."""
        out: list[Mention] = []
        shareable = True
        first = True
        while j < self.n:
            if not first:
                sep = False
                while j < self.n and self.lows[j] == ",":
                    j += 1
                    sep = True
                if j < self.n and self.lows[j] == "or":
                    j += 1
                    sep = True
                elif j < self.n and self.lows[j] == "and":
                    shareable = False
                    j += 1
                    sep = True
                if not sep:
                    break
            first = False
            e = self.ent_starting_at(j)
            if e is not None:
                out.append(e)
                j = e["end"]
            elif allow_create and self._nameish_at(j, allow_lower):
                out.append(self._mk_alias_target(j, label))
                j += 1
            else:
                break
        return out, shareable

    def _emit_alias(self, anchor: Mention, targets: list[Mention],
                    share: bool, rule: str, out: list[Mention]) -> None:
        for t in targets:
            if t["label"] != anchor["label"]:
                continue  # aliases must be of the same type (sent38/39)
            if share:
                # grounding share (coref/Coref.scala:381-413): the
                # poorly-grounded member inherits the partner's canonical
                # key, so the broadcast grounding join gives both the
                # same id. Weakly grounded = alias-minted OR shape-NER'd
                # (both land on the uaz failsafe, like CRF-found unknowns
                # in the reference)
                weak = ("alias-instance", "shape-ner")
                if t["found_by"] in weak and \
                        anchor["found_by"] not in weak:
                    t["canonical"] = anchor["canonical"]
                elif anchor["found_by"] in weak and \
                        t["found_by"] not in weak:
                    anchor["canonical"] = t["canonical"]
                elif t["found_by"] in weak and anchor["found_by"] in weak:
                    t["canonical"] = anchor["canonical"]
            out.append(_mk(self.doc_id, self.sent_idx, "relation",
                           "Alias", anchor["start"], t["end"],
                           self.words, rule,
                           args=[_arg("theme", anchor), _arg("theme", t)],
                           extra=t["mention_id"]))

    def _sh_long_form_start(self, short: str, j_paren: int) -> int | None:
        """Schwartz–Hearst (2003) abbreviation alignment: greedy
        right-to-left match of the short form's alphanumerics against the
        tokens left of the paren, requiring the FIRST short-form char to
        start a word. Returns the token index where the long form begins,
        or None when no valid alignment exists. Used to veto bare-parens
        aliases whose parenthetical abbreviates a LARGER NP than the
        anchor entity ("apoptosis-stimulating protein of p53 (ASPP)" —
        ASPP names the phrase, not p53; wild-PMC tier r5)."""
        letters = [c.lower() for c in short if c.isalnum()]
        if len(letters) < 2:
            return None
        max_toks = min(j_paren, 2 * len(letters) + 2)
        chars: list[str] = []
        tok_of: list[int] = []
        starts: list[bool] = []
        for t in range(j_paren - max_toks, j_paren):
            for ci, c in enumerate(self.lows[t]):
                chars.append(c)
                tok_of.append(t)
                starts.append(ci == 0)
        li = len(letters) - 1
        ci = len(chars) - 1
        while ci >= 0:
            if li >= 0 and chars[ci] == letters[li] and \
                    (li > 0 or starts[ci]):
                li -= 1
                if li < 0:
                    return tok_of[ci]
            ci -= 1
        return None

    def find_aliases(self) -> list[Mention]:
        """Alias constructions (reference coref/Alias.scala:12-75,
        alias_template.yml): bare parens 'Ras (H-Ras)', marker parens
        'Akt1 (a.k.a. Akt334, AktTR, or Akt4H)', appositives 'BEF4H,
        sometimes called BEF,'. Alias relations feed the canonicalization
        connected-components pass; shared canonicals implement the
        grounding share."""
        out: list[Mention] = []
        # every alias construction needs a paren, a comma, or a homolog
        # token; their absence (one C-level list probe each) skips the
        # whole per-token scan — and with no construction fired, the
        # InstanceFinder rescan below is vacuous too
        ws = self.words
        if "(" not in ws and "," not in ws and \
                "homolog" not in self.lows and "homologs" not in self.lows:
            return out
        # anchor = known entity OR nameish token followed by paren/comma
        i = 0
        while i < self.n:
            anchor = self.ent_starting_at(i)
            # a nameish non-KB token can anchor too ("BEF4H (alias BEF)");
            # its label is typed from the first KNOWN entity in the series
            j = (anchor["end"] if anchor else i + 1)
            # interceding 'protein'/'proteins' before the paren
            while j < self.n and self.lows[j] in ("protein", "proteins"):
                j += 1
            if j < self.n and self.words[j] == "(":
                k = self._alias_marker_end(j + 1)
                start = k if k is not None else j + 1
                label = anchor["label"] if anchor is not None else None
                if label is None and self._nameish_at(i) and \
                        not (i > 0 and
                             self.lows[i - 1][:1].isdigit()):
                    # a numeric premodifier marks a MEASUREMENT with a
                    # parenthetical sample id ("10 nM (VMM39)"), not an
                    # alias construction (wild-PMC tier r5)
                    probe = self.ent_starting_at(start)
                    if probe is not None:
                        label = probe["label"]
                if label is not None:
                    targets, share = self._alias_series(
                        start, label, allow_create=k is not None)
                    close = self._paren_close(j)
                    targets = [t for t in targets if t["end"] <= close]
                    ok = targets and (k is not None or (
                        len(targets) == 1 and
                        targets[0]["label"] == label))
                    if ok and k is None and len(targets) == 1 and \
                            anchor is not None:
                        # bare parens: if the short form Schwartz–Hearst-
                        # aligns to a long form starting LEFT of the
                        # anchor, the parenthetical abbreviates the
                        # larger NP, not the anchor entity — no alias
                        sh = self._sh_long_form_start(
                            targets[0]["text"], j)
                        if sh is not None and sh < anchor["start"]:
                            ok = False
                    if ok:
                        if anchor is None:
                            anchor = self._mk_alias_target(i, label)
                        self._emit_alias(anchor, targets, share,
                                         "alias-parens", out)
                        i = j
            elif j < self.n and self.lows[j] == "," and j + 1 < self.n:
                k = self._alias_marker_end(j + 1)
                if k is not None:
                    if anchor is None and self._nameish_at(i):
                        probe = self.ent_starting_at(k)
                        if probe is not None:
                            anchor = self._mk_alias_target(
                                i, probe["label"])
                    if anchor is not None:
                        targets, share = self._alias_series(
                            k, anchor["label"])
                        if targets:
                            self._emit_alias(anchor, targets, share,
                                             "alias-appositive", out)
            elif anchor is not None and j < self.n and \
                    self.lows[j] in ("homolog", "homologs"):
                # "the Pax6 homologs eyeless(, eyefull,) and eyegone" —
                # homolog targets share the anchor's grounding even in an
                # 'and' series (TestCoreference sent62a/b)
                targets, _ = self._alias_series(j + 1, anchor["label"],
                                                allow_lower=True)
                if targets:
                    self._emit_alias(anchor, targets, True,
                                     "alias-homolog", out)
            i += 1
        # "Eyeless and eyegone, homologs of Pax6, ..." — backward series
        # before a ', homolog(s) of ENT' apposition (sent63)
        for h in range(2, self.n - 2):
            if self.lows[h] not in ("homolog", "homologs") or \
                    self.lows[h + 1] != "of" or self.words[h - 1] != ",":
                continue
            anchor = self.ent_starting_at(h + 2)
            if anchor is None:
                continue
            targets = []
            pos = h - 2
            while pos >= 0:
                e = next((x for x in self.entities
                          if x["end"] == pos + 1 and x["kind"] == "tbm" and
                          x["label"] == anchor["label"]), None)
                if e is not None:
                    targets.append(e)
                    pos = e["start"] - 1
                elif self._nameish_at(pos, allow_lower=True):
                    targets.append(
                        self._mk_alias_target(pos, anchor["label"]))
                    pos -= 1
                else:
                    break
                if pos >= 0 and self.lows[pos] in (",", "and", "or"):
                    pos -= 1
                else:
                    break
            if targets:
                self._emit_alias(anchor, targets, True,
                                 "alias-homolog-appos", out)
        # InstanceFinder rescan (coref/Alias.scala:12-75): further surface
        # occurrences of newly-instantiated alias names become entities too
        created = {e["text"]: (e["label"], e["canonical"])
                   for e in self.entities
                   if e["found_by"] == "alias-instance"}
        if created:
            covered = set()
            for e in self.entities:
                covered.update(range(e["start"], e["end"]))
            for t in range(self.n):
                if t not in covered and self.words[t] in created:
                    lab, canon = created[self.words[t]]
                    m = _mk(self.doc_id, self.sent_idx, "tbm", lab, t,
                            t + 1, self.words, "alias-instance-rescan")
                    m["canonical"] = canon
                    self.entities.append(m)
        return out

    def _paren_close(self, open_pos: int) -> int:
        for j in range(open_pos + 1, self.n):
            if self.words[j] == ")":
                return j
        return self.n

    def split_mutants(self) -> None:
        """Mutation splitting (F8, ReachSystem.scala:257-275): an entity
        carrying k>1 Mutant mods becomes k copies, one per mutation."""
        extra = []
        for e in self.entities:
            muts = [m for m in e["mods"] if m["kind"] == "Mutant"]
            if len(muts) > 1:
                others = [m for m in e["mods"] if m["kind"] != "Mutant"]
                e["mods"] = others + [muts[0]]
                for k, mut in enumerate(muts[1:], start=1):
                    cp = dict(e)
                    cp["mods"] = others + [mut]
                    cp["mention_id"] = mention_id(
                        self.doc_id, self.sent_idx, e["label"], e["start"],
                        e["end"], e["found_by"], extra=f"mut{k}")
                    extra.append(cp)
        self.entities.extend(extra)

    # -- main -------------------------------------------------------------
    def run(self) -> list[Mention]:
        self.entities = find_entities(self.doc_id, self.sent_idx, self.words,
                                      self.dictionary)
        # snapshot the MODIFICATION triggers (participle premodifiers
        # folded into entity mods) before event extraction adds its own
        # consumed positions — odin_graph's faithful
        # !mention=ModificationTrigger exclusion reads this set
        mod_consumed = attach_entity_mods(
            self.words, self.lows, self.entities)
        self.mod_trigger_positions = attach_entity_mods.mod_positions
        self.consumed_triggers |= mod_consumed
        self.resolve_mutant_anaphors()
        self.split_mutants()
        aliases = self.find_aliases()
        self.find_simple_events()
        self.find_conversions()
        self.find_bindings()
        self.find_regulations()
        self.detect_negations()
        self.detect_hypotheses()
        self.detect_regulation_types()
        self.keep_most_complete()
        for e in self.entities:
            e.setdefault("canonical", e["text"].lower())
        return self.entities + aliases + self.events


def extract_sentence(doc_id: str, sent_idx: int, sent_text: str,
                     dictionary: dict[str, tuple[str, ...]],
                     emit_generic: bool = False) -> tuple[dict, list[Mention]]:
    ann = annotate_sentence(sent_text)
    ex = SentenceExtractor(doc_id, sent_idx, ann, dictionary,
                           emit_generic=emit_generic)
    mentions = ex.run()
    return ann, mentions


# ---------------------------------------------------------------------------
# [O1] token-rule query surface (driver row o1_token_rules)
# ---------------------------------------------------------------------------

def o1_rows(sent_text: str,
            dictionary: dict[str, tuple[str, ...]]) -> list[tuple]:
    """(rule, label, start, end, text, canonical) rows for one sentence:
    the mentions produced by the compiled entity_tokens.yml token rules
    (found_by carries the action stamp, all `site-*`) as they survive the
    full cascade — the unit shared by the Spark query and the oracle
    generator (one code path, like crf.crf_rows / odin_graph.match_rows).
    The mutant_tokens.yml family surfaces as Mutant mods on entities and
    is exercised through the flagship oracle instead."""
    _, mentions = extract_sentence("d", 0, sent_text, dictionary)
    out = [(m["found_by"], m["label"], m["start"], m["end"], m["text"],
            m.get("canonical"))
           for m in mentions if m.get("found_by", "").startswith("site-")]
    out.sort()
    return out


def o1_span_rows(span_text: str,
                 dictionary: dict[str, tuple[str, ...]]) -> list[tuple]:
    """o1_rows for every sentence of one text span, start and end shifted
    by sentence index * 1000 — the span function of token_rules_df."""
    return [(rule, lab, si * 1000 + s, si * 1000 + e, txt, canon)
            for si, sent in enumerate(split_sentences(span_text))
            for rule, lab, s, e, txt, canon in o1_rows(sent, dictionary)]


def token_rules_df(documents) -> "DataFrame":  # noqa: F821
    """[O1] Corpus-wide token-rule mention table over interleaved
    documents: one row per distinct (rule, label, start, end, text,
    canonical) with corpus SEEN count. Spark shape: annotate.span_rows
    over o1_span_rows, then a hash aggregate with map-side combine."""
    from functools import partial

    from pyspark.sql import functions as F

    from .annotate import span_rows
    from .resources import entity_dictionary

    ev = span_rows(documents,
                   partial(o1_span_rows, dictionary=entity_dictionary()),
                   "rule string, label string, start int, end int, "
                   "text string, canonical string")
    return (ev.groupBy("rule", "label", "start", "end", "text", "canonical")
              .agg(F.count("*").alias("seen")))
