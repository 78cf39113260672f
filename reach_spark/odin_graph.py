"""[O2] Odin graph-pattern compiler: dependency-pattern rules → NFA over
(direction, label) edge steps.

Re-expression of the reference's dependency-rule machinery — Odin compiles
`pattern:` blocks of `trigger = [...]` plus `argName:Label = <path>` lines
to graph patterns matched over the sentence dependency graph
(processors `org.clulab.odin.impl.GraphPattern` /
`DependencyPatternCompiler`); Reach's event grammars are written in that
surface (`biogrammar/events/simple-event_template.yml:18-290`,
`pos-reg_template.yml`, `vars.yml:1-80` censuses the relations used).
This module implements the same pipeline over the repo's deterministic
light dependency layer (`reach_spark.deps`, the N7 down-payment): a parser
for the path surface syntax sharing odin.py's lexer/constraint machinery,
a Thompson construction whose states are (instruction, token) pairs — no
backtracking, O(states · edges) per trigger — and a rule engine that
resolves reached tokens to argument mentions by label.

Supported path surface (the subset the ported rules use):

  >label  >/re/  >"lit"    outgoing edge step (bare label/regex = outgoing,
  <label  </re/  <"lit"    the Odin default); incoming edge step
  >>  <<                   wildcard outgoing / incoming step
  [word=X & tag=/re/]      zero-width node test on the current token
  ( ... ) with |           grouping and alternation
  ? * + {m} {m,} {,n} {m,n}   greedy quantifiers
  argName:Label? = path    optional arg; trailing + collects plurals

Matching semantics follow Odin: edge-label regexes are partial matches
(anchor with ^...$ for exact), every token of the trigger span seeds the
traversal, and an argument resolves to the mentions of the required label
whose span covers any reached token (longest span per head token wins).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any
import re

from .odin import (Pred, TokenRule, _compile, _eval_expr, _lex, _Parser,
                   _compile_re, _unquote)

# ---------------------------------------------------------------------------
# Path surface syntax → AST
# AST: ("step", dir, matcher|None) | ("node", bool-expr) |
#      ("seq", [n]) | ("alt", [n]) | ("quant", n, lo, hi|None)
# ---------------------------------------------------------------------------


class _PathParser(_Parser):
    """Reuses the shared lexer/quantifier/constraint machinery of
    odin._Parser; only the atom grammar differs (edge steps instead of
    token-consuming constraints)."""

    def atom(self):
        kind, val = self.next()
        if kind in ("gt", "lt"):
            direction = ">" if kind == "gt" else "<"
            k2, v2 = self.peek()
            if k2 == "regex":
                self.next()
                return ("step", direction, _compile_re(v2))
            if k2 == "string":
                self.next()
                return ("step", direction, _unquote(v2))
            if k2 == "word":
                self.next()
                return ("step", direction, v2)
            raise ValueError(f"odin path: bad edge label after {direction}")
        if kind == "gtgt":
            return ("step", ">", None)
        if kind == "ltlt":
            return ("step", "<", None)
        if kind == "regex":                 # bare /re/ = outgoing (Odin)
            return ("step", ">", _compile_re(val))
        if kind == "word":                  # bare label = outgoing
            return ("step", ">", val)
        if kind == "lparen":
            node = self.alternation()
            if self.next()[0] != "rparen":
                raise ValueError("odin path: unclosed group")
            return node
        if kind == "lbracket":
            expr = self.constraint_or()
            if self.next()[0] != "rbracket":
                raise ValueError("odin path: unclosed [ ]")
            return ("node", expr)
        raise ValueError(f"odin path: unexpected {kind} {val!r}")


def compile_path(src: str):
    """Path pattern source → (program, start pc). odin._compile's
    Thompson construction emits ["edge", dir, matcher|None, next] for a
    step and ["node", expr, next] (zero-width token test) for a node."""
    return _compile(_PathParser(_lex(" ".join(src.split()))).parse())


def _label_hit(matcher, label: str) -> bool:
    if matcher is None:
        return True
    if isinstance(matcher, str):
        return label == matcher
    return matcher.search(label) is not None


def run_path(prog, start_pc: int, start_node: int,
             out_edges: dict[int, list[tuple[int, str]]],
             in_edges: dict[int, list[tuple[int, str]]],
             fields: list[dict[str, Any]]) -> set[int]:
    """All token positions reachable from `start_node` along an accepting
    traversal. Worklist over (pc, node) pairs — finite state space, so
    quantified loops terminate without a visit budget."""
    results: set[int] = set()
    seen: set[tuple[int, int]] = set()
    stack = [(start_pc, start_node)]
    while stack:
        pc, node = stack.pop()
        if (pc, node) in seen:
            continue
        seen.add((pc, node))
        instr = prog[pc]
        op = instr[0]
        if op == "accept":
            results.add(node)
        elif op == "jump":
            stack.append((instr[1], node))
        elif op == "split":
            stack.append((instr[1], node))
            stack.append((instr[2], node))
        elif op == "node":
            if _eval_expr(instr[1], fields[node]):
                stack.append((instr[2], node))
        elif op == "edge":
            _, direction, matcher, nxt = instr
            edges = out_edges.get(node, ()) if direction == ">" \
                else in_edges.get(node, ())
            for other, label in edges:
                if _label_hit(matcher, label):
                    stack.append((nxt, other))
    return results


# ---------------------------------------------------------------------------
# Rules + engine
# ---------------------------------------------------------------------------


@dataclass
class GraphArg:
    name: str
    label: re.Pattern | str | None       # mention-label filter
    required: bool
    path_src: str
    _prog: Any = None
    _start: int = 0

    def __post_init__(self):
        self._prog, self._start = compile_path(self.path_src)


@dataclass
class GraphRule:
    name: str
    label: str
    trigger: TokenRule
    args: list[GraphArg]
    priority: int = 1
    meta: dict = dc_field(default_factory=dict)


@dataclass
class GraphMatch:
    rule: GraphRule
    trigger_start: int
    trigger_end: int
    args: dict[str, list[dict]]          # role → matched mentions
    label: str = ""                      # effective label (actions may
                                         # rewrite, e.g. wrapper sign flip)

    def __post_init__(self):
        if not self.label:
            self.label = self.rule.label


def index_edges(deps) -> tuple[dict, dict]:
    """deps rows (src, dst, label) tuples or dicts → (out, in) adjacency."""
    out: dict[int, list[tuple[int, str]]] = {}
    inn: dict[int, list[tuple[int, str]]] = {}
    for e in deps:
        s, d, lbl = (e["src"], e["dst"], e["label"]) if isinstance(e, dict) \
            else (e[0], e[1], e[2])
        out.setdefault(s, []).append((d, lbl))
        inn.setdefault(d, []).append((s, lbl))
    return out, inn


def token_fields(words, tags=None, lemmas=None, mentions=None,
                 deps=None) -> list[dict[str, Any]]:
    """Per-token field dicts for constraint evaluation; `mention` is the
    multi-valued set of labels of mentions covering the token (the Odin
    State lookup a trigger constraint like !mention=X performs);
    `outgoing`/`incoming` are the token's dep-edge label sets (the Odin
    `outgoing=`/`!outgoing=` constraints the reference templates use,
    e.g. simple-event_template.yml syntax_3a `!outgoing=nsubjpass`)."""
    n = len(words)
    fields = [{"word": words[i],
               "tag": tags[i] if tags else "",
               "lemma": lemmas[i] if lemmas else words[i].lower()}
              for i in range(n)]
    for m in mentions or ():
        for i in range(m["start"], min(m["end"], n)):
            fields[i].setdefault("mention", set()).add(m["label"])
    for e in deps or ():
        s, d, lbl = (e["src"], e["dst"], e["label"]) if isinstance(e, dict) \
            else (e[0], e[1], e[2])
        if 0 <= s < n:
            fields[s].setdefault("outgoing", set()).add(lbl)
        if 0 <= d < n:
            fields[d].setdefault("incoming", set()).add(lbl)
    return fields


class GraphRuleEngine:
    """An ordered set of dependency rules. `match_sentence` finds trigger
    spans with the token engine, traverses each argument path from every
    trigger token, and resolves reached tokens to mentions by label —
    the ExtractorEngine dispatch for dependency rules."""

    def __init__(self, rules: list[GraphRule]):
        self.rules = rules

    def match_sentence(self, words, tags, lemmas, deps,
                       mentions: list[dict]) -> list[GraphMatch]:
        fields = token_fields(words, tags, lemmas, mentions, deps)
        out_e, in_e = index_edges(deps)
        matches: list[GraphMatch] = []
        for rule in self.rules:
            # family-level argument veto (the mkUbiquitination analog,
            # DarpaActions: ubiquitin itself can never fill a role in a
            # Ubiquitination event) — a space-separated word list in meta
            veto = rule.meta.get("vetoArgWords")
            veto_set = frozenset(str(veto).lower().split()) if veto else None
            for ts, te in rule.trigger.find_all(fields):
                args: dict[str, list[dict]] = {}
                ok = True
                for arg in rule.args:
                    reached: set[int] = set()
                    for t in range(ts, te):
                        reached |= run_path(arg._prog, arg._start, t,
                                            out_e, in_e, fields)
                    ms = _resolve(reached, mentions, arg.label, (ts, te))
                    if veto_set and any(m["text"].lower() in veto_set
                                        for m in ms):
                        # a vetoed filler kills the WHOLE event, not just
                        # the role ("Ubiquitin ubiquitinates beta-catenin"
                        # yields nothing — TestUbiquitination)
                        ok = False
                        break
                    if arg.required and not ms:
                        ok = False
                        break
                    args[arg.name] = ms
                if ok:
                    matches.append(GraphMatch(rule, ts, te, args))
        return matches


def _resolve(reached: set[int], mentions: list[dict], label_filter,
             trigger_span: tuple[int, int]) -> list[dict]:
    """Reached tokens → covering mentions with the required label; the
    longest covering span per head token wins (keepMostComplete inside
    argument resolution); the trigger's own span never resolves as an
    argument."""
    ts, te = trigger_span
    best: dict[int, dict] = {}
    for tok in reached:
        if ts <= tok < te:
            continue
        for m in mentions:
            if not (m["start"] <= tok < m["end"]):
                continue
            if label_filter is not None and not _label_hit(
                    label_filter, m["label"]):
                continue
            cur = best.get(tok)
            if cur is None or (m["end"] - m["start"]) > \
                    (cur["end"] - cur["start"]):
                best[tok] = m
    # distinct mentions, document order
    seen_ids, out = set(), []
    for m in sorted(best.values(), key=lambda m: (m["start"], m["end"])):
        key = (m["start"], m["end"], m["label"])
        if key not in seen_ids:
            seen_ids.add(key)
            out.append(m)
    return out


_DEFAULT_ENGINE = None


def default_engine() -> "GraphRuleEngine":
    """Simple-event + regulation/activation dependency rules. The
    regulation trigger stems and the simple-event label vocabulary are
    NOT duplicated here — they come from the same rules/complex_events.yml
    / rules/simple_events.yml data the surface cascade loads (resources),
    injected as template vars, mirroring the reference's events_master.yml
    posTriggers/negTriggers var wiring."""
    global _DEFAULT_ENGINE
    if _DEFAULT_ENGINE is None:
        from . import resources as R
        ev_labels = sorted(R.SIMPLE_EVENT_STEMS) + ["Binding"] + \
            [f"De{n.lower()}" for n in R.SIMPLE_EVENT_STEMS]
        extra = {
            "posRegStems": "|".join(sorted(R.POS_TRIGGER_STEMS)),
            "negRegStems": "|".join(sorted(R.NEG_TRIGGER_STEMS)),
            "eventLabels": "^(" + "|".join(ev_labels) + ")$",
            "bindStems": "|".join(sorted(R.BINDING_VERB_STEMS)),
            "bindNouns": "|".join(
                n.rstrip("s") for n in sorted(R.BINDING_NOUNS)),
            "translocStems": "|".join(sorted(R.TRANSLOCATION_STEMS)),
        }
        simple = load_graph_rules(package_file="dep_events.yml")
        regs = load_graph_rules(package_file="dep_regulations.yml",
                                extra_vars=extra)
        binds = load_graph_rules(package_file="dep_bindings.yml",
                                 extra_vars=extra)
        transloc = load_graph_rules(package_file="dep_translocations.yml",
                                    extra_vars=extra)
        _DEFAULT_ENGINE = GraphRuleEngine(
            simple.rules + regs.rules + binds.rules + transloc.rules)
    return _DEFAULT_ENGINE


def dep_event_matches(doc_id: str, sent_idx: int, text: str,
                      dictionary, engine: "GraphRuleEngine | None" = None
                      ) -> list[GraphMatch]:
    """Annotate + NER a sentence, then run the dependency rules over its
    light-dep graph. Trigger tokens consumed as entity modifications
    (participle premodifiers: 'ubiquitinated Ras') are marked with a
    pseudo-mention labeled ModificationTrigger so the rules' faithful
    `!mention=ModificationTrigger` constraint (simple-event_template.yml
    trigger line) excludes them, exactly as the reference grammar does."""
    from .deps import light_deps
    from .extract import annotate_sentence, SentenceExtractor
    ann = annotate_sentence(text)
    ex = SentenceExtractor(doc_id, sent_idx, ann, dictionary)
    mentions = [dict(m) for m in ex.run()]
    for t in ex.mod_trigger_positions:
        mentions.append({"doc_id": doc_id, "sent_idx": sent_idx,
                         "kind": "pseudo", "label": "ModificationTrigger",
                         "start": t, "end": t + 1,
                         "text": ann["words"][t]})
    eng = engine or default_engine()
    deps = light_deps(ann["words"], ann["tags"], ann["lemmas"])
    matches = eng.match_sentence(ann["words"], ann["tags"], ann["lemmas"],
                                 deps, mentions)
    return _reach_postpass(matches, ann["words"])


def _event_nominal_tokens() -> frozenset:
    """Lowered tokens that head an event nominal NP — a bce mention
    directly followed by one of these is that event's THEME, not an
    activation target ('ASPP2 phosphorylation', 'MMP-9 expression')."""
    global _EVENT_NOMINALS
    if _EVENT_NOMINALS is None:
        from . import resources as R
        toks = {"binding", "expression", "level", "levels", "amount",
                "amounts", "interaction", "interactions", "transcription",
                "translocation", "degradation", "conversion", "release",
                "secretion"}
        for _, nstem in R.SIMPLE_EVENT_STEMS.values():
            toks.add(nstem)
            toks.add("de" + nstem)
        toks.update(R.BINDING_NOUNS)
        toks.update(R.POS_NOUN_WRAPPERS)
        toks.update(R.NEG_NOUN_WRAPPERS)
        _EVENT_NOMINALS = frozenset(toks)
    return _EVENT_NOMINALS


_EVENT_NOMINALS = None
_SIGN_FLIP = {"Positive": "Negative", "Negative": "Positive"}


def _reach_postpass(matches: list[GraphMatch],
                    words: list[str]) -> list[GraphMatch]:
    """The Reach-binding arbitration layer over the generic engine — the
    dep-side analog of the reference's DarpaActions validations:

    1. regulation-over-activation: a trigger whose controlled resolved to
       an EVENT grounds a regulation; the sibling activation reading of
       the same trigger is the less complete parse (filterActivations /
       keepMostCompleteMentions) — drop it.
    2. event-nominal compounds: an activation whose controlled entity is
       directly followed by an event nominal ('cause STAT1
       phosphorylation'), preceded by one ('deubiquitination of ASPP2 is
       promoted'), or followed by a reg participle ('EGF induced
       activation') is a mis-attached regulation reading — drop the
       filler (and the match if the role was required).
    3. self-regulation: controller == controlled (span or surface text)
       is vetoed (DarpaActions: no self-activation).
    4. wrapper sign composition: a controller reached through a negative
       noun wrapper ('the inhibition of ASPP1 increases ...') flips the
       event sign (the cascade's wrapper-sign composition)."""
    from . import resources as R
    lows = [w.lower() for w in words]
    n = len(words)
    nominals = _event_nominal_tokens()
    reg_stems = tuple(R.POS_TRIGGER_STEMS) + tuple(R.NEG_TRIGGER_STEMS)

    def reg_participle(lw: str) -> bool:
        return lw.endswith("ed") and lw.startswith(reg_stems)

    def misattached(c: dict, trig: int = -1) -> bool:
        e, s = c["end"], c["start"]
        if e < n and e != trig and (lows[e] in nominals or
                                    reg_participle(lows[e])):
            # e == trig: the following nominal IS this match's own trigger
            # ("QRZ9's inhibition by WXV44" — the genitive patient rule)
            return True
        # hyphenated reg participle on the head token itself
        # ("AKT-induced apoptosis" — AKT is the inducer, not the target)
        last = lows[e - 1]
        if "-" in last and reg_participle(last.rsplit("-", 1)[-1]):
            return True
        # conjunct NP under an event-nominal head: "the interaction
        # between p53 and Mdm2", "the levels of IRP2 and TfR1" — an
        # of/between governed by a nominal within the coordination window
        for k in range(s - 1, max(0, s - 5) - 1, -1):
            if lows[k] in ("between", "of") and k >= 1 and \
                    lows[k - 1] in nominals and k - 1 != trig:
                # k-1 == trig: the governing nominal IS this match's own
                # trigger ("QRZ9's inhibition of WXV44" — the genitive
                # rules), a correct attachment, not a stolen one
                return True
        return False

    reg_triggers = {(m.trigger_start, m.trigger_end) for m in matches
                    if m.label.endswith("_regulation")}
    out = []
    for m in matches:
        if m.label == "Translocation":
            # a Translocation names a movement: it needs at least one
            # location argument (DarpaActions mkTranslocation); a theme
            # that is itself a location is the location's mention, not
            # cargo
            if not m.args.get("source") and not m.args.get("destination"):
                continue
            out.append(m)
            continue
        if m.label == "Binding":
            # promoter/mutation compounds name a REGION/VARIANT, not a
            # binding partner ('binds the BCL2 promoter', 'KRAS and BRAF
            # mutations'); ubiquitin as a partner is Ubiquitination
            # evidence, not Binding (mkBinding veto); and a binding needs
            # two distinct partners (self/single-theme readings are the
            # cascade's anaphora/coref territory). theme2 (the nominal
            # rule's to/with side) unifies into theme — the reference's
            # theme1/theme2 → themes flattening (DarpaActions mkBinding).
            seen_spans = set()
            merged = []
            for t in (list(m.args.get("theme", ())) +
                      list(m.args.pop("theme2", ()) or ())):
                if (t["start"], t["end"]) not in seen_spans:
                    seen_spans.add((t["start"], t["end"]))
                    merged.append(t)
            m.args["theme"] = merged
            th = [t for t in m.args.get("theme", ())
                  if not (t["end"] < n and lows[t["end"]] in (
                      "promoter", "promoters", "mutation", "mutations",
                      "partner", "partners"))]
            if any(t["text"].lower().startswith("ubiquitin") for t in th):
                continue
            if len({t["text"] for t in th}) < 2:
                continue
            m.args["theme"] = th
            out.append(m)
            continue
        if m.label.endswith("_activation"):
            if (m.trigger_start, m.trigger_end) in reg_triggers:
                continue
            ctl = [c for c in m.args.get("controlled", ())
                   if not misattached(c, m.trigger_start)]
            if not ctl:
                continue
            m.args["controlled"] = ctl
        ctl_keys = {(c["start"], c["end"])
                    for c in m.args.get("controlled", ())}
        ctl_txt = {c["text"].lower() for c in m.args.get("controlled", ())}
        ctr = [c for c in m.args.get("controller", ())
               if (c["start"], c["end"]) not in ctl_keys]
        if m.label.endswith("_activation") and \
                any(c["text"].lower() in ctl_txt for c in ctr):
            continue            # self-activation: whole event vetoed
        if "controller" in m.args:
            m.args["controller"] = ctr
            if not ctr and any(a.name == "controller" and a.required
                               for a in m.rule.args):
                continue        # required controller filtered away
        for c in ctr:
            s = c["start"]
            if s >= 2 and lows[s - 1] == "of" and \
                    lows[s - 2] in R.NEG_NOUN_WRAPPERS:
                sign, rest = m.label.split("_", 1)
                m.label = f"{_SIGN_FLIP.get(sign, sign)}_{rest}"
                break
        out.append(m)
    return out


def match_rows(sent_text: str, dictionary, engine=None) -> list[tuple]:
    """Dependency-rule matches for one sentence, flattened to deterministic
    scalar rows (rule, pred, themes, causes, sites) with '|'-sorted-joined
    role fillers — the unit shared by the Spark query and the oracle
    generator (tools/gen_kg_oracle.py), so one code path defines both."""
    out = []
    for gm in dep_event_matches("", 0, sent_text, dictionary, engine):
        out.append((
            gm.rule.name,
            gm.label,
            "|".join(sorted(m["text"] for m in gm.args.get("theme", []))),
            "|".join(sorted(m["text"] for m in gm.args.get("cause", []))),
            "|".join(sorted(m["text"] for m in gm.args.get("site", []))),
            "|".join(sorted(m["text"] for m in gm.args.get("source", []))),
            "|".join(sorted(m["text"]
                            for m in gm.args.get("destination", [])))))
    return out


def match_span_rows(span_text: str, dictionary) -> list[tuple]:
    """match_rows for every sentence of one text span — the span function
    of dep_events_df."""
    from .extract import split_sentences
    return [r for sent in split_sentences(span_text)
            for r in match_rows(sent, dictionary)]


def dep_events_df(documents) -> "DataFrame":
    """[O2] Corpus-wide dependency-rule event table over interleaved
    documents: one row per distinct (rule, pred, themes, causes, sites)
    with corpus-wide SEEN count — the dependency-grammar sibling of the
    flagship's EER output. Spark shape: annotate.span_rows over
    match_span_rows (span explode, so skew dissolves into per-span rows;
    memoized per distinct span text) → hash aggregate with map-side
    combine. No driver-side loop, no collect."""
    from functools import partial

    from pyspark.sql import functions as F

    from .annotate import span_rows
    from .resources import entity_dictionary

    ev = span_rows(documents,
                   partial(match_span_rows, dictionary=entity_dictionary()),
                   "rule string, pred string, themes string, causes string, "
                   "sites string, sources string, dests string")
    return (ev.groupBy("rule", "pred", "themes", "causes", "sites",
                       "sources", "dests")
              .agg(F.count("*").alias("seen")))


# ---------------------------------------------------------------------------
# YAML loading with family-template instantiation
# ---------------------------------------------------------------------------

_VAR_RE = re.compile(r"\$\{\s*(\w+)\s*\}")


def _subst(text: str, variables: dict[str, str]) -> str:
    def repl(m):
        k = m.group(1)
        if k not in variables:
            raise KeyError(f"odin graph rules: undefined var ${{{k}}}")
        return str(variables[k])
    # fixpoint: a family var may itself expand to another ${var} (e.g.
    # stems: "${posRegStems}" supplied by the loader caller)
    for _ in range(5):
        new = _VAR_RE.sub(repl, text)
        if new == text:
            return new
        text = new
    raise ValueError(f"odin graph rules: unresolved vars after 5 "
                     f"expansions: {text[:80]!r}")


def load_graph_rules(path: str | None = None,
                     package_file: str | None = None,
                     extra_vars: dict[str, str] | None = None
                     ) -> GraphRuleEngine:
    """Load a dependency-rule YAML (`rules:` + optional `vars:` +
    `families:`). Mirrors the reference's master-file template
    instantiation (`events_master.yml:60-180` instantiates
    `simple-event_template.yml` once per family): each family's vars are
    merged over the file-level vars and substituted into every rule —
    `${stem}`-style placeholders, the RuleReader `${...}` analog."""
    import yaml
    if path is not None:
        with open(path, encoding="utf-8") as fh:
            doc = yaml.safe_load(fh)
    else:
        import pkgutil
        raw = pkgutil.get_data(__package__ or "reach_spark",
                               f"rules/{package_file}")
        doc = yaml.safe_load(raw)
    base_vars = {**(doc.get("vars") or {}), **(extra_vars or {})}
    families = doc.get("families") or [{}]
    rules: list[GraphRule] = []
    for fam in families:
        fam_vars = {**base_vars, **fam}
        for d in doc["rules"]:
            name = _subst(d["name"], fam_vars)
            label = _subst(d.get("label", ""), fam_vars)
            trig_src = " ".join(_subst(str(d["trigger"]), fam_vars).split())
            trigger = TokenRule(name=f"{name}__trigger", label=label,
                                pattern_src=trig_src)
            args = []
            for arg_name, spec in (d.get("args") or {}).items():
                lab = spec.get("label")
                if lab is not None:
                    lab = _subst(str(lab), fam_vars)
                    lab = re.compile(lab) if not lab.isalnum() else lab
                args.append(GraphArg(
                    name=arg_name, label=lab,
                    required=bool(spec.get("required", False)),
                    path_src=_subst(str(spec["path"]), fam_vars)))
            rules.append(GraphRule(
                name=name, label=label, trigger=trigger, args=args,
                priority=int(d.get("priority", 1)),
                meta={**fam_vars, **{k: v for k, v in d.items() if k not in
                                     ("name", "label", "trigger", "args",
                                      "priority")}}))
    return GraphRuleEngine(rules)
