"""[O1] Odin-surface token-pattern compiler: YAML rules → Thompson NFA
over token-constraint predicates.

Re-expression of the reference's token-rule machinery — Odin's
`TokenPattern` compiles surface patterns to an instruction graph executed
by a Thompson VM (processors `org.clulab.odin.impl.TokenPattern` /
`ThompsonVM`); Reach's grammars consume it via `RuleReader.scala:12-53`
for rules with `type: token` (e.g. `biogrammar/entities/entities.yml`,
`mutants.yml`, `modifications/modifications.yml`). This module implements
the same pipeline in ~300 lines of dependency-free Python: a recursive-
descent parser for the pattern surface syntax and a Thompson construction
whose VM runs in O(states · tokens) per start position — no backtracking
blowups, the property that makes it safe inside the Arrow-batched
extraction UDF at corpus scale.

Supported surface subset (everything the ported rule files use):

  token constraints   [word=/re/ & !mention=/re/ | tag=X]  (& binds over |)
  shorthand tokens    /re/  (word regex)   "literal"  (exact word)
  groups              ( ... ) with | alternation between sequences
  quantifiers         ? * + {m} {m,} {m,n}   (greedy, longest match wins)
  lookarounds         (?= p) (?! p) (?<= p) (?<! p)   zero-width sub-NFAs
  named captures      (?<name> ...) — parsed, matched as a plain group

Matching semantics follow Odin: a regex matcher is a *partial* match on
the field value (`findFirstIn`), so anchor with ^...$ for exact-token
matches; string literals are exact; `mention=` tests the labels of any
mention covering the token (multi-valued field). For every start position
the VM returns the longest match, like `TokenPattern.findAllIn`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable

# ---------------------------------------------------------------------------
# Pattern surface syntax → AST
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<lookstart>\(\?<?[=!])
    | (?P<namedgroup>\(\?<[A-Za-z_][A-Za-z0-9_]*>)
    | (?P<lparen>\()
    | (?P<rparen>\))
    | (?P<lbracket>\[)
    | (?P<rbracket>\])
    | (?P<pipe>\|)
    | (?P<amp>&)
    | (?P<bang>!)
    | (?P<eq>=)
    | (?P<quant>[?*+]|\{\d*(?:,\d*)?\})
    | (?P<gtgt>>>)
    | (?P<ltlt><<)
    | (?P<gt>>)
    | (?P<lt><)
    | (?P<regex>/(?:[^/\\]|\\.)*/)
    | (?P<string>"(?:[^"\\]|\\.)*")
    | (?P<word>[A-Za-z_][A-Za-z0-9_.-]*)
    )""", re.X)


def _lex(src: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(src):
        if src[pos].isspace():
            pos += 1
            continue
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise ValueError(f"odin pattern: bad syntax at {src[pos:pos+20]!r}")
        kind = m.lastgroup
        toks.append((kind, m.group(kind).strip()))
        pos = m.end()
    return toks


@dataclass
class Pred:
    """One field test inside a token constraint."""
    field: str
    matcher: re.Pattern | str      # compiled regex (partial) or exact str
    negated: bool = False

    def test(self, value: Any) -> bool:
        vals = value if isinstance(value, (set, frozenset, list, tuple)) \
            else (value,)
        if isinstance(self.matcher, str):
            hit = any(v == self.matcher for v in vals)
        else:
            hit = any(isinstance(v, str) and self.matcher.search(v)
                      for v in vals)
        return (not hit) if self.negated else hit


# AST nodes: ("tok", bool-expr) | ("seq", [nodes]) | ("alt", [nodes])
#            ("quant", node, lo, hi|None) | ("look", node, ahead, positive)
# bool-expr: ("pred", Pred) | ("and", [e]) | ("or", [e])


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks, self.i = toks, 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self):
        node = self.alternation()
        if self.peek()[0] is not None:
            raise ValueError(f"odin pattern: trailing {self.peek()!r}")
        return node

    def alternation(self):
        branches = [self.sequence()]
        while self.peek()[0] == "pipe":
            self.next()
            branches.append(self.sequence())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def sequence(self):
        items = []
        while True:
            kind, _ = self.peek()
            if kind in (None, "pipe", "rparen"):
                break
            items.append(self.quantified())
        return ("seq", items)

    def quantified(self):
        node = self.atom()
        kind, val = self.peek()
        if kind == "quant":
            self.next()
            if val == "?":
                lo, hi = 0, 1
            elif val == "*":
                lo, hi = 0, None
            elif val == "+":
                lo, hi = 1, None
            else:
                body = val[1:-1]
                if "," in body:
                    a, b = body.split(",", 1)
                    lo, hi = (int(a) if a else 0), (int(b) if b else None)
                else:
                    lo = hi = int(body)     # "{}" is a syntax error
            return ("quant", node, lo, hi)
        return node

    def atom(self):
        kind, val = self.next()
        if kind == "lookstart":
            ahead = "<" not in val
            positive = val.endswith("=")
            node = self.alternation()
            if self.next()[0] != "rparen":
                raise ValueError("odin pattern: unclosed lookaround")
            return ("look", node, ahead, positive)
        if kind == "namedgroup":
            node = self.alternation()
            if self.next()[0] != "rparen":
                raise ValueError("odin pattern: unclosed named group")
            return node
        if kind == "lparen":
            node = self.alternation()
            if self.next()[0] != "rparen":
                raise ValueError("odin pattern: unclosed group")
            return node
        if kind == "lbracket":
            expr = self.constraint_or()
            if self.next()[0] != "rbracket":
                raise ValueError("odin pattern: unclosed [ ]")
            return ("tok", expr)
        if kind == "regex":
            return ("tok", ("pred", Pred("word", _compile_re(val))))
        if kind == "string":
            return ("tok", ("pred", Pred("word", _unquote(val))))
        if kind == "word":
            return ("tok", ("pred", Pred("word", val)))
        raise ValueError(f"odin pattern: unexpected {kind} {val!r}")

    # inside [ ... ]: or-of-ands over field tests
    def constraint_or(self):
        parts = [self.constraint_and()]
        while self.peek()[0] == "pipe":
            self.next()
            parts.append(self.constraint_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def constraint_and(self):
        parts = [self.constraint_one()]
        while self.peek()[0] == "amp":
            self.next()
            parts.append(self.constraint_one())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def constraint_one(self):
        neg = False
        if self.peek()[0] == "bang":
            self.next()
            neg = True
        # grouped sub-expression: [A & (B | C)] / ![(...)] — Odin's
        # TokenConstraintParsers grouping
        if self.peek()[0] == "lparen":
            self.next()
            expr = self.constraint_or()
            if self.next()[0] != "rparen":
                raise ValueError("odin pattern: unclosed constraint group")
            return ("not", expr) if neg else expr
        kind, fieldname = self.next()
        if kind != "word":
            raise ValueError(f"odin pattern: expected field, got {fieldname!r}")
        if self.next()[0] != "eq":
            raise ValueError("odin pattern: expected = in constraint")
        kind, val = self.next()
        if kind == "regex":
            return ("pred", Pred(fieldname, _compile_re(val), neg))
        if kind in ("string", "word"):
            lit = _unquote(val) if kind == "string" else val
            return ("pred", Pred(fieldname, lit, neg))
        raise ValueError(f"odin pattern: bad matcher {val!r}")


def _compile_re(slash_re: str) -> re.Pattern:
    return re.compile(slash_re[1:-1])


def _unquote(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s[1:-1])


def _expr_fields(expr, acc: set) -> None:
    """Collect every field name a bool-expr tree tests (for the
    word-only-gate memoization check)."""
    op = expr[0]
    if op == "pred":
        acc.add(expr[1].field)
    elif op in ("and", "or"):
        for e in expr[1]:
            _expr_fields(e, acc)
    elif op == "not":
        _expr_fields(expr[1], acc)


def _eval_expr(expr, token_fields: dict[str, Any]) -> bool:
    op = expr[0]
    if op == "pred":
        p: Pred = expr[1]
        return p.test(token_fields.get(p.field, ""))
    if op == "and":
        return all(_eval_expr(e, token_fields) for e in expr[1])
    if op == "or":
        return any(_eval_expr(e, token_fields) for e in expr[1])
    if op == "not":
        return not _eval_expr(expr[1], token_fields)
    raise AssertionError(op)


# ---------------------------------------------------------------------------
# Thompson construction + VM
# ---------------------------------------------------------------------------
# Instructions: ("match", expr, next) consumes one token;
# ("split", a, b) / ("jump", t) are epsilon moves; ("look", program,
# ahead, positive, next) is a zero-width sub-VM run; ("accept",).
# Graph paths (odin_graph) share the construction: ("edge", dir, matcher,
# next) consumes one dependency edge, ("node", expr, next) is a zero-width
# token test.

@dataclass
class _Frag:
    start: int
    outs: list[tuple[int, int]]     # (instr index, next slot) to patch


class _Builder:
    def __init__(self):
        self.prog: list[list] = []

    def emit(self, instr: list) -> int:
        self.prog.append(instr)
        return len(self.prog) - 1

    def build(self, node) -> _Frag:
        kind = node[0]
        if kind in ("tok", "node"):
            i = self.emit(["match" if kind == "tok" else "node", node[1], -1])
            return _Frag(i, [(i, 2)])
        if kind == "step":
            i = self.emit(["edge", node[1], node[2], -1])
            return _Frag(i, [(i, 3)])
        if kind == "seq":
            frags = [self.build(n) for n in node[1]]
            if not frags:
                i = self.emit(["jump", -1])
                return _Frag(i, [(i, 1)])
            for a, b in zip(frags, frags[1:]):
                self._patch(a.outs, b.start)
            return _Frag(frags[0].start, frags[-1].outs)
        if kind == "alt":
            frags = [self.build(n) for n in node[1]]
            start = frags[0].start
            outs = list(frags[0].outs)
            for f in frags[1:]:
                s = self.emit(["split", start, f.start])
                start = s
                outs.extend(f.outs)
            return _Frag(start, outs)
        if kind == "quant":
            _, inner, lo, hi = node
            frags: list[_Frag] = []
            for _ in range(lo):
                frags.append(self.build(inner))
            if hi is None:                       # unbounded tail: loop
                body = self.build(inner)
                s = self.emit(["split", body.start, -1])
                self._patch(body.outs, s)
                frags.append(_Frag(s, [(s, 2)]))
            else:
                for _ in range(hi - lo):         # optional copies
                    body = self.build(inner)
                    s = self.emit(["split", body.start, -1])
                    frags.append(_Frag(s, body.outs + [(s, 2)]))
            if not frags:
                i = self.emit(["jump", -1])
                return _Frag(i, [(i, 1)])
            for a, b in zip(frags, frags[1:]):
                self._patch(a.outs, b.start)
            return _Frag(frags[0].start, frags[-1].outs)
        if kind == "look":
            _, inner, ahead, positive = node
            i = self.emit(["look", _compile(inner), ahead, positive, -1])
            return _Frag(i, [(i, 4)])
        raise AssertionError(kind)

    def _patch(self, outs: list[tuple[int, int]], target: int) -> None:
        for idx, slot in outs:
            self.prog[idx][slot] = target


def _compile(ast):
    """AST → (program, start pc)."""
    b = _Builder()
    frag = b.build(ast)
    acc = b.emit(["accept"])
    b._patch(frag.outs, acc)
    return b.prog, frag.start


def _compile_pattern(src: str):
    return _compile(_Parser(_lex(src)).parse())


def _run(prog, start_pc: int, fields: list[dict[str, Any]],
         pos: int, n: int) -> int | None:
    """Thompson simulation from token `pos`; returns the LONGEST end
    position (exclusive) of any accepting run, or None."""
    best: int | None = None
    current: set[int] = set()

    def add(pc: int, at: int, states: set[int]) -> None:
        nonlocal best
        if pc in states:
            return
        states.add(pc)
        instr = prog[pc]
        op = instr[0]
        if op == "accept":
            if best is None or at > best:
                best = at
        elif op == "jump":
            add(instr[1], at, states)
        elif op == "split":
            add(instr[1], at, states)
            add(instr[2], at, states)
        elif op == "look":
            (sub_prog, sub_start), ahead, positive, nxt = \
                instr[1], instr[2], instr[3], instr[4]
            if ahead:
                hit = _run(sub_prog, sub_start, fields, at, n) is not None
            else:
                # lookbehind: does the sub-pattern match ENDING at `at`?
                hit = any(_run(sub_prog, sub_start, fields, s, n) == at
                          for s in range(at - 1, -1, -1))
            if hit == positive:
                add(nxt, at, states)
        # "match" stays in the frontier for the consuming step

    add(start_pc, pos, current)
    at = pos
    while current and at < n:
        nxt: set[int] = set()
        for pc in current:
            instr = prog[pc]
            if instr[0] == "match" and _eval_expr(instr[1], fields[at]):
                add(instr[2], at + 1, nxt)
        at += 1
        current = nxt
    return best


def _first_match_exprs(prog, start_pc: int):
    """The set of token-constraint exprs reachable from the start through
    epsilon moves only — i.e. every constraint the FIRST consumed token
    must satisfy (used as a prefilter). Returns None when entry passes
    through a lookaround or the pattern can accept zero tokens (no safe
    prefilter in those cases)."""
    exprs, seen, stack = [], set(), [start_pc]
    while stack:
        pc = stack.pop()
        if pc in seen:
            continue
        seen.add(pc)
        instr = prog[pc]
        op = instr[0]
        if op == "match":
            exprs.append(instr[1])
        elif op == "jump":
            stack.append(instr[1])
        elif op == "split":
            stack.extend((instr[1], instr[2]))
        elif op == "look":
            # a lookaround is zero-width: the first consumed token is
            # whatever follows it, so the prefilter can skip past (it is a
            # necessary condition, the NFA still enforces the lookaround)
            stack.append(instr[4])
        else:                        # accept reachable at entry → nullable
            return None
    return exprs or None


# ---------------------------------------------------------------------------
# Rule objects + YAML loading
# ---------------------------------------------------------------------------

@dataclass
class TokenRule:
    name: str
    label: str
    pattern_src: str
    priority: int = 1
    action: str | None = None
    consume: bool = True            # claimed span blocks later rules
    meta: dict = dc_field(default_factory=dict)
    _prog: Any = None
    _start: int = 0

    def __post_init__(self):
        self._prog, self._start = _compile_pattern(self.pattern_src)
        self._first = _first_match_exprs(self._prog, self._start)
        # when every entry constraint tests only the `word` field, the
        # gate is a pure function of the token string — memoize it (Zipf:
        # a corpus repeats words far more than sentences)
        fields: set[str] = set()
        for x in (self._first or ()):
            _expr_fields(x, fields)
        self._first_word_only = self._first is not None and fields == {
            "word"}
        self._first_cache: dict[str, bool] = {}

    def _first_ok(self, fields: list[dict[str, Any]], s: int) -> bool:
        if self._first is None:
            return True
        if self._first_word_only:
            w = fields[s].get("word", "")
            hit = self._first_cache.get(w)
            if hit is None:
                hit = any(_eval_expr(x, fields[s]) for x in self._first)
                if len(self._first_cache) < (1 << 17):
                    self._first_cache[w] = hit
            return hit
        return any(_eval_expr(x, fields[s]) for x in self._first)

    def find_all(self, fields: list[dict[str, Any]]) -> list[tuple[int, int]]:
        """All (start, end) matches, longest-per-start, left to right.
        A start position enters the NFA only if one of the pattern's
        first consuming constraints matches there (or a lookaround guards
        the entry) — the cheap prefilter that keeps per-sentence cost
        ~O(tokens) for the typical rule inside the extraction UDF."""
        n = len(fields)
        out = []
        for s in range(n):
            if not self._first_ok(fields, s):
                continue
            e = _run(self._prog, self._start, fields, s, n)
            if e is not None and e > s:
                out.append((s, e))
        return out

    def match_at(self, fields: list[dict[str, Any]], s: int) -> int | None:
        """Longest match STARTING at token `s` (end-exclusive), or None —
        the primitive for positional first-rule-wins dispatch loops."""
        if not self._first_ok(fields, s):
            return None
        e = _run(self._prog, self._start, fields, s, len(fields))
        return e if e is not None and e > s else None


class TokenRuleEngine:
    """An ordered rule set over per-token field dicts. `match_sentence`
    reproduces the Odin dispatch for a single priority tier: rules fire
    in file order; a consuming rule claims its span so later rules (and
    later starts of the same rule) skip claimed tokens — the analog of
    keepMostCompleteMentions running inside the entity grammar."""

    def __init__(self, rules: list[TokenRule]):
        self.rules = rules
        self.start_word_re = self._combined_start_re()
        self._start_cache: dict[str, bool] = {}
        self._cand_cache: dict[str, tuple[TokenRule, ...]] = {}

    def candidates(self, word: str) -> tuple[TokenRule, ...]:
        """The ordered subset of rules whose entry gate can pass at a
        token with this word — the per-word dispatch index (memoized;
        Zipf makes the cache hit rate ~1). Rules with non-word entry
        gates are always candidates; word-only rules are pre-filtered by
        their memoized first-token test, so the dispatch loop probes ~1
        rule per gated token instead of the whole rule file. Exact:
        filtering uses the same _first_ok gate match_at re-checks."""
        cand = self._cand_cache.get(word)
        if cand is None:
            f = [{"word": word}]
            cand = tuple(r for r in self.rules
                         if not r._first_word_only or r._first_ok(f, 0))
            if len(self._cand_cache) < (1 << 17):
                self._cand_cache[word] = cand
        return cand

    def start_ok(self, word: str) -> bool:
        """Memoized combined-start-gate test: can ANY rule begin at a
        token with this word? (True when no combined gate exists.)"""
        if self.start_word_re is None:
            return True
        hit = self._start_cache.get(word)
        if hit is None:
            hit = self.start_word_re.search(word) is not None
            if len(self._start_cache) < (1 << 17):
                self._start_cache[word] = hit
        return hit

    def _combined_start_re(self) -> re.Pattern | None:
        """One compiled alternation of every rule's first-token word
        constraint — a necessary condition for ANY rule to start at a
        token. Lets dispatch loops skip most tokens with a single C-level
        regex search instead of one NFA probe per rule. None when some
        rule's entry constraint isn't a plain positive word regex/literal
        (then no safe combined prefilter exists)."""
        alts = []
        for rule in self.rules:
            if rule._first is None:
                return None
            for expr in rule._first:
                if expr[0] != "pred":
                    return None
                p: Pred = expr[1]
                if p.negated or p.field != "word":
                    return None
                if isinstance(p.matcher, str):
                    alts.append("^" + re.escape(p.matcher) + "$")
                else:
                    pat = p.matcher.pattern
                    # scope a leading global (?i) so it can live inside
                    # an alternation (Python requires global flags first)
                    if pat.startswith("(?i)"):
                        pat = f"(?i:{pat[4:]})"
                    alts.append(f"(?:{pat})")
        try:
            return re.compile("|".join(alts)) if alts else None
        except re.error:
            return None

    def match_sentence(self, fields: list[dict[str, Any]],
                       dispatch: Callable[[TokenRule, int, int], Any] | None
                       = None) -> list[tuple[TokenRule, int, int]]:
        """Without `dispatch`: return accepted (rule, start, end) hits.
        With `dispatch` (the Odin `action:` analog): call it per candidate
        hit; it returns None to VETO the match (no claim — a later rule
        may fire on those tokens) or an iterable of extra (start, end)
        ranges the action consumed beyond the pattern span (e.g. a
        residue-number enumeration)."""
        n = len(fields)
        claimed = [False] * n
        hits: list[tuple[TokenRule, int, int]] = []
        for rule in self.rules:
            for s, e in rule.find_all(fields):
                if rule.consume and any(claimed[s:e]):
                    continue
                if dispatch is not None:
                    extra = dispatch(rule, s, e)
                    if extra is None:
                        continue
                    for xs, xe in extra:
                        for k in range(xs, xe):
                            claimed[k] = True
                hits.append((rule, s, e))
                if rule.consume:
                    for k in range(s, e):
                        claimed[k] = True
        hits.sort(key=lambda h: (h[1], h[2]))
        return hits


def load_rules(path: str | None = None, package_file: str | None = None
               ) -> TokenRuleEngine:
    """Load a `rules:` YAML file of token rules (the RuleReader analog:
    `RuleReader.scala:12-53`). `package_file` reads through pkgutil so the
    same file loads from a checkout AND from reach_spark.zip under
    spark-submit --py-files."""
    import yaml
    if path is not None:
        with open(path, encoding="utf-8") as fh:
            doc = yaml.safe_load(fh)
    else:
        import pkgutil
        raw = pkgutil.get_data(__package__ or "reach_spark",
                               f"rules/{package_file}")
        doc = yaml.safe_load(raw)
    rules = []
    for d in doc["rules"]:
        rules.append(TokenRule(
            name=d["name"], label=d.get("label", ""),
            pattern_src=" ".join(str(d["pattern"]).split("\n")),
            priority=int(d.get("priority", 1)),
            action=d.get("action"),
            consume=bool(d.get("consume", True)),
            meta={k: v for k, v in d.items() if k not in (
                "name", "label", "pattern", "priority", "action",
                "consume", "type", "example")}))
    return TokenRuleEngine(rules)
