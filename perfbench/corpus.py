"""Deterministic benchmark inputs, built from the fixture sentences.

Two corpora, both a pure function of the workload seed:

- `flagship_documents`: the interleaved table the flagship query reads
  (`__spark_entry__._interleaved_documents` layout: span0 is fixture
  `doc_id % N`, span2 is fixture `(doc_id * 7 + 3) % N`, one media span),
  over the sf0.1 document count. Every text repeats many times, so the
  per-partition sentence memo absorbs most extraction.
- `diverse_documents`: no sentence repeats and the entity vocabulary grows
  with the corpus. Fixture sentences get their gene/family names swapped
  for unattested symbols (the `tests/test_generalization.py` technique,
  caught by the shape/CRF NER tier). The first name of every sentence gets
  a symbol unique to that sentence, so no two sentences are equal; the
  other names come from a shared pool sized to the corpus, so entities
  recur across documents. One document in fifty is long.

The inputs are written as parquet under the benchmark's work directory;
the program under test only ever sees the files.
"""

from __future__ import annotations

import hashlib
import os
import re
from functools import lru_cache

FLAGSHIP_DOCS = 5_000          # sf0.1 document count
LONG_EVERY = 50                # one long document in fifty
LONG_SENTS = 40                # sentences in a long document
FILES = 4                      # parquet part files (one per core)

_CONSONANTS = "BCDFGHJKLMNPQRSTVWXZ"
_SWAP_LABELS = ("Gene_or_gene_product", "Family")


def _ints(seed: int, key: str, n: int, mod: int) -> list[int]:
    """n deterministic ints in [0, mod) from sha1 (no random-module state,
    stable across Python versions)."""
    out: list[int] = []
    counter = 0
    while len(out) < n:
        h = hashlib.sha1(f"{seed}:{key}:{counter}".encode()).digest()
        for i in range(0, 20, 4):
            out.append(int.from_bytes(h[i:i + 4], "big") % mod)
            if len(out) == n:
                break
        counter += 1
    return out


def _letters(seed: int, key: str) -> str:
    return "".join(_CONSONANTS[i] for i in
                   _ints(seed, key, 3, len(_CONSONANTS)))


def unique_symbol(seed: int, doc: int, sent: int) -> str:
    """Symbol owned by one sentence: the number encodes (doc, sent), so two
    sentences never share it and never collide with a pool symbol (pool
    numbers start with 0, these never do)."""
    return _letters(seed, f"u{doc}.{sent}") + str(doc * 100 + sent + 10)


def pool_symbol(seed: int, j: int) -> str:
    return _letters(seed, f"p{j}") + "0" + str(j)


@lru_cache(maxsize=1)
def _templates() -> tuple[tuple[str, tuple[str, ...]], ...]:
    """(fixture sentence, swappable names in it), for the distinct fixture
    sentences that split to exactly one sentence and name at least one
    gene or family. Names are matched as whole tokens, longest first."""
    from reach_spark.extract import split_sentences
    from reach_spark.fixtures import fixture_sentences
    from reach_spark.resources import ENTITY_DICT_LABELS

    names = sorted({n for lab in _SWAP_LABELS for n in ENTITY_DICT_LABELS[lab]},
                   key=lambda n: (-len(n), n))
    out = []
    for s in sorted(set(fixture_sentences())):
        if len(split_sentences(s)) != 1:
            continue
        found: list[str] = []
        for n in names:
            if any(n in f or f in n for f in found):
                continue
            if re.search(_name_re(n), s):
                found.append(n)
        if found:
            out.append((s, tuple(found)))
    return tuple(out)


@lru_cache(maxsize=None)
def _name_re(name: str) -> re.Pattern:
    return re.compile(r"(?<![\w-])" + re.escape(name) + r"(?![\w-])")


def _swap(template: str, names: tuple[str, ...], symbols: list[str]) -> str:
    for n, sym in zip(names, symbols):
        template = _name_re(n).sub(sym, template)
    return template


def _interleave(seed: int, key: str, spans: list[tuple[str, str, str]]
                ) -> list[dict]:
    order = _ints(seed, key, len(spans), 10**6)
    ranked = [s for _, s in sorted(zip(order, spans))]
    return [{"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r) in enumerate(ranked)]


def diverse_documents(seed: int, n_docs: int) -> list[dict]:
    """`n_docs` documents with distinct sentences (see module docstring)."""
    tmpl = _templates()
    pool = max(16, n_docs // 4)
    docs = []
    for idx in range(n_docs):
        long = idx % LONG_EVERY == LONG_EVERY - 1
        k = LONG_SENTS if long else 1 + _ints(seed, f"k{idx}", 1, 3)[0]
        picks = _ints(seed, f"t{idx}", k, len(tmpl))
        spans = []
        for si, p in enumerate(picks):
            text, names = tmpl[p]
            syms = [unique_symbol(seed, idx, si)] + [
                pool_symbol(seed, j) for j in
                _ints(seed, f"s{idx}.{si}", len(names) - 1, pool)]
            spans.append(("text", _swap(text, names, syms), ""))
        doc_id = f"d{seed}_{idx:07d}"
        for m in range(_ints(seed, f"m{idx}", 1, 3)[0]):
            spans.append(("media", "", f"img://{doc_id}/{m}"))
        docs.append({"doc_id": doc_id,
                     "spans": _interleave(seed, f"o{idx}", spans)})
    return docs


def flagship_doc_ids(seed: int) -> list[int]:
    return list(range(seed * FLAGSHIP_DOCS, (seed + 1) * FLAGSHIP_DOCS))


def flagship_documents(seed: int) -> list[dict]:
    from reach_spark.fixtures import fixture_sentences
    sents = fixture_sentences()
    n = len(sents)
    return [{"doc_id": str(d), "spans": [
        {"kind": "text", "text": sents[d % n], "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": f"img://{d}", "offset": 1},
        {"kind": "text", "text": sents[(d * 7 + 3) % n], "media_ref": "",
         "offset": 2}]} for d in flagship_doc_ids(seed)]


def text_sentences(docs: list[dict]) -> list[str]:
    """Every sentence of every text span, split the way extraction
    splits them."""
    from reach_spark.extract import split_sentences
    return [s for d in docs for sp in d["spans"]
            if sp["kind"] == "text" and sp["text"]
            for s in split_sentences(sp["text"])]


def check_diverse(docs: list[dict]) -> None:
    """Raise unless no sentence repeats and the entity vocabulary grows
    with the document count."""
    sents = text_sentences(docs)
    if len(set(sents)) != len(sents):
        raise ValueError(f"{len(sents) - len(set(sents))} repeated "
                         "sentences in the diverse corpus")
    sym = re.compile(r"\b[" + _CONSONANTS + r"]{3}\d+\b")
    half = len(docs) // 2

    def vocab(ds):
        return {m for d in ds for sp in d["spans"]
                for m in sym.findall(sp["text"])}
    v_half, v_all = len(vocab(docs[:half])), len(vocab(docs))
    if not v_all > v_half > 0:
        raise ValueError(f"entity vocabulary does not grow: {v_half} "
                         f"symbols in the first half, {v_all} in all")


def write_documents(docs: list[dict], path: str) -> None:
    """Write `docs` as a documents table (reach_spark.schemas.DOCUMENTS)
    in FILES round-robin part files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                        pa.field("spans", pa.list_(span), nullable=False)])
    os.makedirs(path, exist_ok=True)
    for f in range(FILES):
        part = docs[f::FILES]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def write_doc_ids(ids: list[int], path: str) -> None:
    """The flagship's `documents` table as the oracle reads it (doc_id
    only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), path)


def write_checkpoint(doc_ids: list[str], path: str) -> None:
    """A `run_batch` checkpoint (`checkpoint_docs`: one doc_id column)
    marking `doc_ids` as done."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.string())}),
                   os.path.join(path, "part-00000.parquet"))
