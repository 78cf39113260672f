"""The benchmark's workloads: inputs from a seed, one unit of work, the
output checks, and the layer ledger (the same unit split at every layer
boundary, plus one probe of each layer the unit itself does not reach).

Why these two workloads:

- `flagship` is the shipped, DuckDB-oracled `kg_triples_flagship` query at
  sf0.1 (5,000 documents from 810 fixture sentences), repeated in a warm
  session. The per-partition sentence memo absorbs most extraction, so
  per-job Spark cost, the grounding join and the EER aggregate dominate.
- `diverse` runs the same triples-only pipeline over a generated corpus
  in which no sentence repeats and the entity vocabulary grows with the
  corpus, so the memo never hits: every sentence goes through the
  extraction `mapInPandas`, and the grounding map grows with the
  vocabulary. It bypasses the mechanism `flagship` exercises. At 1,500
  documents, the size that lets a run fit the benchmark's time budget,
  fixed per-job cost is still more than half of a unit; the ledger's
  `mentions.*` and `extract.*` metrics isolate the extraction share.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from perfbench import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
TRIPLE_COLS = ["subj", "pred", "obj", "negated", "seen"]
DIVERSE_DOCS = 1_500
PIPELINE_PROBE_DOCS = 16     # run_batch probe: 16 documents, 8 already done
PROBE_DOCS = 100             # coref/canonicalize/FRIES probes


def triples_hash(rows) -> tuple[int, str]:
    from tools.verify_oracles import value_hash
    return len(rows), value_hash(rows, TRIPLE_COLS)


def triples_unit(spark, docs_path: str):
    """documents → EER triples, as `kg_triples_flagship` runs it: coref
    off, lazy persists, one collect; the session's caches are released
    afterwards."""
    from reach_spark.pipeline import extract_dataframe
    docs = spark.read.parquet(docs_path)
    res = extract_dataframe(spark, docs, with_coref=False,
                            eager_persist=False)
    try:
        return res["triples"].select(*TRIPLE_COLS).collect()
    finally:
        res.cleanup()


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.docs_path = os.path.join(work, "docs")
        self.docs = self.make_docs()
        corpus.write_documents(self.docs, self.docs_path)
        self.sentences = corpus.text_sentences(self.docs)

    def make_docs(self) -> list[dict]:
        raise NotImplementedError

    def reference(self) -> tuple[int, str] | None:
        """(rows, hash) every unit must produce, when known up front."""
        return None

    def final_errors(self, spark, per_sent: dict) -> list[str]:
        """Checks run once after the timed units; `per_sent` is the
        one-thread extraction of every distinct sentence."""
        return []


class Flagship(Workload):
    name = "flagship"

    def make_docs(self):
        corpus.write_doc_ids(corpus.flagship_doc_ids(self.seed),
                             os.path.join(self.work, "documents.parquet"))
        return corpus.flagship_documents(self.seed)

    def reference(self):
        """The flagship's DuckDB oracle over this seed's documents table."""
        import duckdb
        import __spark_entry__ as entry
        con = duckdb.connect()
        try:
            path = os.path.join(self.work, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            cur = con.execute(entry.oracle_sql()["kg_triples_flagship"])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        finally:
            con.close()
        if cols != TRIPLE_COLS:
            raise RuntimeError(f"oracle columns {cols} != {TRIPLE_COLS}")
        return triples_hash(rows)


class Diverse(Workload):
    name = "diverse"

    def make_docs(self):
        docs = corpus.diverse_documents(self.seed, DIVERSE_DOCS)
        corpus.check_diverse(docs)
        return docs

    def reference(self):
        """The (rows, hash) recorded for this seed at the seed commit, if
        one was recorded (perfbench/expected.json)."""
        with open(os.path.join(HERE, "expected.json")) as fh:
            rec = json.load(fh)["diverse"].get(str(self.seed))
        if rec is None or rec["n_docs"] != DIVERSE_DOCS:
            return None
        return rec["rows"], rec["hash"]

    def final_errors(self, spark, per_sent):
        """Per-document mention counts from the Spark extraction stage
        equal one-thread extraction of the same sentences, for every
        document without doc-level alias instances (the alias rescan
        re-extracts those)."""
        from reach_spark.extract import split_sentences
        from reach_spark.mentions import extract_document_mentions
        got = {r["doc_id"]: r["count"] for r in
               extract_document_mentions(spark.read.parquet(self.docs_path))
               .groupBy("doc_id").count().collect()}
        errs, compared = [], 0
        for d in self.docs:
            ms = [per_sent[s] for sp in d["spans"] if sp["kind"] == "text"
                  for s in split_sentences(sp["text"])]
            if any(a for _n, a in ms):
                continue
            compared += 1
            want = sum(n for n, _a in ms)
            if got.get(d["doc_id"], 0) != want:
                errs.append(f"{d['doc_id']}: {got.get(d['doc_id'], 0)} "
                            f"mentions from Spark, {want} from one thread")
        if compared < len(self.docs) // 2:
            errs.append(f"only {compared} of {len(self.docs)} documents "
                        "were comparable")
        return errs[:5]


WORKLOADS = {w.name: w for w in (Flagship, Diverse)}


def serial_extract(sentences: list[str], tracer) -> dict[str, tuple[int, bool]]:
    """One thread, no Spark: annotate + cascade per sentence, a span around
    each call. Returns sentence -> (mentions, has alias instances)."""
    from reach_spark.extract import SentenceExtractor, annotate_sentence
    from reach_spark.resources import entity_dictionary
    dictionary = entity_dictionary()
    out = {}
    with tracer.span("bench.serial", sentences=len(sentences)):
        for s in sentences:
            with tracer.span("extract.annotate"):
                ann = annotate_sentence(s)
            with tracer.span("extract.cascade"):
                ms = SentenceExtractor("", 0, ann, dictionary,
                                       emit_generic=True).run()
            out[s] = (len(ms), any(str(m.get("found_by", "")).startswith(
                "alias-instance") for m in ms))
    return out


def decomposed_unit(spark, docs_path: str, tracer) -> dict:
    """`triples_unit` split at every layer boundary: each layer's output
    is persisted and counted inside its span (the same calls
    `pipeline.extract_dataframe` makes with coref off)."""
    from reach_spark.context_ops import assign_context
    from reach_spark.grounding import ground_map, kb_dataframe
    from reach_spark.mentions import extract_document_mentions
    from reach_spark.triples import assemble_triples, build_triple_occurrences

    from perfbench import sparkstats
    sc = spark.sparkContext
    docs = spark.read.parquet(docs_path)
    out: dict = {"persisted": []}

    def keep(df):
        out["persisted"].append(df.persist())
        return df

    with tracer.span("bench.unit_decomposed"):
        with tracer.span("mentions") as a:
            mentions = keep(extract_document_mentions(docs))
            a["rows"] = mentions.count()
        a.update(python=sparkstats.cached_plan_metrics(spark, mentions,
                                                       "MapInPandas"),
                 skew=sparkstats.skew(sc, a["stages"]))
        groundable = ((F.col("kind") == "tbm") &
                      ~F.col("label").startswith("Generic"))
        kb = kb_dataframe(spark)
        with tracer.span("grounding.map") as a:
            gmap = keep(ground_map(mentions.where(groundable), kb))
            a["rows"] = gmap.count()
        with tracer.span("grounding.join") as a:
            # the join-back of pipeline.extract_dataframe
            gk = F.concat_ws("\x01", "canonical", "label", "text")
            grounded = keep(
                mentions
                .withColumn("canonical",
                            F.when(groundable,
                                   F.coalesce("canonical", F.lower("text")))
                            .otherwise(F.col("canonical")))
                .withColumn("_gkey", F.when(groundable, gk))
                .join(F.broadcast(gmap.select(gk.alias("_gkey"), "g_ns",
                                              "g_id", "g_species")),
                      "_gkey", "left")
                .drop("_gkey"))
            a["rows"] = grounded.count()
        with tracer.span("context_ops") as a:
            context = keep(assign_context(grounded))
            a["rows"] = context.count()
        with tracer.span("triples.occurrences") as a:
            occ = keep(build_triple_occurrences(grounded, context, gmap=gmap))
            a["rows"] = occ.count()
        with tracer.span("triples.assemble") as a:
            rows = assemble_triples(occ).select(*TRIPLE_COLS).collect()
            a["rows"] = len(rows)
    out.update(rows=rows, docs=docs, grounded=grounded, context=context,
               groundable=groundable)
    return out


def layer_probes(spark, wl: Workload, dec: dict, tracer) -> list[str]:
    """The layers the triples-only unit does not reach, each run once on
    this workload's data: coref, canonicalization and the five FRIES frame
    builders over the ledger's tables restricted to the first PROBE_DOCS
    documents; one FRIES API request on the first document's text; and one
    `run_batch` call on the first PIPELINE_PROBE_DOCS documents resuming
    from a checkpoint that holds the first half of them. Returns
    output-check failures."""
    from reach_spark.annotate import annotate_sentences
    from reach_spark.api import annotate_text
    from reach_spark.canonicalize import canonical_entities
    from reach_spark.coref import coref_links, resolve_mentions
    from reach_spark.fries import (context_frames, entity_frames,
                                   event_frames, passage_frames,
                                   sentence_frames)
    from reach_spark.pipeline import run_batch

    errs = []
    ids = [d["doc_id"] for d in wl.docs[:PROBE_DOCS]]

    def sub(df):
        return df.where(F.col("doc_id").isin(ids))

    grounded = sub(dec["grounded"])
    with tracer.span("coref.links") as a:
        links = coref_links(grounded).persist()
        dec["persisted"].append(links)
        a["rows"] = links.count()
    with tracer.span("coref.resolve") as a:
        a["rows"] = resolve_mentions(grounded, links).count()
    with tracer.span("canonicalize") as a:
        a["rows"] = canonical_entities(grounded.where(dec["groundable"]),
                                       links).count()
    docs, context = sub(dec["docs"]), sub(dec["context"])
    with tracer.span("fries.frames") as a:
        a["rows"] = sum(len(df.toJSON().collect()) for df in (
            passage_frames(docs),
            sentence_frames(annotate_sentences(docs)),
            entity_frames(grounded),
            event_frames(grounded, context),
            context_frames(context)))

    text = next(sp["text"] for sp in wl.docs[0]["spans"]
                if sp["kind"] == "text")
    with tracer.span("api.request"):
        resp = annotate_text(spark, text, out_format="fries")
    errs += fries_errors(resp)

    half = PIPELINE_PROBE_DOCS // 2
    probe = os.path.join(wl.work, "probe_docs")
    corpus.write_documents(wl.docs[:PIPELINE_PROBE_DOCS], probe)
    out_dir = os.path.join(wl.work, "batch_out")
    corpus.write_checkpoint([d["doc_id"] for d in wl.docs[:half]],
                            os.path.join(out_dir, "checkpoint_docs"))
    with tracer.span("pipeline.batch") as a:
        counts = run_batch(spark, spark.read.parquet(probe), out_dir)
        a["skipped"] = PIPELINE_PROBE_DOCS - counts["docs"]
        a["bytes"] = dir_bytes(out_dir)
    if counts["docs"] != PIPELINE_PROBE_DOCS - half or not counts["triples"]:
        errs.append(f"resumed run_batch returned {counts}, expected "
                    f"{PIPELINE_PROBE_DOCS - half} documents and triples")
    return errs


def fries_errors(resp: dict) -> list[str]:
    if resp.get("hasError"):
        return [f"API request failed: {resp.get('errorMessage')}"]
    try:
        frames = json.loads(resp["result"])
    except ValueError as exc:
        return [f"API result does not parse: {exc}"]
    if not frames.get("entities"):
        return ["API result has no entity frame"]
    return []


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs)

