"""Record the `diverse` workload's output (triples row count and
order-insensitive hash) for a range of seeds into perfbench/expected.json,
which run.py then checks every unit against.

    python3 perfbench/record_expected.py 0 63     # seeds 0..63 inclusive

Run it only on a commit whose output is known good: it records whatever
the program produces.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, run, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def main(lo: int, hi: int) -> None:
    path = os.path.join(workloads.HERE, "expected.json")
    with open(path) as fh:
        rec = json.load(fh)
    work = os.path.join(run.WORK, f"record-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark, _ = run.setup_once(Tracer("record", enabled=False), work, 0.0)
    try:
        for seed in range(lo, hi + 1):
            docs_path = os.path.join(work, f"docs-{seed}")
            docs = corpus.diverse_documents(seed, workloads.DIVERSE_DOCS)
            corpus.check_diverse(docs)
            corpus.write_documents(docs, docs_path)
            rows, h = workloads.triples_hash(
                workloads.triples_unit(spark, docs_path))
            rec["diverse"][str(seed)] = {
                "n_docs": workloads.DIVERSE_DOCS, "rows": rows, "hash": h}
            print(seed, rows, h, flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    rec["diverse"] = dict(sorted(rec["diverse"].items(),
                                 key=lambda kv: int(kv[0])))
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
