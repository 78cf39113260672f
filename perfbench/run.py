"""reach-spark benchmark: one workload per run, a closed loop with one
client on local[nproc].

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 15 --trace 0

Each run builds its inputs from --seed, sets a Spark session up SETUPS
times (get_spark, KB load, first Python worker boot; the first set-up also
pays interpreter and JVM start), runs one warm-up unit, then repeats the
workload's unit for --seconds and checks every output. --trace 0 prints
the end-to-end metrics of BENCHMARK.json; --trace 1 also runs the layer
ledger (perfbench/workloads.py) with a span around every call into a
`reach_spark` module and prints the per-layer metrics, each layer's self
time and the tracing overhead. The spans are written to
perfbench/.work/traces/ when the run ends.

The last stdout line is the result JSON; the line before it carries the
run context (cores, hypervisor steal, sha1 calibration, versions, seed).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from reach_spark.grounding import kb_dataframe  # noqa: E402
from reach_spark.session import get_spark  # noqa: E402

from perfbench import sparkstats, workloads  # noqa: E402
from perfbench.trace import (Tracer, durations, layer_attr_sum,  # noqa: E402
                             layer_self_seconds, nesting_errors, self_times)

CORES = len(os.sched_getaffinity(0))
SETUPS = 3          # set-ups per run; setup_s is their median
MIN_UNITS = 2       # timed units per run, even when --seconds runs out
WORK = os.path.join(ROOT, "perfbench", ".work")


def _identity(batches):
    yield from batches


def setup_once(tracer: Tracer, work: str, t0: float) -> tuple[object, float]:
    """get_spark → KB loaded → one Python worker booted; seconds since t0."""
    with tracer.span("bench.setup"):
        with tracer.span("session.start"):
            spark = get_spark(app_name="perfbench", cores=CORES, extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
        with tracer.span("grounding.kb_load"):
            kb_dataframe(spark).count()
        with tracer.span("session.worker_boot"):
            spark.range(1).mapInPandas(_identity, "id long").count()
    return spark, time.perf_counter() - t0


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) >= 11 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def source_sha() -> str:
    """sha1 over the engine's source files (the checkout may not be a git
    repository)."""
    h = hashlib.sha1()
    base = os.path.join(ROOT, "reach_spark")
    for d, _s, files in sorted(os.walk(base)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(spans: list[dict], ctx: dict) -> dict[str, tuple]:
    """Per-layer metrics from the spans of one traced run."""
    med = statistics.median
    by_id = {s["id"]: s for s in spans}

    def under(s, name):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == name:
                return True
        return False

    ledger = [s for s in spans if under(s, "bench.ledger")]
    setups = [s for s in spans if s["name"] == "bench.setup"]

    def one(name, attr=None):
        s = next(s for s in ledger if s["name"] == name)
        return s["end"] - s["start"] if attr is None else s["attrs"][attr]

    m: dict[str, tuple] = {}
    m["session.start_s"] = (med(durations(spans, "session.start")), "s",
                            "lower")
    m["session.worker_boot_s"] = (med(durations(spans,
                                                "session.worker_boot")),
                                  "s", "lower")
    ann = durations(spans, "extract.annotate")
    cas = durations(spans, "extract.cascade")
    m["extract.annotate_ms"] = (1e3 * sum(ann) / len(ann), "ms", "lower")
    m["extract.cascade_ms"] = (1e3 * sum(cas) / len(cas), "ms", "lower")
    serial_rate = len(ann) / (sum(ann) + sum(cas))
    m["extract.sentences_per_s"] = (serial_rate, "1/s", "higher")

    mspan = next(s for s in ledger if s["name"] == "mentions")
    py = mspan["attrs"]["python"]
    m["mentions.wall_s"] = (one("mentions"), "s", "lower")
    m["mentions.rows"] = (mspan["attrs"]["rows"], "count", "lower")
    m["mentions.python_init_s"] = (py["pythonInitTime"] / 1e3, "s", "lower")
    m["mentions.python_udf_s"] = (py["pythonTotalTime"] / 1e3, "s", "lower")
    m["mentions.arrow_in_bytes"] = (py["pythonDataSent"], "bytes", "lower")
    m["mentions.arrow_out_bytes"] = (py["pythonDataReceived"], "bytes",
                                     "lower")
    m["mentions.task_max_over_median"] = (mspan["attrs"]["skew"], "ratio",
                                          "lower")
    e2e_rate = ctx["n_sentences"] / ctx["wall_s"]
    m["mentions.parallel_efficiency"] = (e2e_rate / (CORES * serial_rate),
                                         "ratio", "higher")

    m["grounding.kb_load_s"] = (med(durations(spans, "grounding.kb_load")),
                                "s", "lower")
    m["grounding.map_s"] = (one("grounding.map"), "s", "lower")
    m["grounding.join_s"] = (one("grounding.join"), "s", "lower")
    m["grounding.map_rows"] = (one("grounding.map", "rows"), "count",
                               "lower")
    m["context_ops.wall_s"] = (one("context_ops"), "s", "lower")
    m["coref.links_s"] = (one("coref.links"), "s", "lower")
    m["coref.resolve_s"] = (one("coref.resolve"), "s", "lower")
    m["coref.links"] = (one("coref.links", "rows"), "count", "higher")
    m["triples.occurrences_s"] = (one("triples.occurrences"), "s", "lower")
    m["triples.assemble_s"] = (one("triples.assemble"), "s", "lower")
    m["triples.occurrences"] = (one("triples.occurrences", "rows"), "count",
                                "higher")
    m["triples.eers"] = (one("triples.assemble", "rows"), "count", "higher")
    m["canonicalize.wall_s"] = (one("canonicalize"), "s", "lower")
    m["canonicalize.components"] = (one("canonicalize", "rows"), "count",
                                    "higher")
    m["pipeline.batch_s"] = (one("pipeline.batch"), "s", "lower")
    m["pipeline.bytes_written"] = (one("pipeline.batch", "bytes"), "bytes",
                                   "lower")
    m["pipeline.resume_skipped_docs"] = (one("pipeline.batch", "skipped"),
                                         "count", "higher")
    m["api.request_s"] = (one("api.request"), "s", "lower")
    m["fries.frames_s"] = (one("fries.frames"), "s", "lower")

    # jobs, tasks and self time per layer: the ledger's spans; for the
    # session layer, the mean over the set-ups
    st = self_times(spans)
    kids = [s for s in spans if s["parent"] in {x["id"] for x in setups}
            and s["name"].startswith("session.")]
    jobs = layer_attr_sum(ledger, "jobs")
    tasks = layer_attr_sum(ledger, "tasks")
    selfs = layer_self_seconds(ledger)
    n = len(setups)
    jobs["session"] = sum(s["attrs"].get("jobs", 0) for s in kids) / n
    tasks["session"] = sum(s["attrs"].get("tasks", 0) for s in kids) / n
    selfs["session"] = sum(st[s["id"]] for s in kids) / n
    for layer in ("session", "mentions", "grounding", "context_ops", "coref",
                  "triples", "canonicalize", "pipeline", "api", "fries"):
        m[f"{layer}.jobs"] = (jobs.get(layer, 0), "count", "lower")
        m[f"{layer}.tasks"] = (tasks.get(layer, 0), "count", "lower")
    for layer in ("session", "extract", "mentions", "grounding",
                  "context_ops", "coref", "triples", "canonicalize",
                  "pipeline", "api", "fries"):
        m[f"{layer}.self_s"] = (selfs.get(layer, 0.0), "s", "lower")
    dec = durations(spans, "bench.unit_decomposed")
    m["trace.overhead_s"] = (dec[0] - ctx["wall_s"], "s", "lower")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tracer = Tracer(run_id, enabled=bool(args.trace),
                    hooks=[sparkstats.JobGroups()])
    failed = attempted = 0
    errors: list[str] = []
    spark = None
    try:
        with tracer.span("bench.run", workload=args.workload,
                         seed=args.seed):
            setups = []
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                spark, dt = setup_once(tracer, work, T_PROCESS if i == 0
                                       else time.perf_counter())
                setups.append(dt)
            phase = {"setup": time.perf_counter() - T_PROCESS}
            t = time.perf_counter()
            wl = workloads.WORKLOADS[args.workload](args.seed, work)
            reference = expected = wl.reference()
            phase["inputs"] = time.perf_counter() - t
            t = time.perf_counter()
            with tracer.span("bench.warmup"):
                workloads.triples_unit(spark, wl.docs_path)
            phase["warmup"] = time.perf_counter() - t

            cal0 = bench._calibrate(500_000)
            tot0, st0 = bench._read_steal()
            gc0, jit0 = sparkstats.jvm_gc_jit_seconds(spark)
            walls: list[float] = []
            t_start = time.perf_counter()
            with sparkstats.PeakRss() as rss:
                while (time.perf_counter() - t_start < args.seconds
                       or attempted < MIN_UNITS):
                    attempted += 1
                    t = time.perf_counter()
                    try:
                        with tracer.span("bench.unit"):
                            got = workloads.triples_hash(
                                workloads.triples_unit(spark, wl.docs_path))
                    except Exception as exc:  # noqa: BLE001 — counted
                        traceback.print_exc()
                        failed += 1
                        errors.append(f"unit raised {exc!r}"[:300])
                        continue
                    walls.append(time.perf_counter() - t)
                    if expected is None:
                        expected = got
                    elif got != expected:
                        failed += 1
                        errors.append(f"unit output {got} != expected "
                                      f"{expected}")
            tot1, st1 = bench._read_steal()
            gc1, jit1 = sparkstats.jvm_gc_jit_seconds(spark)
            phase["units"] = time.perf_counter() - t_start
            cal1 = bench._calibrate(500_000)
            t = time.perf_counter()

            with tracer.span("bench.ledger"):
                if args.trace:
                    dec = workloads.decomposed_unit(spark, wl.docs_path,
                                                    tracer)
                    try:
                        if workloads.triples_hash(dec["rows"]) != expected:
                            errors.append("decomposed unit output differs")
                        errors += workloads.layer_probes(spark, wl, dec,
                                                         tracer)
                    finally:
                        for df in dec["persisted"]:
                            df.unpersist()
                per_sent = workloads.serial_extract(sorted(set(wl.sentences)),
                                                    tracer)
            errors += wl.final_errors(spark, per_sent)
            phase["checks"] = time.perf_counter() - t
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not walls:
        raise SystemExit(f"no unit completed: {errors}")
    wall = statistics.median(walls)
    wall_tail, pct = tail(walls)
    ctx = {
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        "n_docs": len(wl.docs), "n_sentences": len(wl.sentences),
        "units": len(walls), "wall_samples_s": walls, "wall_s": wall,
        "wall_tail_percentile": pct, "setup_samples_s": setups,
        "error_rate": failed / attempted, "errors": errors,
        "phase_s": phase, "output": expected, "reference": reference,
        "hypervisor_steal_pct": 100.0 * (st1 - st0) / max(tot1 - tot0, 1e-9),
        "calibration_mhash_per_s": [cal0, cal1],
        "units_jvm_gc_s": gc1 - gc0, "units_jvm_jit_s": jit1 - jit0,
        "git_sha": git_sha(), "source_sha": source_sha(),
        "spark_version": spark_version(),
        "python_version": platform.python_version(),
    }
    if args.trace:
        spans = tracer.spans
        errors += nesting_errors(spans)
        metrics = layer_metrics(spans, ctx)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{run_id}.jsonl")
        tracer.write(path)
        ctx["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s", "lower"),
            "docs_per_s": (len(wl.docs) / wall, "1/s", "higher"),
            "wall_s": (wall, "s", "lower"),
            "wall_tail_s": (wall_tail, "s", "lower"),
            "peak_rss_mb": (rss.peak / 2**20, "MB", "lower"),
        }
    for name, (v, unit, _b) in metrics.items():
        print(f"{args.workload} {name} = {v:.6g} {unit}")
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _b) in metrics.items()}}))
    return 0


def spark_version() -> str:
    import pyspark
    return pyspark.__version__


if __name__ == "__main__":
    sys.exit(main())
