"""Benchmark of the ER pipeline (``bern_spark.pipeline.resolve_entities``).

Usage, from the repository root:

    python3 perfbench/run.py --workload corpus_wide --seed 1 --seconds 5 --trace 0

One process drives one Spark session, ``local[<nproc>]``, and runs one
pipeline at a time in a closed loop. A run is timed from the input
DataFrames to the materialized per-turn ``annotations`` output, which
depends on every stage.

``--trace 0`` (timed):
  1. set-up: session start, input load, and a first run, discarded;
  2. runs for ``--seconds`` (at least one), each in its own job group, with
     Python and JVM GC between runs; walls and job counts are reported as
     medians.
  Every timed run's output is checked (``checks.py``); a run that raises
  or fails a check counts as failed. The event log is off.

``--trace 1`` (per layer): with the Spark event log on, spans for a fresh
durable run (``lineage``, also the warm-up) and its resume, the whole
``resolve_entities`` call (``pipeline``), and each operator layer called
from outside (``layers.py``).

The last stdout line is one JSON object: correct, attempted, failed and
metrics (``name -> {value, unit}``). A machine record (core count, memory,
versions and a fixed-work calibration probe) is printed on the line
before it and appended, with the result, to ``.perfbench/runs.jsonl``.
Inputs are cached per workload size, seed and generator source under
``.perfbench/cache``.

The session is ``bern_spark.session.get_spark`` with its defaults, except
the two settings named at ``SESSION_ENV``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

# For each layer: the end-to-end metrics it should move, the workloads
# where it should move them, and those where it should not (the
# benchmark's prediction table). Basis, traced runs on 4 cores:
# extract+normalize 3.8-4.4 s on corpus_wide vs 2.4-2.7 s on vocab_wide,
# blocking+scoring 2.9-3.9 s vs 6.7-7.5 s, CC 2.3-3.2 s and 40 of the 67
# jobs on both.
MOVES = {
    "extract": {"moves": ["turns_per_s"], "on": ["corpus_wide"], "not_on": ["vocab_wide"]},
    "normalize": {"moves": ["turns_per_s"], "on": ["corpus_wide"], "not_on": ["vocab_wide"]},
    "blocking": {"moves": ["turns_per_s", "pair_f1"], "on": ["vocab_wide"], "not_on": ["corpus_wide"]},
    "scoring": {"moves": ["turns_per_s", "pair_f1"], "on": ["vocab_wide"], "not_on": ["corpus_wide"]},
    # vocab_wide first; its job count is part of the floor on both
    "cc": {"moves": ["turns_per_s", "jobs_per_run"], "on": ["vocab_wide", "corpus_wide"], "not_on": []},
    "pipeline": {
        "moves": ["turns_per_s", "jobs_per_run", "peak_rss_mb"],
        "on": ["corpus_wide", "vocab_wide"],
        "not_on": [],
    },
    # measured in traced runs only: a timed run has no room for a durable
    # write and a resume, so no end-to-end metric covers this layer
    "lineage": {"moves": [], "on": ["corpus_wide", "vocab_wide"], "not_on": []},
}

E2E = ("turns_per_s", "setup_s", "jobs_per_run", "peak_rss_mb", "pair_f1")

UNITS = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "jobs_per_run": "count",
    "peak_rss_mb": "MB",
    "pair_f1": "ratio",
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "rows_out": "count",
    "cpu_s": "s",
    "python_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "extract.mentions_per_turn": "ratio",
    "blocking.pairs_per_surface": "ratio",
    "scoring.edge_yield": "ratio",
    "cc.nodes": "count",
    "cc.edges": "count",
    "pipeline.decomposed_s": "s",
    "pipeline.trace_overhead_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.stage_tables": "count",
    "lineage.resume_s": "s",
    "lineage.resume_jobs": "count",
}


def unit_of(name: str) -> str:
    return UNITS.get(name) or UNITS[name.split(".", 1)[1]]


def machine_record() -> dict:
    """Facts about the machine, and a fixed amount of single-threaded
    Python work timed as a calibration probe."""
    import pyspark

    t = time.perf_counter()
    h = b""
    for i in range(200_000):
        h = hashlib.sha256(h + i.to_bytes(4, "little")).digest()
    probe = time.perf_counter() - t
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "calibration_s": round(probe, 4),
    }


# -- session ---------------------------------------------------------------


# The two settings in which the benchmark leaves get_spark's defaults:
# - shuffle partitions = nproc, not max(nproc, 32): 32 tasks per shuffle on
#   4 cores added ~10 s to each process, past the benchmark's time budget;
# - a 2g driver heap, not 8g: the 8g heap grew the driver to 2.8-4.3 GB RSS
#   on a shared machine, for inputs that run in 2g (1.7-2.4 GB RSS).
SESSION_ENV = {"SPARK_GRAFT_SHUFFLE_PARTITIONS": str(os.cpu_count() or 1), "SPARK_GRAFT_DRIVER_MEM": "2g"}


def start_spark(work: str, event_log: str | None):
    """A session from ``bern_spark.session.get_spark``: ``local[<nproc>]``,
    ``SESSION_ENV``, and the benchmark's own settings (progress bar, work
    directories, event log); everything else is get_spark's default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for knob in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.update(SESSION_ENV)
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (launcher and driver) keeps its temporary
    # files in the work directory and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import bern_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": str(event_log is not None).lower(),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from bern_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus that of its largest descendant (the
    Python workers are forked by a daemon the JVM starts)."""
    from layers import descendants, jvm_pid

    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                return int(next(line for line in f if line.startswith("VmHWM")).split()[1])
        except (OSError, StopIteration):
            return 0

    jvm = jvm_pid(spark)
    return (hwm_kb(jvm) + max(map(hwm_kb, descendants(jvm)), default=0)) / 1024


# -- inputs and one run ----------------------------------------------------


class Bench:
    def __init__(self, spark, data_dir: str, store_dir: str):
        import pyarrow.parquet as pq

        from bern_spark.pipeline import ERConfig

        self.spark = spark
        self.sc = spark.sparkContext
        self.cfg = ERConfig()
        self.store_dir = store_dir
        from pyspark.sql.pandas.types import from_arrow_schema

        def read(name: str):
            # the schema comes from the footer, read here: inferring it
            # costs Spark a job per table
            path = os.path.join(data_dir, f"{name}.parquet")
            return spark.read.schema(from_arrow_schema(pq.read_schema(path))).parquet(path)

        self.transcripts = read("transcripts")
        self.lexicon = read("lexicon")
        self.dicts = {
            n: read(n)
            for n in (
                "dict_gene", "dict_disease", "dict_drug", "dict_species", "dict_mutation",
                "dict_gene_oldbest", "dict_gene_freq", "meta_gene", "meta_disease", "meta_drug",
            )
        }
        with open(os.path.join(data_dir, "meta.json"), encoding="utf-8") as f:
            self.turns = json.load(f)["turns"]
        truth = pq.read_table(os.path.join(data_dir, "truth.parquet")).to_pylist()
        self.truth = {(r["etype"], r["surface"]): r["entity"] for r in truth}
        self.expected_text = None

    def resolve(self, durable: bool = False):
        """One pipeline run with its annotations materialized; returns
        (annotations, result dict)."""
        from bern_spark.lineage import LineageStore
        from bern_spark.pipeline import resolve_entities

        store = LineageStore(self.store_dir) if durable else None
        res = resolve_entities(
            self.transcripts, self.lexicon, self.dicts, config=self.cfg, lineage_store=store
        )
        return res["annotations"].localCheckpoint(eager=True), res

    def check(self, ann):
        from pyspark.sql import functions as F

        from bern_spark.functions.text import canonical_text
        from checks import check_annotations, pair_f1

        if self.expected_text is None:
            rows = self.transcripts.select("conv_id", "turn_idx", canonical_text("text").alias("t"))
            self.expected_text = {(r["conv_id"], r["turn_idx"]): r["t"] for r in rows.toArrow().to_pylist()}
        deno = F.transform("denotations", lambda d: d.dropFields("oid", "norm_ids"))
        rows = ann.select("conv_id", "turn_idx", "text", deno.alias("denotations")).toArrow().to_pylist()
        rc = check_annotations(rows, self.expected_text)
        rc.f1 = pair_f1(rc.clusters, self.truth)
        return rc

    def clean(self) -> None:
        """Release the previous run's blocks: Python GC drops the frames,
        JVM GC lets Spark's cleaner unpersist their checkpoints."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()


class Outcomes:
    """Checked runs: attempted, failed, and the agreement of row and
    denotation counts across all runs of one seed."""

    def __init__(self, expect_path: str):
        self.attempted = 0
        self.failed = 0
        self.f1: list[float] = []
        self.counts: set[tuple[int, int]] = set()
        self.expect_path = expect_path

    def run(self, label: str, fn):
        """Call ``fn`` -> (wall, RunCheck); record the outcome and return
        the wall, or None when the run raised or failed a check."""
        self.attempted += 1
        try:
            wall, rc = fn()
        except Exception:  # a failed operation, counted; the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.f1.append(rc.f1)
        self.counts.add((rc.rows, rc.denotations))
        if rc.n_violations:
            print(f"{label}: {rc.n_violations} violations: {rc.violations}", file=sys.stderr)
            self.failed += 1
            return None
        return wall

    def finish(self) -> bool:
        """Row and denotation counts must agree within this process; the
        row count must also agree with earlier processes on the same
        inputs (kept next to the cached inputs)."""
        ok = self.failed == 0 and len(self.counts) == 1
        if ok:
            ((rows, _),) = self.counts
            if os.path.exists(self.expect_path):
                with open(self.expect_path, encoding="utf-8") as f:
                    ok = json.load(f)["rows"] == rows
                if not ok:
                    print(f"{rows} rows differ from earlier runs of these inputs", file=sys.stderr)
            else:
                with open(self.expect_path, "w", encoding="utf-8") as f:
                    json.dump({"rows": rows}, f)
        elif len(self.counts) > 1:
            print(f"row/denotation counts differ between runs: {sorted(self.counts)}", file=sys.stderr)
        return ok


def timed(b: Bench, out: Outcomes, seconds: float, t0: float) -> dict:
    b.sc.setJobGroup("setup", "setup")
    b.resolve()  # the first run in a process pays JIT and worker start-up: discarded
    setup_s = time.perf_counter() - t0
    print(f"setup {setup_s:.2f}s", file=sys.stderr)

    walls: list[float] = []
    jobs: list[int] = []

    def one(group: str):
        b.sc.setJobGroup(group, group)
        t = time.perf_counter()
        ann, _ = b.resolve()
        wall = time.perf_counter() - t
        jobs.append(len(b.sc.statusTracker().getJobIdsForGroup(group)))
        return wall, b.check(ann)

    start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - start < seconds:
        b.clean()
        w = out.run(f"run {i}", lambda: one(f"run-{i}"))
        print(f"run {i}: {w}s", file=sys.stderr)
        if w is not None:
            walls.append(w)
        i += 1
    if not walls:
        raise RuntimeError("no timed run passed its checks")
    return {
        "turns_per_s": b.turns / statistics.median(walls),
        "setup_s": setup_s,
        "jobs_per_run": statistics.median(jobs),
        "peak_rss_mb": peak_rss_mb(b.spark),
        "pair_f1": min(out.f1),
    }


def traced(b: Bench, out: Outcomes, event_log: str) -> dict:
    """Per-layer numbers; the session must be stopped (flushing the event
    log) before ``finish_trace`` reads them."""
    from layers import Tracer, decompose

    tr = Tracer(b.spark)
    shutil.rmtree(b.store_dir, ignore_errors=True)

    def run(durable: bool, span: str):
        with tr.span(span) as s:
            ann, res = b.resolve(durable=durable)
        s["rows_out"] = ann.count()
        return s["wall_s"], b.check(ann), res

    # The fresh durable run comes first and doubles as the process's
    # warm-up, so lineage.wall_s and its CPU and GC include the first-run
    # cost; its job, row and byte counts do not depend on it.
    out.run("lineage span", lambda: run(True, "lineage")[:2])
    store = {
        "bytes_written": sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(b.store_dir) for f in fs
        ),
        "stage_tables": sum(f.endswith(".manifest.json") for f in os.listdir(b.store_dir)),
    }
    b.clean()
    out.run("resume span", lambda: run(True, "lineage_resume")[:2])
    b.clean()
    ref = {}

    def pipeline():
        wall, rc, res = run(False, "pipeline")
        ref["labels"] = {(r["node"], r["cluster_id"]) for r in res["surface_labels"].collect()}
        return wall, rc

    out.run("pipeline span", pipeline)
    b.clean()
    labels = decompose(tr, b.transcripts, b.lexicon, b.dicts, b.cfg)
    got = {(r["node"], r["cluster_id"]) for r in labels.collect()}
    if got != ref.get("labels"):
        print("decomposed CC labels differ from resolve_entities surface_labels", file=sys.stderr)
        out.failed += 1
    out.attempted += 1
    return {"spans": tr.spans, "store": store}


def finish_trace(t: dict, event_log: str, turns: int) -> dict:
    from layers import COUNTERS, LAYERS, event_log_metrics

    spans, counters = t["spans"], event_log_metrics(event_log)
    m: dict[str, float] = {}
    for layer in LAYERS:
        c = counters.get(layer, dict.fromkeys(COUNTERS, 0))
        m[f"{layer}.wall_s"] = spans[layer]["wall_s"]
        for k in COUNTERS:
            m[f"{layer}.{k}"] = c[k]
        # JVM task threads (event log) plus the Python workers (/proc)
        m[f"{layer}.python_cpu_s"] = spans[layer]["python_cpu_s"]
        m[f"{layer}.cpu_s"] = c["cpu_s"] + spans[layer]["python_cpu_s"]
        m[f"{layer}.rows_out"] = spans[layer]["rows_out"]
    decomposed = sum(spans[layer]["wall_s"] for layer in ("extract", "normalize", "blocking", "scoring", "cc"))
    m["extract.mentions_per_turn"] = spans["extract"]["rows_out"] / turns
    m["blocking.pairs_per_surface"] = spans["blocking"]["rows_out"] / max(spans["blocking"]["surfaces"], 1)
    m["scoring.edge_yield"] = spans["scoring"]["rows_out"] / max(spans["blocking"]["rows_out"], 1)
    m["cc.nodes"] = spans["cc"]["rows_out"]
    m["cc.edges"] = spans["cc"]["edges"]
    m["pipeline.decomposed_s"] = decomposed
    # operator spans minus one whole traced call: what forcing each layer's
    # output adds, less the attach step the operator spans leave out
    m["pipeline.trace_overhead_s"] = decomposed - spans["pipeline"]["wall_s"]
    m["lineage.bytes_written"] = t["store"]["bytes_written"]
    m["lineage.stage_tables"] = t["store"]["stage_tables"]
    m["lineage.resume_s"] = spans["lineage_resume"]["wall_s"]
    m["lineage.resume_jobs"] = counters.get("lineage_resume", {}).get("jobs", 0)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bern_spark")):
        print(f"error: no bern_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen

    if args.workload not in gen.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(gen.WORKLOADS)}", file=sys.stderr)
        return 2

    data_dir = gen.cached(args.workload, args.seed, os.path.join(OUT, "cache"))
    machine = machine_record()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    event_log = os.path.join(work, "events") if args.trace else None
    t0 = time.perf_counter()
    spark = start_spark(work, event_log)
    try:
        b = Bench(spark, data_dir, os.path.join(work, "store"))
        out = Outcomes(os.path.join(data_dir, "expect.json"))
        if args.trace:
            t = traced(b, out, event_log)
        else:
            metrics = timed(b, out, args.seconds, t0)
    finally:
        stop_spark(spark)
    if args.trace:
        metrics = finish_trace(t, event_log, b.turns)
    elif set(metrics) != set(E2E):
        raise RuntimeError(f"timed metrics {sorted(metrics)} differ from {E2E}")
    correct = out.finish()
    shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    with open(os.path.join(OUT, "runs.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                            "machine": machine, **result}) + "\n")
    print("machine " + json.dumps(machine))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
