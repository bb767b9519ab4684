"""Per-layer tracing from outside the program.

A traced run calls each layer's public function in turn, under its own
Spark job group, and forces the layer's output before the span closes, so
every job a layer starts is attributed to it. Task metrics come from the
Spark event log (uncompressed, not rolling) read after the session stops.
The event log's ``Executor CPU Time`` covers only the JVM task threads, so
each span also reads the CPU of the JVM's descendant processes (the Python
daemon and the Arrow UDF workers it forks) from ``/proc``.
The glue between the operator calls mirrors ``bern_spark.pipeline``; the
traced run checks that its connected-components labels equal the
``surface_labels`` of a whole ``resolve_entities`` call, so the two cannot
drift apart unnoticed.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("extract", "normalize", "blocking", "scoring", "cc", "pipeline", "lineage")

# Counters read from the event log, summed over the tasks of a job group.
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat(int(d))[1]), []).append(int(d))
            except OSError:
                continue
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def children_cpu_s(root: int) -> float:
    """User and system CPU seconds of the processes below ``root``, with
    those of their exited, reaped children."""
    total = 0
    for pid in descendants(root):
        try:
            f = _stat(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime, stime, cutime, cstime
    return total / _TICK


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


class Tracer:
    """Spans over job groups: wall time in Python, CPU of the JVM's
    descendant processes (``python_cpu_s``), and rows out by a count made
    after the span closes (under the ``aux`` group)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = jvm_pid(spark)
        self.spans: dict[str, dict] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        cpu = children_cpu_s(self.jvm)
        t = time.perf_counter()
        try:
            yield self.spans.setdefault(name, {})
        finally:
            self.spans[name]["wall_s"] = time.perf_counter() - t
            self.spans[name]["python_cpu_s"] = children_cpu_s(self.jvm) - cpu
            self.sc.setJobGroup("aux", "aux")


def force(df):
    """Materialize ``df`` once and return the materialized frame."""
    return df.localCheckpoint(eager=True)


def decompose(tr: Tracer, transcripts, lexicon, dicts, cfg):
    """Run extract -> normalize -> blocking -> scoring -> cc as separate
    spans; returns the CC labels (node, cluster_id) as a frame."""
    from pyspark.sql import functions as F

    from bern_spark.operators.blocking import candidate_pairs, with_block_keys
    from bern_spark.operators.cc import connected_components
    from bern_spark.operators.extract import extract_mentions
    from bern_spark.operators.normalize import CUI_LESS, normalize_all
    from bern_spark.operators.scoring import score_pairs

    def snode(c):
        return F.concat_ws("#", F.lit("sf"), F.col("etype"), c)

    with tr.span("extract") as s:
        mentions = force(extract_mentions(transcripts, lexicon))
    s["rows_out"] = mentions.count()
    with tr.span("normalize") as s:
        normalized = force(
            normalize_all(mentions, dicts).withColumn("node", F.concat_ws("@", "etype", "mention_id"))
        )
    s["rows_out"] = normalized.count()
    with tr.span("blocking") as s:
        surf_oid = force(normalized.select("etype", "mention", "oid").dropDuplicates(["etype", "mention"]))
        surfaces = surf_oid.select("etype", F.col("mention").alias("surface"))
        pairs = force(
            candidate_pairs(with_block_keys(surfaces), max_block_size=cfg.max_block_size, use_lsh=cfg.use_lsh)
        )
    s["rows_out"] = pairs.count()
    s["surfaces"] = surf_oid.count()
    with tr.span("scoring") as s:
        scored = force(score_pairs(pairs, threshold=cfg.score_threshold))
    s["rows_out"] = scored.count()
    with tr.span("cc") as s:
        edges = scored.select(snode(F.col("mention_a")).alias("src"), snode(F.col("mention_b")).alias("dst"))
        edges = force(
            edges.unionByName(
                surf_oid.where(F.col("oid") != CUI_LESS).select(
                    snode(F.col("mention")).alias("src"),
                    F.concat_ws(":", F.lit("oid"), "etype", "oid").alias("dst"),
                )
            )
        )
        labels = force(connected_components(edges, max_iter=cfg.max_cc_iter))
    s["rows_out"] = labels.count()
    s["edges"] = edges.count()
    return labels


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, failed tasks, executor
    CPU and GC seconds, shuffle bytes written and bytes spilled."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    with open(os.path.join(log_dir, name), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out[g]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                out[stage_group.get(ev["Stage Info"]["Stage ID"])]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = out[stage_group.get(ev["Stage ID"])]
                tm = ev.get("Task Metrics") or {}
                m["tasks"] += 1
                m["failed_tasks"] += ev["Task End Reason"]["Reason"] != "Success"
                m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return dict(out)
