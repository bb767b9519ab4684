"""Transitive clustering: connected components over match edges.

The fixpoint generalization of the reference's one-hop gene-ID merge map
(``eid = goid2goid.get(eid, eid)``, normalize.py:89-95,591-592) — SURVEY
§2.3 J6. Two plans, chosen from the measured graph size (the runtime
broadcast-or-partition decision of "To Partition, or Not to Partition,
That is the Join Question", SIGMOD'21):

- **driver union-find** — without a lineage store, one bounded collect
  (``limit(driver_max_edges + 1)``) of the canonical edge rows. If the
  graph fits (default bound 200k edge rows), a union-find on the driver
  labels it and the labels come back as a broadcast local relation: one
  Spark job instead of ~2 per star round. The clustering graph of
  ``resolve_entities`` is vocabulary-sized, so this is the common case.
- **large-star / small-star** (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) entirely in DataFrame ops, above the
  bound or with a lineage store (durable, resumable iterations):

  - large-star: for each node u, connect every *strictly larger* neighbor
    to u's minimum neighborhood node (incl. u);
  - small-star: connect every neighbor <= u (and u) to the minimum.

  Each round is a groupBy-shuffle on node id; convergence when the edge
  set stops changing. Per-iteration ``localCheckpoint`` truncates lineage
  so plans don't grow across iterations (SURVEY §7 hard part e).

Node ids are arbitrary strings; ordering is lexicographic (Spark's binary
UTF-8 order, which equals Python's code-point order for ``str``), which
is stable and deterministic — cluster id = min member id on both plans.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )


def _driver_labels(spark, src: list, dst: list) -> DataFrame:
    """Label canonical (src <= dst) pairs with a driver-side union-find in
    which the smaller root always wins, so every root is its component's
    minimum id. Duplicate pairs are no-ops and self-loops register their
    node; a null endpoint survives ``least``/``greatest`` only as the pair
    (null, null) and labels as null, exactly as on the star path."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for s, d in zip(src, dst):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs
    nodes = list(parent)
    pdf = pd.DataFrame(
        {"node": nodes, "cluster_id": [find(n) for n in nodes]}, dtype=object
    )
    return F.broadcast(spark.createDataFrame(pdf, "node string, cluster_id string"))


def _sig_h_col() -> F.Column:
    """Order-insensitive edge-set hash aggregate — THE convergence
    signature expression, used both by the in-memory signature scan and
    as the durable stage's write-pass metric. One definition: if the two
    ever diverged, equal edge sets would never compare equal under
    checkpoint_every > 1 and every durable run would silently burn
    max_iter iterations."""
    return F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star round.

    Input/output: canonical undirected edge list (src < dst).

    Fully relational — no ``collect_set``: materializing a node's whole
    neighborhood as one array puts a high-degree node (a popular oid
    anchor linked to millions of surfaces) into a single task's memory.
    Instead the per-node minimum is a plain min() aggregate (partial
    map-side combine, no wide rows) joined back to the neighbor relation;
    AQE's skew-join splitting can then shard even a 10^8-degree node's
    neighbor rows across tasks.
    """
    # neighborhood view: for each node u, its neighbors (both directions)
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    # m(u) = min over {u} ∪ neighbors(u); min() aggregates scale to any
    # degree because partial aggregation collapses per-partition first
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mv"))
    m = mins.select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
    j = nbrs.join(m, "u")
    if large:
        # connect neighbors > u to m(u)
        out = j.where(F.col("v") > F.col("u")).select(
            F.col("v").alias("src"), F.col("m").alias("dst")
        )
    else:
        # connect neighbors <= u (and u itself) to m(u)
        out = j.where(F.col("v") <= F.col("u")).select(
            F.col("v").alias("src"), F.col("m").alias("dst")
        ).unionAll(m.select(F.col("u").alias("src"), F.col("m").alias("dst")))
    return _canonical_undirected(out)


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint_every: int = 1,
    lineage_store=None,
    fingerprint: str | None = None,
    stage_prefix: str = "cc",
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Return (node, cluster_id) with cluster_id = min node id in component.

    ``edges``: DataFrame with string columns (src, dst). Self-loops and
    duplicates tolerated.

    ``driver_max_edges``: without a ``lineage_store``, a graph of at most
    this many edge rows (duplicates and self-loops counted) is collected
    and labelled by a driver-side union-find, returned as a broadcast
    local relation; larger graphs, or any graph with a store, run the
    star loop. 0 runs the star loop on any non-empty graph. At the bound
    the driver path is still ~10x faster: on 4 local cores a random
    2x10^5-edge graph (2x10^5 nodes, 15k components) labelled in
    1.9-4.3 s against 22-35 s and 126 jobs for the star loop.

    ``checkpoint_every`` must be >= 1: each star round references its
    input along ~4 plan branches, so without periodic lineage truncation
    the logical plan grows ~16x PER ITERATION and the driver dies on plan
    analysis long before any data-size limit — there is no valid
    "never checkpoint" mode for this algorithm.

    ``lineage_store`` (a ``bern_spark.lineage.LineageStore``) makes the
    iteration checkpoints DURABLE: each checkpointed edge set lands as a
    parquet stage ``{stage_prefix}_iter_NNN`` keyed by ``fingerprint``,
    so a driver killed mid-fixpoint (CC on 10^8 surface nodes runs
    minutes of iterations) resumes by fast-forwarding through completed
    iterations — per completed iteration the replay cost is one manifest
    read plus one signature aggregate over the stage parquet, never a
    star-round recompute. ``fingerprint`` is REQUIRED with a store and
    must identify the edge set and CC config (resolve_entities passes
    its pipeline fingerprint; the stage names carry the iteration
    index). Without a store, checkpoints are in-memory localCheckpoints
    (single-process lifetime), exactly as before.
    """
    if checkpoint_every < 1:
        raise ValueError(
            "checkpoint_every must be >= 1: the star-round plan tree grows "
            "~16x per iteration without lineage truncation (driver OOM on "
            "plan analysis)"
        )
    if lineage_store is not None and fingerprint is None:
        raise ValueError(
            "lineage_store requires a fingerprint identifying the edge set "
            "and CC config — resuming another run's iteration stages would "
            "silently mix edge sets"
        )
    spark = edges.sparkSession

    if lineage_store is None:
        # self-loops are kept so that a node seen only on a self-loop is
        # still labelled; the extra row is the bound's probe. No Spark-side
        # dedup: the union-find absorbs duplicates, and the shuffle a
        # dedup needs would cost a job and, above the bound, a full pass
        head = (
            edges.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
            )
            .limit(driver_max_edges + 1)
            .toArrow()
        )
        if head.num_rows <= driver_max_edges:
            return _driver_labels(
                spark, head.column("src").to_pylist(), head.column("dst").to_pylist()
            )

    if lineage_store is not None:
        def _ckpt(df: DataFrame, tag: str, eager: bool = True) -> DataFrame:
            # ``eager`` is the in-memory path's knob; a durable stage is
            # always materialized by its write pass
            # run_stage: computes+writes once, reads back on resume with
            # a matching fingerprint — the read-back is a fresh parquet
            # scan, so it is lineage-truncated exactly like a checkpoint.
            # The convergence signature rides the write-pass observation
            # into the manifest, so a durable iteration costs ONE pass
            # over the edges (write), not write + signature re-scan.
            return lineage_store.run_stage(
                spark,
                f"{stage_prefix}_{tag}",
                lambda: df,
                fingerprint=fingerprint,
                extra_metrics={"sig_h": _sig_h_col()},
            )

        def _stage_sig(tag: str):
            man = lineage_store.read_manifest(f"{stage_prefix}_{tag}") or {}
            m = man.get("metrics") or {}
            if man.get("status") == "complete" and "sig_h" in m:
                return (str(man["rows"]), m["sig_h"])
            return None  # pre-metrics manifest: caller scans instead
    else:
        def _ckpt(df: DataFrame, tag: str, eager: bool = False) -> DataFrame:
            # LAZY by default (round-7): every in-memory checkpoint here
            # is immediately followed by the _sig aggregate, so the
            # signature action materializes the checkpoint blocks in the
            # SAME job — an eager checkpoint ran a separate
            # materialization job per iteration for nothing. Call sites
            # that unpersist predecessors WITHOUT an intervening action
            # (the deferred-release exit path) pass eager=True: a lazy
            # checkpoint still needs its predecessors' blocks until first
            # materialization.
            return df.localCheckpoint(eager=eager)

        def _stage_sig(tag: str):
            return None

    # NOT persisted: no action inside this function ever materializes the
    # node relation (it is consumed only by the caller's first action on
    # the returned labels), so the old persist()+unpersist() pair filled
    # nothing and merely registered/unregistered cache entries (round-7).
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    # localCheckpoint only (no Dataset-level persist first): an eager
    # checkpoint materializes its own RDD blocks, and a persist() before
    # it would ALSO register the pre-checkpoint plan in the CacheManager
    # — an entry the rebind orphans, leaking one full edge-set cache per
    # checkpoint for the session lifetime (code-review r4)
    e = _ckpt(_canonical_undirected(edges), "init")

    def _sig(df: DataFrame):
        # one aggregate job: (row count, order-insensitive xxhash sum) —
        # canonical edge sets are equal iff signatures are equal (hash
        # collision odds ~2^-64 per iteration; acceptable for a
        # convergence check that only ever stops a loop *early*).
        # Stringified so it compares consistently with manifest-sourced
        # signatures (the durable path stores metrics as strings).
        r = df.agg(
            F.count("*").alias("n"), _sig_h_col().alias("h")
        ).collect()[0]
        return (str(r["n"]), str(r["h"]))

    sig = _stage_sig("init") or _sig(e)
    converged = False
    prev_e = e
    # Predecessors a cache-only successor may still need for recompute:
    # a localCheckpoint'd DataFrame stores its checkpoint data IN its
    # cached blocks, so unpersisting one while a merely-persist()'d
    # successor still depends on it makes the successor unrecoverable
    # after block loss (lineage is truncated at the checkpoint). Releases
    # are therefore deferred until the CURRENT edge set has itself been
    # checkpointed — with the default checkpoint_every=1 that is every
    # iteration (no behavior change).
    pending: list[DataFrame] = []
    for i in range(max_iter):
        # the relational star round reads its input twice (min-aggregate
        # branch + join branch), so cache the large-star intermediate or
        # the small round would recompute it along both branches
        mid = _star_round(e, large=True).persist()
        e2 = _star_round(mid, large=False)
        checkpointed = i % checkpoint_every == 0
        if checkpointed:
            # no persist first (see the initial checkpoint above): the
            # eager checkpoint reads `mid` (persisted) once and stores
            # its own blocks; a pre-checkpoint cache entry would leak
            e2 = _ckpt(e2, f"iter_{i:03d}")
        else:
            # persist BEFORE the signature action so e2 materializes into
            # cache while mid is still persisted; mid can then be released
            # without the next iteration recomputing it along both star
            # branches (recompute only recurs on cache eviction)
            e2 = e2.persist()
        # checkpointed durable iterations read the signature from the
        # manifest (computed in the stage's write pass) — no second scan;
        # in-memory / non-checkpoint iterations run the aggregate (which
        # also materializes e2's cache)
        sig2 = (_stage_sig(f"iter_{i:03d}") if checkpointed else None) or _sig(e2)
        mid.unpersist()
        if prev_e is not e2:
            pending.append(prev_e)
        if checkpointed:
            # e2's blocks are now self-contained checkpoint data: every
            # earlier edge set is unreachable from its (truncated) lineage
            for p in pending:
                if p is not e2:
                    p.unpersist()
            pending = []
        prev_e = e = e2
        if sig2 == sig:
            converged = True
            break
        sig = sig2
    if pending:
        # loop exited on a non-checkpoint iteration (convergence or
        # max_iter with checkpoint_every > 1): checkpoint the final edge
        # set so the deferred predecessors can be released without
        # breaking its recompute chain — otherwise up to
        # checkpoint_every-1 full edge-set caches leak past the call.
        # The pre-checkpoint cache entry of the final set is released
        # too (the checkpoint blocks are self-contained once eager
        # materialization returns), or the final set would be stored
        # twice for the session lifetime. The durable stage name carries
        # the iteration index it closed at: a bare "final" would be
        # STALE-served when the same fingerprint re-runs with a raised
        # max_iter and converges later (iter_NNN stages are
        # deterministic given fingerprint+index; a fixed "final" is not
        # deterministic given the fingerprint alone).
        old_e = e
        e = _ckpt(e, f"final_i{i:03d}", eager=True)
        old_e.unpersist()
        for p in pending:
            p.unpersist()
        pending = []
    if not converged:
        # returning silently would yield partially merged clusters
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} before the "
            "edge-set signature converged; labels may be partially merged "
            "(raise max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )

    # after convergence every edge is (root, member); root = min of component
    labels = e.select(F.col("dst").alias("node"), F.col("src").alias("cluster_id"))
    # nodes can appear as their own root or be isolated
    out = (
        nodes.join(labels, "node", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("node")))
    )
    # a root node itself may not appear as dst; coalesce covers it. But a
    # node appearing as dst under two roots cannot happen post-convergence;
    # guard with min() for determinism anyway.
    return out.groupBy("node").agg(F.min("cluster_id").alias("cluster_id"))
