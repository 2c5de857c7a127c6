"""Graph operators: connected components for dedup-cluster resolution.

Near-dup detection (operators/dedup.py, operators/similarity.py) emits
PAIRS; a training-data pipeline needs GROUPS — "keep one doc per duplicate
cluster" is transitive, so pairs must be closed into connected components.
The reference has no iterative operators at all; this is the canonical
Spark pattern for them: a driver loop over lazy DataFrame steps with
``localCheckpoint`` per iteration (truncates the lineage that would
otherwise grow unboundedly and re-execute every prior round).

Algorithm: min-label propagation. Every node starts labeled with its own
id; each round every node takes the min of its label and its neighbors'
labels; fixpoint = every node holds the min id of its component.
Converges in O(diameter) rounds — fine for dedup graphs, whose components
are small and dense.  For web-scale graphs with long chains, swap the
round body for large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds, same
driver-loop skeleton.

Scale notes (100 TB): each round is one shuffle (edge ⋈ label on dst,
combine-min on src) + one broadcast-able label join; the edge table is
read from the checkpointed/persisted symmetric form, never recomputed.
The convergence check rides on the same job that materializes the round's
labels (localCheckpoint is eager) — no extra pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iterations: int = 50,
) -> DataFrame:
    """Undirected connected components -> (id_col, component).

    ``component`` is the minimum node id in the node's component — a
    deterministic canonical representative (cross-engine reproducible,
    unlike hash-based labeling).

    ``edges`` may be directed pairs (e.g. near-dup ``id_a < id_b`` output);
    they are symmetrized internally.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.persist()

    labels = sym.select(F.col("a").alias(id_col)).distinct().withColumn("lbl", F.col(id_col))
    labels = labels.localCheckpoint()

    converged = False
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(labels.withColumnRenamed(id_col, "b_id"), F.col("b") == F.col("b_id"))
            .groupBy(F.col("a").alias(id_col))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        proposed = labels.withColumnRenamed("lbl", "old").join(nbr_min, id_col, "left").select(
            F.col(id_col),
            F.col("old"),
            F.least(F.col("old"), F.coalesce(F.col("nbr_lbl"), F.col("old"))).alias("lbl"),
        )
        proposed = proposed.localCheckpoint()
        changed = proposed.filter(F.col("lbl") < F.col("old")).count()
        labels = proposed.drop("old")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        _warn_unconverged("connected_components", max_iterations)
    return labels.withColumnRenamed("lbl", "component")


def connected_components_blocked(
    edges: DataFrame,
    block_col: str,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_block_pairs: int = 8_000_000,
    max_iterations: int = 50,
) -> DataFrame:
    """Exact connected components when every component is CONTAINED in one
    block — the SemDeDup shape, where pairs only ever form within an IVF
    cell (``edges`` carries the block key on every row and a node's edges
    all share one block value; violating that precondition double-labels
    the node).

    Instead of O(diameter) global label-propagation rounds (each a full
    shuffle of the edge set plus an eager checkpoint + convergence count —
    ~8-10 Spark jobs for a 4-round fixpoint), this runs ONE shuffle of the
    pair list keyed on the block and a per-block union-find in a single
    ``applyInPandas`` pass: path-compressed, union-by-min-id, so the root
    of every set is its minimum member and the result is bit-identical to
    :func:`connected_components` (equivalence-pinned in
    ``tests/test_graph.py``).  Blocks with more than ``max_block_pairs``
    edges fall back to the iterative engine (same split discipline as the
    gram sieve's ``max_sieve_block``); components are block-contained, so
    stitching the two engines' outputs is a plain union.

    Scale: per-block cost is O(pairs α(n)) in one task; the shuffle moves
    each pair once.  At 100 TB the pair list is bounded per cell by the
    pair join that produced it — the same cap that already governs the
    sieve — and the result (one row per edge-touched node) is checkpointed
    eagerly so the caller never recomputes the pair stage through lineage.

    Returns (id_col, component) for every node that appears in an edge,
    like :func:`connected_components`.
    """
    import numpy as np
    import pandas as pd

    id_type = edges.schema[src].dataType.simpleString()
    sel = edges.select(
        F.col(block_col).alias("_blk"), F.col(src).alias("_a"), F.col(dst).alias("_b")
    ).persist()
    # one cached materialization (the iterative engine pays the same via
    # sym.persist) feeds the size gate and the union-find shuffle
    mx = sel.groupBy("_blk").agg(F.count(F.lit(1)).alias("_np")).agg(
        F.max("_np")
    ).collect()[0][0]
    if mx is None:
        sel.unpersist()
        # no edges: empty result with the right schema
        return edges.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, component {id_type}"
        )

    def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf["_a"].to_numpy()
        b = pdf["_b"].to_numpy()
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        n = len(ids)
        parent = list(range(n))

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        ae, be = inv[: len(a)], inv[len(a) :]
        for i in range(len(ae)):
            ra, rb = find(ae[i]), find(be[i])
            if ra != rb:
                # np.unique sorts ascending, so index order == id order:
                # keeping the smaller root on top keeps the set's min id
                # at the root — the min-label invariant
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        comp = ids[[find(i) for i in range(n)]]
        return pd.DataFrame({id_col: ids, "component": comp})

    out_schema = f"{id_col} {id_type}, component {id_type}"
    if mx <= max_block_pairs:
        comps = sel.groupBy("_blk").applyInPandas(_uf, schema=out_schema)
    else:
        sizes = sel.groupBy("_blk").agg(F.count(F.lit(1)).alias("_np"))
        small_blk = F.broadcast(sizes.filter(F.col("_np") <= max_block_pairs).select("_blk"))
        big_blk = F.broadcast(sizes.filter(F.col("_np") > max_block_pairs).select("_blk"))
        small = sel.join(small_blk, "_blk", "left_semi")
        big = sel.join(big_blk, "_blk", "left_semi")
        comps = small.groupBy("_blk").applyInPandas(_uf, schema=out_schema).unionByName(
            connected_components(
                big, src="_a", dst="_b", id_col=id_col, max_iterations=max_iterations
            )
        )
    # eager checkpoint: materializes the (small) label table once and cuts
    # lineage, so sel can be unpersisted without re-running the pair stage
    comps = comps.localCheckpoint(eager=True)
    sel.unpersist()
    return comps


def _warn_unconverged(op: str, max_iterations: int) -> None:
    """Unconverged labels are WRONG components with no other signal —
    surface it loudly instead of returning the last round silently."""
    import warnings

    warnings.warn(
        f"{op}: fixpoint not reached within max_iterations={max_iterations}; "
        "returned labels may merge or split components — raise max_iterations",
        RuntimeWarning,
        stacklevel=3,
    )


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Drop all but the canonical (min-id) member of every duplicate cluster.

    The end-to-end near-dup removal a corpus pipeline actually wants:
    ``df`` minus every row whose id sits in a component but is not its
    representative.  Non-paired rows pass through untouched.
    """
    comp = connected_components(pairs, pair_a, pair_b, id_col)
    losers = comp.filter(F.col(id_col) != F.col("component")).select(id_col)
    return df.join(losers, id_col, "left_anti")


def triangle_count(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    degree_ordered: bool = False,
) -> DataFrame:
    """Exact triangle + edge count over an undirected graph (DQ86).

    ``edges`` must be the canonical oriented edge set: one row per
    undirected edge with ``u < v`` (callers dedupe first).  Counting joins
    each wedge (e1: u→v, e2: v→w) against the closing edge (u→w) — with
    the ``u < v`` orientation every triangle {a<b<c} is counted exactly
    once, as (a,b)+(b,c)+(a,c).  All-integer outputs, order-independent.

    ``degree_ordered=True`` switches to degree-ordered orientation (each
    edge points from its lower-(degree, id) endpoint to the higher): wedge
    fan-out at any node is bounded by its OUT-degree ≤ O(√|E|), so total
    wedge volume is O(|E|^1.5) even on near-clique / power-law graphs
    where id-orientation can fan out quadratically at hub nodes.  Output
    is identical (every triangle counted exactly once at its minimum-rank
    vertex) — property-tested; use this form at scale on skewed graphs.

    The two counts are materialized eagerly (both are single-row
    aggregates) so the persisted edge list's lifetime is bounded to this
    call — no executor-storage leak across calls.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v")).persist()
    try:
        n_edges = e.count()
        if degree_ordered:
            # rank(x) = (deg(x), x); orient every edge low-rank → high-rank
            sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            deg = sym.groupBy(F.col("u").alias("node")).agg(
                F.count(F.lit(1)).alias("deg")
            )
            wd = (
                e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
                .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
            )
            u_first = (F.col("du") < F.col("dv")) | (
                (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
            )
            oriented = wd.select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("d"),
                F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
            ).persist()
            try:
                o2 = oriented.select(
                    F.col("s").alias("s2"), F.col("d").alias("d2"), F.col("dd").alias("dd2")
                )
                # out-neighbor pairs of one source, ordered by rank so each
                # candidate {v,w} appears once and matches the closing
                # edge's orientation (lower-rank → higher-rank)
                wedges = oriented.join(o2, F.col("s") == F.col("s2")).filter(
                    (F.col("dd") < F.col("dd2"))
                    | ((F.col("dd") == F.col("dd2")) & (F.col("d") < F.col("d2")))
                )
                closing = oriented.select(F.col("s").alias("c_s"), F.col("d").alias("c_d"))
                n_tri = wedges.join(
                    closing,
                    (F.col("d") == F.col("c_s")) & (F.col("d2") == F.col("c_d")),
                    "left_semi",
                ).count()
            finally:
                oriented.unpersist()
        else:
            e2 = e.select(F.col("u").alias("w_u"), F.col("v").alias("w_v"))
            e3 = e.select(F.col("u").alias("c_u"), F.col("v").alias("c_v"))
            # The edge list is the SMALL relation (|E| rows of two ints)
            # while the wedge stream fans out to Σ deg·deg rows — broadcast
            # the edges into both probes so wedge generation + closure run
            # in ONE shuffle-free stage over e's partitions.  (Past
            # broadcast size, use degree_ordered=True instead.)
            wedges = e.join(F.broadcast(e2), F.col("v") == F.col("w_u"))
            n_tri = wedges.join(
                F.broadcast(e3),
                (F.col("u") == F.col("c_u")) & (F.col("w_v") == F.col("c_v")),
                "left_semi",
            ).count()
    finally:
        e.unpersist()
    return spark.createDataFrame(
        [(n_edges, n_tri)], "n_edges bigint, n_triangles bigint"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds regardless of component DIAMETER, where
    min-label propagation (:func:`connected_components`) needs O(diameter)
    rounds and dies on long chains at web scale.

    - large-star(u): every neighbor v > u re-attaches to m = min(N(u)∪{u})
    - small-star(u): every neighbor v ≤ u re-attaches to m

    Both steps preserve connectivity and strictly shrink star height;
    at fixpoint every node's edge points at its component minimum — the
    same deterministic canonical representative the propagation variant
    emits (output-identical, property-tested against union-find).

    Each round is two keyed aggregations + joins (one shuffle each) over
    the CURRENT edge set, which only shrinks; the convergence check is an
    exceptAll on the canonically-oriented edges.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    nodes = (
        e.select(F.col("u").alias(id_col))
        .union(e.select(F.col("v").alias(id_col)))
        .distinct()
        .localCheckpoint()
    )
    cur = (
        e.select(F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iterations):
        sym = cur.select(F.col("hi").alias("a"), F.col("lo").alias("b")).union(
            cur.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least(F.col("mn"), F.col("a")).alias("m"))
        )
        # large-star: strictly-larger neighbors attach to the minimum
        ls = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        # small-star on (hi -> lo) orientation: all lows + the hub attach
        # to the minimum low
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(mins2, "hi")
            .select(
                F.greatest(F.col("lo"), F.col("m")).alias("hi"),
                F.least(F.col("lo"), F.col("m")).alias("lo"),
            )
            .union(mins2.select(F.col("hi"), F.col("m").alias("lo")))
        )
        new = ss.filter(F.col("hi") != F.col("lo")).distinct().localCheckpoint()
        unchanged = (
            new.exceptAll(cur).limit(1).count() == 0
            and cur.exceptAll(new).limit(1).count() == 0
        )
        cur = new
        if unchanged:
            converged = True
            break
    if not converged:
        _warn_unconverged("connected_components_star", max_iterations)
    lbl = cur.groupBy(F.col("hi").alias(id_col)).agg(F.min("lo").alias("component"))
    return nodes.join(lbl, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**9,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic integer-arithmetic PageRank (fixed iteration count).

    Ranks live in integer micro-units (``scale`` = 1.0): init
    ``scale // n``, update ``base + damping * Σ(pr_u // deg_u) // 100``
    with ``base = (100-damping) * scale // (100 * n)``.  Floor divisions
    make every step EXACT integer arithmetic, so the result is
    independent of shuffle/reduction order AND reproducible by any
    engine — float PageRank sums diverge across engines in the last bits
    and cannot sit under a hash-equality gate.

    One distributed pass per iteration (join prev ranks + degrees on the
    edge source, aggregate on the destination), driver-coordinated like
    the connected-components loop; ``localCheckpoint`` caps lineage.
    Dangling nodes (no out-edges) are absent by construction when the
    caller symmetrizes an undirected graph.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    nodes = e.select(F.col("s").alias("node")).union(e.select("d")).distinct().persist()
    n = nodes.count()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    base = ((100 - damping_pct) * scale) // (100 * n)
    pr = nodes.withColumn("pr", F.lit(scale // n))
    for _ in range(iters):
        sums = (
            e.join(pr.withColumnRenamed("node", "s"), "s")
            .join(deg, "s")
            .select(F.col("d"), F.expr("pr div dg").alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("S"))
        )
        pr = (
            nodes.join(sums.withColumnRenamed("d", "node"), "node", "left")
            .select(
                "node",
                (F.lit(base) + F.expr(f"({damping_pct} * coalesce(S, 0L)) div 100")).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    out = pr
    nodes.unpersist()
    return out


def bfs_hops(
    edges: DataFrame,
    source=None,
    max_hops: int = 4,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Minimum hop distance from ``source`` (default: the lowest node id)
    to every node reachable within ``max_hops``, by iterative frontier
    expansion — one edge join + min-aggregate per level, the canonical
    distributed BFS (no per-path enumeration, so dense graphs can't blow
    up the way a naive recursive-CTE path walk does).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if source is None:
        source = e.agg(F.min("s")).collect()[0][0]
    dist = e.sparkSession.createDataFrame([(int(source), 0)], "node bigint, hops int")
    for _ in range(max_hops):
        expanded = (
            e.join(dist.withColumnRenamed("node", "s"), "s")
            .select(F.col("d").alias("node"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.union(expanded)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=False)
        )
    return dist
