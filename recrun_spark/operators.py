"""Distributed operators the built-in DataFrame API doesn't provide directly:
skew-salted equi-join and large-star/small-star connected components.

Both are plain PySpark compositions (no custom Catalyst rules — SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def salted_join(big: DataFrame, small: DataFrame, big_key: str,
                small_key: str, buckets: int = 16,
                how: str = "inner") -> DataFrame:
    """Repartition join with key salting for skewed hot keys.

    The big side gets a deterministic salt in [0, buckets) (hash of the whole
    row); the small side is replicated ``buckets`` times.  A hot key is
    spread across ``buckets`` reducers instead of one.  AQE's skew-join split
    is the backstop; explicit salting also covers aggregate-after-join
    patterns AQE cannot rewrite (SURVEY.md §4 skew handling).

    Only ``inner`` and ``left`` are supported: the small side is replicated
    ``buckets`` times, so right/full-outer would emit each unmatched
    small-side row once per replica.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r} — the "
            "replicated small side would duplicate unmatched rows under "
            "right/full-outer semantics")
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
                        F.lit(buckets)).cast("int"))
    salted_small = small.crossJoin(
        small.sparkSession.range(buckets).select(
            F.col("id").cast("int").alias("_salt")))
    out = salted_big.join(
        salted_small,
        (salted_big[big_key] == salted_small[small_key])
        & (salted_big["_salt"] == salted_small["_salt"]),
        how)
    return out.drop("_salt")


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              how: str = "backward") -> DataFrame:
    """Backward as-of join (kdb/pandas/DuckDB semantics): every left row
    gets the right row with the GREATEST ``right_ts`` <= ``left_ts`` for
    the same ``key`` (inclusive at equality); unmatched left rows keep
    nulls.  Returns all left columns plus the right's value columns
    (everything but ``key`` — including ``right_ts``, the matched time).

    Plan shape: union both sides, ONE shuffle on the key, one window sort
    per partition carrying the last-seen right values forward — O(n log n)
    per partition.  This is the 100 TB-safe plan: expressing as-of as an
    inequality join gives Catalyst only a broadcast range join or a
    nested-loop to work with.

    Requirements: (key, right_ts) must be unique on the right (pre-
    aggregate duplicates, e.g. max per timestamp) — otherwise which
    equal-timestamp row wins is unspecified; left/right non-key column
    names must not overlap.

    NULL timestamps follow native ASOF semantics (kdb/pandas/DuckDB):
    right rows with NULL ``right_ts`` are dropped before the merge (they
    can never be "the greatest ts <= left_ts"), and a left row with NULL
    ``left_ts`` matches nothing (its right columns come back NULL) — it
    sorts before every real timestamp in the merge window, so no right
    row precedes it."""
    if how != "backward":
        raise ValueError(f"asof_join supports how='backward', got {how!r}")
    rvals = [c for c in right.columns if c != key]
    overlap = set(rvals) & set(left.columns)
    if overlap:
        raise ValueError(f"overlapping non-key columns: {sorted(overlap)}")

    # carry the right values as ONE struct, not per-column: per-column
    # last(ignorenulls) would resurrect an OLDER row's value wherever the
    # matched row holds NULL — a frankenrow no as-of implementation emits
    # (kdb/pandas/DuckDB all return the matched row as-is).  The struct is
    # non-null exactly for right rows, so one last(ignorenulls) carries the
    # whole matched row atomically.
    rv_struct = F.struct(*[F.col(c) for c in rvals]).alias("_rv")
    null_rv = F.lit(None).cast(
        right.select(rv_struct).schema["_rv"].dataType).alias("_rv")
    lhs = left.select(
        F.lit(1).alias("_side"), F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        *[F.col(c) for c in left.columns], null_rv)
    rhs = right.where(F.col(right_ts).isNotNull()).select(
        F.lit(0).alias("_side"), F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns], rv_struct)
    u = lhs.unionByName(rhs)
    from pyspark.sql import Window
    # right rows (side 0) sort BEFORE left rows at equal _t, so a right row
    # at exactly left_ts is visible to that left row (inclusive backward).
    # NULL left timestamps sort FIRST (explicitly, not by default) so they
    # precede every right row and carry no match — native ASOF semantics.
    w = (Window.partitionBy("_k")
         .orderBy(F.col("_t").asc_nulls_first(), F.col("_side").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = F.last(F.col("_rv"), ignorenulls=True).over(w).alias("_rvc")
    return (u.select("_side", *[F.col(c) for c in left.columns], carried)
            .where(F.col("_side") == 1)
            .select(*[F.col(c) for c in left.columns],
                    *[F.col(f"_rvc.{c}").alias(c) for c in rvals]))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping_pct: int = 85, scale: int = 10 ** 12,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic INTEGER-arithmetic PageRank — entity importance over
    a KG graph (rank canonical entities, prioritize link targets).

    Every node starts at ``scale``; each of the ``iterations`` rounds
    computes ``rank' = scale·(100-damping_pct) div 100 + damping_pct ·
    (Σ_in rank_u div out_deg_u) div 100`` — ALL in int64, so the result
    is bit-exact in any engine and independent of partitioning/summation
    order (float PageRank differs in final ulps per shuffle order, which
    would break value-level oracles).  Deterministic truncation replaces
    float rounding error; ranks converge to N·scale-normalized PageRank.
    Dangling nodes (no out-edges) leak their damped mass — the standard
    simplified variant, mirrored exactly by the oracle.

    Scale shape: one equi-join (ranks × edges on src) + one sum keyed on
    dst per iteration — O(E) per round, a fixed small number of rounds,
    no driver data transfer.  The static frames (edges, nodes, degrees)
    are cached once and the rank frame is localCheckpoint-ed per
    iteration — the same lineage-truncation discipline as
    connected_components.  Building the 10 rounds as one lazy nested
    plan was tried-and-measured first: AQE materializes every stage of
    every round's re-analyzed subtree, 110 Spark jobs and 26 s for a
    505-node graph (bench job-count forensics, r5) vs ~30 jobs / ~4 s
    checkpointed.  int64 headroom: total mass ≤ N·scale, so at
    scale=10¹² graphs up to ~10⁶ nodes are safe (9.2·10¹⁸ ceiling — ANSI
    mode makes an overflow loud, not silent); drop ``scale`` a decade per
    10× nodes beyond that.

    Returns (node, rank:long)."""
    if not (0 < damping_pct < 100):
        raise ValueError(f"damping_pct must be in (0,100), got {damping_pct}")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct()
         # ranks × edges × degrees recur every iteration — cache the edge
         # list once (callers release via release_caches)
         .persist())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct()
             .persist())
    # out-degree rides WITH the edge list (joined once, cached) so each
    # iteration is ONE ranks×edges equi-join, not two.  (Pre-partitioning
    # this cache on the join key was tried and MEASURED SLOWER here: the
    # explicit repartition pins fixed-width stages that AQE otherwise
    # coalesces, costing more per round than the exchange it removes; at
    # cluster scale the equivalent win is bucketed edge storage.)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e2 = e.join(deg, "src").persist()
    base = (scale * (100 - damping_pct)) // 100
    r = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (e2.join(r.withColumnRenamed("node", "src"), "src")
                   .select("dst",
                           F.expr("rank div out_deg").alias("c")))
        # dangling/zero-in-degree nodes keep a row via a zero-contribution
        # union INTO the same aggregate — the former per-round
        # nodes-left-join stage (its own exchange + AQE stage job) is
        # folded away; Σc is unchanged by the +0 rows, so the trajectory
        # is bit-identical
        zero = nodes.select(F.col("node").alias("dst"),
                            F.lit(0).cast("long").alias("c"))
        agg = contrib.unionByName(zero).groupBy("dst").agg(
            F.sum("c").alias("s"))
        r = (agg.select(F.col("dst").alias("node"),
                        (F.lit(base).cast("long")
                         + F.expr(f"{damping_pct} * s div 100"))
                        .cast("long").alias("rank"))
             .localCheckpoint(eager=True))
    r._recrun_caches = [e, nodes, e2]
    return r


def personalized_pagerank(edges: DataFrame, seeds, iterations: int = 3,
                          damping_pct: int = 85, scale: int = 10 ** 12,
                          src: str = "src", dst: str = "dst") -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart) — relatedness of
    every node TO A SEED SET, the related-entity / recommendation
    primitive (Page et al. 1999 §6 'personalized' vector; Jeh & Widom
    WWW'03): identical integer recurrence to ``pagerank`` except the
    teleport mass lands ONLY on the seeds — rank' = (seed ? base : 0) +
    damping·(Σ_in rank div out_deg) div 100 — and the walk starts from
    the seeds (rank₀ = scale on seeds, 0 elsewhere).  Ranks decay with
    distance from the seed set, so the top non-seed nodes are the
    'most related' entities.  All int64 (same bit-exactness and ANSI
    headroom argument as pagerank: total mass ≤ |seeds|·scale·iters).

    ``seeds`` is a small driver-side collection (the 1-row-probe
    convention — it rides as an isin literal, never a join).  Scale
    shape per round: ONE ranks×edges equi-join + one dst-keyed sum,
    O(E·|active|/|V|) early rounds (only reached nodes carry rank),
    localCheckpoint lineage discipline.  Returns (node, rank:long) for
    every node of the graph (unreached nodes rank 0)."""
    if not (0 < damping_pct < 100):
        raise ValueError(f"damping_pct must be in (0,100), got {damping_pct}")
    seeds = list(seeds)
    if not seeds:
        raise ValueError("seeds must be non-empty")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct().persist())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct()
             .persist())
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # zero-contribution union replacing the per-round nodes left join —
    # the pagerank restructure, trajectory-identical (Σc unchanged by +0)
    e2 = e.join(deg, "src").persist()
    base = (scale * (100 - damping_pct)) // 100
    is_seed = F.col("node").isin(seeds)
    r = nodes.select("node", F.when(is_seed, F.lit(scale))
                     .otherwise(F.lit(0)).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (e2.join(r.withColumnRenamed("node", "src"), "src")
                   .select("dst", F.expr("rank div out_deg").alias("c")))
        zero = nodes.select(F.col("node").alias("dst"),
                            F.lit(0).cast("long").alias("c"))
        agg = (contrib.unionByName(zero)
               .groupBy("dst").agg(F.sum("c").alias("s")))
        r = (agg.select(F.col("dst").alias("node"),
                        (F.when(F.col("dst").isin(seeds), F.lit(base))
                         .otherwise(F.lit(0)).cast("long")
                         + F.expr(f"{damping_pct} * s div 100"))
                        .cast("long").alias("rank"))
             .localCheckpoint(eager=True))
    r._recrun_caches = [e, nodes, e2]
    return r


def weighted_pagerank(edges: DataFrame, iterations: int = 4,
                      damping_pct: int = 85, scale: int = 10 ** 9,
                      src: str = "src", dst: str = "dst",
                      weight: str = "weight") -> DataFrame:
    """PageRank over a WEIGHTED graph (Page et al. 1999 §2.6 — the
    out-link mass splits proportionally to edge weight, the natural
    model when the mention graph carries mention COUNTS instead of mere
    incidence): rank' = base + damping·(Σ_in rank·w div sw) div 100
    where sw = the source's total out-weight.  Same all-int64 discipline
    as ``pagerank`` — per-edge division BEFORE the sum, so the oracle
    replays the trajectory bit-for-bit — with one extra headroom term:
    rank·w ≤ total_mass·w_max, so pick ``scale`` such that
    V·scale·w_max < 2⁶³ (the default 10⁹ carries V·w_max up to ~9·10⁹;
    drop a decade per decade of graph growth, the pagerank discipline).
    Parallel edges combine by weight sum; weights must be positive.

    Scale shape per round: ONE ranks×edges equi-join + one dst-keyed
    sum (map-side combinable), localCheckpoint lineage discipline.
    Returns (node, rank:long)."""
    if not (0 < damping_pct < 100):
        raise ValueError(f"damping_pct must be in (0,100), got {damping_pct}")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      F.col(weight).cast("long").alias("w"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                & (F.col("w") > 0))
         .groupBy("src", "dst").agg(F.sum("w").alias("w"))
         .persist())
    sw = e.groupBy("src").agg(F.sum("w").alias("sw"))
    # the pagerank restructure: zero-contribution union folding the
    # per-round nodes left join into the aggregate (trajectory-identical)
    e2 = e.join(sw, "src").persist()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct()
             .persist())
    base = (scale * (100 - damping_pct)) // 100
    r = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (e2.join(r.withColumnRenamed("node", "src"), "src")
                   .select("dst", F.expr("rank * w div sw").alias("c")))
        zero = nodes.select(F.col("node").alias("dst"),
                            F.lit(0).cast("long").alias("c"))
        agg = (contrib.unionByName(zero)
               .groupBy("dst").agg(F.sum("c").alias("s")))
        r = (agg.select(F.col("dst").alias("node"),
                        (F.lit(base)
                         + F.expr(f"{damping_pct} * s div 100"))
                        .cast("long").alias("rank"))
             .localCheckpoint(eager=True))
    r._recrun_caches = [e, e2, nodes]
    return r


def label_propagation(edges: DataFrame, iterations: int = 5,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007)
    — community detection over a KG entity graph (group co-mentioned
    entities into topics; the cheap precursor to Louvain that needs no
    modularity float).

    Every node starts labeled with itself; each of the ``iterations``
    synchronous rounds re-labels a node with the most frequent label
    among its in-neighbors, ties broken by the SMALLEST label string, and
    nodes with no in-edges keep their previous label.  All comparisons
    are (count:int64, label:string) — no floats, no randomized order —
    so the trajectory is bit-exact in any engine (classic LPA randomizes
    node visit order; synchronous + deterministic tie-break is the
    variant that value-oracles).  Fixed iteration count rather than a
    convergence test: synchronous LPA can 2-cycle on bipartite
    structures, so "until stable" may never hold — a fixed horizon is
    both deterministic and the standard practice (GraphX runs LPA the
    same way).

    Scale shape: per round, ONE ranks×edges equi-join on src, ONE
    (dst,label)-keyed count with map-side combine, then a dst-keyed
    min(struct(-count,label)) argmax — O(E) a round, no windows, no
    driver transfer; the label frame is localCheckpoint-ed per round
    (same lineage discipline as pagerank, which measured 110 jobs → ~30
    when the nested lazy plan was truncated).

    Returns (node, label:string)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = (edges.select(F.col(src).alias("src").cast("string"),
                      F.col(dst).alias("dst").cast("string"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct()
         .persist())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct()
             .persist())
    lab = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        lab = _lpa_round(e, lab).localCheckpoint(eager=True)
    lab._recrun_caches = [e, nodes]
    return lab


def _lpa_round(e: DataFrame, lab: DataFrame) -> DataFrame:
    """One synchronous LPA round (factored so the plan audit can inspect
    the pre-checkpoint shape): edges×labels equi-join, (node,label)
    count, node-keyed min(struct(-count,label)) argmax.  Keep-own-label
    for in-degree-0 nodes rides INSIDE the argmax as a zero-count
    own-label candidate — count 0 loses to any real neighbor label
    (c ≥ 1 ⇒ -c < 0) and wins exactly when there are none, so the
    semantics equal the textbook coalesce-to-previous left join at one
    shuffle less per round."""
    votes = (e.join(lab.withColumnRenamed("node", "src"), "src")
             .select(F.col("dst").alias("node"), "label",
                     F.lit(1).cast("long").alias("w"))
             .unionByName(lab.select("node", "label",
                                     F.lit(0).cast("long").alias("w"))))
    counts = (votes.groupBy("node", "label")
              .agg(F.sum("w").alias("c")))
    return (counts
            .groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("label").alias("label")))
                 .alias("m"))
            .select("node", F.col("m.label").alias("label")))


def sssp(edges: DataFrame, sources: list, rounds: int = 4,
         src: str = "src", dst: str = "dst",
         weight: str = "w") -> DataFrame:
    """Weighted single-source(s) shortest paths, Bellman-Ford style:
    ``rounds`` synchronous relaxation rounds over an integer-weighted
    directed edge list — after round k, ``dist(v)`` is the exact minimum
    cost over paths of ≤ k edges from any source (the weighted
    generalization of bfs_distances; unreached nodes are absent, not
    NULL).  All arithmetic is int64 add/min, so distances are bit-exact
    in any engine and independent of partitioning — the property float
    edge weights lack.  A fixed round horizon (not run-to-fixpoint)
    keeps the trajectory deterministic and oracle-unrollable; rounds =
    graph diameter gives the classic full SSSP on nonnegative weights.

    Scale shape: parallel edges reduce to their min weight ONCE up
    front; each round is one dists×edges equi-join on src + one
    node-keyed min over (carried ∪ relaxed) — O(E) a round with
    map-side combine, no windows, no driver transfer; the dist frame is
    localCheckpoint-ed per round (the pagerank lineage discipline).

    Returns (node, dist:long)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if not sources:
        raise ValueError("sources must be non-empty")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      F.col(weight).cast("long").alias("w"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                & F.col("w").isNotNull())
         .groupBy("src", "dst").agg(F.min("w").alias("w"))
         .persist())
    node_type = e.schema["src"].dataType
    d = edges.sparkSession.createDataFrame(
        [(s,) for s in sorted(set(sources))], ["node"]) \
        .select(F.col("node").cast(node_type),
                F.lit(0).cast("long").alias("dist"))
    for _ in range(rounds):
        relaxed = (e.join(d.withColumnRenamed("node", "src"), "src")
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + F.col("w")).alias("dist")))
        d = (d.unionByName(relaxed)
             .groupBy("node").agg(F.min("dist").alias("dist"))
             .localCheckpoint(eager=True))
    d._recrun_caches = [e]
    return d


def global_rank(df: DataFrame, key_col: str,
                bucket_prefix_len: int = 2) -> DataFrame:
    """Exact 0-based global rank of every row in ``key_col`` order — the
    distributed ORDER-BY-position primitive (training-shuffle order,
    stable pagination) WITHOUT the single-partition window a naive
    ``row_number() OVER (ORDER BY key)`` plans.

    Same two-phase prefix pattern as pack_blocks/skyline2d: rows bucket
    by an order-preserving string prefix of the key; per-bucket COUNTS
    (not rows) come to the driver — bounded by distinct prefixes — and
    exclusive prefix offsets go back as a broadcast; each bucket ranks
    its interior in parallel (window PARTITIONED by bucket).  The key
    must be a STRING with unique values per row (duplicate keys would
    tie nondeterministically — callers append a unique suffix).

    Returns the input columns plus ``rank:long``."""
    if bucket_prefix_len < 1:
        raise ValueError(
            f"bucket_prefix_len must be >= 1, got {bucket_prefix_len}")
    d = (df.where(F.col(key_col).isNotNull())
         .withColumn("_b", F.substring(F.col(key_col), 1,
                                       bucket_prefix_len))
         .persist())
    counts = {r["_b"]: r["n"] for r in
              d.groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect()}
    off, acc = [], 0
    for b in sorted(counts):
        off.append((b, acc))
        acc += counts[b]
    if not off:
        d.unpersist()
        return df.where(F.lit(False)).withColumn(
            "rank", F.lit(None).cast("long"))
    off_df = df.sparkSession.createDataFrame(off, "_b string, _off long")
    w = Window.partitionBy("_b").orderBy(key_col)
    out = (d.join(F.broadcast(off_df), "_b")
           .withColumn("rank", (F.col("_off")
                                + F.row_number().over(w) - 1).cast("long"))
           .select(*df.columns, "rank"))
    out._recrun_caches = [d]
    return out


def ancestor_closure(edges: DataFrame, child: str = "child",
                     parent: str = "parent",
                     max_rounds: int = 20) -> DataFrame:
    """Transitive ancestor closure of a forest/DAG parent relation with
    exact path distances — the hierarchy-flatten primitive (category
    trees, org charts, thread reply chains).

    Scale design: POINTER DOUBLING — each round composes the closure
    with itself (``R ∪ R∘R``), so paths of length ≤ 2^k exist after k
    rounds and a height-h hierarchy closes in ⌈log₂ h⌉ joins, not the h
    sequential self-joins of the naive frontier walk (a recursive CTE's
    shape).  Convergence is ONE count per round; the closure frame is
    localCheckpoint-ed per round (pagerank discipline).  Input must be
    acyclic (a cycle never converges — ``max_rounds`` bounds the loop
    loudly).  In a tree each (node, ancestor) pair has a unique path, so
    distances are exact set elements, no min needed; on a DAG with
    multiple paths the closure keeps each distinct distance.

    Returns (node, anc, dist:long)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    clo = (edges.select(F.col(child).alias("node"),
                        F.col(parent).alias("anc"),
                        F.lit(1).cast("long").alias("dist"))
           .where(F.col("node").isNotNull() & F.col("anc").isNotNull())
           .distinct()
           .localCheckpoint(eager=True))
    n = clo.count()
    for _ in range(max_rounds):
        a, b = clo.alias("a"), clo.alias("b")
        doubled = (a.join(b, F.col("a.anc") == F.col("b.node"))
                   .select(F.col("a.node").alias("node"),
                           F.col("b.anc").alias("anc"),
                           (F.col("a.dist") + F.col("b.dist"))
                           .alias("dist")))
        clo = (clo.unionByName(doubled).distinct()
               .localCheckpoint(eager=True))
        n2 = clo.count()
        if n2 == n:
            return clo
        n = n2
    raise ValueError(
        f"ancestor_closure did not converge in {max_rounds} rounds — "
        "cycle in the parent relation, or raise max_rounds")


def skyline2d(df: DataFrame, x_col: str, y_col: str,
              bucket_width: int = 256) -> DataFrame:
    """2-D skyline (Pareto frontier, minimize both axes): keep row q iff
    no row p has ``p.x <= q.x AND p.y <= q.y`` with at least one strict
    — the classic dominance query (Börzsönyi et al., ICDE 2001).
    Exact-duplicate points do not dominate each other, so frontier ties
    all survive.

    Scale design — the textbook formulations are an O(n²) NOT-EXISTS
    self-join or a single global-ORDER-BY running-min window (one
    partition swallows the corpus).  For sorted-x data the skyline
    membership test factors into two bounded pieces, so this runs the
    same two-phase distributed prefix pattern as ``pack_blocks``:

    1. collapse to one row per distinct x: ``gy(x) = min(y)`` (keyed
       aggregate, map-side combine);
    2. bucket by ``x div bucket_width`` (order-preserving for int64,
       negatives included); per-bucket minima come to the driver —
       bounded by the number of buckets, not rows — and each bucket gets
       the EXCLUSIVE prefix-min of all earlier buckets back as a
       broadcast;
    3. each bucket computes its interior strict-prior running min in
       parallel (window PARTITIONED by bucket over per-x rows).

    A row is on the frontier iff ``y == gy(x)`` (nothing at the same x
    strictly below it) AND the strict-prior min over all x' < x is
    absent-or-greater (nothing up-left dominates).  Comparisons only —
    no float arithmetic — so doubles oracle exactly.

    Returns the qualifying input rows (original columns).  ``x_col``
    must be integral; NULL x or y rows are excluded (dominance is
    undefined on NULL)."""
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1, got {bucket_width}")
    rows = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .persist())
    g = (rows.groupBy(F.col(x_col).alias("_x"))
         .agg(F.min(y_col).alias("_gy"))
         .withColumn("_b", F.expr(f"_x div {bucket_width}")))
    g = g.persist()
    # phase 2: exclusive prefix-min across buckets via a bounded collect
    btot = {r["_b"]: r["m"] for r in
            g.groupBy("_b").agg(F.min("_gy").alias("m")).collect()}
    pre, run = [], None
    for b in sorted(btot):
        pre.append((b, run))
        run = btot[b] if run is None else min(run, btot[b])
    if not pre:
        rows.unpersist()
        g.unpersist()
        return df.where(F.lit(False))
    ytype = g.schema["_gy"].dataType.simpleString()
    pre_df = df.sparkSession.createDataFrame(
        pre, f"_b long, _pre {ytype}")
    # phase 3: interior strict-prior running min, parallel per bucket
    from pyspark.sql import Window
    w = (Window.partitionBy("_b").orderBy("_x")
         .rowsBetween(Window.unboundedPreceding, -1))
    gp = (g.join(F.broadcast(pre_df), "_b")
          .withColumn("_in", F.min("_gy").over(w))
          # least() skips NULLs in both Spark and DuckDB
          .withColumn("_prior", F.least("_pre", "_in"))
          .select("_x", "_gy", "_prior"))
    out = (rows.join(gp, rows[x_col] == gp["_x"])
           .where((F.col(y_col) == F.col("_gy"))
                  & (F.col("_prior").isNull()
                     | (F.col("_prior") > F.col(y_col))))
           .select(*df.columns))
    out._recrun_caches = [rows, g]
    return out


def release_caches(df: DataFrame) -> None:
    """Unpersist the cached intermediates an operator attached to its
    result (the ``_recrun_caches`` list, plus legacy ``_recrun_*``
    single-handle attributes) — call after materializing the result in a
    long-lived session."""
    for cached in getattr(df, "_recrun_caches", []) or []:
        if cached is not None:
            cached.unpersist()
    for attr in ("_recrun_ents", "_recrun_shingles", "_recrun_probes"):
        cached = getattr(df, attr, None)
        if cached is not None:
            cached.unpersist()


def arrow_frame(spark, columns: dict, schema: StructType) -> DataFrame:
    """A driver-built frame from Python column lists, handed to Spark as one
    ``pyarrow.Table``: it plans as a JVM-side ``LocalTableScan`` that
    starts no Python task, where ``createDataFrame(<list>)`` plans a scan
    over a PythonRDD whose every use starts Python tasks again."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    return spark.createDataFrame(
        pa.Table.from_pydict(columns, schema=to_arrow_schema(schema)),
        schema=schema)


def _cc_driver_local(e: DataFrame, rows=None) -> DataFrame:
    """Min-label union-find over a collected edge list — the fast path for
    metadata-scale graphs (entity dictionaries), where shipping the edges
    to the driver is cheaper than one iteration of the distributed loop.
    Delegates to linking.min_label_components, the same implementation the
    golden canonical map uses.  ``rows`` lets the caller hand over an
    already-collected edge list (the size-gate probe) so the fast path
    costs ONE job, not a count plus a collect."""
    from .linking import min_label_components
    comp = min_label_components(
        [], ((r["u"], r["v"]) for r in (e.collect() if rows is None
                                        else rows)))
    node_type = e.schema["u"].dataType
    schema = StructType([StructField("node", node_type),
                         StructField("component", node_type)])
    nodes = sorted(comp)
    return arrow_frame(e.sparkSession,
                       {"node": nodes,
                        "component": [comp[n] for n in nodes]}, schema)


def _symmetrize(e: DataFrame) -> DataFrame:
    return (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v")).distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = _symmetrize(e)
    mins = (sym.groupBy("u").agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("m")))
    out = (sym.join(mins, "u")
           .where(F.col("v") > F.col("u"))
           .select(F.col("v").alias("u"), F.col("m").alias("v")))
    return out.where(F.col("u") != F.col("v")).distinct()


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (max → min); connect u and all its ≤-neighbors to the
    minimum of the closed neighborhood."""
    o = (e.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
         .where(F.col("u") != F.col("v")))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = o.select("u", "v").union(
        o.select("u", F.col("u").alias("v")).distinct())
    out = (nbrs.join(mins, "u")
           .select(F.col("v").alias("u"), F.col("m").alias("v")))
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 50,
                         small_graph_rows: int = 200_000) -> DataFrame:
    """Min-label connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond";
    PAPERS.md).  Returns (node, component) for every node that appears in an
    edge; component = min node id in the component.  Callers union in
    singleton vertices separately.

    Graphs with ≤ ``small_graph_rows`` distinct edges take a DRIVER-LOCAL
    union-find instead (``small_graph_rows=0`` disables): the entity
    same-as graph is dictionary-scale (≪ corpus), and the iterative loop's
    per-round driver↔cluster latency is a pure Amdahl fixed cost — seconds
    per pipeline run that no executor count can shrink.  Both paths emit
    identical min-label assignments (property-tested against each other).

    Scale notes for the distributed path (north_rule stage 3):
    * each iteration = two grouped shuffles on the node key, O(E) per round,
      O(log n) rounds;
    * ``localCheckpoint`` per iteration truncates lineage so the driver loop
      does not build an exponentially deep plan;
    * hot (head-entity) vertices are what large-star exists for: high-degree
      nodes hand their neighbors directly to the component minimum instead
      of funneling every path through the hot node again.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))

    if small_graph_rows:
        # ONE probing collect doubles as the edge transfer: ≤ threshold
        # rows come back, the union-find runs on them directly (no second
        # job); one row over, the (few-MB) probe is discarded and the
        # distributed loop takes over
        probe = e.limit(small_graph_rows + 1).collect()
        if len(probe) <= small_graph_rows:
            return _cc_driver_local(e, probe)

    def _canon(edge_df: DataFrame) -> DataFrame:
        return edge_df.select(F.greatest("u", "v").alias("cu"),
                              F.least("u", "v").alias("cv")).distinct()

    def _sig(canon_df: DataFrame):
        """(count, hash-sum) fingerprint of the canonicalized edge set.
        One small aggregate per call (vs the former double exceptAll = 4
        extra shuffles/iteration); equal fingerprints ≡ equal sets up to a
        ~2^-64 xxhash64 collision — decimal(38,0) sum cannot overflow."""
        row = canon_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("cu", "cv").cast("decimal(38,0)"))
            .alias("h")).collect()[0]
        return (row["n"], row["h"])

    c_prev = _canon(e)
    sig = _sig(c_prev)
    for _ in range(max_iter):
        # localCheckpoint (not persist): it REPLACES the logical plan with a
        # scan of the materialized blocks, so per-iteration analysis cost
        # stays constant instead of growing with the plan tree.  Edge lists
        # are small (entity-graph scale), so block accumulation across the
        # few iterations to convergence is negligible.
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        c_new = _canon(e2)
        sig_new = _sig(c_new)
        e = e2
        if sig_new == sig:
            # fingerprint collision guard: counts already match, so ONE
            # one-sided exceptAll proves set equality exactly — paid once
            # at convergence, not per iteration.  A (vanishingly unlikely)
            # collision falls through and the loop keeps iterating.
            if c_new.exceptAll(c_prev).limit(1).count() == 0:
                break
        sig = sig_new
        c_prev = c_new

    # converged edges form a star forest (child > root); emit assignments
    # for children and roots alike
    o = e.select(F.greatest("u", "v").alias("node"),
                 F.least("u", "v").alias("component"))
    children = o.groupBy("node").agg(F.min("component").alias("component"))
    roots = (o.select(F.col("component").alias("node"))
             .distinct()
             .join(children.select("node"), "node", "left_anti")
             .withColumn("component", F.col("node")))
    return children.unionByName(roots)


def bfs_distances(edges: DataFrame, seeds: DataFrame, max_hops: int = 4,
                  src: str = "src", dst: str = "dst",
                  seed_col: str = "node") -> DataFrame:
    """Multi-source BFS: exact integer hop distance from the nearest seed,
    following edges src→dst (symmetrize first for an undirected graph).
    KG use: "which entities are within K hops of these seed entities"
    (neighborhood expansion for subgraph extraction / context retrieval).

    FRONTIER-based, the scale-correct shape: round k joins only the layer
    settled at distance k-1 against the edge list, anti-joins the settled
    set, and the new layer becomes the next frontier — per-round cost is
    O(edges touching the frontier), not O(E·K), and the loop short-circuits
    the moment a frontier drains (one tiny count on an already-checkpointed
    layer).  Distances are integers produced by set operations only, so the
    result is bit-exact under any partitioning — value-oracle-able as
    unrolled SQL rounds.  Both the settled set and each frontier are
    localCheckpoint-ed: constant-depth plans in the driver loop, same
    lineage discipline as connected_components/pagerank.

    Returns (node, dist:int) for every node within ``max_hops`` of a seed
    (seeds themselves at dist 0).  Unreachable nodes are absent — callers
    left-join if they want NULL/∞ rows."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull())
         .distinct().persist())
    frontier = (seeds.select(F.col(seed_col).alias("node"))
                .where(F.col("node").isNotNull()).distinct()
                .localCheckpoint(eager=True))
    settled = frontier.select("node", F.lit(0).cast("int").alias("dist"))
    settled = settled.localCheckpoint(eager=True)
    for k in range(1, max_hops + 1):
        nxt = (e.join(frontier.withColumnRenamed("node", "u"), "u")
               .select(F.col("v").alias("node")).distinct()
               .join(settled.select("node"), "node", "left_anti")
               .localCheckpoint(eager=True))
        if nxt.limit(1).count() == 0:
            break
        settled = (settled.unionByName(
            nxt.select("node", F.lit(k).cast("int").alias("dist")))
            .localCheckpoint(eager=True))
        frontier = nxt
    settled._recrun_caches = [e]
    return settled


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph — the KG
    clustering-coefficient building block (how interconnected is an
    entity's co-mention neighborhood).

    Degree-ordered orientation (Suri & Vassilvitskii, "Counting Triangles
    and the Curse of the Last Reducer", WWW'11 — PAPERS.md): each
    undirected edge is directed from its (degree, node)-smaller endpoint
    to the larger, so every node's OUT-degree is O(√E) regardless of how
    skewed the raw degree distribution is — the wedge self-join's fan-out
    is bounded and no hot entity melts a reducer.  Wedges (u→v, u→w with
    v before w in orientation order) close into triangles via ONE
    equi-join back onto the oriented edge list on (v, w); every triangle
    is produced exactly once.  All equi-joins — no cartesian anywhere.

    Pure set/count arithmetic → bit-exact in any engine (SQL-oracle-able).
    Returns (node, n_triangles:long) for every node incident to ≥1 edge,
    zeros included."""
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .where(F.col("u").isNotNull() & F.col("v").isNotNull()))
    sym = (sym.union(sym.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))
           .where(F.col("u") != F.col("v")).distinct().persist())
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orientation: u→v iff (deg(u), u) < (deg(v), v); carry the endpoint
    # orders so the wedge filter below needs no re-join
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    o = (sym.join(du, "u").join(dv, "v")
         .where((F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
         .select("u", "v", "dv").persist())
    # wedges at u: unordered out-neighbor pairs, ordered by (deg, node)
    w1 = o.select("u", F.col("v").alias("a"), F.col("dv").alias("da"))
    w2 = o.select("u", F.col("v").alias("b"), F.col("dv").alias("db"))
    wedges = (w1.join(w2, "u")
              .where((F.col("da") < F.col("db"))
                     | ((F.col("da") == F.col("db"))
                        & (F.col("a") < F.col("b")))))
    tri = wedges.join(
        o.select(F.col("u").alias("a"), F.col("v").alias("b")), ["a", "b"])
    counts = (tri.select(F.explode(F.array("u", "a", "b")).alias("node"))
              .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    out = (sym.select(F.col("u").alias("node")).distinct()
           .join(counts, "node", "left")
           .select("node", F.coalesce("n_triangles", F.lit(0))
                   .cast("long").alias("n_triangles")))
    out._recrun_caches = [sym, o]
    return out


def neighborhood_jaccard(edges: DataFrame, min_intersection: int = 1,
                         scale: int = 10 ** 6, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Structural entity similarity: Jaccard overlap of neighbor sets for
    every node pair sharing ≥ ``min_intersection`` neighbors — the KG
    same-as candidate generator (two entities whose co-mention
    neighborhoods coincide are merge candidates even when their surface
    forms don't match).

    Inverted-index shape (the same pattern as n-gram Jaccard dedup,
    functions/dedup.py): group by the shared NEIGHBOR and emit its member
    pairs — candidate volume is Σ_w deg(w)², never the all-pairs n².  Hot
    neighbors (head entities adjacent to everything) are the classic
    quadratic blow-up; callers cut them with ``max_degree`` in the query
    layer (mirrors the dedup df-cut) when the degree histogram demands it.
    The ratio is reported as integers — (intersection, union, and
    ``scale``-scaled quotient via int div) — bit-exact cross-engine.

    Returns (node_a, node_b, n_common:long, n_union:long,
    jaccard_scaled:long) with node_a < node_b."""
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .where(F.col("u").isNotNull() & F.col("v").isNotNull()))
    adj = (sym.union(sym.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))
           .where(F.col("u") != F.col("v")).distinct().persist())
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    m1 = adj.select(F.col("v").alias("w"), F.col("u").alias("node_a"))
    m2 = adj.select(F.col("v").alias("w"), F.col("u").alias("node_b"))
    inter = (m1.join(m2, "w")
             .where(F.col("node_a") < F.col("node_b"))
             .groupBy("node_a", "node_b")
             .agg(F.count(F.lit(1)).alias("n_common"))
             .where(F.col("n_common") >= min_intersection))
    da = deg.select(F.col("u").alias("node_a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("node_b"), F.col("d").alias("db"))
    out = (inter.join(da, "node_a").join(db, "node_b")
           .select("node_a", "node_b",
                   F.col("n_common").cast("long").alias("n_common"),
                   (F.col("da") + F.col("db") - F.col("n_common"))
                   .cast("long").alias("n_union"))
           .withColumn("jaccard_scaled",
                       F.expr(f"{scale} * n_common div n_union")
                       .cast("long")))
    out._recrun_caches = [adj]
    return out


def kcore(edges: DataFrame, k: int, max_iter: int = 100,
          src: str = "src", dst: str = "dst") -> DataFrame:
    """K-core decomposition by iterative peeling (Seidman 1983; the
    MapReduce formulation follows the same peel-until-fixpoint shape as
    large-star/small-star CC): repeatedly delete every node whose degree
    in the SURVIVING subgraph is < ``k``; what remains is the maximal
    subgraph with minimum degree ≥ k — the dense KG core (head entities
    and their tightly inter-linked neighborhood), the standard seed set
    for curriculum/subgraph extraction.

    Each round is one degree aggregate + two semi-joins (edge endpoints
    restricted to survivors), O(E) per round; the surviving edge list is
    localCheckpoint-ed per round (constant-depth plans — the CC/pagerank
    lineage discipline) and the convergence test is the round's edge
    count: peeling only ever deletes, so an unchanged count IS the
    fixpoint.  Cascades bound the round count by the graph's degeneracy
    ordering depth; ``max_iter`` is a backstop.

    Pure set/count arithmetic → bit-exact anywhere, so a fixed-round
    unrolled SQL oracle that over-runs convergence (extra rounds are
    no-ops at the fixpoint) reproduces it row-for-row.

    Returns (node, core_deg:long) for the k-core members (empty if the
    graph has no k-core)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull()))
    e = (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
         .where(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))
    prev = e.count()
    for _ in range(max_iter):
        if prev == 0:
            break
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("u")
        e2 = (e.join(keep, "u", "left_semi")
              .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
              .localCheckpoint(eager=True))
        cnt = e2.count()
        e = e2
        if cnt == prev:
            break
        prev = cnt
    return (e.groupBy("u").agg(F.count(F.lit(1)).cast("long")
                               .alias("core_deg"))
            .select(F.col("u").alias("node"), "core_deg"))


def _edge_support(e_canon: DataFrame) -> DataFrame:
    """Per-EDGE triangle support over a canonical (u<v, distinct) simple
    edge frame — the k-truss building block.  Same degree-ordered
    orientation as ``triangle_counts`` (Suri & Vassilvitskii WWW'11:
    out-degree bounded by O(√E) regardless of skew), but each triangle is
    exploded back onto its THREE canonical edges instead of its corners.
    All equi-joins; returns (u, v, support:long) for every input edge,
    zeros included."""
    sym = e_canon.union(e_canon.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select("u", F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    o = (sym.join(du, "u").join(dv, "v")
         .where((F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
         .select("u", "v", "dv"))
    w1 = o.select("u", F.col("v").alias("a"), F.col("dv").alias("da"))
    w2 = o.select("u", F.col("v").alias("b"), F.col("dv").alias("db"))
    wedges = (w1.join(w2, "u")
              .where((F.col("da") < F.col("db"))
                     | ((F.col("da") == F.col("db"))
                        & (F.col("a") < F.col("b")))))
    tri = wedges.join(
        o.select(F.col("u").alias("a"), F.col("v").alias("b")), ["a", "b"])
    tri_edges = (tri.select(F.explode(F.array(
        F.struct(F.least("u", "a").alias("x"),
                 F.greatest("u", "a").alias("y")),
        F.struct(F.least("u", "b").alias("x"),
                 F.greatest("u", "b").alias("y")),
        F.struct(F.least("a", "b").alias("x"),
                 F.greatest("a", "b").alias("y")))).alias("e"))
        .select(F.col("e.x").alias("u"), F.col("e.y").alias("v")))
    sup = tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("s"))
    return (e_canon.join(sup, ["u", "v"], "left")
            .select("u", "v", F.coalesce("s", F.lit(0))
                    .cast("long").alias("support")))


def ktruss(edges: DataFrame, k: int, max_iter: int = 50,
           src: str = "src", dst: str = "dst") -> DataFrame:
    """K-TRUSS decomposition by support peeling (Cohen 2008, "Trusses:
    cohesive subgraphs for social network analysis"): the maximal
    subgraph in which EVERY EDGE participates in ≥ k−2 triangles — the
    edge-strength analog of k-core (a k-core keeps well-connected NODES;
    a k-truss keeps edges embedded in dense neighborhoods, the standard
    strong-tie / community-backbone extractor for a KG co-mention graph).

    Each round recomputes per-edge support over the SURVIVING subgraph
    (``_edge_support`` — degree-ordered oriented triangle enumeration,
    skew-proof, all equi-joins) and deletes edges below k−2; peeling only
    deletes, so an unchanged edge count is the fixpoint (the kcore
    convergence discipline: localCheckpoint per round, one count
    aggregate as the convergence probe).  Round count is bounded by the
    truss-degeneracy peel depth; ``max_iter`` is a backstop.

    Pure set/count arithmetic → bit-exact cross-engine; a fixed-round
    unrolled SQL oracle that over-runs convergence reproduces it
    row-for-row on cascade-free constructions (the kg_kcore argument).

    Returns (src, dst, support:long) with src < dst — the surviving
    edges and their within-truss support (empty if no k-truss)."""
    if k < 3:
        raise ValueError(f"k must be >= 3 for a k-truss, got {k}")
    thr = k - 2
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
         .select(F.least("a", "b").alias("u"),
                 F.greatest("a", "b").alias("v"))
         .distinct().localCheckpoint(eager=True))
    prev = e.count()
    se = _edge_support(e)
    for _ in range(max_iter):
        if prev == 0:
            break
        e2 = (se.where(F.col("support") >= thr).select("u", "v")
              .localCheckpoint(eager=True))
        cnt = e2.count()
        if cnt == prev:
            break
        e, prev = e2, cnt
        se = _edge_support(e)
    return (se.where(F.col("support") >= thr) if prev else se).select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "support")


def maximal_matching(edges: DataFrame, rounds: int | None = None,
                     max_iter: int = 50, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Deterministic distributed MAXIMAL MATCHING (Israeli & Itai 1986 —
    the locally-minimal-edge symmetry-breaking round, derandomized with
    md5 hash priorities): each round selects every live edge whose
    priority is the strict minimum among ALL live edges touching either
    endpoint (such edges can never conflict, so they enter the matching
    simultaneously), then removes both endpoints.  The globally minimal
    live edge is always locally minimal, so every round makes progress
    and the fixpoint is a maximal matching — the one greedy ordering by
    priority would produce.  The matching primitive is the degree-1
    constraint assigner (one doc per entity for eval splits, one
    canonical pair per merge round in ER).

    Priorities are md5-derived (``dedup._hash60`` over ``u|v``), zero-
    padded to 19 digits and tie-broken by the edge itself — a strict
    total order reproducible in any engine with md5, so a fixed-round
    unrolled SQL oracle replays the trajectory exactly.  ``rounds`` runs
    EXACTLY that many rounds (the oracle-facing mode — both engines stop
    at the same prefix of the greedy trajectory whether or not it has
    drained); ``rounds=None`` iterates to the maximal fixpoint (bounded
    by ``max_iter``; O(log n) rounds expected under hashed priorities).

    Per round: one endpoint-explode + min aggregate, two equi-joins, two
    anti-joins — all map-side-combinable, no windows, localCheckpoint
    lineage discipline.  Returns (src, dst, matched_round:int) with
    src < dst."""
    from recrun_spark.functions.dedup import _hash60
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
         .select(F.least("a", "b").alias("u"),
                 F.greatest("a", "b").alias("v"))
         .distinct())
    us, vs = F.col("u").cast("string"), F.col("v").cast("string")
    live = (e.select("u", "v", F.concat(
        F.lpad(_hash60(F.concat(us, F.lit("|"), vs)).cast("string"),
               19, "0"),
        F.lit("|"), us, F.lit("|"), vs).alias("p"))
        .localCheckpoint(eager=True))
    matched = None
    n_rounds = rounds if rounds is not None else max_iter
    for r in range(1, n_rounds + 1):
        if rounds is None and live.isEmpty():
            break
        mp = (live.select(F.explode(F.array("u", "v")).alias("node"), "p")
              .groupBy("node").agg(F.min("p").alias("mp")))
        sel = (live
               .join(mp.select(F.col("node").alias("u"),
                               F.col("mp").alias("mu")), "u")
               .join(mp.select(F.col("node").alias("v"),
                               F.col("mp").alias("mv")), "v")
               .where((F.col("p") == F.col("mu"))
                      & (F.col("p") == F.col("mv")))
               .select("u", "v",
                       F.lit(r).cast("int").alias("matched_round"))
               .localCheckpoint(eager=True))
        matched = sel if matched is None else matched.union(sel)
        cov = (sel.select(F.col("u").alias("node"))
               .union(sel.select(F.col("v").alias("node"))).distinct())
        live = (live
                .join(cov.select(F.col("node").alias("u")), "u",
                      "left_anti")
                .join(cov.select(F.col("node").alias("v")), "v",
                      "left_anti")
                .localCheckpoint(eager=True))
    if matched is None:
        matched = live.select("u", "v",
                              F.lit(0).cast("int").alias("matched_round"))
    return matched.select(F.col("u").alias("src"),
                          F.col("v").alias("dst"), "matched_round")


def hyperball(edges: DataFrame, rounds: int = 3, p: int = 4,
              src: str = "src", dst: str = "dst") -> DataFrame:
    """HYPERBALL (Boldi & Vigna, "In-Core Computation of Geometric
    Centralities with HyperBall", ICDMW'13): every node carries an HLL
    register table of its r-BALL (the set of nodes within distance r);
    each round max-merges every node's table into its neighbors', so
    after ``rounds`` rounds node v's table is EXACTLY the HLL table of
    B(v, rounds) — max-merge over all ≤r-step paths is max over the ball
    members, path multiplicity invisible to an idempotent max.  The
    per-node ball estimates (``sketch.hll_estimate`` per node) are the
    neighborhood function / effective-diameter / closeness-centrality
    primitive — THE way to ask "how big is everyone's 3-hop
    neighborhood" on a graph where exact multi-source BFS state
    (|V|·|ball|) is infeasible but |V|·2^p registers is linear.

    Registers use the portable md5 scheme shared with the HLL sketch
    (``dedup._hash60``: reg = low ``p`` bits, rho = integer bit-rank of
    the rest — no float log2), so a SQL engine replays the identical
    rounds and the driver oracle checks the final table cell-for-cell.
    Scale shape per round: ONE state×edges equi-join + one
    (node, reg)-keyed max aggregate (map-side combinable), state bounded
    at |V|·2^p rows, localCheckpoint lineage discipline.

    Returns (node, reg:int, max_rho:int) — the r-ball register table;
    absent (node, reg) cells are zero registers."""
    from recrun_spark.functions.dedup import _hash60
    if not (1 <= p <= 16):
        raise ValueError(f"p must be in [1, 16], got {p}")
    wbits = 60 - p
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .where(F.col("u").isNotNull() & F.col("v").isNotNull()))
    sym = (sym.union(sym.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))
           .where(F.col("u") != F.col("v")).distinct()
           .localCheckpoint(eager=True))
    nodes = sym.select(F.col("u").alias("node")).distinct()
    h = _hash60(F.col("node").cast("string"))
    w = F.shiftright(h, p)
    rho = (F.when(w == 0, F.lit(wbits + 1))
           .otherwise(F.lit(wbits + 1)
                      - F.length(F.conv(w.cast("string"), 10, 2))))
    state = (nodes.select("node",
                          h.bitwiseAND(F.lit((1 << p) - 1))
                          .cast("int").alias("reg"),
                          rho.cast("int").alias("rho"))
             .localCheckpoint(eager=True))
    for _ in range(rounds):
        contrib = (state.join(sym.select(F.col("u").alias("node"), "v"),
                              "node")
                   .select(F.col("v").alias("node"), "reg", "rho"))
        state = (state.union(contrib)
                 .groupBy("node", "reg")
                 .agg(F.max("rho").cast("int").alias("rho"))
                 .localCheckpoint(eager=True))
    return state.select("node", "reg", F.col("rho").alias("max_rho"))


def scd2_merge(dim: DataFrame, updates: DataFrame, key_col: str,
               attr_cols: list[str], as_of_col: str = "as_of") -> DataFrame:
    """Slowly-changing-dimension TYPE-2 merge — the upsert a KG entity
    dimension needs at production scale (MERGE INTO with history: entity
    attributes change as new documents arrive; every past version stays
    queryable with its validity interval).

    ``dim`` carries (key, *attrs, valid_from, valid_to, is_current) —
    history rows (is_current = false) pass through untouched.
    ``updates`` carries (key, *attrs, as_of) with AT MOST ONE row per key
    (reduce a raw batch to latest-per-key first) and ``as_of`` no earlier
    than the open version's valid_from (monotone batches — the normal
    warehouse contract).  Merge rules, all null-safe on attributes:

    * update for an existing open version with DIFFERENT attrs → the open
      row closes (valid_to = as_of, is_current = false) and a new open
      version starts at as_of;
    * update with IDENTICAL attrs → the open row passes through (no
      spurious version);
    * update for an unseen key → a new open version;
    * open version with no update → passes through.

    Scale shape: ONE keyed full-outer shuffle join of the open slice
    against the batch, then a single projection exploding each joined row
    into its 1-2 output versions — no second pass over the join, no
    window, history untouched (at rest under a partitioned sink this is
    the classic copy-on-write merge).  Pure expressions; deterministic,
    so a UNION-ALL-of-branches SQL oracle reproduces it row-for-row."""
    if not attr_cols:
        raise ValueError("attr_cols must be non-empty")
    for c in (key_col, *attr_cols, "valid_from", "valid_to", "is_current"):
        if c not in dim.columns:
            raise ValueError(f"dim is missing column {c!r}")
    cur = dim.where(F.col("is_current"))
    hist = dim.where(~F.col("is_current"))
    upd = updates.select(
        F.col(key_col),
        *[F.col(c).alias(f"_u_{c}") for c in attr_cols],
        F.col(as_of_col).alias("_as_of"))
    j = cur.join(upd, key_col, "full_outer")
    has_cur = F.col("valid_from").isNotNull()
    has_upd = F.col("_as_of").isNotNull()
    same = None
    for c in attr_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_u_{c}"))
        same = eq if same is None else (same & eq)

    def ver(attrs, vfrom, vto, iscur):
        return F.struct(
            *[a.alias(c) for c, a in zip(attr_cols, attrs)],
            vfrom.alias("valid_from"), vto.alias("valid_to"),
            F.lit(iscur).alias("is_current"))

    cur_ver = ver([F.col(c) for c in attr_cols],
                  F.col("valid_from"), F.col("valid_to"), True)
    closed = ver([F.col(c) for c in attr_cols],
                 F.col("valid_from"), F.col("_as_of"), False)
    opened = ver([F.col(f"_u_{c}") for c in attr_cols],
                 F.col("_as_of"), F.lit(None).cast(
                     dim.schema["valid_to"].dataType), True)
    versions = (F.when(has_cur & has_upd & ~same, F.array(closed, opened))
                .when(has_cur, F.array(cur_ver))
                .otherwise(F.array(opened)))
    merged = (j.select(F.col(key_col), F.explode(versions).alias("_v"))
              .select(key_col, "_v.*"))
    return hist.select(key_col, *attr_cols, "valid_from", "valid_to",
                       "is_current").unionByName(merged)


def negative_samples(positives: DataFrame, items: DataFrame, k: int = 4,
                     head_col: str = "head", item_col: str = "item",
                     seed: int = 17) -> DataFrame:
    """Filtered uniform negative sampling over (head, item) positive pairs
    — the corrupted-triple generator KG-embedding training needs (TransE,
    Bordes NeurIPS'13: for each positive, corrupt the tail uniformly and
    reject corruptions that are themselves positives).

    For each positive and slot i ∈ [0, k), the candidate negative is
    ``h60(head|item|seed|i) mod (max_item+1)`` — deterministic, so the
    sample is stable under repartitioning and reproducible by any engine
    that can take md5 (the DuckDB oracle mirrors it literally).  Candidates
    are validated against the item universe (ids need not be contiguous —
    holes are rejected by the join, the standard "filtered" variant) and
    anti-joined against the positives.  Slots that collide with a true
    positive or an id hole are DROPPED, not resampled: per-slot rejection
    keeps the generator one-pass and the miss rate is |positives|/|items|
    per slot (negligible when the universe is large, exactly the regime
    negative sampling is for).

    Output: (head, pos_item, neg_item, sample_i) — the per-positive
    (positive, negative) training pairs.

    100 TB shape: one scan of the positives, a row-local k-way explode,
    one equi semi-join on the item key to validate, one anti-join on
    (head, item) to filter — all keyed shuffles, no windows, no driver
    loop.  The only driver exchange is the 1-row max(item) probe (the
    pps_sample convention).  Head skew is harmless: corrupted items are
    uniform over the universe, so the validate join cannot hot-spot.
    """
    from recrun_spark.functions.dedup import _hash60

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    pos = (positives.select(F.col(head_col).alias("head"),
                            F.col(item_col).cast("long").alias("pos_item"))
           .where(F.col("head").isNotNull() & F.col("pos_item").isNotNull())
           .distinct())
    universe = (items.select(F.col(item_col).cast("long").alias("neg_item"))
                .where(F.col("neg_item").isNotNull()).distinct())
    n = universe.agg(F.max("neg_item").alias("m")).first()["m"]
    if n is None:
        raise ValueError("item universe is empty")
    cand = (pos.select(
        "head", "pos_item",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("sample_i"))
        .withColumn("neg_item", F.pmod(
            _hash60(F.concat(F.col("head"), F.lit("|"),
                             F.col("pos_item").cast("string"),
                             F.lit(f"|{seed}|"),
                             F.col("sample_i").cast("string"))),
            F.lit(int(n) + 1))))
    valid = cand.join(universe, "neg_item", "left_semi")
    neg = valid.join(
        pos.select("head", F.col("pos_item").alias("neg_item")),
        ["head", "neg_item"], "left_anti")
    return neg.select("head", "pos_item", "neg_item",
                      F.col("sample_i").cast("int").alias("sample_i"))


def _boruvka_contract(sel: DataFrame, max_inner: int) -> DataFrame:
    """Merge-group labels for one Borůvka round by POINTER DOUBLING over
    the chosen-edge FUNCTIONAL graph — O(log depth) rounds where plain
    min-label relaxation walks a contraction chain one hop per job.

    f(c) = the partner of component c's own argmin edge.  Chosen-edge
    weights are non-increasing along f (c's min edge is incident to
    f(c), so f(c)'s min is ≤ it), hence every cycle has constant weight
    = the SAME edge: all cycles are 2-cycles (the classic Borůvka
    invariant).  Every member of a merge group therefore reaches that
    group's unique 2-cycle by following f, and min(p, f(p)) at the
    converged pointer is one consistent label per group.  Doubling
    p ← p∘p converges when p∘p == p∘p∘p... detected by an unchanged-
    pointer count; ≤ ⌈log₂ depth⌉ + 1 rounds.

    ``sel`` carries (cu, cv, p) — the selected edges with their priority
    string; returns (n, lbl) for every participating component."""
    own = (sel.select(F.col("cu").alias("c"), F.col("cv").alias("o"), "p")
           .union(sel.select(F.col("cv").alias("c"),
                             F.col("cu").alias("o"), "p")))
    # a component may appear with several chosen edges (its own argmin
    # plus edges chosen BY others) — its pointer is its OWN argmin
    # (min_by on the unique priority string: map-side combinable)
    f = (own.groupBy("c").agg(F.min_by("o", "p").alias("f"))
         .localCheckpoint(eager=True))
    ptr = f
    for _ in range(max_inner):
        hop = ptr.select(F.col("c").alias("f"), F.col("f").alias("f2"))
        nxt = (ptr.join(hop, "f")
               .select("c", F.col("f2").alias("f"))
               .localCheckpoint(eager=True))
        moved = (nxt.withColumnRenamed("f", "g").join(ptr, "c")
                 .where(F.col("g") != F.col("f")).count())
        ptr = nxt
        if moved == 0:
            break
    else:
        raise RuntimeError(
            f"pointer doubling did not converge in {max_inner} rounds")
    # at convergence the pointer sits on (or oscillates within) the
    # 2-cycle: label = min(ptr, f(ptr)) is cycle-invariant
    fin = ptr.join(f.select(F.col("c").alias("f"),
                            F.col("f").alias("ff")), "f")
    return fin.select(F.col("c").alias("n"),
                      F.least("f", "ff").alias("lbl"))


def boruvka_mst(edges: DataFrame, src: str = "src", dst: str = "dst",
                weight: str = "weight", max_rounds: int = 25,
                max_inner: int = 50) -> DataFrame:
    """Minimum spanning FOREST by Borůvka's algorithm (Borůvka 1926; the
    canonical distributed MST — each round EVERY component picks its
    minimum outgoing edge simultaneously, components at least halve, so
    O(log V) rounds): the single-linkage clustering primitive (cut the
    MST at a distance threshold and the pieces are exactly the
    single-linkage clusters — the hierarchical companion of the flat
    near-dup CC), and the cheapest-backbone extractor for a weighted KG.

    Determinism: edge priority is the total order (weight, src, dst)
    encoded as a zero-padded string, so the MST is the UNIQUE minimum
    forest under that order even with weight ties — any correct MST
    algorithm (the Kruskal differential in tests, a closed-form oracle)
    must produce the identical edge set.  Parallel edges reduce to their
    min weight first; weights must be non-negative int64 (1-row probe).

    Scale shape per round: two label equi-joins + one per-component min
    aggregate (map-side combinable — the priority string makes min an
    argmin) + a min-label relaxation over the CHOSEN-edge graph only
    (components, not vertices; ``_min_label_fixpoint``, the SCC helper),
    localCheckpoint lineage discipline throughout.  Returns
    (src, dst, weight:long) with src < dst — the spanning forest."""
    us, vs = F.col("u").cast("string"), F.col("v").cast("string")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                      F.col(weight).cast("long").alias("w"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & F.col("w").isNotNull() & (F.col("a") != F.col("b")))
         .select(F.least("a", "b").alias("u"),
                 F.greatest("a", "b").alias("v"), "w")
         .groupBy("u", "v").agg(F.min("w").alias("w"))
         .select("u", "v", "w", F.concat(
             F.lpad(F.col("w").cast("string"), 19, "0"), F.lit("|"),
             us, F.lit("|"), vs).alias("p"))
         .localCheckpoint(eager=True))
    probe = e.agg(F.min("w").alias("m")).first()["m"]
    if probe is not None and probe < 0:
        raise ValueError(f"weights must be non-negative, got min {probe}")
    lab = (e.select(F.col("u").alias("node"))
           .union(e.select(F.col("v").alias("node"))).distinct()
           .select("node", F.col("node").alias("comp"))
           .localCheckpoint(eager=True))
    mst = None
    for _ in range(max_rounds):
        e2 = (e.join(lab.select(F.col("node").alias("u"),
                                F.col("comp").alias("cu")), "u")
              .join(lab.select(F.col("node").alias("v"),
                               F.col("comp").alias("cv")), "v")
              .where(F.col("cu") != F.col("cv"))
              .localCheckpoint(eager=True))
        if e2.isEmpty():
            break
        cand = (e2.select(F.col("cu").alias("c"), "p")
                .union(e2.select(F.col("cv").alias("c"), "p")))
        chosen = (cand.groupBy("c").agg(F.min("p").alias("p"))
                  .select("p").distinct())
        sel = e2.join(chosen, "p").localCheckpoint(eager=True)
        add = sel.select("u", "v", "w")
        mst = add if mst is None else mst.union(add)
        # contraction: pointer doubling over the chosen-edge functional
        # graph (O(log depth) jobs — a relaxation walks deep contraction
        # chains one hop per job); comps with no cross edge keep labels
        newlab = _boruvka_contract(sel, max_inner)
        lab = (lab.join(newlab.withColumnRenamed("n", "comp"), "comp",
                        "left")
               .select("node", F.coalesce("lbl", F.col("comp"))
                       .alias("comp"))
               .localCheckpoint(eager=True))
    if mst is None:
        return e.select(F.col("u").alias("src"), F.col("v").alias("dst"),
                        F.col("w").alias("weight")).where(F.lit(False))
    return (mst.select(F.col("u").alias("src"), F.col("v").alias("dst"),
                       F.col("w").alias("weight"))
            .localCheckpoint(eager=True))


def _min_label_fixpoint(nodes: DataFrame, edges: DataFrame,
                        reverse: bool, max_inner: int) -> DataFrame:
    """(n, lbl): lbl = min node id reachable FROM n along edge direction
    (``reverse=True`` follows edges backward — min id that REACHES n).
    Plain min-label relaxation: each round pulls successors' labels
    through one equi-join + one keyed min aggregate, converging in
    ≤ diameter rounds (checked by a single changed-count aggregate;
    localCheckpoint per round keeps lineage flat — the pagerank/kcore
    discipline).  Raises loudly if max_inner rounds don't converge."""
    s, d = ("d", "s") if reverse else ("s", "d")
    lab = nodes.select("n", F.col("n").alias("lbl")) \
        .localCheckpoint(eager=True)
    for _ in range(max_inner):
        upd = (edges.join(lab.withColumnRenamed("n", d), d)
               .groupBy(F.col(s).alias("n"))
               .agg(F.min("lbl").alias("nbr")))
        nxt = (lab.join(upd, "n", "left")
               .select("n", F.least(F.col("lbl"),
                                    F.coalesce("nbr", F.col("lbl")))
                       .alias("lbl"))
               .localCheckpoint(eager=True))
        changed = (nxt.withColumnRenamed("lbl", "l2").join(lab, "n")
                   .where(F.col("l2") != F.col("lbl")).count())
        lab = nxt
        if changed == 0:
            return lab
    raise RuntimeError(
        f"min-label propagation did not converge in {max_inner} rounds "
        "(graph diameter exceeds max_inner — raise it)")


def scc(edges: DataFrame, src: str = "src", dst: str = "dst",
        max_outer: int = 20, max_inner: int = 50) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — forward/
    backward min-label coloring (the FW-BW family: Fleischer,
    Hendrickson & Pinar 2000; Slota, Rajamanickam & Madduri 2014; Orzan's
    coloring variant).  Returns (node, scc_id) for every node appearing
    in an edge, scc_id = MIN node id of the component (the canonical
    label, same convention as connected_components).

    Each outer round computes fwd(u) = min id forward-reachable from u
    and bwd(u) = min id backward-reachable; nodes with fwd == bwd == m
    are exactly SCC(m) with m its minimum member (m is reachable both
    ways → m ∈ SCC(u); fwd min ≤ min(SCC) and fwd min ∈ SCC → equality),
    so they RESOLVE and leave the graph; unresolved nodes recurse on the
    induced subgraph.  The globally minimal remaining node always
    resolves (its fwd and bwd are both itself), so ≥1 SCC retires per
    round — and every locally-minimal SCC retires simultaneously, which
    is why real graphs finish in few rounds (one giant SCC + fringe is
    the common shape).  Raises loudly at max_outer with nodes left.

    100 TB shape: inner rounds are one equi-join + one keyed min each
    (O(E)/round, ≤ diameter rounds, convergence by a 1-row changed-count
    aggregate); outer rounds shrink the graph by two semi-joins; every
    frame is localCheckpoint-truncated.  No transitive closure is ever
    materialized (the oracle does that — at test scale only)."""
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .where(F.col("s").isNotNull() & F.col("d").isNotNull()
                & (F.col("s") != F.col("d")))
         .distinct().localCheckpoint(eager=True))
    remaining = (e.select(F.col("s").alias("n"))
                 .union(e.select(F.col("d").alias("n")))
                 .distinct().localCheckpoint(eager=True))
    resolved = []
    for _ in range(max_outer):
        n_left = remaining.count()
        if n_left == 0:
            break
        fwd = _min_label_fixpoint(remaining, e, False, max_inner)
        bwd = (_min_label_fixpoint(remaining, e, True, max_inner)
               .withColumnRenamed("lbl", "blbl"))
        lab = fwd.join(bwd, "n")
        res = (lab.where(F.col("lbl") == F.col("blbl"))
               .select("n", F.col("lbl").alias("scc_id"))
               .localCheckpoint(eager=True))
        resolved.append(res)
        remaining = (remaining.join(res, "n", "left_anti")
                     .localCheckpoint(eager=True))
        e = (e.join(remaining.withColumnRenamed("n", "s"), "s", "left_semi")
             .join(remaining.withColumnRenamed("n", "d"), "d", "left_semi")
             .localCheckpoint(eager=True))
    else:
        if remaining.count() > 0:
            raise RuntimeError(
                f"scc did not resolve all nodes in {max_outer} outer "
                "rounds — raise max_outer")
    out = resolved[0]
    for r in resolved[1:]:
        out = out.unionByName(r)
    return out.select(F.col("n").alias("node"), "scc_id")


def hits(edges: DataFrame, iterations: int = 3, scale: int = 10 ** 6,
         src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic INTEGER-arithmetic HITS (Kleinberg JACM'99 hubs &
    authorities) over a directed/bipartite graph — the natural ranking
    for a doc↔entity mention graph (docs are hubs: they point at good
    entities; entities are authorities: pointed at by good docs).

    Each round: auth'(e) = Σ_in hub(d), then NORMALIZED to
    ``a·scale div max(a)`` (max-normalization with truncating integer
    division — the pinned replacement for the float L2 norm, preserving
    the ranking and keeping every value in int64, bit-exact in any
    engine); hubs update symmetrically from the new authorities.  Hubs
    start at ``scale``.

    Scale shape (the pagerank discipline): per round two equi-joins +
    two keyed sums, O(E) each; the normalizing max rides back in as a
    1-row broadcast (never a driver collect); score frames
    localCheckpoint per round so the driver loop's lineage stays flat.
    int64 headroom: Σ hub ≤ N·scale, so scale=10⁶ is safe to ~10¹²
    in-degree-weighted mass (ANSI makes overflow loud).

    Returns (node, kind 'hub'|'auth', score:long)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct().persist())
    hubs = (e.select(F.col("src").alias("node")).distinct()
            .select("node", F.lit(scale).cast("long").alias("score"))
            .localCheckpoint(eager=True))
    auths = None
    for _ in range(iterations):
        a_raw = (e.join(hubs.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("score").alias("raw")))
        a_max = a_raw.agg(F.max("raw").alias("mx"))
        auths = (a_raw.crossJoin(F.broadcast(a_max))
                 .select("node", F.expr(f"raw * {scale} div mx")
                         .cast("long").alias("score"))
                 .localCheckpoint(eager=True))
        h_raw = (e.join(auths.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("score").alias("raw")))
        h_max = h_raw.agg(F.max("raw").alias("mx"))
        hubs = (h_raw.crossJoin(F.broadcast(h_max))
                .select("node", F.expr(f"raw * {scale} div mx")
                        .cast("long").alias("score"))
                .localCheckpoint(eager=True))
    out = (hubs.select("node", F.lit("hub").alias("kind"), "score")
           .unionByName(auths.select("node", F.lit("auth").alias("kind"),
                                     "score")))
    e.unpersist()
    return out


def hash_walks(edges: DataFrame, walk_len: int = 4, seed: int = 23,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic hash-seeded random walks — DeepWalk-style corpus
    generation (Perozzi et al. KDD'14), DERANDOMIZED: from every node,
    ``walk_len`` steps; at step r the walk at node u moves to
    argmin over out-neighbors v of h60(u|r|seed|v).  The md5-derived
    choice is uniform-ish over neighbors, varies per step and per seed
    (run several seeds for several walks per node), and is reproducible
    by any engine with md5 — the SQL oracle replays every step.  A true
    RNG would make the walk corpus unverifiable AND non-resumable; hash
    seeding is the same determinism trade the sampling family makes.
    Dead ends stay in place (documented; symmetrize edges if walks must
    never stall).

    Scale shape: per step ONE equi-join (walk frontier × edges on the
    current node) + one keyed min aggregate — O(E)/step, a fixed small
    number of steps, localCheckpoint per step (the pagerank discipline).
    The min is taken over a (hash, dst) struct, so ties (h60 collisions)
    break on the neighbor id — fully pinned.

    Returns (start, step, node) path rows; step 0 is the start itself."""
    if walk_len < 0:
        raise ValueError(f"walk_len must be >= 0, got {walk_len}")
    from recrun_spark.functions.dedup import _hash60
    e = (edges.select(F.col(src).cast("string").alias("s"),
                      F.col(dst).cast("string").alias("t"))
         .where(F.col("s").isNotNull() & F.col("t").isNotNull())
         .distinct().persist())
    nodes = (e.select(F.col("s").alias("n"))
             .union(e.select(F.col("t").alias("n"))).distinct())
    walks = (nodes.select(F.col("n").alias("start"),
                          F.col("n").alias("cur"))
             .localCheckpoint(eager=True))
    outs = [walks.select("start", F.lit(0).alias("step"),
                         F.col("cur").alias("node"))]
    # stay-in-place rides INSIDE the per-step argmin as a sentinel
    # candidate: h60 < 2^60 for every real neighbor, so the 2^62 sentinel
    # loses whenever any out-neighbor exists and wins exactly at a dead
    # end — semantics equal the former pick-then-left-join-coalesce at
    # one join stage (and its exchange) less per step
    sentinel = F.lit(1 << 62).cast("long")
    for r in range(1, walk_len + 1):
        h = _hash60(F.concat(F.col("s"), F.lit(f"|{r}|{seed}|"),
                             F.col("t")))
        cands = (walks.join(e, walks.cur == e.s)
                 .select("start", h.alias("h"), "t")
                 .unionByName(walks.select(
                     "start", sentinel.alias("h"),
                     F.col("cur").alias("t"))))
        walks = (cands.groupBy("start")
                 .agg(F.min(F.struct("h", "t")).alias("m"))
                 .select("start", F.col("m.t").alias("cur"))
                 .localCheckpoint(eager=True))
        outs.append(walks.select("start", F.lit(r).alias("step"),
                                 F.col("cur").alias("node")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    e.unpersist()
    return out.select("start", F.col("step").cast("int").alias("step"),
                      "node")
