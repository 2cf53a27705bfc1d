"""Similarity search over embedding columns (E2, SURVEY.md §2.9).

Brute-force cosine top-k as the exact baseline, and an IVF
(inverted-file) variant as the scale path: vectors are assigned to
their nearest centroid once (a narrow projection against a broadcast
centroid table), and a query probes only its centroid's cell — at
1000 executors the probe is a partition-pruned scan of ~1/K of the
data instead of the full corpus.

All vector math uses built-in higher-order functions (``zip_with`` +
``aggregate``) over ``array<float>`` cast to double — JVM-side, no
Python in the hot path. Dot products accumulate left-to-right, so the
DuckDB oracle (same accumulation order) agrees bit-for-bit at double
precision; scores are still rounded in declared queries for hash
stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.partitioning import spread_to_parallelism
from .skew import salted_topk_per_key


def dot_expr(a: str, b: str) -> str:
    """Sequential-order dot product of two float arrays, in double."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> str:
    return f"sqrt({dot_expr(a, a)})"


def cosine_expr(a: str, b: str) -> str:
    return f"({dot_expr(a, b)}) / (({norm_expr(a)}) * ({norm_expr(b)}))"


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Unit-normalize an embedding column (narrow projection, norm
    materialized once). After normalization cosine == dot, which
    halves per-pair work in any downstream all-pairs/top-k stage.
    Zero vectors normalize to NULL (no direction).

    r11: spread to session parallelism first — the transform over a
    64-dim array per row is compute-heavy while the frame's bytes are
    tiny, so a one-file scan ran the whole pass in one task (measured
    1.6 s single-task at sf0.1; AQE coalesces by bytes, not compute).
    spread_to_parallelism is metadata-gated: a no-op whenever the scan
    already has >= cores files, so nothing is added at scale."""
    out = out_col or vec_col
    # r11: the norm is bound ONCE per row via the single-element
    # transform let-idiom (the cdc_chunks discipline). The previous
    # withColumn("__n") formulation invited Catalyst's projection
    # collapse to inline the O(dim) norm aggregate into the per-element
    # division lambda — and under a downstream posexplode the aggregate
    # re-evaluated PER ELEMENT: measured 4.3 s -> 0.65 s on
    # e2_l2_normalize's exploded readout at sf0.1, IEEE-identical
    # values (same expression, same order, evaluated once). With the
    # per-row work now O(dim), no parallelism spread is warranted here
    # (the exchange would cost more than the map; measured 0.9 vs
    # 0.37 s) — heavy consumers (the pair scorers) spread themselves.
    return df.withColumn(
        out,
        F.expr(
            f"transform(array({norm_expr(vec_col)}), __n -> "
            f"CASE WHEN __n = 0 THEN NULL "
            f"ELSE transform({vec_col}, x -> cast(x as double) / __n) END"
            f")[0]"
        ),
    )


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (E2 baseline).

    ``queries`` is small (it is broadcast); the corpus never shuffles to
    score. The per-query top-k runs through the two-phase salted
    formulation (:func:`~.skew.salted_topk_per_key`): phase 1 ranks
    within (query_id, salt-of-neighbor_id) — each task sees ~1/buckets
    of the corpus — and phase 2 ranks the surviving ``buckets x k``
    candidates per query. A window partitioned only by query_id over
    the (|queries| x |corpus|) scored frame would put the ENTIRE corpus
    in one unsplittable sort task per query at 100 TB; the salted plan
    bounds every final partition by construction. Scores are rounded
    before ranking so ordering is reproducible across engines; ties
    break on neighbor id.
    Output: (query_id, neighbor_id, score, rank).

    Norms are materialized per SIDE before the join (|Q|+|C| sqrt-dot
    passes), not inside the pair expression (2x|Q|x|C| passes) — the
    per-pair work is then exactly one dot product. Same IEEE values:
    identical sqrt input, identical division structure.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_expr(vec_col)).alias("__qn"),
    )
    # r11: pair scoring runs inside the corpus scan task (broadcast
    # query side = narrow join); spread the under-parallel scan first
    # (metadata-gated, no-op at scale).
    corpus = spread_to_parallelism(df).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"),
                round_digits,
            ).alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def brute_force_topk_blas(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k with BLAS batch scoring — the scale path for
    the fixed-ABSOLUTE-query-budget audit family (r10 verdict item 8:
    e2_match_confidence was the engine's worst 30x scaler at 29.2
    because the generic :func:`brute_force_topk` scores |Q| x |corpus|
    pairs through an interpreted per-element aggregate and then
    shuffles + sorts the whole scored frame).

    Here the corpus never leaves its scan partitions: the small query
    frame (the documented ``queries``-is-broadcastable contract, made
    literal — it is collected once and Spark-broadcast as a float64
    matrix) is scored against each Arrow batch with one BLAS matmul,
    and only the batch-local top-k per query (<= |Q| x k rows per
    batch) reaches the final per-query rank — the one shuffle is
    batches x |Q| x k tiny rows. Measured 16.4 s -> 0.84 s at the
    10x decade (r11 closing sweep).

    Output and ordering parity with :func:`brute_force_topk`:
    (query_id, neighbor_id, score, rank), score = dot / (norm x norm)
    in float64 rounded to ``round_digits``, rank by (score desc,
    neighbor_id asc), self-pairs excluded. The one documented
    narrowing: zero-norm pairs score NULL there (ranking last, so
    they only ever surface when a query has fewer than k finite
    candidates) and are dropped here. The float64 summation-order
    difference (BLAS pairwise vs sequential) is ~1e-15 relative —
    invisible at digit-4 rounding of random-valued sums.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    if not qrows:
        empty = "query_id long, neighbor_id long, score double, rank int"
        return spark.createDataFrame([], empty)
    q_ids = np.asarray([r["qid"] for r in qrows], dtype=np.int64)
    q_mat = np.asarray([r["qv"] for r in qrows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def _batch_topk(batches):
        ids, qm, qn = bq.value
        for pdf in batches:
            # NULL vectors score NULL in the generic operator (ranking
            # last); here they are dropped before the stack — same
            # narrowing as zero-norm, and np.stack would crash on None
            pdf = pdf[pdf["__cv"].notna()]
            if pdf.empty:
                continue
            nid = pdf["__nid"].to_numpy(dtype=np.int64)
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__cv"]]
            )
            cn = np.sqrt((cm * cm).sum(axis=1))
            denom = cn[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = np.round((cm @ qm.T) / denom, round_digits)
            scores[nid[:, None] == ids[None, :]] = -np.inf
            scores[~np.isfinite(scores)] = -np.inf
            out_q, out_n, out_s = [], [], []
            kk = min(k, scores.shape[0])
            for j in range(scores.shape[1]):
                col = scores[:, j]
                # exact candidate set: everything at or above the
                # k-th largest score — digit-rounded cosines tie, and
                # a fixed-size cut could drop a tied row whose smaller
                # neighbor_id should win the (score desc, id asc) sort
                cut_val = np.partition(col, -kk)[-kk]
                cand = np.nonzero(col >= cut_val)[0]
                order = cand[np.lexsort((nid[cand], -col[cand]))][:kk]
                for i in order:
                    if col[i] == -np.inf:
                        break
                    out_q.append(ids[j])
                    out_n.append(nid[i])
                    out_s.append(col[i])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "score": np.asarray(out_s, dtype=np.float64),
                }
            )

    partial = df.select(
        F.col(id_col).alias("__nid"), F.col(vec_col).alias("__cv")
    ).mapInPandas(
        _batch_topk, schema="query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return partial.withColumn(
        "rank", F.row_number().over(w)
    ).where(F.col("rank") <= k)


def _threshold_scored_pairs(
    joined: DataFrame, threshold: float, round_digits: int
) -> DataFrame:
    """Shared finalize for radius search: cosine-score the
    (query, neighbor) join — columns ``__qv/__cv/__qn/__cn`` — round,
    and apply the threshold filter. One definition so the exact and
    IVF variants (``e2_range_search`` / ``e2_range_search_ivf``) stay
    the same contract by construction."""
    return (
        joined.where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"
                ),
                round_digits,
            ).alias("score"),
        )
        .where(F.col("score") >= F.lit(float(threshold)))
    )


def range_neighbors(
    df: DataFrame,
    queries: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Radius search: every (query, neighbor) pair with cosine >=
    ``threshold`` — the dedup-style companion to top-k (top-k bounds
    the RESULT size, range search bounds the SIMILARITY; near-dup
    mining and recall audits want the latter).

    Plan shape: queries broadcast, corpus never shuffles, and — unlike
    top-k — NO rank window at all: the threshold is a plain filter on
    the scored join, so the whole operator is a single narrow pass over
    the corpus at any scale. Scores round before comparison so the
    boundary is engine-exact. Output: (query_id, neighbor_id, score).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_expr(vec_col)).alias("__qn"),
    )
    # r11: pair scoring runs inside the corpus scan task (broadcast
    # query side = narrow join); spread the under-parallel scan first
    # (metadata-gated, no-op at scale).
    corpus = spread_to_parallelism(df).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
    )
    return _threshold_scored_pairs(
        corpus.crossJoin(F.broadcast(q)), threshold, round_digits
    )


def range_neighbors_ivf(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Cell-pruned radius search — the 100 TB path for
    :func:`range_neighbors`: each query scores only its own IVF cell
    (1/K of the corpus by layout; against a materialized
    ``write_ivf_index`` the probe reads only those partitions), then
    the cosine threshold filters. Approximate like every IVF probe —
    a neighbor in a foreign cell is missed; raise coverage the same
    way as top-k (nprobe via :func:`ivf_probes`). Still no rank
    window anywhere. Output: (query_id, neighbor_id, score).
    """
    assign = ivf_assign(df, centroids, vec_col, id_col)
    corpus = df.join(assign, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
        F.col("centroid_id").alias("__ccell"),
    )
    q_assign = ivf_assign(queries, centroids, vec_col, id_col)
    q = queries.join(q_assign, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_expr(vec_col)).alias("__qn"),
        F.col("centroid_id").alias("__qcell"),
    )
    return _threshold_scored_pairs(
        corpus.join(F.broadcast(q), F.col("__ccell") == F.col("__qcell")),
        threshold,
        round_digits,
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign every vector to its nearest (max-cosine) centroid — the IVF
    partitioning step (E2 scale path). Centroids are broadcast; ties
    break on centroid id (ascending). Output: (vec_id, centroid_id).

    The argmax is a ``min_by`` over struct((-score, centroid_id)) — a
    declarative aggregate Catalyst partially aggregates map-side, so
    the shuffle carries one (vec, best-so-far) pair per vector per
    partition instead of sorting K x |corpus| rows through a
    ``row_number`` window. NULL scores (zero-norm vectors) sort after
    every real score, matching the window formulation's
    desc-nulls-last; such vectors fall back to the smallest centroid
    id. Scores round to 6 digits before the argmax so the choice is
    engine-portable.

    At scale the result is written ``partitionBy(centroid_id)`` so
    probes are partition-pruned scans.
    """
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
    )
    # r11: K x |corpus| scoring runs in the corpus scan task (broadcast
    # centroids = narrow join); spread the under-parallel scan first
    # (metadata-gated, no-op at scale).
    scored = spread_to_parallelism(df).select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.expr(norm_expr(vec_col)).alias("__vn"),
    ).crossJoin(F.broadcast(c))
    neg_score = -F.round(
        F.expr(f"({dot_expr('__v', '__cv')}) / nullif(__vn * __cn, cast(0 as double))"),
        6,
    )
    ordering = F.struct(
        F.coalesce(neg_score, F.lit(float("inf"))).alias("s"),
        F.col("__cid").alias("c"),
    )
    return scored.groupBy(id_col).agg(
        F.min_by(F.col("__cid"), ordering).alias(centroid_id_col)
    )


def ivf_assign_nested(
    df: DataFrame,
    centroids: DataFrame,
    bounds: tuple[int, ...],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """:func:`ivf_assign` for a FAMILY of nested centroid prefixes in
    ONE corpus-scoring pass (r11 continuation; guide §1.4 "share
    passes" / §2.4).

    The nlist tuning curve assigns the same corpus against centroid
    sets that are prefixes of each other (``centroid_id < b`` for
    growing ``b``) — per-centroid scores are identical across arms, so
    three separate ``ivf_assign`` calls re-run the K x |corpus| scoring
    three times for one argmax family. Here each arm is a masked
    ``min_by`` over the single scored frame: rows with ``__cid >= b``
    get ordering ``(inf, __cid)``, which can never beat an in-prefix
    row — a real score sorts before inf, and when EVERY in-prefix score
    is NULL (zero-norm vector) the inf tiebreak falls to the smallest
    centroid id, which is in-prefix because prefix ids are, by the
    nesting contract, the smallest ids. Bit-identical to per-arm
    ``ivf_assign`` (parity-tested).

    Contract: ``bounds`` ascending; arm ``b``'s centroid set is exactly
    ``centroids.where(centroid_id < b)``; the largest bound covers the
    whole ``centroids`` frame. Output: one row per vector with columns
    ``{centroid_id_col}_{b}`` per bound.
    """
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
    )
    scored = spread_to_parallelism(df).select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.expr(norm_expr(vec_col)).alias("__vn"),
    ).crossJoin(F.broadcast(c))
    neg_score = -F.round(
        F.expr(
            f"({dot_expr('__v', '__cv')}) / nullif(__vn * __cn, cast(0 as double))"
        ),
        6,
    )
    inf = F.lit(float("inf"))
    aggs = []
    for b in bounds:
        ordering = F.struct(
            F.coalesce(
                F.when(F.col("__cid") < b, neg_score), inf
            ).alias("s"),
            F.col("__cid").alias("c"),
        )
        aggs.append(
            F.min_by(F.col("__cid"), ordering).alias(
                f"{centroid_id_col}_{b}"
            )
        )
    return scored.groupBy(id_col).agg(*aggs)


def ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    nprobe: int = 2,
) -> DataFrame:
    """Top-``nprobe`` nearest centroids per query vector (multi-probe
    IVF). Output: (vec_id, centroid_id, probe_rank 1..nprobe).

    Unlike the corpus-sized top-k, this window is BOUNDED by
    construction: each partition holds exactly K rows (one per
    broadcast centroid) per query, independent of corpus size — no
    salting needed. Ties break on centroid id; scores round to 6 digits
    for engine-portable probe choice (same contract as ivf_assign).
    """
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
    )
    scored = queries.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.expr(norm_expr(vec_col)).alias("__vn"),
    ).crossJoin(F.broadcast(c))
    w = Window.partitionBy(id_col).orderBy(
        F.desc(
            F.round(
                F.expr(
                    f"({dot_expr('__v', '__cv')}) / nullif(__vn * __cn, cast(0 as double))"
                ),
                6,
            )
        ),
        F.asc("__cid"),
    )
    return (
        scored.withColumn("__pr", F.row_number().over(w))
        .where(F.col("__pr") <= nprobe)
        .select(
            F.col(id_col),
            F.col("__cid").alias(centroid_id_col),
            F.col("__pr").cast("long").alias("probe_rank"),
        )
    )


def kmeans_update(
    df: DataFrame,
    assignments: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """One distributed Lloyd step: new centroid = mean of assigned
    vectors (the IVF training iteration; compose with
    :func:`ivf_assign` in a driver loop for full k-means).

    Plan shape — the reason this scales: ``posexplode`` turns vectors
    into (centroid, dim, value) rows, ONE partial-aggregated groupBy
    computes per-(centroid, dim) means (shuffled bytes = K x D partial
    sums per partition, not vectors), and the vector rebuild is an
    ``array_agg`` over K x D rows — driver never touches data. Output:
    (centroid_id, embedding, n_members).
    """
    joined = df.join(assignments, id_col).select(
        F.col(centroid_id_col), F.posexplode(vec_col).alias("__dim", "__x")
    )
    dims = joined.groupBy(centroid_id_col, "__dim").agg(
        F.avg(F.col("__x").cast("double")).alias("__m"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        dims.groupBy(centroid_id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__dim", "__m"))
            ).alias("__dm"),
            F.max("__n").alias("n_members"),
        )
        .select(
            centroid_id_col,
            F.expr("transform(__dm, s -> s.__m)").alias(vec_col),
            "n_members",
        )
    )


def _cell_sizes(
    assign: DataFrame,
    centroids: DataFrame,
    centroid_id_col: str,
    n_col: str,
) -> DataFrame:
    """Per-cell member counts INCLUDING empty cells, checkpointed (K
    rows, consumed by both the totals aggregate and downstream
    selects). Shared by :func:`ivf_balance` and :func:`ivf_rebalance`
    so the audit and the action count cells identically by
    construction."""
    counts = assign.groupBy(centroid_id_col).agg(
        F.count(F.lit(1)).cast("long").alias(n_col)
    )
    return (
        centroids.select(centroid_id_col)
        .join(counts, centroid_id_col, "left")
        .select(
            centroid_id_col,
            F.coalesce(F.col(n_col), F.lit(0)).cast("long").alias(n_col),
        )
        .localCheckpoint(eager=True)
    )


def ivf_balance(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF cell-balance audit: rows per cell INCLUDING empty cells,
    plus each cell's load factor vs the uniform ideal (n * K / total)
    — the index-health number an operator reads before re-fitting
    centroids or splitting hot cells. A 10x cell at 100 TB means one
    ``partitionBy(centroid_id)`` partition holds 10x the probe work;
    an empty cell means a wasted centroid (over-fitted codebook).

    Plan shape: one :func:`ivf_assign` pass (broadcast centroids,
    map-side-combined argmax), a groupBy bounded at K rows, a
    broadcast left join from the K-row centroid list (empty cells
    surface as 0), and a broadcast 1-row totals join — no stage ever
    exceeds K rows after the assignment collapses.

    Output: (centroid_id, n_vectors BIGINT, load_factor DOUBLE).
    """
    assign = ivf_assign(df, centroids, vec_col, id_col, centroid_id_col)
    full = _cell_sizes(assign, centroids, centroid_id_col, "n_vectors")
    totals = full.agg(
        F.sum("n_vectors").alias("__tot"),
        F.count(F.lit(1)).alias("__k"),
    )
    return full.crossJoin(F.broadcast(totals)).select(
        centroid_id_col,
        "n_vectors",
        F.round(
            F.col("n_vectors") * F.col("__k") / F.col("__tot"), 4
        ).alias("load_factor"),
    )


def ivf_rebalance(
    df: DataFrame,
    centroids: DataFrame,
    max_load: float = 2.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    round_digits: int = 6,
) -> DataFrame:
    """Split hot IVF cells — the maintenance ACTION paired with
    :func:`ivf_balance`'s audit: any cell whose load factor
    (n * K / total) exceeds ``max_load`` is replaced by two children,
    deterministically seeded at its extreme members (min / max vector
    id), each child centroid = the mean of the members nearer its seed
    (one bounded Lloyd step scoped to hot cells only — cold cells
    never reshuffle). Child 0 keeps the parent's id; child 1 gets
    ``parent + max_centroid_id + 1`` (collision-free, append-stable).
    A child that attracts no members (all-identical cell) drops out,
    matching :func:`kmeans_fit`'s empty-cluster-drop semantics.

    Plan shape: one assignment pass pinned once (at scale, read the
    persisted ``partitionBy(centroid_id)`` index instead); per-cell
    counts and the hot list are K-row bounded broadcasts; only hot
    cells' members join the (<= K rows, 2 vectors each) seed table;
    the mean update is :func:`kmeans_update`'s posexplode partial-agg.

    Output: (centroid_id, parent_id, n_members, ``vec_col``).
    """
    assign = ivf_assign(df, centroids, vec_col, id_col, centroid_id_col)
    # pinned once: counts and hot-member probes both consume it
    assign = assign.localCheckpoint(eager=True)
    cells = _cell_sizes(assign, centroids, centroid_id_col, "__n")
    tot = cells.agg(
        F.sum("__n").alias("__tot"),
        F.count(F.lit(1)).alias("__k"),
        F.max(centroid_id_col).cast("long").alias("__maxid"),
    )
    cellsx = cells.crossJoin(F.broadcast(tot))
    hot = (
        cellsx.where(
            F.col("__n") * F.col("__k") / F.col("__tot") > F.lit(max_load)
        )
        .select(centroid_id_col, "__maxid")
        .localCheckpoint(eager=True)
    )
    cold = (
        cellsx.join(hot.select(centroid_id_col), centroid_id_col, "left_anti")
        .join(centroids, centroid_id_col)
        .select(
            F.col(centroid_id_col).cast("long"),
            F.col(centroid_id_col).cast("long").alias("parent_id"),
            F.col("__n").alias("n_members"),
            vec_col,
        )
    )
    members = (
        df.select(id_col, vec_col)
        .join(assign, id_col)
        .join(
            F.broadcast(hot.select(centroid_id_col)),
            centroid_id_col,
            "left_semi",
        )
    )
    seeds = members.groupBy(centroid_id_col).agg(
        F.min(id_col).alias("__s0id"), F.max(id_col).alias("__s1id")
    )
    vecs = df.select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__sv"))
    seedtab = (
        seeds.join(vecs, F.col("__s0id") == F.col("__sid"))
        .withColumnRenamed("__sv", "__v0")
        .drop("__sid")
        .join(vecs, F.col("__s1id") == F.col("__sid"))
        .withColumnRenamed("__sv", "__v1")
        .drop("__sid")
        .withColumn("__n0", F.expr(norm_expr("__v0")))
        .withColumn("__n1", F.expr(norm_expr("__v1")))
        .localCheckpoint(eager=True)
    )
    vn = norm_expr(vec_col)
    s0 = F.round(
        F.expr(
            f"({dot_expr(vec_col, '__v0')}) / nullif(({vn}) * __n0, cast(0 as double))"
        ),
        round_digits,
    )
    s1 = F.round(
        F.expr(
            f"({dot_expr(vec_col, '__v1')}) / nullif(({vn}) * __n1, cast(0 as double))"
        ),
        round_digits,
    )
    # ties (incl. NULL-vs-NULL) stay with child 0
    child_assign = members.join(F.broadcast(seedtab), centroid_id_col).select(
        F.col(id_col),
        (
            F.col(centroid_id_col).cast("long") * 2
            + F.when(s1 > s0, F.lit(1)).otherwise(F.lit(0))
        ).alias("__ck"),
    )
    children = kmeans_update(
        df, child_assign, vec_col, id_col, centroid_id_col="__ck"
    )
    hot_children = children.join(
        F.broadcast(
            hot.select(F.col(centroid_id_col).alias("__pid"), "__maxid")
        ),
        F.expr("__ck div 2") == F.col("__pid"),
    ).select(
        F.when(F.col("__ck") % 2 == 0, F.col("__pid"))
        .otherwise(F.col("__pid") + F.col("__maxid") + 1)
        .cast("long")
        .alias(centroid_id_col),
        F.col("__pid").cast("long").alias("parent_id"),
        "n_members",
        vec_col,
    )
    return cold.unionByName(hot_children)


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed Lloyd iteration driver loop (the IVF training phase):
    deterministic seeding from the k lowest-id vectors, then
    ``iterations`` rounds of :func:`ivf_assign` (broadcast centroids,
    partial-agg argmax) + :func:`kmeans_update` (posexplode partial-agg
    means). Assignment is by cosine, which is scale-invariant in the
    centroid, so the un-normalized mean update follows the spherical
    k-means trajectory exactly.

    ``localCheckpoint`` truncates lineage every round — without it each
    iteration's plan embeds the previous centroids several times and
    planning blows up combinatorially (same pitfall as
    ``dedup.duplicate_clusters``). Per round the driver holds only the
    checkpoint handle; centroid data stays distributed (K x D values).
    Returns the final (centroid_id, embedding, n_members); clusters that
    lose all members drop out (their id disappears), matching Lloyd on
    empty-cluster-drop semantics.
    """
    centroids = (
        df.orderBy(F.asc(id_col))
        .limit(k)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col))
        .localCheckpoint(eager=True)
    )
    result = centroids.withColumn("n_members", F.lit(0).cast("long"))
    for _ in range(iterations):
        assign = ivf_assign(df, centroids, vec_col, id_col)
        result = kmeans_update(df, assign, vec_col, id_col).localCheckpoint(
            eager=True
        )
        centroids = result.select("centroid_id", vec_col)
    return result


def ivf_topk(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
    nprobe: int = 1,
    assign: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k: each query searches the cells of
    its ``nprobe`` nearest centroids (multi-probe raises recall at
    nprobe/K of brute-force cost; each corpus vector lives in exactly
    one cell, so probes never produce duplicate candidates). Output like
    :func:`brute_force_topk`; recall < 1 by design — the approximation
    is the documented trade. The final per-query rank is salted
    two-phase (see :func:`brute_force_topk`) so a hot cell never pins
    one sort task.

    ``assign`` (r11): a precomputed ``ivf_assign(df, centroids)`` frame
    — pass the checkpointed assignment when several probe settings
    share one centroid set (the recall/cost curve queries), so the
    K x corpus assignment scoring runs once instead of once per arm.
    Must be exactly the ivf_assign output for (df, centroids);
    ``None`` computes it here."""
    if assign is None:
        assign = ivf_assign(df, centroids, vec_col, id_col)
    corpus = df.join(assign, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
        F.col("centroid_id").alias("__ccell"),
    )
    if nprobe <= 1:
        q_assign = ivf_assign(queries, centroids, vec_col, id_col)
    else:
        q_assign = ivf_probes(
            queries, centroids, vec_col, id_col, nprobe=nprobe
        ).drop("probe_rank")
    q = (
        queries.join(q_assign, id_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.expr(norm_expr(vec_col)).alias("__qn"),
            F.col("centroid_id").alias("__qcell"),
        )
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("__ccell") == F.col("__qcell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"),
                round_digits,
            ).alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def ivf_topk_multi(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobes: tuple[int, ...],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
    assign: DataFrame | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Every arm of a multi-probe sweep in ONE corpus pass + ONE top-k
    (r11 continuation; guide §1.4 "share passes" / §2.4).

    A recall/cost curve runs :func:`ivf_topk` once per ``nprobe`` arm —
    but the arms' candidate sets are NESTED (arm ``n``'s candidates are
    exactly the rows whose cell has ``probe_rank <= n`` for the query),
    so per-arm calls re-run the corpus⋈assign join, the candidate
    scoring, and a full salted top-k chain for subsets of one frame.
    Here candidates are scored once against the LARGEST arm's probe set
    with ``probe_rank`` carried, each scored row is stacked into every
    arm that includes it (``explode`` of the filtered arm literal — a
    map-side row multiply bounded by ``len(nprobes) x k x |probed
    cells|`` per query), and ONE salted top-k keyed on
    ``(nprobe, query_id)`` ranks all arms. Per-pair arithmetic is the
    unchanged :func:`ivf_topk` expression, so every arm's rows are
    bit-identical to the per-arm call (parity-tested).

    ``assign``/``probes``: optional precomputed ``ivf_assign(df,
    centroids)`` / ``ivf_probes(queries, centroids, nprobe=max)``
    frames (the curve queries checkpoint them for other consumers).
    Output: ``(nprobe, query_id, neighbor_id, score, rank)``.
    """
    nps = sorted(int(x) for x in nprobes)
    maxp = nps[-1]
    if assign is None:
        assign = ivf_assign(df, centroids, vec_col, id_col)
    if probes is None:
        probes = ivf_probes(queries, centroids, vec_col, id_col, nprobe=maxp)
    corpus = df.join(assign, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
        F.col("centroid_id").alias("__ccell"),
    )
    q = (
        queries.join(
            probes.withColumnRenamed("centroid_id", "__qcell"), id_col
        )
        .where(F.col("probe_rank") <= maxp)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.expr(norm_expr(vec_col)).alias("__qn"),
            "__qcell",
            "probe_rank",
        )
    )
    arms = F.array(*[F.lit(x).cast("long") for x in nps])
    scored = (
        corpus.join(F.broadcast(q), F.col("__ccell") == F.col("__qcell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            F.explode(
                F.filter(arms, lambda a: a >= F.col("probe_rank"))
            ).alias("nprobe"),
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"
                ),
                round_digits,
            ).alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=["nprobe", "query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def ivf_topk_nested_cells(
    df: DataFrame,
    nested_assign: DataFrame,
    queries: DataFrame,
    bounds: tuple[int, ...],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
    centroid_id_col: str = "centroid_id",
    arm_col: str = "nlist",
) -> DataFrame:
    """Every arm of a nested-prefix nlist sweep (nprobe=1 per arm) in
    ONE corpus pass + ONE top-k (r11 continuation; pairs with
    :func:`ivf_assign_nested`, which already fused the assignment).

    Per arm ``b``, a query's candidates are the corpus vectors sharing
    its ``{centroid_id_col}_{b}`` cell. The per-arm :func:`ivf_topk`
    calls each re-join corpus⋈assign, re-score, and run their own
    salted top-k; here the corpus joins the (checkpointed) nested
    assignment once, explodes each row into its ``len(bounds)``
    (arm, cell) pairs map-side, equi-joins the broadcast query arm
    cells, and ranks ALL arms in one salted top-k keyed on
    ``(arm_col, query_id)``. The query's own per-arm cell is read from
    ``nested_assign`` directly — queries are a subset of ``df`` in the
    curve, and the arm's argmax for a given vector is one value however
    it is computed (bit-identical, parity-tested).

    Output: ``(arm_col, query_id, neighbor_id, score, rank)``.
    """
    arm_structs = ", ".join(
        f"struct(cast({b} as long) as arm, {centroid_id_col}_{b} as cell)"
        for b in bounds
    )
    base = df.join(nested_assign, id_col)
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
        F.explode(F.expr(f"array({arm_structs})")).alias("__arm"),
    ).select(
        "neighbor_id",
        "__cv",
        "__cn",
        F.col("__arm.arm").alias("__carm"),
        F.col("__arm.cell").alias("__ccell"),
    )
    q = (
        queries.join(nested_assign, id_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.expr(norm_expr(vec_col)).alias("__qn"),
            F.explode(F.expr(f"array({arm_structs})")).alias("__arm"),
        )
        .select(
            "query_id",
            "__qv",
            "__qn",
            F.col("__arm.arm").alias("__qarm"),
            F.col("__arm.cell").alias("__qcell"),
        )
    )
    scored = (
        corpus.join(
            F.broadcast(q),
            (F.col("__carm") == F.col("__qarm"))
            & (F.col("__ccell") == F.col("__qcell")),
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            F.col("__carm").alias(arm_col),
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"
                ),
                round_digits,
            ).alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=[arm_col, "query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


# ------------------------------------------------- materialized IVF index


def write_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF layout: assign every vector to its cell and
    write parquet ``partitionBy(centroid_id)``. This is the storage half
    of the ANN scale story — a probe against the written index reads
    ONLY its cells' directories (partition-pruned scan), so at 100 TB
    the I/O cost of a query is nprobe/K of the corpus, enforced by the
    layout rather than by a filter the scan may or may not push."""
    assign = ivf_assign(df, centroids, vec_col, id_col)
    (
        df.join(assign, id_col)
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(path)
    )


def append_ivf_index(
    new_df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally add vectors to a materialized IVF index: assign the
    NEW batch to its cells (broadcast centroids — the batch never
    shuffles) and append into the existing ``partitionBy(centroid_id)``
    layout. Probes see the new vectors on their next read; no rewrite of
    resident data. Each append lays one file set per touched cell, so
    after many small batches run :func:`compact_ivf_index` — the
    classic LSM-ish write-amplification trade."""
    assign = ivf_assign(new_df, centroids, vec_col, id_col)
    (
        new_df.join(assign, id_col)
        .write.partitionBy("centroid_id")
        .mode("append")
        .parquet(path)
    )


def compact_ivf_index(spark, path: str) -> None:
    """Rewrite the IVF index so each cell holds one file (many small
    appended files make a probe's partition-pruned scan open
    files-per-append instead of ~1). The compacted tree is fully
    written to a side directory, then swapped in with two renames —
    readers never observe a half-written index. ``repartition`` on the
    partition column puts each cell in exactly one task, so the
    rewrite is one shuffle of the index (NOT the corpus — the index IS
    the corpus here, but compaction is rare and amortized; at 100 TB
    compact only cells whose file count crossed a threshold by adding
    a ``WHERE centroid_id IN (...)`` slice and appending the rewritten
    cells back)."""
    from ..functions import fs

    tmp = path.rstrip("/") + "__compacting"
    fs.remove_tree(tmp)
    index = spark.read.parquet(path)
    (
        index.repartition("centroid_id")
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(tmp)
    )
    fs.swap_dir(tmp, path)


def ivf_index_stats(index: DataFrame) -> DataFrame:
    """Per-cell health of a materialized index: rows and file count
    (``input_file_name`` — counted distributively, no driver listing).
    ``n_files`` >> 1 per cell is the compaction signal."""
    return (
        index.select(
            "centroid_id", F.input_file_name().alias("__f")
        )
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("__f").alias("n_files"),
        )
    )


def ivf_topk_indexed(
    index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k probe against a materialized IVF index (the read half of
    :func:`write_ivf_index`; ``index`` = ``spark.read.parquet(path)``).

    The probe cells join the index on the PARTITION column via a
    broadcast, so Spark's dynamic partition pruning restricts the scan
    to the probed directories — no probe-cell ids ever reach the driver.
    Scoring and the salted two-phase rank are identical to
    :func:`ivf_topk`, so results match the non-materialized path.
    """
    if nprobe <= 1:
        probes = ivf_assign(queries, centroids, vec_col, id_col)
    else:
        probes = ivf_probes(queries, centroids, vec_col, id_col, nprobe=nprobe).drop(
            "probe_rank"
        )
    q = queries.join(probes, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_expr(vec_col)).alias("__qn"),
        F.col("centroid_id").alias("__qcell"),
    )
    corpus = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
        F.col("centroid_id").alias("__ccell"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("__ccell") == F.col("__qcell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"
                ),
                round_digits,
            ).alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


# --------------------------------------------- random-hyperplane LSH ANN


def ann_recall(ann: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall@k of an ANN result against exact ground truth — the
    metric that decides whether an IVF/LSH configuration (K, nprobe,
    bands) is good enough to ship. Both inputs are top-k frames with
    ``(query_id, neighbor_id)``; output is per-query
    ``(query_id, n_true, n_hits, recall)``.

    Plan shape: one equi-join on (query_id, neighbor_id) + two
    query-bounded aggregates — at any corpus scale the inputs are
    k x queries rows, so this costs nothing next to the searches it
    evaluates."""
    a = ann.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    truth = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hits = (
        a.join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return truth.join(hits, "query_id", "left").select(
        "query_id",
        "n_true",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.col("n_true"),
            6,
        ).alias("recall"),
    )


def rp_hyperplanes(dim: int, n_planes: int, seed: str = "rp") -> list[list[float]]:
    """Deterministic +-1 random hyperplanes derived from md5(seed:plane:dim)
    parity — the 'fitted' constants of sign-LSH. Pure data (no RNG
    state), so both the Spark plan and the SQL oracle embed identical
    literals and bucketing is engine-portable and retry-stable."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{seed}:{b}:{d}".encode()).digest()[0] % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for b in range(n_planes)
    ]


def _plane_lit(plane: list[float]) -> str:
    return "array(" + ", ".join(f"cast({x} as double)" for x in plane) + ")"


def rp_lsh_bucket(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    n_planes: int = 4,
    seed: str = "rp",
) -> DataFrame:
    """Attach the sign-LSH bucket id (0..2^n_planes-1): bit b is the
    sign of dot(v, hyperplane_b). A narrow projection — the hyperplanes
    are expression literals, nothing is broadcast or shuffled. Cosine-
    similar vectors agree on most signs, so they collide with high
    probability; n_planes trades bucket count (pruning) against recall.
    """
    planes = rp_hyperplanes(dim, n_planes, seed)
    terms = [
        f"(CASE WHEN ({dot_expr(vec_col, _plane_lit(p))}) >= 0 "
        f"THEN {1 << b}L ELSE 0L END)"
        for b, p in enumerate(planes)
    ]
    return df.withColumn("rp_bucket", F.expr(" + ".join(terms)))


def rp_lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 4,
    round_digits: int = 4,
    seed: str = "rp",
) -> DataFrame:
    """Sign-LSH bucketed approximate top-k (the second ANN scale path
    next to IVF): queries search only their own LSH bucket — an
    equi-join on the bucket id over a corpus that never shuffles to
    score, with the same salted two-phase final rank as
    :func:`brute_force_topk`. Unlike IVF there is no centroid fit:
    bucketing is stateless, so this is the right shape when the corpus
    churns faster than a centroid refresh cycle. Recall < 1 by design.
    """
    corpus = rp_lsh_bucket(df, dim, vec_col, n_planes, seed).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
        F.col("rp_bucket").alias("__cb"),
    )
    q = rp_lsh_bucket(queries, dim, vec_col, n_planes, seed).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_expr(vec_col)).alias("__qn"),
        F.col("rp_bucket").alias("__qb"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("__cb") == F.col("__qb"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"
                ),
                round_digits,
            ).alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def scalar_quantize_fit(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Fit per-dimension (min, max) ranges for int8 scalar quantization
    (E2): ONE explode + partial-aggregated groupBy on dimension index —
    the shuffle carries (dim, partial min, partial max), bounded by
    dims x partitions, never by corpus size — then the d ranges fold
    into a SINGLE ROW of two aligned arrays (``mns``, ``mxs``), the
    broadcastable fitted state (same fit/apply split as vocabulary and
    z-score scaling).
    """
    stats = (
        df.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    return stats.agg(
        F.expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)").alias("mns"),
        F.expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)").alias("mxs"),
    )


def filtered_topk(
    df: DataFrame,
    queries: DataFrame,
    filter_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Metadata-filtered exact top-k ('filtered vector search', the
    serving pattern every vector store exposes: only neighbors whose
    ``filter_col`` equals the query's count). The equality predicate
    is applied IN the broadcast-join stage — candidates prune before
    any dot product is computed, so a selective filter cuts the
    scoring work proportionally (the pre-filtering strategy; at high
    selectivity a post-filtering top-k would starve below k). Same
    salted two-phase ranking as :func:`brute_force_topk`.

    Output: (query_id, neighbor_id, score, rank) — rank within the
    filtered candidate set.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(filter_col).alias("__qf"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_expr(vec_col)).alias("__qn"),
    )
    corpus = spread_to_parallelism(df).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(filter_col).alias("__cf"),
        F.col(vec_col).alias("__cv"),
        F.expr(norm_expr(vec_col)).alias("__cn"),
    )
    scored = (
        corpus.join(
            F.broadcast(q),
            (F.col("__qf") == F.col("__cf"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"
                ),
                round_digits,
            ).alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def _sq_codes_expr(vec_col: str) -> str:
    """The int8 scalar-quantization code expression (shared verbatim by
    :func:`scalar_dequantize` and the r12 dual-arm search so the two
    plans are bit-identical)."""
    return (
        "transform(sequence(1, size({v})), i -> "
        "CASE WHEN element_at(mxs, i) = element_at(mns, i) THEN 0 "
        "ELSE cast(floor((cast(element_at({v}, i) as double) - element_at(mns, i)) "
        "/ (element_at(mxs, i) - element_at(mns, i)) * 254.0d + 0.5d) as int) - 127 "
        "END)"
    ).format(v=vec_col)


_SQ_RECON_EXPR = (
    "transform(sequence(1, size(codes)), i -> "
    "element_at(mns, i) + (cast(element_at(codes, i) as double) + 127.0d) "
    "/ 254.0d * (element_at(mxs, i) - element_at(mns, i)))"
)


def sq_dual_topk(
    df: DataFrame,
    queries: DataFrame,
    fitted: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Exact AND SQ8-reconstructed cosine top-k in ONE corpus pass +
    ONE salted top-k (r12, verdict item 5): the SQ recall audit ran
    :func:`brute_force_topk` twice — once over the raw corpus, once
    over :func:`scalar_dequantize`'s reconstruction — scanning and
    broadcasting against the corpus twice and paying two full salted
    top-k chains for frames that share every input. Here each corpus
    row materializes its raw vector + norm AND its reconstructed
    vector + norm (the reconstruction uses :func:`scalar_dequantize`'s
    exact expression templates, codes materialized in their own
    projection before the recon lambda — same no-CSE discipline), both
    scores are computed against the broadcast queries in one
    projection, stacked map-side (explode of a 2-struct array), and
    ONE salted top-k keyed (arm, query_id) ranks both arms. Per-pair
    arithmetic is unchanged from the per-arm calls (same dot / norm /
    round expressions), so every arm's rows are bit-identical.

    Output: (arm, query_id, neighbor_id, score, rank) with arm 0 =
    exact full-precision, arm 1 = asymmetric SQ8 (full-precision query
    against the reconstructed corpus).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(norm_expr(vec_col)).alias("__qn"),
    )
    corpus = (
        spread_to_parallelism(df)
        .crossJoin(F.broadcast(fitted))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col),
            F.col("mns"),
            F.col("mxs"),
            F.expr(_sq_codes_expr(vec_col)).alias("codes"),
        )
        .select(
            "neighbor_id",
            F.col(vec_col),
            F.expr(_SQ_RECON_EXPR).alias("__rv"),
        )
        .select(
            "neighbor_id",
            F.col(vec_col).alias("__cv"),
            F.expr(norm_expr(vec_col)).alias("__cn"),
            "__rv",
            F.expr(norm_expr("__rv")).alias("__rn"),
        )
    )
    raw_score = F.round(
        F.expr(
            f"({dot_expr('__qv', '__cv')}) / nullif(__qn * __cn, cast(0 as double))"
        ),
        round_digits,
    )
    sq_score = F.round(
        F.expr(
            f"({dot_expr('__qv', '__rv')}) / nullif(__qn * __rn, cast(0 as double))"
        ),
        round_digits,
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).cast("int").alias("arm"),
                        raw_score.alias("score"),
                    ),
                    F.struct(
                        F.lit(1).cast("int").alias("arm"),
                        sq_score.alias("score"),
                    ),
                )
            ).alias("__a"),
        )
        .select(
            F.col("__a.arm").alias("arm"),
            "query_id",
            "neighbor_id",
            F.col("__a.score").alias("score"),
        )
    )
    return salted_topk_per_key(
        scored,
        key_cols=["arm", "query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def scalar_dequantize(
    df: DataFrame,
    fitted: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantize-then-reconstruct an embedding column through the int8
    path (codes from :func:`scalar_quantize`'s exact formula,
    dequantized back to doubles) — the corpus a quantized index
    actually serves. Searching THIS against full-precision queries
    (asymmetric, the FAISS SQ8 serving setup) measures what int8
    storage costs in recall, not just in MSE.

    Same plan shape as :func:`scalar_quantize`: fitted ranges ride as
    one broadcast single-row frame, codes materialized in their own
    projection before the reconstruction lambda (no CSE across
    higher-order functions). Output: (id_col, vec_col) with the
    reconstructed double array under the ORIGINAL column name, so the
    frame drops into any search operator unchanged.
    """
    coded = df.crossJoin(F.broadcast(fitted)).select(
        F.col(id_col),
        F.col("mns"),
        F.col("mxs"),
        F.expr(_sq_codes_expr(vec_col)).alias("codes"),
    )
    return coded.select(F.col(id_col), F.expr(_SQ_RECON_EXPR).alias(vec_col))


def scalar_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fitted: DataFrame | None = None,
) -> DataFrame:
    """Int8 scalar quantization of an embedding column with per-vector
    reconstruction error — the standard 4x footprint cut before ANN
    serving (quantize once, scan codes, rescore survivors at full
    precision).

    Codes: ``q_i = floor((x_i - mn_i) / (mx_i - mn_i) * 254 + 0.5) - 127``
    (symmetric [-127, 127]; a constant dimension quantizes to 0).
    ``floor(v + 0.5)`` rather than ``round`` because engines disagree on
    round-half behavior for doubles, and floor is total order — the
    DuckDB oracle is bit-identical.

    Plan shape: the fitted ranges ride along as ONE broadcast single-row
    frame (never a shuffle of the corpus); quantize + dequantize + error
    are a narrow projection; the code array is materialized in its own
    projection BEFORE the error fold (no CSE across higher-order
    lambdas — the measured 2-10x lesson). Per-element squared errors are
    cast to DECIMAL(28,12) before summing, so the MSE is exact and
    accumulation-order independent.

    Output: (id_col, q_first, q_min, q_max, mse) — scalar per-vector
    code stats plus reconstruction MSE; swap the summary projection for
    the ``codes`` array itself when persisting a quantized index.
    """
    if fitted is None:
        fitted = scalar_quantize_fit(df, vec_col)
    q = (
        "transform(sequence(1, size({v})), i -> "
        "CASE WHEN element_at(mxs, i) = element_at(mns, i) THEN 0 "
        "ELSE cast(floor((cast(element_at({v}, i) as double) - element_at(mns, i)) "
        "/ (element_at(mxs, i) - element_at(mns, i)) * 254.0d + 0.5d) as int) - 127 "
        "END)"
    ).format(v=vec_col)
    coded = df.crossJoin(F.broadcast(fitted)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("mns"),
        F.col("mxs"),
        F.expr(q).alias("codes"),
    )
    dequant = (
        "element_at(mns, i) + (cast(element_at(codes, i) as double) + 127.0d) "
        "/ 254.0d * (element_at(mxs, i) - element_at(mns, i))"
    )
    err_sq = (
        f"cast(element_at({vec_col}, i) as double) - ({dequant})"
    )
    mse = (
        f"cast(aggregate(sequence(1, size(codes)), cast(0 as decimal(28,12)), "
        f"(acc, i) -> cast(acc + cast(({err_sq}) * ({err_sq}) as decimal(28,12)) "
        f"as decimal(28,12))) "
        f"as double) / cast(size(codes) as double)"
    )
    return coded.select(
        F.col(id_col),
        F.expr("element_at(codes, 1)").alias("q_first"),
        F.expr("array_min(codes)").alias("q_min"),
        F.expr("array_max(codes)").alias("q_max"),
        # r11: the mse fold references ``codes`` once per ELEMENT, so
        # it is re-bound through the single-element transform let-idiom
        # (the lambda variable shadows the column name on purpose — the
        # fold body then reads the bound array, not the projected
        # expression). Measured 1.03 -> 0.75 s at sf0.1, bit-identical.
        F.round(
            F.expr(f"transform(array(codes), codes -> {mse})[0]"), 6
        ).alias("mse"),
    )


# --------------------------------------------------------------------
# Product quantization (E2 compressed-index path; Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search")
# --------------------------------------------------------------------


def _sq_l2_expr(a: str, b: str) -> str:
    """Squared L2 distance between two equal-length arrays."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(cast(x as double) - cast(y as double)) * "
        f"(cast(x as double) - cast(y as double))), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )


def pq_explode(
    df: DataFrame, m: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, sub_id, subvec) rows — each vector split into ``m`` equal
    subspaces. A narrow projection (no shuffle); dimension must divide
    evenly (validated lazily via the slice length)."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    # r11: the m-way slice projection (and the pq_assign scoring that
    # consumes it) runs in the scan task; spread first (metadata-gated).
    return spread_to_parallelism(df).select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(F.expr(f"sequence(0, {m - 1})")).alias("sub_id"),
    ).select(
        id_col,
        F.col("sub_id").cast("long").alias("sub_id"),
        F.expr(
            f"slice({vec_col}, sub_id * (size({vec_col}) div {m}) + 1, "
            f"size({vec_col}) div {m})"
        ).alias("subvec"),
    )


def pq_seed_codebook(
    df: DataFrame, m: int, k: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic codebook seeds: the ``k`` lowest-id vectors'
    subvectors, code_id = rank of the seed vector (same convention as
    :func:`kmeans_fit`'s lowest-id seeding). Output:
    (sub_id, code_id, subvec) — m*k rows, broadcastable.

    The unpartitioned ranking window runs AFTER limit(k), so it sorts
    exactly k rows on one task — fitted-state sizing, not a data sort
    (Spark's single-partition warning is expected and harmless here)."""
    seeds = df.orderBy(F.asc(id_col)).limit(k)
    w = Window.orderBy(F.asc(id_col))
    ranked = seeds.select(
        F.col(id_col), (F.row_number().over(w) - 1).cast("long").alias("code_id"),
        F.col(vec_col),
    )
    return pq_explode(ranked, m, vec_col, id_col).join(
        ranked.select(id_col, "code_id"), id_col
    ).select("sub_id", "code_id", "subvec")


def pq_assign(
    sub: DataFrame, codebook: DataFrame
) -> DataFrame:
    """Nearest code per (vector, subspace) by squared L2 — the PQ encode
    kernel. Codebook is broadcast; the argmin is a partial-aggregated
    ``min_by`` over struct((rounded distance, code_id)), so the shuffle
    carries one best-so-far pair per (vector, subspace) per partition.
    Distances round to 6 digits before the argmin (engine-portable
    choice, tie-break lowest code)."""
    cb = codebook.select(
        F.col("sub_id"), F.col("code_id").alias("__code"), F.col("subvec").alias("__cv")
    )
    scored = sub.join(F.broadcast(cb), "sub_id").select(
        sub.columns[0],
        "sub_id",
        "__code",
        F.round(F.expr(_sq_l2_expr("subvec", "__cv")), 6).alias("__d"),
    )
    id_col = sub.columns[0]
    return scored.groupBy(id_col, "sub_id").agg(
        F.min_by(
            F.col("__code"), F.struct(F.col("__d"), F.col("__code"))
        ).alias("code_id")
    )


def pq_update(sub: DataFrame, assign: DataFrame) -> DataFrame:
    """One Lloyd step per subspace: new code vector = mean of assigned
    subvectors. posexplode -> ONE partial-aggregated groupBy on
    (sub_id, code, dim) -> rebuild; shuffled bytes are m*k*sub_dim
    partial sums per partition (same shape as :func:`kmeans_update`)."""
    id_col = sub.columns[0]
    joined = sub.join(assign, [id_col, "sub_id"]).select(
        "sub_id", "code_id", F.posexplode("subvec").alias("__dim", "__x")
    )
    dims = joined.groupBy("sub_id", "code_id", "__dim").agg(
        F.avg(F.col("__x").cast("double")).alias("__mv"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        dims.groupBy("sub_id", "code_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("__dim", "__mv"))).alias("__dm"),
            F.max("__n").alias("n_members"),
        )
        .select(
            "sub_id",
            "code_id",
            F.expr("transform(__dm, s -> s.__mv)").alias("subvec"),
            "n_members",
        )
    )


def pq_fit(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train a product-quantization codebook: independent k-means in
    each of ``m`` subspaces, run TOGETHER — every Lloyd round is one
    assign + one update over the exploded (vector, subspace) frame, so
    m codebooks train for the price of one shuffle pair per round, not
    m. Deterministic lowest-id seeding; ``localCheckpoint`` per round
    truncates the re-planned lineage (same pitfall note as
    :func:`kmeans_fit`). Output: (sub_id, code_id, subvec, n_members);
    m*k rows — broadcastable fitted state, the PQ index's only model.
    """
    sub = pq_explode(df, m, vec_col, id_col)
    codebook = pq_seed_codebook(df, m, k, vec_col, id_col).localCheckpoint(
        eager=True
    )
    result = codebook.withColumn("n_members", F.lit(0).cast("long"))
    for _ in range(iterations):
        assign = pq_assign(sub, codebook)
        result = pq_update(sub, assign).localCheckpoint(eager=True)
        codebook = result.select("sub_id", "code_id", "subvec")
    return result


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector to its m nearest-code ids. Output:
    (id, sub_id, code_id) exploded rows — the storage form that joins
    straight into :func:`pq_topk`'s ADC lookup. 8x-64x compression of
    the corpus (a D-float vector becomes m small ints); map-side only
    plus the bounded argmin shuffle of :func:`pq_assign`."""
    return pq_assign(pq_explode(df, m, vec_col, id_col), codebook)


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: exact query subvectors scored
    against quantized corpus codes. Output:
    (query_id, neighbor_id, adc_dist, rank).

    Plan shape at 100 TB: the per-query lookup table (|Q| x m x k cells
    = squared distances query-subvec -> code) is built by a broadcast
    join of the small codebook onto the small query set, then broadcast
    AGAIN onto the exploded corpus codes — the corpus (already m small
    ints per vector, the compressed form) never shuffles to score; the
    only wide ops are the (query, vector) partial-aggregated distance
    sum and the salted top-k rank (same two-phase shape as
    :func:`brute_force_topk`). Distances round to 6 before ranking;
    ties break on neighbor id.
    """
    scored = adc_scored(queries, codes, codebook, m, vec_col, id_col)
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.asc("adc_dist"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def adc_scored(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The ADC scoring stage of :func:`pq_topk`, exposed (r12) so the
    PQ recall audit can stack it with the exact-truth scores into ONE
    salted top-k instead of running two full rank chains. Output:
    (query_id, neighbor_id, adc_dist) — exactly the frame
    :func:`pq_topk` ranks."""
    q_sub = pq_explode(queries, m, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), "sub_id", F.col("subvec").alias("__qv")
    )
    cb = codebook.select(
        "sub_id", F.col("code_id").alias("__code"), F.col("subvec").alias("__cv")
    )
    lut = q_sub.join(F.broadcast(cb), "sub_id").select(
        "query_id",
        "sub_id",
        "__code",
        F.round(F.expr(_sq_l2_expr("__qv", "__cv")), 6).alias("__pd"),
    )
    code_rows = codes.select(
        F.col(codes.columns[0]).alias("neighbor_id"), "sub_id", "code_id"
    )
    return (
        code_rows.join(
            F.broadcast(lut),
            (code_rows.sub_id == lut.sub_id) & (code_rows.code_id == lut.__code),
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("__pd"), 6).alias("adc_dist"))
    )


def ivf_pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    m: int = 4,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ: the production ANN serving composition (FAISS's
    IndexIVFPQ shape) — queries probe their ``nprobe`` nearest cells,
    and asymmetric-distance scoring runs ONLY over the probed cells'
    PQ codes. Output: (query_id, neighbor_id, adc_dist, rank).

    ``codes`` must carry the cell assignment: (id, sub_id, code_id,
    centroid_id) — the stored form of an IVF-PQ index (pq_encode joined
    with ivf_assign, persisted ``partitionBy(centroid_id)`` at scale so
    this function's cell restriction is a partition-pruned scan).

    Scale shape: the probe table (|Q| x nprobe cells) and the per-query
    LUT (|Q| x m x k distances) both broadcast; the candidate set is
    nprobe/K of the corpus BY LAYOUT, scored through its compressed
    codes, then ranked with the salted two-phase top-k. Nothing
    data-sized shuffles to score — the only wide op is the candidate
    (query, vector) distance sum.
    """
    probes = ivf_probes(queries, centroids, vec_col, id_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    )
    q_sub = pq_explode(queries, m, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), "sub_id", F.col("subvec").alias("__qv")
    )
    cb = codebook.select(
        "sub_id", F.col("code_id").alias("__code"), F.col("subvec").alias("__cv")
    )
    lut = q_sub.join(F.broadcast(cb), "sub_id").select(
        "query_id",
        "sub_id",
        "__code",
        F.round(F.expr(_sq_l2_expr("__qv", "__cv")), 6).alias("__pd"),
    )
    code_rows = codes.select(
        F.col(codes.columns[0]).alias("neighbor_id"),
        "sub_id",
        "code_id",
        "centroid_id",
    )
    # cell restriction FIRST (broadcast semi-join on the probe table),
    # then the LUT lookup — candidates are nprobe/K of the corpus
    candidates = code_rows.join(F.broadcast(probes), "centroid_id")
    scored = (
        candidates.join(
            F.broadcast(lut),
            (candidates.sub_id == lut.sub_id)
            & (candidates.code_id == lut.__code)
            & (candidates.query_id == lut.query_id),
        )
        .where(candidates.query_id != F.col("neighbor_id"))
        .groupBy(candidates.query_id, "neighbor_id")
        .agg(F.round(F.sum("__pd"), 6).alias("adc_dist"))
    )
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.asc("adc_dist"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def brute_force_topk_l2(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth for evaluating the PQ
    paths (which rank by ADC squared-L2; comparing them against cosine
    ground truth would conflate metric mismatch with quantization
    loss). Same plan shape as :func:`brute_force_topk`: queries
    broadcast, corpus never shuffles to score, salted two-phase rank.
    Output: (query_id, neighbor_id, dist, rank)."""
    scored = l2_scored(df, queries, vec_col, id_col)
    return salted_topk_per_key(
        scored,
        key_cols=["query_id"],
        order_by=[F.asc("dist"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    )


def l2_scored(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The exact squared-L2 scoring stage of :func:`brute_force_topk_l2`,
    exposed (r12) for the PQ recall audit's stacked top-k. Output:
    (query_id, neighbor_id, dist) — exactly the frame the topk ranks."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    corpus = spread_to_parallelism(df).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    return (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(_sq_l2_expr("__qv", "__cv")), 6).alias("dist"),
        )
    )


def hashed_embedding(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 16,
    salt: str = "fh",
) -> DataFrame:
    """Deterministic feature-hashing text embedding (the hashing trick,
    Weinberger et al. 2009 — public): each lowercased whitespace token
    hashes to a bucket in [0, dim) with a +/-1 sign from an independent
    hash bit; the document vector is the per-bucket signed count. A
    stub with real geometry — sparse lexical overlap produces cosine
    similarity — used to exercise the chunk->embed->index pipeline
    where no trained encoder is available (swap in a real encoder via
    any (id, array<float>) frame).

    Map-only: the whole vector is one JVM expression per row
    (transform over sequence x aggregate over tokens — O(tokens*dim)
    per row, no shuffle, no Python). Output: (id, embedding
    array<float>).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t <> '')"
    h = (
        f"cast(conv(substring(md5(concat('{salt}:', t)), 1, 12), 16, 10) "
        f"as bigint)"
    )
    vec = (
        f"transform(sequence(0, {dim - 1}), d -> cast("
        f"aggregate({toks}, 0L, (acc, t) -> acc + "
        f"CASE WHEN pmod({h}, {dim}) = d "
        f"THEN (1 - 2 * pmod({h} div {dim}, 2)) ELSE 0 END) as float))"
    )
    return df.select(F.col(id_col), F.expr(vec).alias("embedding"))


def delta_topk(
    main: DataFrame,
    delta: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """Freshness-aware ANN serving (the lambda pattern that completes
    the index lifecycle: ``write_ivf_index`` -> ``append_ivf_index`` ->
    ``compact_ivf_index`` -> THIS): approximate IVF search over the
    large indexed ``main`` corpus UNIONED with EXACT brute force over
    the small not-yet-indexed ``delta``, re-ranked to one top-``k``
    per query. Fresh rows are searchable the moment they land, without
    re-clustering or rewriting the index; the exactness asymmetry is
    the right trade because |delta| is orders below |main| by
    construction (compaction folds it in before it grows).

    Contract: ``main`` and ``delta`` ids are disjoint (append-only
    ingest guarantees it); both sides exclude the query id itself.

    Scale shape: the main side inherits IVF's nprobe/K scan cost (or
    dynamic partition pruning when probing the materialized index);
    the delta side is a broadcast-query scan of a SMALL frame; the
    union is 2k rows per query — metadata — and the final rank is the
    salted two-phase form. Output: (query_id, neighbor_id, score,
    rank, src 'main'|'delta').
    """
    from .skew import salted_topk_per_key

    main_hits = ivf_topk(
        main, centroids, queries, vec_col, id_col,
        k=k, round_digits=round_digits, nprobe=nprobe,
    ).select("query_id", "neighbor_id", "score", F.lit("main").alias("src"))
    delta_hits = brute_force_topk(
        delta, queries, vec_col, id_col, k=k, round_digits=round_digits
    ).select("query_id", "neighbor_id", "score", F.lit("delta").alias("src"))
    unioned = main_hits.unionByName(delta_hits)
    return salted_topk_per_key(
        unioned,
        key_cols=["query_id"],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_alias="rank",
        salt_on="neighbor_id",
    ).select("query_id", "neighbor_id", "score", "rank", "src")


def knn_label_vote(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 10,
    round_digits: int = 4,
    use_blas: bool = False,
) -> DataFrame:
    """k-NN majority-vote classification over the embedding corpus —
    the label-propagation workhorse of weak supervision (classify
    unlabeled docs from their nearest labeled neighbors; Cover & Hart
    1967, public). Built ON the salted exact top-k
    (:func:`brute_force_topk`), so the corpus never shuffles to score
    and the per-query candidate set is bounded at ``k`` by
    construction; the vote itself is a (query, label) aggregate over
    |Q| x k rows and the argmax window runs over at most
    |label-alphabet| rows per query — both bounded regardless of
    corpus size. Ties break on the smaller label so the prediction is
    engine-portable.

    Output: (query_id, predicted_label, votes BIGINT).
    """
    from pyspark.sql import Window

    topk = brute_force_topk_blas if use_blas else brute_force_topk
    top = topk(
        df, queries, vec_col, id_col, k=k, round_digits=round_digits
    )
    labels = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        top.join(labels, "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("__nl"))
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            "query_id", F.col("__nl").alias("predicted_label"), "votes"
        )
    )


def neighbor_label_purity(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 10,
    round_digits: int = 4,
    use_blas: bool = False,
) -> DataFrame:
    """Embedding-space label purity audit: per label, the share of the
    sampled queries' k nearest neighbors that carry the query's own
    label — the standard representation-quality probe (a high-purity
    embedding space separates classes; a low-purity label flags noisy
    labels or a collapsed subspace) read before trusting
    embedding-based dedup/retrieval at scale.

    ``queries`` is a bounded (deterministic) sample by contract —
    purity is an ESTIMATE, so the full corpus never becomes the query
    side. Purity is computed from integer match counts
    (``sum(match) / count(neighbors)`` per label, one division at the
    end) — engine-exact after rounding, no FP-order hazard from
    averaging per-query doubles.

    Output: (label, n_queries BIGINT, n_neighbors BIGINT,
    purity DOUBLE).
    """
    topk = brute_force_topk_blas if use_blas else brute_force_topk
    top = topk(
        df, queries, vec_col, id_col, k=k, round_digits=round_digits
    )
    ql = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
    )
    nl = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    joined = top.join(F.broadcast(ql), "query_id").join(nl, "neighbor_id")
    return (
        joined.groupBy(F.col("__ql").alias("label"))
        .agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.round(
                F.sum(
                    F.when(F.col("__nl") == F.col("__ql"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("purity"),
        )
    )
