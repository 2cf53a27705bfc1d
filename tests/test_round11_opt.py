"""Round-11 optimization tests: the vectorized verify kernels, the
interned shingle-hash pass, and the fused LSH-bucket fuzzy-dedup plan.

These pin the INTERNALS the r11 optimization round changed
(operators/dedup.py): the blocked/bucket verify kernels must agree with
a brute-force set computation, the Python shingle pass must reproduce
the SQL expression bit-for-bit, and the fused strategy must reproduce
the staged pipeline's output exactly at every policy point.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from tensorflow_recorder_spark.operators import dedup
from tensorflow_recorder_spark.operators.dedup import (
    _delta_csr,
    _hashed_shingles_arrow,
    _intersect_counts_csr,
    _intersect_counts_delta,
    _intersect_counts_popcount,
    hashed_shingle_expr,
)


def _random_csr(rng, n_docs, universe, max_len):
    sets = [
        np.unique(rng.randint(0, universe, size=rng.randint(0, max_len)))
        for _ in range(n_docs)
    ]
    lens = np.array([len(s) for s in sets], dtype=np.int64)
    indptr = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens, out=indptr[1:])
    indices = (
        np.concatenate(sets) if lens.sum() else np.empty(0, np.int64)
    )
    return sets, indptr, indices


def test_intersect_kernels_match_bruteforce():
    """Both r11 verify kernels (CSR mask + packed-bitset popcount) must
    produce exact intersection counts on randomized set families,
    including empty sets, self-pairs, and repeated pairs."""
    rng = np.random.RandomState(7)
    for _ in range(150):
        n_docs = rng.randint(1, 25)
        universe = rng.randint(1, 80)
        sets, indptr, indices = _random_csr(rng, n_docs, universe, 40)
        n_pairs = rng.randint(0, 50)
        ai = rng.randint(0, n_docs, n_pairs).astype(np.int64)
        bi = rng.randint(0, n_docs, n_pairs).astype(np.int64)
        want = np.array(
            [len(np.intersect1d(sets[a], sets[b])) for a, b in zip(ai, bi)],
            dtype=np.int64,
        )
        got_csr = _intersect_counts_csr(indptr, indices, ai, bi)
        nvocab = int(indices.max()) + 1 if len(indices) else 0
        got_pop = _intersect_counts_popcount(indptr, indices, nvocab, ai, bi)
        csize, Mip, Mix, Pip, Pix = _delta_csr(indptr, indices, nvocab)
        got_delta = _intersect_counts_delta(
            csize, Mip, Mix, Pip, Pix, ai, bi
        )
        assert np.array_equal(got_csr, want)
        assert np.array_equal(got_pop, want)
        assert np.array_equal(got_delta, want)


def test_hashed_shingles_arrow_matches_sql(spark):
    """The interned Python shingle-hash pass must be value- AND
    order-identical to the SQL hashed_shingle_expr (first-occurrence
    order of distinct lowercased k-grams, md5-slice ints)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sql_sh = {
        r["doc_id"]: list(r["__sh"])
        for r in docs.select(
            "doc_id", F.lower(F.col("text")).alias("__lt")
        )
        .select(
            "doc_id",
            F.expr(
                hashed_shingle_expr("__lt", 5, pre_lowered=True)
            ).alias("__sh"),
        )
        .collect()
    }
    py_sh = {
        r["doc_id"]: list(r["__sh"])
        for r in _hashed_shingles_arrow(docs, "text", "doc_id", 5).collect()
    }
    assert sql_sh == py_sh and len(py_sh) > 0


def test_hashed_shingles_arrow_short_and_empty_docs(spark):
    """Documents shorter than the shingle length hash their whole text
    as the single gram (the greatest(len-k+1, 1) contract); identical
    between the SQL and Python paths."""
    df = spark.createDataFrame(
        [(1, "ab"), (2, "ABCDE"), (3, "x"), (4, "hello world")],
        "doc_id long, text string",
    )
    sql_sh = {
        r["doc_id"]: list(r["__sh"])
        for r in df.select(
            "doc_id", F.lower(F.col("text")).alias("__lt")
        )
        .select(
            "doc_id",
            F.expr(
                hashed_shingle_expr("__lt", 5, pre_lowered=True)
            ).alias("__sh"),
        )
        .collect()
    }
    py_sh = {
        r["doc_id"]: list(r["__sh"])
        for r in _hashed_shingles_arrow(df, "text", "doc_id", 5).collect()
    }
    assert sql_sh == py_sh


@pytest.mark.parametrize(
    "min_est,thr", [(0.25, 0.25), (0.25, 0.3), (0.5, 0.5)]
)
def test_fused_matches_staged_all_policy_points(spark, min_est, thr):
    """The fused bucket strategy must reproduce the staged pipeline
    exactly — pair set, est_jaccard doubles, jaccard doubles — at the
    loose, default, and dedup-policy thresholds."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(min_est_jaccard=min_est, threshold=thr)
    fused = {
        (r["id_a"], r["id_b"]): (r["est_jaccard"], r["jaccard"])
        for r in dedup.lsh_verified_pairs(
            docs, "text", "doc_id", **kw
        ).collect()
    }
    staged = {
        (r["id_a"], r["id_b"]): (r["est_jaccard"], r["jaccard"])
        for r in dedup.lsh_verified_pairs(
            docs, "text", "doc_id", strategy="staged", **kw
        ).collect()
    }
    assert fused == staged and len(fused) > 0


def test_fused_rejects_unknown_strategy(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="strategy"):
        dedup.lsh_verified_pairs(docs, "text", "doc_id", strategy="bogus")


def test_staged_pair_count_gate_routes_blocked(spark):
    """r11: beyond verify_blocked_min_pairs candidates the staged
    verify must route through the blocked cogroup even when the payload
    would fit a broadcast (the per-pair JVM array_intersect cost, not
    memory, is the binding constraint)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan_forced = (
        dedup.lsh_verified_pairs(
            docs, "text", "doc_id", strategy="staged",
            verify_blocked_min_pairs=1,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan_forced
    plan_default = (
        dedup.lsh_verified_pairs(docs, "text", "doc_id", strategy="staged")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # sf0.001 has ~28K candidates, under the 65536 default: broadcast
    assert "FlatMapCoGroupsInPandas" not in plan_default


def test_pagerank_three_tiers_identical(spark):
    """r11: pagerank's driver-edges tier (Arrow collect + numpy exact
    int64 matvec), driver-state tier (one distributed job per
    iteration), and the fully distributed loop must produce identical
    rank_units — same floor arithmetic in the same order."""
    import random

    from tensorflow_recorder_spark.operators.graph import pagerank

    random.seed(11)
    edges = spark.createDataFrame(
        [
            (random.randint(0, 149), random.randint(0, 149))
            for _ in range(1500)
        ],
        "src long, dst long",
    )

    def run(**kw):
        return {
            (r["node"], r["rank_units"])
            for r in pagerank(edges, iterations=5, **kw).collect()
        }

    top = run()
    mid = run(driver_edge_threshold=0)
    dist = run(driver_edge_threshold=0, driver_state_threshold=0)
    assert top == mid == dist and len(top) > 0


def test_incremental_fused_matches_staged(spark):
    """r11: the fused bipartite bucket strategy must reproduce the
    staged asymmetric pipeline exactly — pair set, est_jaccard,
    jaccard — including self-pairs when the two sides overlap (the
    staged band join has no id inequality filter)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = docs.where(F.col("doc_id") % 10 != 0)
    bat = docs.where(F.col("doc_id") % 10 == 0)

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"]): (r["est_jaccard"], r["jaccard"])
            for r in dedup.incremental_neardup_pairs(
                idx, bat, "text", "doc_id", **kw
            ).collect()
        }

    fused, staged = pairs(), pairs(strategy="staged")
    assert fused == staged and len(fused) > 0
    ov_f = {
        (r["id_a"], r["id_b"])
        for r in dedup.incremental_neardup_pairs(
            docs, docs, "text", "doc_id"
        ).collect()
    }
    ov_s = {
        (r["id_a"], r["id_b"])
        for r in dedup.incremental_neardup_pairs(
            docs, docs, "text", "doc_id", strategy="staged"
        ).collect()
    }
    assert ov_f == ov_s and len(ov_f) > 0


def test_fused_giant_bucket_threaded_path_identical(spark):
    """r11 continuation: the in-task threaded giant-bucket kernels
    (partial-matrix slot paints summed, panel sgemm) must be
    bit-identical to the serial matrix path. giant_rows=2 forces every
    bucket through the threaded branch; the arithmetic is exact by
    construction (uint8 partial sums <= nh; sgemm cells are 0/1 dot
    products — integers < 2^24, exact in float32 under any split)."""
    from tensorflow_recorder_spark.operators.dedup import (
        _lsh_verified_fused,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"]): (r["est_jaccard"], r["jaccard"])
            for r in _lsh_verified_fused(
                docs, "text", "doc_id", 8, 4, 5, 0.25, 0.3, **kw
            ).collect()
        }

    serial = pairs()
    threaded = pairs(giant_rows=2, giant_threads=3)
    assert serial == threaded and len(serial) > 0
    # matrix_budget=0 forces every bucket down the serial CHUNKED path
    chunked_serial = pairs(matrix_budget=0)
    assert serial == chunked_serial


def test_ivf_assign_nested_matches_per_arm(spark):
    """r11 continuation: one-pass nested-prefix assignment must equal
    the per-arm ivf_assign for every bound (the nlist curve fusion)."""
    from pyspark.sql import functions as F

    from tensorflow_recorder_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full_c = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    nested = {
        r["vec_id"]: r
        for r in similarity.ivf_assign_nested(
            emb, full_c, (4, 8, 16)
        ).collect()
    }
    assert len(nested) > 0
    for b in (4, 8, 16):
        arm = {
            r["vec_id"]: r["centroid_id"]
            for r in similarity.ivf_assign(
                emb,
                emb.where(F.col("vec_id") < b).select(
                    F.col("vec_id").alias("centroid_id"), "embedding"
                ),
            ).collect()
        }
        got = {k: r[f"centroid_id_{b}"] for k, r in nested.items()}
        assert got == arm


def test_ivf_topk_multi_matches_per_arm(spark):
    """r11 continuation: the one-pass multi-nprobe top-k must equal the
    per-arm ivf_topk for every nprobe (the nprobe-curve / frontier
    fusion) — same rows, same scores, same ranks."""
    from pyspark.sql import functions as F

    from tensorflow_recorder_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.where(F.col("vec_id") < 5)
    multi = similarity.ivf_topk_multi(
        emb, centroids, queries, (1, 2, 4), k=10
    )
    got = {
        (r["nprobe"], r["query_id"], r["neighbor_id"]): (
            r["score"],
            r["rank"],
        )
        for r in multi.collect()
    }
    want = {}
    for np_ in (1, 2, 4):
        ivf = similarity.ivf_topk(
            emb, centroids, queries, k=10, nprobe=np_
        )
        for r in ivf.collect():
            want[(np_, r["query_id"], r["neighbor_id"])] = (
                r["score"],
                r["rank"],
            )
    assert len(want) > 0
    assert got == want


def test_ivf_topk_nested_cells_matches_per_arm(spark):
    """r11 continuation: the one-pass nested-nlist top-k must equal the
    per-arm ivf_topk at nprobe=1 for every bound (the nlist-curve
    fusion) — same rows, same scores, same ranks."""
    from pyspark.sql import functions as F

    from tensorflow_recorder_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    full_c = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    nested = similarity.ivf_assign_nested(emb, full_c, (4, 8, 16))
    multi = similarity.ivf_topk_nested_cells(
        emb, nested, queries, (4, 8, 16), k=10
    )
    got = {
        (r["nlist"], r["query_id"], r["neighbor_id"]): (
            r["score"],
            r["rank"],
        )
        for r in multi.collect()
    }
    want = {}
    for b in (4, 8, 16):
        centroids = emb.where(F.col("vec_id") < b).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        ivf = similarity.ivf_topk(
            emb, centroids, queries, k=10, nprobe=1
        )
        for r in ivf.collect():
            want[(b, r["query_id"], r["neighbor_id"])] = (
                r["score"],
                r["rank"],
            )
    assert len(want) > 0
    assert got == want


def test_cdc_chunks_arrow_matches_sql_engine(spark):
    """r11 continuation: the vectorized numpy cut-position pass must be
    row-identical to the all-JVM SQL expression — including empty docs,
    docs shorter than the window, multibyte and astral-plane code
    points (Spark splits by code point; the numpy path views UTF-32),
    uppercase input through the JVM lower(), and both hash algos."""
    from tensorflow_recorder_spark.operators.chunking import cdc_chunks

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")
    edge = spark.createDataFrame(
        [
            (10001, "", "e"),
            (10002, "short", "e"),
            (10003, "UPPER Case Ää Øø İstanbul " * 40, "e"),
            (10004, "astral \U0001f600\U0001f680 plane " * 60, "e"),
            (10005, None, "e"),
            (10006, "exactly8", "e"),
        ],
        "doc_id long, text string, source string",
    )
    both = docs.unionByName(edge)
    for algo in ("md5", "xxhash64"):
        key = lambda r: (r["doc_id"], r["chunk_idx"])
        arrow_rows = sorted(
            cdc_chunks(
                both, keep=["source"], include_text=True,
                hash_algo=algo, engine="arrow",
            ).collect(),
            key=key,
        )
        sql_rows = sorted(
            cdc_chunks(
                both, keep=["source"], include_text=True,
                hash_algo=algo, engine="sql",
            ).collect(),
            key=key,
        )
        assert len(arrow_rows) > 0
        assert [tuple(r) for r in arrow_rows] == [
            tuple(r) for r in sql_rows
        ]
