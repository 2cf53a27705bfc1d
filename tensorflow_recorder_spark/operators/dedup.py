"""Deduplication operators (E1, SURVEY.md §2.9) — exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Not in the reference (its only row-elimination is split routing,
beam_pipeline.py:73-88); these are the training-data-pipeline operators
the north star requires, designed Spark-first for 100 TB:

  * Exact dedup: hash-partition on a digest of the text, keep the first
    id per group — one shuffle keyed by digest (never by the full text:
    shuffle keys stay 32 bytes), no driver state.
  * MinHash: per-row signature computation is a narrow projection (no
    shuffle at all); hashes are md5-prefix based so the whole operator
    is expressible in ANSI SQL for the correctness oracle.
  * LSH banding: signature -> (band, band_key) pairs; candidate pairs
    come from a self-equi-join on the band key. At scale this is THE
    join-reduction trick: instead of O(n^2) pairs, only rows sharing a
    band bucket meet, and the join is an ordinary shuffled equi-join
    that AQE can skew-split (hot buckets = near-identical boilerplate
    docs are real at 100 TB).
  * n-gram Jaccard: exact verification within a blocking key via
    shingle-set intersection — the "verify" stage after LSH
    candidates, or standalone within small blocks.
  * SimHash: bit-majority over token hashes, one narrow projection +
    one aggregation keyed by doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.partitioning import spread_to_parallelism

# ---------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, method: str = "window"
) -> DataFrame:
    """Keep the lowest-id row per distinct ``text_col`` value (E1 exact).

    The shuffle key is ``sha2(text)`` (fixed 64 hex chars), not the text
    itself — at 100 TB the shuffle moves digests, not documents.

    * ``method='window'``: one shuffle + per-digest sort. The sort is
      bounded by the duplicate count — right when duplication is
      moderate. A pathologically hot digest (one boilerplate document
      duplicated millions of times) lands on a single task: window
      partitions are NOT AQE-splittable.
    * ``method='agg'``: the skew-resistant form. ``min(id)`` per digest
      is a partial-aggregated groupBy — a hot digest collapses to one
      row per map task BEFORE the shuffle — followed by a left-semi
      join on (digest, id), which AQE can skew-split like any join.
      Two shuffles instead of one, so it wins only under heavy
      duplication skew. Assumes ``id_col`` is unique per row (both
      members of a (digest, id) collision would survive).
    """
    digest = F.sha2(F.col(text_col), 256)
    if method == "agg":
        keyed = df.withColumn("__dig", digest)
        survivors = keyed.groupBy("__dig").agg(F.min(id_col).alias(id_col))
        return keyed.join(survivors, ["__dig", id_col], "left_semi").drop("__dig")
    w = Window.partitionBy(digest).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalized_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the CANONICALIZED text: case-fold, fold every
    non-alphanumeric run to a single space, trim — the standard
    pipeline stage between byte-exact hashing (misses trivial
    reformattings) and MinHash (overkill for them). Two documents that
    differ only in casing, punctuation, or whitespace collapse to one
    survivor (lowest ``id_col``); the surviving rows keep their
    ORIGINAL text.

    Scale shape = ``exact_dedup(method='agg')``: the shuffle key is
    ``sha2`` of the normalized form (64 hex chars — digests move, not
    documents), ``min(id)`` per digest partial-aggregates map-side so a
    boilerplate document duplicated millions of times collapses to one
    row per map task before the shuffle, and the semi-join back is
    AQE-skew-splittable. The normalization itself is a codegen'd
    regexp chain (ASCII classes only, so any SQL engine reproduces it
    byte-for-byte).
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    keyed = df.withColumn("__ndig", F.sha2(norm, 256))
    survivors = keyed.groupBy("__ndig").agg(F.min(id_col).alias(id_col))
    return keyed.join(survivors, ["__ndig", id_col], "left_semi").drop("__ndig")


# ------------------------------------------------------------- shingles


def shingle_expr(text_col: str, k: int = 5, pre_lowered: bool = False) -> str:
    """SQL expression producing the distinct set of character ``k``-grams
    of a (lowercased) text column. Pure Spark SQL — stays in codegen.

    Pass ``pre_lowered=True`` when ``text_col`` is already lowercased
    (project ``lower(text)`` first). With the default, ``lower()`` sits
    inside the ``transform`` lambda and Catalyst re-evaluates it per
    shingle — O(len^2) per document, measured 2x slower at sf0.1.
    """
    lc = text_col if pre_lowered else f"lower({text_col})"
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substring({lc}, i, {k})))"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_len: int = 5,
    method: str = "arrow",
) -> DataFrame:
    """Per-document MinHash signature (E1 fuzzy, fit stage).

    Output: (id_col, mh_0..mh_{n-1}) where
    ``mh_k = min over shingles of int32(md5(concat(k div 4, ':', s))
    sliced at 4*(k%4))`` — md5-based so the DuckDB oracle computes the
    identical value.

    Two physical strategies, identical output (parity-tested):

    * ``method='arrow'`` (default): map-only ``mapInPandas`` — each task
      shingles its documents in Python, hashes with ``hashlib.md5``, and
      takes column minima with one vectorized ``np.frombuffer`` unpack
      per document. No explode, NO SHUFFLE AT ALL (the SQL path shuffles
      signature-sized partial aggregates), and measured 2x faster at
      sf0.1. Per-task memory is one document's shingle set — flat at any
      scale.
    * ``method='sql'``: explode distinct shingles, groupBy(id) with one
      ``min`` per slot. Stays entirely in codegen/JVM; the declarative
      form Catalyst can reason about, and the fallback where Arrow is
      undesirable. Map-side combine keeps the shuffle signature-sized.
    """
    if method == "arrow":
        return _minhash_signatures_arrow(
            df, text_col, id_col, num_hashes, shingle_len
        )
    shingles = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__lt")
    ).select(
        F.col(id_col),
        F.explode(
            F.expr(shingle_expr("__lt", shingle_len, pre_lowered=True))
        ).alias("__s"),
    )
    # One md5 yields four independent 32-bit slices, so num_hashes hash
    # functions cost ceil(num_hashes/4) digests per shingle:
    #   h_k(s) = int(md5(concat(k div 4, ':', s))[8*(k%4) .. +8], 16)
    # The digests are materialized in a projection BEFORE the aggregate:
    # Catalyst does not common-subexpression-eliminate across separate
    # agg functions, so folding md5 into each min() would recompute every
    # digest 4x (measured ~2x slower end-to-end at sf0.1).
    n_digests = (num_hashes + 3) // 4
    digested = shingles.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{d}:"), F.col("__s"))).alias(f"__d{d}")
            for d in range(n_digests)
        ],
    )
    aggs = [
        F.min(
            F.expr(
                f"cast(conv(substring(__d{k // 4}, {8 * (k % 4) + 1}, 8), 16, 10) as bigint)"
            )
        ).alias(f"mh_{k}")
        for k in range(num_hashes)
    ]
    return digested.groupBy(id_col).agg(*aggs)


def _minhash_signatures_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_len: int,
) -> DataFrame:
    """Arrow fast path for :func:`minhash_signatures` (map-only)."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    k, nh = shingle_len, num_hashes
    nd = (nh + 3) // 4  # digests per shingle: 4 x 32-bit slices each
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + [T.StructField(f"mh_{j}", T.LongType()) for j in range(nh)]
    )

    def mh_batches(batches):
        md5 = hashlib.md5
        salts = [f"{d}:".encode() for d in range(nd)]
        be_u32 = np.dtype(">u4")
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            out = np.empty((len(ids), nh), dtype=np.int64)
            # Hash each DISTINCT shingle once per batch, not once per
            # (doc, shingle): common grams repeat across documents, so
            # interning into a batch vocabulary cuts the md5 calls by
            # the duplication factor (measured 4.1x on the hashing
            # stage at sf-like diversity) and turns the per-doc fold
            # into one vectorized row-gather + min. Same bytes hashed,
            # bit-identical signatures.
            vocab: dict[str, int] = {}
            doc_idx = []
            for t in pdf[text_col]:
                t = t.lower()
                m = max(len(t) - k + 1, 1)
                sh = {t[i : i + k] for i in range(m)}
                doc_idx.append(
                    np.fromiter(
                        (vocab.setdefault(g, len(vocab)) for g in sh),
                        dtype=np.int64,
                        count=len(sh),
                    )
                )
            buf = b"".join(
                md5(salts[d] + s.encode()).digest()
                for s in vocab
                for d in range(nd)
            )
            H = np.frombuffer(buf, dtype=be_u32).reshape(
                len(vocab), nd * 4
            )[:, :nh]
            for r, idxs in enumerate(doc_idx):
                out[r] = H[idxs].min(axis=0)
            res = pd.DataFrame(out, columns=[f"mh_{j}" for j in range(nh)])
            res.insert(0, id_col, ids)
            yield res

    # The hashing is pure map-side Python: its parallelism is exactly the
    # input partition count. A small/single-file source would serialize
    # the whole corpus through one worker, so fan out to the session's
    # parallelism; at real scale the source already has >= that many
    # files and no shuffle is added (metadata-only probe).
    src = spread_to_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(mh_batches, schema=out_schema)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    min_est_jaccard: float = 0.25,
) -> DataFrame:
    """LSH banding over MinHash signatures -> candidate pairs with
    estimated Jaccard (fraction of agreeing signature slots).

    Pairs meet only if some band of ``num_hashes/bands`` consecutive
    slots agrees exactly, turning all-pairs comparison into an
    equi-join on (band_idx, band_key). Output: (id_a, id_b, est_jaccard)
    with id_a < id_b.

    A pair sharing multiple bands meets once per shared band; the
    duplicates are eliminated by the FIRST-MATCHING-BAND filter (emit
    only where no earlier band also agrees — computable from the mh
    columns both join sides already carry), not by ``distinct()``.
    Near-dup-heavy data makes the raw candidate multiset much larger
    than the distinct pair set, so replacing that shuffle with a
    filter inside the join stage halved this operator's time at sf0.1.
    """
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        slots = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = "md5(concat_ws(',', " + ", ".join(slots) + "))"
        band_structs.append(f"struct({b} as band_idx, {key} as band_key)")
    banded = signatures.select(
        F.col(id_col),
        *[F.col(f"mh_{k}") for k in range(num_hashes)],
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("band"),
    ).select(id_col, *[f"mh_{k}" for k in range(num_hashes)], "band.band_idx", "band.band_key")

    left = banded.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{k}").alias(f"a_{k}") for k in range(num_hashes)],
        "band_idx",
        "band_key",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{k}").alias(f"b_{k}") for k in range(num_hashes)],
        "band_idx",
        "band_key",
    )
    agree = sum(
        F.when(F.col(f"a_{k}") == F.col(f"b_{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )

    def band_agrees(b: int):
        cond = F.lit(True)
        for r in range(rows_per_band):
            k = b * rows_per_band + r
            cond = cond & (F.col(f"a_{k}") == F.col(f"b_{k}"))
        return cond

    # first-matching-band: no band before this row's band_idx also agrees
    not_earlier = F.lit(True)
    for b in range(bands - 1):
        not_earlier = not_earlier & ~(
            (F.col("band_idx") > b) & band_agrees(b)
        )
    pairs = (
        left.join(right, ["band_idx", "band_key"])
        .where((F.col("id_a") < F.col("id_b")) & not_earlier)
        .select(
            "id_a", "id_b", (agree / F.lit(float(num_hashes))).alias("est_jaccard")
        )
    )
    return pairs.where(F.col("est_jaccard") >= min_est_jaccard)


def hashed_shingle_expr(text_col: str, k: int = 5, pre_lowered: bool = False) -> str:
    """Distinct 32-bit-hashed character k-grams (md5-slice ints).

    Jaccard over hashed shingle sets equals Jaccard over the string sets
    up to md5 collisions (~n^2/2^32); comparing/intersecting longs is
    several times cheaper than strings at pair-join time.
    """
    # distinct the k-gram STRINGS first, then hash: identical result set
    # and order (md5 maps first-occurrence order elementwise), ~15% fewer
    # md5 calls on repetitive text (measured at sf0.1)
    return (
        f"transform({shingle_expr(text_col, k, pre_lowered)}, "
        f"s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))"
    )


def _hashed_shingles_arrow(
    df: DataFrame, text_col: str, id_col: str, shingle_len: int = 5
) -> DataFrame:
    """Arrow fast path for :func:`hashed_shingle_expr` (r11): per-doc
    arrays of 32-bit md5-slice hashes of the distinct lowercased
    character k-grams, value- and order-identical to the SQL expression
    (first-occurrence order of the distinct shingle STRINGS, then
    ``int(md5(s)[:8], 16)`` elementwise — so md5-collision duplicates
    are preserved exactly as ``transform(array_distinct(...), md5)``
    produces them).

    Why not the SQL expression: it computes one md5 per text POSITION
    (JVM digest + hex + conv + allocation per shingle occurrence). The
    corpus's distinct-shingle vocabulary is far smaller than its
    position count (2,041 vs 1.5 M at sf0.1 — template-heavy corpora
    repeat their grams), and a per-task intern cache hashes each
    distinct gram once: ~700x fewer digests, measured 1.4 s -> 0.35 s
    on the sf0.1 verify stage with bit-identical output. The cache is
    bounded (dropped past 4 M entries) so a high-diversity task cannot
    grow it without limit.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    k = shingle_len
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("__sh", T.ArrayType(T.LongType())),
        ]
    )

    def batches(it):
        md5 = hashlib.md5
        cache: dict[str, int] = {}

        def h(g: str) -> int:
            v = cache.get(g)
            if v is None:
                v = int.from_bytes(md5(g.encode()).digest()[:4], "big")
                if len(cache) < 4_000_000:
                    cache[g] = v
            return v

        for pdf in it:
            out = []
            for t in pdf[text_col]:
                t = t.lower()
                m = max(len(t) - k + 1, 1)
                # dict.fromkeys: distinct in first-occurrence order,
                # matching SQL array_distinct
                seen = dict.fromkeys(t[i : i + k] for i in range(m))
                out.append(
                    np.fromiter(
                        (h(g) for g in seen), dtype=np.int64, count=len(seen)
                    )
                )
            yield pd.DataFrame({id_col: pdf[id_col], "__sh": out})

    return df.select(id_col, text_col).mapInPandas(batches, schema=out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None = None,
    shingle_len: int = 5,
    threshold: float = 0.25,
) -> DataFrame:
    """n-gram Jaccard similarity pairs over hashed shingle sets (E1
    verify stage).

    With ``block_col`` the self-join is an equi-join within blocks (the
    scalable form: dedup within source/domain partitions); without it,
    this is the small-data verifier applied to LSH candidates.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    The hashed shingle frame is materialized once via a lazy
    ``localCheckpoint``: it feeds both sides of the self-join and its
    lineage has no exchange Spark could auto-reuse. (Not ``cache()`` —
    re-declaring the query would re-request the same plan from the
    CacheManager and churn the block manager with "already cached"
    re-registrations; checkpointed blocks are plain RDD storage, freed
    on GC.) At cluster scale, persist it as a table instead.
    """
    sh = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.lower(F.col(text_col)).alias("__lt"),
    ).select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.expr(hashed_shingle_expr("__lt", shingle_len, pre_lowered=True)).alias(
            "__sh"
        ),
    ).localCheckpoint(eager=False)
    a = sh.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("sh_a"),
    )
    b = sh.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("sh_b"),
    )
    joined = a.join(b, [block_col] if block_col else None) if block_col else a.crossJoin(b)
    # Size-ratio prune BEFORE the expensive intersection: |A∩B| <= min and
    # |A∪B| >= max, so j <= min/max — pairs failing the ratio test cannot
    # reach the threshold. Semantics-preserving, cuts intersect work on
    # skew-sized pairs.
    ratio_ok = (
        F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
        / F.greatest(F.size("sh_a"), F.size("sh_b")).cast("double")
        >= F.lit(threshold)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.where((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _signatures_and_shingles_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_len: int,
) -> DataFrame:
    """One map-only pass emitting BOTH the MinHash signature and the
    hashed shingle array per document (r11, the fused fuzzy-dedup
    front end).

    The staged pipeline derives signatures and (for candidate docs
    only) shingle arrays from the SAME per-doc gram set in two separate
    corpus passes, with a semi-join + repartition + checkpoint between
    them. When the verify stage is fused into the LSH buckets the
    shingle payload is needed for every banded doc anyway, so this pass
    shares one gram-set build and one batch-vocabulary intern between
    the salted signature digests and the unsalted verify hashes —
    per distinct gram: ``nd`` salted md5s (signature slots) + 1
    unsalted md5 (verify hash), exactly the bytes the SQL expressions
    hash, bit-identical outputs.

    Output: (id_col, mh_0..mh_{n-1}, __sh array<long>).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    k, nh = shingle_len, num_hashes
    nd = (nh + 3) // 4
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + [T.StructField(f"mh_{j}", T.LongType()) for j in range(nh)]
        + [T.StructField("__sh", T.ArrayType(T.LongType()))]
    )

    def batches(it):
        md5 = hashlib.md5
        salts = [f"{d}:".encode() for d in range(nd)]
        be_u32 = np.dtype(">u4")
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            out = np.empty((len(ids), nh), dtype=np.int64)
            vocab: dict[str, int] = {}
            doc_idx = []
            for t in pdf[text_col]:
                t = t.lower()
                m = max(len(t) - k + 1, 1)
                # first-occurrence distinct, matching array_distinct
                sh = dict.fromkeys(t[i : i + k] for i in range(m))
                doc_idx.append(
                    np.fromiter(
                        (vocab.setdefault(g, len(vocab)) for g in sh),
                        dtype=np.int64,
                        count=len(sh),
                    )
                )
            buf = b"".join(
                md5(salts[d] + s.encode()).digest()
                for s in vocab
                for d in range(nd)
            )
            H = np.frombuffer(buf, dtype=be_u32).reshape(
                len(vocab), nd * 4
            )[:, :nh]
            vbuf = b"".join(md5(g.encode()).digest()[:4] for g in vocab)
            V = np.frombuffer(vbuf, dtype=be_u32).astype(np.int64)
            sh_col = []
            for r, idxs in enumerate(doc_idx):
                out[r] = H[idxs].min(axis=0)
                sh_col.append(V[idxs])
            res = pd.DataFrame(out, columns=[f"mh_{j}" for j in range(nh)])
            res.insert(0, id_col, ids)
            res["__sh"] = sh_col
            yield res

    src = spread_to_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(batches, schema=out_schema)


_GIANT_BUCKET_ROWS = 1024

# r12: recommended PRODUCTION threshold for decomposing a giant bucket
# across TASKS (block-verify stage) instead of verifying it inside one
# in-task pass. Below ~4096 rows the m x m matrix path handles the
# bucket in-task in well under a second (4096² byte-writes ~= the
# 16 MB matrix budget; measured at sf0.1: the 1983-doc family's task
# is 1.4 s of which most is serializing its own ~1.9M result pairs —
# a cost deferral relocates but cannot remove), so the block stage's
# extra stage boundaries (~1 s/query measured) would cost more than
# the straggler they remove. The LOCAL DEFAULT IS OFF (0): no measured
# dataset — sf0.1 or the derived decades, whose replicas keep disjoint
# shingle universes — produces a bucket beyond ~2k rows, so locally
# the branch would be pure insurance premium. On a real 100 TB corpus
# whose boilerplate families can exceed the matrix budget set
# SPARK_GRAFT_DEFER_ROWS=4096 (or pass ``defer_rows``): beyond that
# size the in-task work grows quadratically while block-stage tasks
# stay bounded by construction. Parity of the block path is pinned by
# tests at forced thresholds either way.
_DEFER_BUCKET_ROWS = 4096


def _bucket_thread_count(m: int, bytes_per_thread: int) -> int:
    """Thread-pool width for ONE giant bucket's in-task kernels.

    A template-family bucket is a single ``applyInPandas`` group — one
    task, the stage's straggler while sibling tasks finish and leave
    cores idle (local[32] and a 100 TB executor alike: the group is
    unsplittable by the shuffle). The heavy kernels inside it decompose
    exactly (per-slot paints SUM into the agreement matrix; sgemm
    panels over 0/1 indicator rows are integer sums < 2^24, exact in
    float32 under ANY split), and numpy/BLAS release the GIL, so a
    small in-task thread pool recovers the idle cores without touching
    the plan. Width: conservative fraction of the machine (the stage's
    OTHER tasks are still running at stage start), memory-capped by the
    per-thread scratch the caller will allocate, env-overridable for
    cluster tuning (``SPARK_GRAFT_BUCKET_THREADS``).
    """
    import os

    env = os.environ.get("SPARK_GRAFT_BUCKET_THREADS")
    if env is not None:
        cap = max(1, int(env))
    else:
        cap = max(2, min(8, (os.cpu_count() or 8) // 4))
    mem_cap = max(1, (256 << 20) // max(bytes_per_thread, 1))
    return max(1, min(cap, mem_cap))


def _lsh_verified_fused(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_len: int,
    min_est_jaccard: float,
    threshold: float,
    chunk_pairs: int = 1 << 20,
    giant_rows: int | None = None,
    giant_threads: int | None = None,
    matrix_budget: int = 1 << 24,
    defer_rows: int | None = None,
    defer_block: int = 512,
) -> DataFrame:
    """Fused single-shuffle fuzzy dedup (r11): signatures + shingles in
    one map pass, band explode, and candidate generation + exact-
    Jaccard verification INSIDE each LSH bucket.

    r12 (verdict item 3): two structural changes.

    * The bucket verify is ONE ``mapInPandas`` call per shuffle
      partition instead of one ``applyInPandas`` group per bucket:
      the hash repartition already co-locates each bucket's rows, and
      the per-group pandas bookkeeping over ~90k mostly-singleton
      buckets was the stage's dominant cost at sf0.1 (~1.5 s/task vs
      ~0.3 s of pair math). The partition pass pays one concat + one
      lexsort and verifies buckets as numpy slices.
    * A GIANT bucket (>= ``defer_rows`` docs when enabled) is not
      verified in-task — that group's O(m²) pair work is one
      unsplittable task, the stage's straggler on local[32] and on a
      saturated 100 TB executor alike (the r11 in-task thread pool
      only recovered idle SIBLING cores, a local-mode-shaped bet).
      A second pass over the SAME exchange (AQE stage reuse: the
      corpus signature pass and its shuffle run once) re-emits only
      giant buckets' payload into <= 16 contiguous id-range blocks of
      ~``defer_block`` docs; the block stage keyed (band_key, band,
      block_a, block_b) gives every upper-triangle block of the pair
      matrix its OWN task (exact decomposition: each i<j pair exists
      in exactly one block pair, and id-range blocks keep cross-block
      pairs id-ordered). Default OFF locally / enable at 4096 in
      production — see _DEFER_BUCKET_ROWS for the measured tradeoff
      (below the matrix budget the in-task pass is sub-second and
      dominated by serializing its own result pairs, which deferral
      relocates but cannot remove; the branch's stage boundaries cost
      ~1 s/query). ``defer_rows=0`` (the local default, env
      SPARK_GRAFT_DEFER_ROWS) yields the single-stage plan.

    The staged pipeline (:func:`lsh_verified_pairs` machinery) runs
    ~13 Spark jobs at sf0.1: band self-join, candidate checkpoint,
    candidate-id semi-join, shingle pass + checkpoint, routing stats,
    then the verify join/cogroup — each boundary a full
    materialization. But every decision it makes is bucket-local: a
    candidate pair exists iff the two docs share a band bucket, the
    first-matching-band rule and est_jaccard need only the two
    signatures (carried with the docs), and the exact Jaccard needs
    only the two shingle arrays (also carried). So this plan ships each
    doc's (signature, shingle array) payload into its ``bands`` buckets
    — ONE exchange, ~bands x corpus payload — and one cogroup-free
    ``applyInPandas`` per bucket enumerates in-bucket pairs
    (chunked, est-filtered, first-band-deduped) and verifies survivors
    with the same popcount/CSR kernels as the blocked path. Measured at
    sf0.1: e1_lsh_verified 9.5 s -> ~2.5 s, bit-identical output (the
    per-pair arithmetic is unchanged: est = agreeing_slots/num_hashes
    in float64, jaccard = |A∩B|/(|A|+|B|-|A∩B|) in float64).

    Worst-case note: a degenerate bucket (m near-identical docs) costs
    O(m^2) est-filter compares here — the SAME asymptotics as the
    staged band self-join, which materializes those m^2 rows in the
    JVM; the fused form does them as vectorized int compares without
    materializing the non-candidates, so it is never worse.
    """
    import os

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    nh, rpb = num_hashes, num_hashes // bands
    combo = _signatures_and_shingles_arrow(
        df, text_col, id_col, num_hashes, shingle_len
    )
    band_structs = []
    for b in range(bands):
        slots = [f"mh_{b * rpb + r}" for r in range(rpb)]
        key = "md5(concat_ws(',', " + ", ".join(slots) + "))"
        band_structs.append(f"struct({b} as band_idx, {key} as band_key)")
    banded = combo.select(
        F.col(id_col),
        *[F.col(f"mh_{j}") for j in range(nh)],
        F.col("__sh"),
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias(
            "band"
        ),
    ).select(
        id_col,
        *[f"mh_{j}" for j in range(nh)],
        "__sh",
        "band.band_idx",
        "band.band_key",
    )

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("est_jaccard", T.DoubleType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    min_est = float(min_est_jaccard)
    thr = float(threshold)
    defer_schema = T.StructType(
        [
            T.StructField("__gk", T.StringType()),
            T.StructField("__ga", T.IntegerType()),
            T.StructField("__gb", T.IntegerType()),
            T.StructField("__blk", T.IntegerType()),
            T.StructField("__band", T.IntegerType()),
            T.StructField("__id", id_type),
            T.StructField("__mh", T.ArrayType(T.LongType())),
            T.StructField("__shd", T.ArrayType(T.LongType())),
        ]
    )

    _none4 = (
        np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.float64),
        np.zeros(0, dtype=np.float64),
    )

    def verify_arrays(band_idx, ids, M8, sh_vals):
        """Candidate enumeration + exact verification for ONE bucket,
        given id-sorted numpy inputs (ids, nh-column signature matrix,
        object array of shingle arrays). Returns (id_a, id_b, est, jac)
        arrays — the r12 partition pass calls this per bucket SLICE so
        no per-group pandas frame is ever built (the r11 per-group
        applyInPandas overhead over ~90k mostly-singleton buckets was
        the stage's real cost: ~1.5 s/task of group bookkeeping against
        ~0.3 s of pair math)."""
        empty = _none4
        m = len(ids)
        arrs = [np.asarray(a, dtype=np.int64) for a in sh_vals]
        lens = np.fromiter((len(a) for a in arrs), np.int64, m)
        flat = np.concatenate(arrs)
        vocab, indices = np.unique(flat, return_inverse=True)
        indices = indices.astype(np.int64)
        indptr = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(lens, out=indptr[1:])
        sizes = lens.astype(np.float64)

        g_rows = _GIANT_BUCKET_ROWS if giant_rows is None else giant_rows

        def pick_threads(bytes_per_thread):
            if m < g_rows:
                return 1
            if giant_threads is not None:
                return max(1, giant_threads)
            return _bucket_thread_count(m, bytes_per_thread)

        # m x m MATRIX fast path (r11): per-pair fancy-index gathers
        # cost ~0.7 µs/pair in numpy, and a template-family bucket is
        # nearly ALL pairs (measured: 1.92M of the giant sf0.1
        # bucket's 1.97M pairs survive the est filter — the filter WAS
        # the task's wall at 1.3 s). Build the slot-agreement count
        # matrix from per-slot VALUE GROUPS instead: docs agreeing on
        # a slot form groups, and each group paints a sub-square of
        # A (+1 per slot) — O(m² + Σ group²) byte writes. The
        # earlier-band dedup is the same construction over combined
        # band keys into a bool mask. Every pair's est and the filter
        # then read straight off the matrices (~0.1 s for the giant
        # bucket), and only SURVIVORS are ever materialized as pair
        # index arrays. Identical semantics: est = agreeing slots / nh,
        # drop if any earlier band fully agrees.
        if m * m <= matrix_budget:  # <= 64 MB of uint8+bool matrices
            # giant-bucket in-task threading (r11 continuation): the
            # slot paints and the sgemm panels below decompose exactly
            # — see _bucket_thread_count. 1 thread (the common case)
            # takes the identical serial code path. giant_rows /
            # giant_threads are test hooks (closure-captured, so they
            # reach the executors by value).
            nthreads = pick_threads(m * m)

            def paint_slots(js, out):
                for j in js:
                    vals = M8[:, j]
                    order2 = np.argsort(vals, kind="stable")
                    sv = vals[order2]
                    starts = np.flatnonzero(
                        np.concatenate(([True], sv[1:] != sv[:-1]))
                    )
                    bounds = np.concatenate((starts, [m]))
                    for k in range(len(starts)):
                        grp = order2[bounds[k] : bounds[k + 1]]
                        if len(grp) > 1:
                            out[np.ix_(grp, grp)] += 1
                return out

            if nthreads > 1 and nh > 1:
                from concurrent.futures import ThreadPoolExecutor

                nt = min(nthreads, nh)
                slot_sets = [list(range(t, nh, nt)) for t in range(nt)]
                with ThreadPoolExecutor(nt) as pool:
                    partials = list(
                        pool.map(
                            paint_slots,
                            slot_sets,
                            [
                                np.zeros((m, m), dtype=np.uint8)
                                for _ in range(nt)
                            ],
                        )
                    )
                # uint8 sum is exact: each partial entry <= nh <= 255
                A = partials[0]
                for p in partials[1:]:
                    A += p
            else:
                A = paint_slots(range(nh), np.zeros((m, m), dtype=np.uint8))
            # est floor in exact float (same comparison as the chunked
            # path: agree / nh >= min_est)
            K = (A.astype(np.float64) / float(nh)) >= min_est
            for b in range(band_idx):
                # combined band key: group docs agreeing on ALL slots
                # of band b (lexicographic grouping on the slot tuple)
                cols = [M8[:, b * rpb + r] for r in range(rpb)]
                order2 = np.lexsort(cols[::-1])
                same = np.ones(m, dtype=bool)
                same[0] = False
                for c in cols:
                    sc = c[order2]
                    same[1:] &= sc[1:] == sc[:-1]
                # group boundaries where not same
                starts = np.flatnonzero(~same)
                bounds = np.concatenate((starts, [m]))
                for k in range(len(starts)):
                    grp = order2[bounds[k] : bounds[k + 1]]
                    if len(grp) > 1:
                        K[np.ix_(grp, grp)] = False
            K = np.triu(K, k=1)
            ai, bi = np.nonzero(K)
            if len(ai) == 0:
                return empty
            ai = ai.astype(np.int64)
            bi = bi.astype(np.int64)
            est = A[ai, bi].astype(np.float64) / float(nh)
            nv = len(vocab)
            csr_cost = 13.0 * (int(lens[bi].sum()) if len(bi) else 0)
            blas_cost = m * m * nv * 0.04
            budget_ok = m * nv * 4 <= (256 << 20)
            if budget_ok and blas_cost < csr_cost:
                Mf32 = np.zeros((m, nv), dtype=np.float32)
                rws = np.repeat(np.arange(m, dtype=np.int64), lens)
                Mf32[rws, indices] = 1.0
                if nthreads > 1:
                    # panel sgemm across the in-task pool: every G cell
                    # is a sum of 0/1 products (an integer < 2^24),
                    # exact in float32 under any panel split
                    from concurrent.futures import ThreadPoolExecutor

                    G = np.empty((m, m), dtype=np.float32)
                    step = -(-m // nthreads)
                    spans = [
                        (p0, min(p0 + step, m))
                        for p0 in range(0, m, step)
                    ]
                    with ThreadPoolExecutor(len(spans)) as pool:
                        list(
                            pool.map(
                                lambda s: np.matmul(
                                    Mf32[s[0] : s[1]],
                                    Mf32.T,
                                    out=G[s[0] : s[1]],
                                ),
                                spans,
                            )
                        )
                else:
                    G = Mf32 @ Mf32.T
                inter = G[ai, bi].astype(np.int64).astype(np.float64)
            else:
                inter = _intersect_counts_csr(
                    indptr, indices, ai, bi
                ).astype(np.float64)
            jac = inter / (sizes[ai] + sizes[bi] - inter)
            keep2 = jac >= thr
            if not keep2.any():
                return empty
            return (
                ids[ai[keep2]],
                ids[bi[keep2]],
                est[keep2],
                jac[keep2],
            )

        # chunked path (m^2 beyond the matrix budget — at sf1+ the
        # template family IS this case). Chunks are independent, so
        # above the giant threshold they run on the same in-task pool
        # as the matrix path (identical arithmetic chunk by chunk; the
        # shared Mf32/delta lazies become lock-guarded one-time
        # builds). ~40 B/pair of per-chunk scratch caps the pool width.
        import threading

        state = {"Mf32": None, "delta": None}
        state_lock = threading.Lock()

        def get_delta(nv):
            with state_lock:
                if state["delta"] is None:
                    state["delta"] = _delta_csr(indptr, indices, nv)
                return state["delta"]

        def get_Mf32(nv):
            with state_lock:
                if state["Mf32"] is None:
                    Mf32 = np.zeros((m, nv), dtype=np.float32)
                    rws = np.repeat(np.arange(m, dtype=np.int64), lens)
                    Mf32[rws, indices] = 1.0
                    state["Mf32"] = Mf32
                return state["Mf32"]

        # enumerate i<j pairs in row chunks so peak memory is
        # O(chunk) pairs however large the bucket
        rows_per_chunk = max(1, chunk_pairs // m)

        def do_chunk(r0):
            r1 = min(r0 + rows_per_chunk, m - 1)
            # direct i<j enumeration for rows [r0, r1): no (chunk x m)
            # bool allocation (r11: the giant template bucket holds
            # ~2M pairs; allocation + nonzero was measurable there)
            lens_i = m - 1 - np.arange(r0, r1, dtype=np.int64)
            total = int(lens_i.sum())
            if total == 0:
                return None
            cum0 = np.concatenate(([0], np.cumsum(lens_i[:-1])))
            ai = np.repeat(np.arange(r0, r1, dtype=np.int64), lens_i)
            bi = (
                np.arange(total, dtype=np.int64)
                - np.repeat(cum0, lens_i)
                + ai
                + 1
            )
            # est filter: gather each side's signature ROWS once, then
            # one vectorized compare — ~4x fewer fancy-index passes
            # than the previous per-slot M8[ai, j] gathers (r11; the
            # filter dominates the giant-bucket task)
            eq = M8[ai] == M8[bi]
            est = eq.sum(axis=1) / float(nh)
            keep = est >= min_est
            # first-matching-band: drop the pair here unless no EARLIER
            # band also agrees (identical to the staged plan's filter)
            for b in range(band_idx):
                keep &= ~eq[:, b * rpb : (b + 1) * rpb].all(axis=1)
            # this band must actually agree (it does by construction —
            # same band_key — but hash collisions of md5(concat) cannot
            # fake slot equality because band_key IS derived from the
            # slots; no extra check needed)
            ai, bi, est = ai[keep], bi[keep], est[keep]
            if len(ai) == 0:
                return None
            # Kernel choice per chunk from four measured cost laws
            # (all exact): the DELTA kernel intersects against the
            # bucket's majority core — on a near-duplicate family
            # (exactly what a surviving-pair-dense bucket is) per-pair
            # work is the tiny edit deltas, not the ~300-element sets
            # (measured: the sf0.1 giant 1983-doc bucket's 1.9M
            # surviving pairs verify in ~0.3 s vs ~2 s of sgemm);
            # BLAS row-block matmul ~0.04 ns per cell-vocab product
            # (float32 sgemm; counts < 2^24 so exact), CSR mask kernel
            # ~13 ns per partner element, packed-bitset popcount
            # ~2.2 ns per pair-vocab-bit. Diverse buckets have an
            # empty core and fall through to the other three.
            nv = len(vocab)
            csize, Mip, Mix, Pip, Pix = get_delta(nv)
            dlens = (Mip[1:] - Mip[:-1]) + (Pip[1:] - Pip[:-1])
            delta_cost = (
                13.0 * (int(dlens[ai].sum()) + int(dlens[bi].sum()))
                if csize
                else float("inf")
            )
            blas_cost = (r1 - r0) * m * nv * 0.04
            csr_cost = 13.0 * (int(lens[bi].sum()) if len(bi) else 0)
            pop_cost = 2.2 * len(ai) * nv
            budget_ok = m * nv * 4 <= (256 << 20)
            if delta_cost < min(blas_cost, csr_cost, pop_cost):
                inter = _intersect_counts_delta(
                    csize, Mip, Mix, Pip, Pix, ai, bi
                ).astype(np.float64)
            elif budget_ok and blas_cost < min(csr_cost, pop_cost):
                Mf32 = get_Mf32(nv)
                panel = Mf32[r0:r1] @ Mf32.T
                inter = panel[ai - r0, bi].astype(np.int64).astype(
                    np.float64
                )
            elif pop_cost < csr_cost and m * nv <= (256 << 20):
                inter = _intersect_counts_popcount(
                    indptr, indices, nv, ai, bi
                ).astype(np.float64)
            else:
                inter = _intersect_counts_csr(
                    indptr, indices, ai, bi
                ).astype(np.float64)
            jac = inter / (sizes[ai] + sizes[bi] - inter)
            keep2 = jac >= thr
            if not keep2.any():
                return None
            return (
                ids[ai[keep2]],
                ids[bi[keep2]],
                est[keep2],
                jac[keep2],
            )

        starts = list(range(0, m - 1, rows_per_chunk))
        cthreads = min(pick_threads(chunk_pairs * 40), max(len(starts), 1))
        if cthreads > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(cthreads) as pool:
                frames = [
                    f for f in pool.map(do_chunk, starts) if f is not None
                ]
        else:
            frames = [f for f in map(do_chunk, starts) if f is not None]
        if not frames:
            return empty
        return tuple(
            np.concatenate([f[c] for f in frames]) for c in range(4)
        )

    if defer_rows is None:
        # scale knob — rationale and the measured ~1 s/query premium
        # of keeping the branch in-plan are at _DEFER_BUCKET_ROWS and
        # in OPTIMIZATION_r12.md §3; local default off, production
        # SPARK_GRAFT_DEFER_ROWS=4096 for corpora whose near-dup
        # families can exceed the matrix budget.
        d_rows = int(os.environ.get("SPARK_GRAFT_DEFER_ROWS", "0"))
    else:
        d_rows = int(defer_rows)

    def _prep_partition(batches):
        """Recover the partition's buckets: the hash repartition on
        (band_idx, band_key) co-locates every bucket's rows, so one
        concat + one lexsort makes buckets contiguous AND id-sorted
        within each bucket (same per-bucket id order as the r11
        per-group argsort — ids are unique, stability is moot).
        Returns (bi, bk, ids, M8, sh, starts, bounds) or None. r12:
        this replaces the per-bucket ``groupBy().applyInPandas`` —
        profiled at sf0.1, that stage spent ~1.5 s/task building ~90k
        per-group pandas frames (most buckets are singletons) against
        ~0.3 s of pair math; the partition pass pays one concat + one
        sort and skips singleton buckets with a slice bound check."""
        frames = [f for f in batches]
        if not frames:
            return None
        pdf = (
            pd.concat(frames, ignore_index=True)
            if len(frames) > 1
            else frames[0]
        )
        if len(pdf) == 0:
            return None
        bi_all = pdf["band_idx"].to_numpy()
        bk_all = pdf["band_key"].to_numpy()
        ids_all = pdf[id_col].to_numpy()
        order = np.lexsort((ids_all, bk_all, bi_all))
        bi_all = bi_all[order]
        bk_all = bk_all[order]
        ids_all = ids_all[order]
        M8_all = np.column_stack(
            [pdf[f"mh_{j}"].to_numpy()[order] for j in range(nh)]
        )
        sh_all = pdf["__sh"].to_numpy()[order]
        n = len(ids_all)
        newgrp = np.concatenate(
            ([True], (bi_all[1:] != bi_all[:-1]) | (bk_all[1:] != bk_all[:-1]))
        )
        starts = np.flatnonzero(newgrp)
        bounds = np.concatenate((starts, [n]))
        return bi_all, bk_all, ids_all, M8_all, sh_all, starts, bounds

    def pairs_pass(batches):
        """Verify every non-giant bucket of the partition; giant
        buckets (>= d_rows) are skipped here — the defer pass (same
        reused exchange) re-emits their payload for the block stage."""
        prep = _prep_partition(batches)
        if prep is None:
            return
        bi_all, _bk, ids_all, M8_all, sh_all, starts, bounds = prep
        res = []
        for k in range(len(starts)):
            lo, hi = int(bounds[k]), int(bounds[k + 1])
            m = hi - lo
            if m < 2 or (d_rows and m >= d_rows):
                continue
            out = verify_arrays(
                int(bi_all[lo]), ids_all[lo:hi], M8_all[lo:hi], sh_all[lo:hi]
            )
            if len(out[0]):
                res.append(out)
        if res:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate([r[0] for r in res]),
                    "id_b": np.concatenate([r[1] for r in res]),
                    "est_jaccard": np.concatenate([r[2] for r in res]),
                    "jaccard": np.concatenate([r[3] for r in res]),
                }
            )

    def defer_pass(batches):
        """mapInArrow pass emitting ONLY giant buckets' (signature,
        shingle) payload rows, keyed for the block stage: <= 16
        contiguous id-range blocks of ~defer_block rows; each row
        ships into its ``nblocks`` block-pair groups (pair (i, j)
        lands in exactly one group, and id-range blocks keep
        cross-block pairs id-ordered so id_a < id_b needs no per-pair
        compare downstream). Arrow-native group counts short-circuit
        the common case: when no bucket reaches ``d_rows`` the pass
        returns after one zero-copy count — no pandas conversion of
        the payload ever happens (measured: the pandas-converting
        variant cost ~0.3 s/query of pure insurance at sf0.1)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        tbl_parts = [pa.Table.from_batches([b]) for b in batches]
        if not tbl_parts:
            return
        t = pa.concat_tables(tbl_parts)
        if t.num_rows == 0:
            return
        counts = t.group_by(["band_idx", "band_key"]).aggregate(
            [([], "count_all")]
        )
        giant = counts.filter(
            pc.greater_equal(counts["count_all"], pa.scalar(max(d_rows, 2)))
        )
        if giant.num_rows == 0:
            return
        arrow_out = to_arrow_schema(defer_schema)
        for g in range(giant.num_rows):
            band = giant["band_idx"][g].as_py()
            gk = giant["band_key"][g].as_py()
            rows = t.filter(
                pc.and_(
                    pc.equal(t["band_idx"], pa.scalar(band)),
                    pc.equal(t["band_key"], pa.scalar(gk)),
                )
            )
            pdf = rows.to_pandas()
            m = len(pdf)
            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            M8 = np.column_stack(
                [pdf[f"mh_{j}"].to_numpy()[order] for j in range(nh)]
            )
            sh = pdf["__sh"].to_numpy()[order]
            nblocks = min(16, max(2, -(-m // max(1, defer_block))))
            blk = (np.arange(m, dtype=np.int64) * nblocks) // m
            idx = np.repeat(np.arange(m, dtype=np.int64), nblocks)
            other = np.tile(np.arange(nblocks, dtype=np.int64), m)
            rb = blk[idx]
            out = pd.DataFrame(
                {
                    "__gk": str(gk),
                    "__ga": np.minimum(rb, other).astype(np.int32),
                    "__gb": np.maximum(rb, other).astype(np.int32),
                    "__blk": rb.astype(np.int32),
                    "__band": np.full(len(idx), band, dtype=np.int32),
                    "__id": ids[idx],
                    "__mh": [M8[i] for i in idx],
                    "__shd": [sh[i] for i in idx],
                }
            )
            yield pa.RecordBatch.from_pandas(
                out, schema=arrow_out, preserve_index=False
            )

    def block_verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="object"),
                "id_b": pd.Series(dtype="object"),
                "est_jaccard": pd.Series(dtype="float64"),
                "jaccard": pd.Series(dtype="float64"),
            }
        )
        ga = int(pdf["__ga"].iloc[0])
        gb = int(pdf["__gb"].iloc[0])
        band_idx = int(pdf["__band"].iloc[0])
        ids = pdf["__id"].to_numpy()
        blk = pdf["__blk"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        blk = blk[order].astype(np.int64)
        M8 = np.asarray(
            [np.asarray(v, dtype=np.int64) for v in pdf["__mh"].iloc[order]]
        )
        arrs = [
            np.asarray(a, dtype=np.int64) for a in pdf["__shd"].iloc[order]
        ]
        mm = len(ids)
        lens = np.fromiter((len(a) for a in arrs), np.int64, mm)
        flat = np.concatenate(arrs) if mm else np.zeros(0, dtype=np.int64)
        vocab, indices = np.unique(flat, return_inverse=True)
        indices = indices.astype(np.int64)
        indptr = np.zeros(mm + 1, dtype=np.int64)
        np.cumsum(lens, out=indptr[1:])
        sizes = lens.astype(np.float64)
        if ga == gb:
            ai, bi = np.triu_indices(mm, k=1)
            ai = ai.astype(np.int64)
            bi = bi.astype(np.int64)
        else:
            a_idx = np.flatnonzero(blk == ga)
            b_idx = np.flatnonzero(blk == gb)
            ai = np.repeat(a_idx, len(b_idx)).astype(np.int64)
            bi = np.tile(b_idx, len(a_idx)).astype(np.int64)
        if len(ai) == 0:
            return empty
        ai, bi, est, jac = _verify_block_pairs(
            M8, lens, indptr, indices, len(vocab), sizes,
            ai, bi, band_idx, nh, rpb, min_est, thr,
        )
        if len(ai) == 0:
            return empty
        return pd.DataFrame(
            {
                "id_a": ids[ai],
                "id_b": ids[bi],
                "est_jaccard": est,
                "jaccard": jac,
            }
        )

    # r11: pin the bucket exchange at session parallelism (the shuffle
    # is byte-small but the stage cost is Python pair work, so AQE's
    # byte-based coalescing under-parallelizes it). r12: the hash
    # repartition co-locates each bucket's rows and ONE mapInPandas
    # call per partition recovers the buckets itself — the per-group
    # applyInPandas bookkeeping (~90k groups at sf0.1, most singleton)
    # was the stage's dominant cost (measured ~1.5 s/task against
    # ~0.3 s of pair math). Partition memory is bounded by the shuffle
    # partition size (cluster knob), same as the groupBy formulation's
    # largest-group bound plus batching.
    par = banded.sparkSession.sparkContext.defaultParallelism
    exch = banded.repartition(par, "band_idx", "band_key")
    pairs = exch.mapInPandas(pairs_pass, schema=out_schema)
    if not d_rows:
        return pairs
    # r12 giant-bucket decomposition (verdict item 3): the defer pass
    # reads the SAME exchange (ReusedExchange — the corpus signature
    # pass and its shuffle run once) and re-emits only giant buckets'
    # payload rows, keyed (band_key, band, block_a, block_b); the
    # block stage then gives every pair-matrix block its own task
    # instead of one unsplittable applyInPandas group doing O(m²) work
    # serially on a straggler core. Everything stays lazy — no eager
    # checkpoint, no materialization of the (possibly huge) pair
    # output, and when no bucket reaches d_rows the defer pass emits
    # nothing and the block stage is empty.
    deferred = exch.mapInArrow(defer_pass, schema=defer_schema)
    giant = (
        deferred.repartition(par, "__gk", "__band", "__ga", "__gb")
        .groupBy("__gk", "__band", "__ga", "__gb")
        .applyInPandas(block_verify, schema=out_schema)
    )
    return pairs.unionByName(giant)


def _incremental_fused(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_len: int,
    min_est_jaccard: float,
    threshold: float,
    chunk_pairs: int = 1 << 20,
    giant_rows: int | None = None,
    giant_threads: int | None = None,
) -> DataFrame:
    """Fused single-shuffle INCREMENTAL fuzzy dedup (r11): the
    bipartite analog of :func:`_lsh_verified_fused`. Each side computes
    (signature, shingle array) in one Arrow map pass, both explode to
    the same band-bucket key space with a side tag, and one
    ``applyInPandas`` per bucket enumerates ONLY index x batch pairs
    (est filter, first-matching-band dedup) and verifies survivors
    with the shared popcount/CSR/BLAS kernels. The staged asymmetric
    pipeline ran two signature passes, a band join, a candidate
    checkpoint, the candidate-id semi-join, a shingle pass +
    checkpoint, routing actions, and the verify join — per-boundary
    materializations whose fixed costs never amortize with scale.
    Output identical to the staged path (parity-tested):
    (id_a = index doc, id_b = batch doc, est_jaccard, jaccard >=
    threshold), including self-pairs when an id appears on both sides
    (the staged band join has no id inequality filter).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    nh, rpb = num_hashes, num_hashes // bands
    band_structs = []
    for b in range(bands):
        slots = [f"mh_{b * rpb + r}" for r in range(rpb)]
        key = "md5(concat_ws(',', " + ", ".join(slots) + "))"
        band_structs.append(f"struct({b} as band_idx, {key} as band_key)")

    def banded_side(df: DataFrame, side: int) -> DataFrame:
        combo = _signatures_and_shingles_arrow(
            df, text_col, id_col, num_hashes, shingle_len
        )
        return combo.select(
            F.lit(side).alias("__side"),
            F.col(id_col),
            *[F.col(f"mh_{j}") for j in range(nh)],
            F.col("__sh"),
            F.explode(
                F.expr("array(" + ", ".join(band_structs) + ")")
            ).alias("band"),
        ).select(
            "__side",
            id_col,
            *[f"mh_{j}" for j in range(nh)],
            "__sh",
            "band.band_idx",
            "band.band_key",
        )

    banded = banded_side(index_df, 0).unionByName(banded_side(batch_df, 1))

    id_type = index_df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("est_jaccard", T.DoubleType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    min_est = float(min_est_jaccard)
    thr = float(threshold)

    _none4 = (
        np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.float64),
        np.zeros(0, dtype=np.float64),
    )

    def verify_bipartite(band_idx, ids, side, M8, sh_vals):
        """Candidate enumeration + exact verification for ONE bipartite
        bucket, given numpy inputs. Returns (id_a, id_b, est, jac)
        arrays — called per bucket SLICE by the r12 partition pass
        (same per-group-overhead removal as the self-join path)."""
        empty = _none4
        a_rows = np.flatnonzero(side == 0)
        b_rows = np.flatnonzero(side == 1)
        na, nb = len(a_rows), len(b_rows)
        if na == 0 or nb == 0:
            return empty
        m = len(ids)
        arrs = [np.asarray(a, dtype=np.int64) for a in sh_vals]
        lens = np.fromiter((len(a) for a in arrs), np.int64, m)
        flat = np.concatenate(arrs)
        vocab, indices = np.unique(flat, return_inverse=True)
        indices = indices.astype(np.int64)
        indptr = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(lens, out=indptr[1:])
        sizes = lens.astype(np.float64)

        # in-task chunk pool for giant bipartite buckets (r11
        # continuation) — chunks are independent; identical arithmetic,
        # lock-guarded Mf32/delta lazies (see the self-join bucket)
        import threading

        state = {"Mf32": None, "delta": None}
        state_lock = threading.Lock()

        def get_delta(nv):
            with state_lock:
                if state["delta"] is None:
                    state["delta"] = _delta_csr(indptr, indices, nv)
                return state["delta"]

        def get_Mf32(nv):
            with state_lock:
                if state["Mf32"] is None:
                    Mf32 = np.zeros((m, nv), dtype=np.float32)
                    rws = np.repeat(np.arange(m, dtype=np.int64), lens)
                    Mf32[rws, indices] = 1.0
                    state["Mf32"] = Mf32
                return state["Mf32"]

        rows_per_chunk = max(1, chunk_pairs // nb)

        def do_chunk(r0):
            r1 = min(r0 + rows_per_chunk, na)
            # bipartite chunk: every (index row in [r0,r1)) x batch
            # row, tracked as POSITIONS (pa, pb) into a_rows/b_rows so
            # the BLAS panel can be indexed directly after filtering
            pa = np.repeat(np.arange(r0, r1, dtype=np.int64), nb)
            pb = np.tile(np.arange(nb, dtype=np.int64), r1 - r0)
            ai, bi = a_rows[pa], b_rows[pb]
            # row-gather once, one vectorized compare (see the
            # self-join bucket: ~4x fewer fancy-index passes)
            eq = M8[ai] == M8[bi]
            est = eq.sum(axis=1) / float(nh)
            keep = est >= min_est
            for b in range(band_idx):
                keep &= ~eq[:, b * rpb : (b + 1) * rpb].all(axis=1)
            pa, pb, est = pa[keep], pb[keep], est[keep]
            ai, bi = ai[keep], bi[keep]
            if len(ai) == 0:
                return None
            nv = len(vocab)
            # four-way kernel choice — see the self-join bucket for the
            # measured cost laws; the delta kernel wins on
            # near-duplicate families (work = edit deltas, still exact)
            csize, Mip, Mix, Pip, Pix = get_delta(nv)
            dlens = (Mip[1:] - Mip[:-1]) + (Pip[1:] - Pip[:-1])
            delta_cost = (
                13.0 * (int(dlens[ai].sum()) + int(dlens[bi].sum()))
                if csize
                else float("inf")
            )
            blas_cost = (r1 - r0) * nb * nv * 0.04
            csr_cost = 13.0 * (int(lens[bi].sum()) if len(bi) else 0)
            pop_cost = 2.2 * len(ai) * nv
            budget_ok = m * nv * 4 <= (256 << 20)
            if delta_cost < min(blas_cost, csr_cost, pop_cost):
                inter = _intersect_counts_delta(
                    csize, Mip, Mix, Pip, Pix, ai, bi
                ).astype(np.float64)
            elif budget_ok and blas_cost < min(csr_cost, pop_cost):
                Mf32 = get_Mf32(nv)
                # dense duplicate-family bucket: the whole index-chunk
                # x batch intersection panel in one sgemm (counts
                # < 2^24, exact in float32)
                panel = Mf32[a_rows[r0:r1]] @ Mf32[b_rows].T
                inter = panel[pa - r0, pb].astype(np.int64).astype(
                    np.float64
                )
            elif pop_cost < csr_cost and m * nv <= (256 << 20):
                inter = _intersect_counts_popcount(
                    indptr, indices, nv, ai, bi
                ).astype(np.float64)
            else:
                inter = _intersect_counts_csr(
                    indptr, indices, ai, bi
                ).astype(np.float64)
            jac = inter / (sizes[ai] + sizes[bi] - inter)
            keep2 = jac >= thr
            if not keep2.any():
                return None
            return (
                ids[ai[keep2]],
                ids[bi[keep2]],
                est[keep2],
                jac[keep2],
            )

        g_rows = _GIANT_BUCKET_ROWS if giant_rows is None else giant_rows
        starts = list(range(0, na, rows_per_chunk))
        if m < g_rows:
            cthreads = 1
        elif giant_threads is not None:
            cthreads = max(1, giant_threads)
        else:
            cthreads = _bucket_thread_count(m, chunk_pairs * 40)
        cthreads = min(cthreads, max(len(starts), 1))
        if cthreads > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(cthreads) as pool:
                frames = [
                    f for f in pool.map(do_chunk, starts) if f is not None
                ]
        else:
            frames = [f for f in map(do_chunk, starts) if f is not None]
        if not frames:
            return empty
        return tuple(
            np.concatenate([f[c] for f in frames]) for c in range(4)
        )

    def partition_verify(batches):
        """ONE call per shuffle partition (mapInPandas) — the r12
        per-group-overhead removal, bipartite form. The hash
        repartition on (band_idx, band_key) co-locates each bucket's
        rows (both sides); one concat + one lexsort recovers buckets
        as contiguous numpy slices."""
        frames = [f for f in batches]
        if not frames:
            return
        pdf = (
            pd.concat(frames, ignore_index=True)
            if len(frames) > 1
            else frames[0]
        )
        if len(pdf) == 0:
            return
        bi_all = pdf["band_idx"].to_numpy()
        bk_all = pdf["band_key"].to_numpy()
        order = np.lexsort((bk_all, bi_all))
        bi_all = bi_all[order]
        bk_all = bk_all[order]
        ids_all = pdf[id_col].to_numpy()[order]
        side_all = pdf["__side"].to_numpy()[order]
        M8_all = np.column_stack(
            [pdf[f"mh_{j}"].to_numpy()[order] for j in range(nh)]
        )
        sh_all = pdf["__sh"].to_numpy()[order]
        n = len(ids_all)
        newgrp = np.concatenate(
            ([True], (bi_all[1:] != bi_all[:-1]) | (bk_all[1:] != bk_all[:-1]))
        )
        starts = np.flatnonzero(newgrp)
        bounds = np.concatenate((starts, [n]))
        res = []
        for k in range(len(starts)):
            lo, hi = int(bounds[k]), int(bounds[k + 1])
            if hi - lo < 2:
                continue
            out = verify_bipartite(
                int(bi_all[lo]),
                ids_all[lo:hi],
                side_all[lo:hi],
                M8_all[lo:hi],
                sh_all[lo:hi],
            )
            if len(out[0]):
                res.append(out)
        if res:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate([r[0] for r in res]),
                    "id_b": np.concatenate([r[1] for r in res]),
                    "est_jaccard": np.concatenate([r[2] for r in res]),
                    "jaccard": np.concatenate([r[3] for r in res]),
                }
            )

    # r11: pin the bucket exchange at session parallelism (byte-based
    # AQE coalescing under-parallelizes the Python pair work). r12:
    # one mapInPandas call per partition instead of one applyInPandas
    # group per bucket — see the self-join path for the measured
    # per-group-overhead rationale.
    par = banded.sparkSession.sparkContext.defaultParallelism
    return banded.repartition(par, "band_idx", "band_key").mapInPandas(
        partition_verify, schema=out_schema
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 5,
    min_est_jaccard: float = 0.25,
    threshold: float = 0.3,
    verify_broadcast_docs: int = 1_000_000,
    verify_broadcast_bytes: int = 256 << 20,
    verify_block_docs: int = 4096,
    strategy: str = "fused",
    verify_blocked_min_pairs: int = 65536,
) -> DataFrame:
    """The canonical two-stage fuzzy dedup at scale: MinHash+LSH proposes
    candidate pairs (sub-quadratic), exact n-gram Jaccard verifies ONLY
    those pairs (E1 end-to-end).

    Verify-stage plan shape (round-2 rework, measured 7x at sf0.1 on a
    template-heavy corpus producing 2.4M candidates; round-3 additions
    marked):

    * Shingle-set hashing (one md5 per shingle occurrence — the
      expensive projection) runs only on documents that appear in a
      candidate pair (semi-join), never corpus-wide, and the hashed
      frame is MATERIALIZED ONCE (``localCheckpoint``) because it feeds
      both sides of the verify join (r3: previously recomputed per side).
    * The candidate pair list is materialized via ``localCheckpoint``
      (eager) — it has two consumers (the candidate-doc id set and the
      verify join) and recomputing it means rerunning the whole
      MinHash+band pipeline. Checkpointing (not ``persist``) means no
      cached-block handle leaks to the caller: blocks are freed when the
      RDD is garbage-collected, and the returned plan is a scan.
    * A SIZE-RATIO PRUNE runs before the intersection (r3):
      ``|A∩B| <= min(|A|,|B|)`` and ``|A∪B| >= max(|A|,|B|)``, so
      ``j <= min/max`` — pairs failing ``min/max >= threshold`` cannot
      reach the threshold and skip the expensive ``array_intersect``.
      Semantics-preserving.
    * Broadcast decision (r3: byte-based, not doc-count-based; r9:
      BYTES are the primary gate): both shingle sides broadcast when
      the measured total shingle payload (``sum(size(__sh)) * 8``
      bytes, an exact driver scalar off the checkpointed frame) fits
      ``verify_broadcast_bytes`` AND the doc count fits
      ``verify_broadcast_docs`` — the count is only a backstop against
      degenerate many-tiny-docs maps whose per-entry JVM hashmap
      overhead the payload bytes do not capture (~100 B/entry; the 1M
      default bounds that at ~100 MB). r9 measurement: the old 100K
      doc backstop mis-routed the 30x-decade corpus (150K docs but
      only 245 MB payload) onto the blocked path, whose cogroup
      DEGENERATES when the pair graph touches most docs — every block
      re-ships and re-preps nearly the whole corpus (measured 28.2M of
      30.6M shingles PER BLOCK, 17 blocks), 304 s vs the broadcast
      path's 131 s on identical output. Broadcasting means the pair
      list never shuffles its array payloads — the shuffle formulation
      moves |pairs| x shingle-array bytes twice AND is skew-prone
      (duplicate families share hot ids).
    * Beyond the broadcast gate the verify routes through a BLOCKED
      MATMUL (r3, :func:`_verify_pairs_blocked`): pairs hash into
      blocks of ~``verify_block_docs`` docs, each block ships its doc
      shingle sets once and verifies all its pairs with one vectorized
      intersection per pair chunk — instead of a shuffled
      array-payload join whose hot ids skew.

    Output: (id_a, id_b, est_jaccard, jaccard) with jaccard >= threshold.

    r11: ``strategy`` picks the physical plan, identical output either
    way (parity-tested at three policy points):

    * ``'fused'`` (default): :func:`_lsh_verified_fused` — signatures +
      shingle arrays in ONE map pass, band explode, candidate
      generation AND exact verification inside each LSH bucket. One
      exchange total (~bands x corpus payload), no candidate
      materialization, no checkpoints, no routing actions — the staged
      plan's ~13 Spark jobs collapse to 1 (measured 9.5 s -> ~2.5 s at
      sf0.1; the per-job fixed costs it deletes do not amortize with
      scale, and the shuffle it keeps is the smaller one).
    * ``'staged'``: the r3-r10 pipeline below — band self-join for
      candidates, then broadcast/blocked verification under the
      byte + pair-count gates. Kept for the asymmetric incremental
      path (:func:`incremental_neardup_pairs` shares its tail) and as
      the parity reference.
    """
    if strategy == "fused":
        return _lsh_verified_fused(
            df,
            text_col,
            id_col,
            num_hashes,
            bands,
            shingle_len,
            min_est_jaccard,
            threshold,
        )
    if strategy != "staged":
        raise ValueError(
            f"strategy must be 'fused' or 'staged', got {strategy!r}"
        )
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_len)
    cands = lsh_candidate_pairs(
        sigs, id_col, num_hashes, bands, min_est_jaccard
    ).localCheckpoint(eager=True)
    return _verify_candidate_pairs(
        df,
        cands,
        text_col,
        id_col,
        shingle_len,
        threshold,
        verify_broadcast_docs,
        verify_broadcast_bytes,
        verify_block_docs,
        verify_blocked_min_pairs,
    )


def _verify_candidate_pairs(
    df: DataFrame,
    cands: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int,
    threshold: float,
    verify_broadcast_docs: int,
    verify_broadcast_bytes: int,
    verify_block_docs: int,
    verify_blocked_min_pairs: int = 65536,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (the shared tail of
    :func:`lsh_verified_pairs` and :func:`incremental_neardup_pairs`):
    shingle only candidate docs, size-ratio prune, broadcast verify
    under the byte gate, blocked CSR-kernel verify beyond it. ``cands``
    must be materialized (it is consumed twice) and carry
    (id_a, id_b, est_jaccard); ``df`` must cover every id in ``cands``.

    r11 routing addition: the verify strategy is a COST decision, not
    just a fits-in-memory decision. The broadcast join pays one JVM
    ``array_intersect`` hash-set build per pair — measured ~6 us/pair
    at sf0.1 (2.4 M template-heavy candidates -> 14.6 s, twice
    evaluated inside the pushed join condition) — while the blocked CSR
    kernel answers the same pairs at ~0.25 us/pair plus one bounded
    payload shuffle. So beyond ``verify_blocked_min_pairs`` candidates
    the blocked path wins REGARDLESS of whether the shingle payload
    would fit a broadcast, and the gate routes there; below it the
    broadcast join's all-JVM plan (no Python workers, no cogroup
    shuffle) stays cheaper. Both paths are bit-identical
    (parity-tested).
    """
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Repartition BEFORE the shingle projection: the semi-join output is
    # tiny by row count, so AQE coalesces it to ~1 partition — which
    # serializes the expensive per-position md5 work. Spreading the few
    # thousand (id, text) rows across the cluster costs one trivial
    # shuffle and parallelizes the hashing (measured ~3s -> ~0.5s wall
    # on the sf0.1 verify stage).
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        _hashed_shingles_arrow(
            df.join(cand_ids, id_col, "left_semi").repartition(
                par, F.col(id_col)
            ),
            text_col,
            id_col,
            shingle_len,
        )
        .localCheckpoint(eager=True)
    )
    # Both stats in one bounded action off the checkpointed frame.
    stats = sh.agg(
        F.count(F.lit(1)).alias("__n"),
        F.coalesce(F.sum(F.size("__sh")), F.lit(0)).alias("__tot"),
    ).first()
    n_cand_docs, est_bytes = stats["__n"], int(stats["__tot"]) * 8
    n_pairs = cands.count()  # bounded action on the checkpointed frame
    if (
        n_cand_docs > verify_broadcast_docs
        or est_bytes > verify_broadcast_bytes
        or n_pairs >= verify_blocked_min_pairs
    ):
        verified = _verify_pairs_blocked(
            cands,
            sh,
            id_col,
            block_docs=verify_block_docs,
            n_pairs=n_pairs,
            threshold=threshold,
        )
        return verified.where(F.col("jaccard") >= threshold)
    a = F.broadcast(
        sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    )
    b = F.broadcast(
        sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    )
    ratio_ok = (
        F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
        / F.greatest(F.size("sh_a"), F.size("sh_b")).cast("double")
        >= F.lit(threshold)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .where(ratio_ok)
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _intersect_counts_csr(
    indptr, indices, ai, bi
):
    """Exact set-intersection counts for a pair list over a CSR-encoded
    family of distinct-element sets (r11 optimization round: the blocked
    verify's per-pair kernel, fully vectorized).

    ``indptr``/``indices`` encode each doc's distinct shingle ids (as
    indices into a block vocabulary); ``ai``/``bi`` are row indices of
    the pairs. Strategy: group the pairs by ``ai`` (one argsort), and
    per distinct left doc set a boolean vocab mask of its elements, then
    answer ALL of its partners with one fancy-index gather + one prefix
    sum — O(total partner set sizes) numpy work with no per-pair Python.
    Replaces the r9 kernels (dense per-pair ``einsum`` — O(pairs x
    vocab); per-pair ``searchsorted`` loop — ~10 us of Python per pair):
    measured 14.6 s -> 0.6 s on the sf0.1 verify stage (2.4 M pairs,
    ~100 K vocab), identical counts.
    """
    import numpy as np

    inter = np.zeros(len(ai), dtype=np.int64)
    if len(ai) == 0 or len(indices) == 0:
        return inter
    order = np.argsort(ai, kind="stable")
    ai_s, bi_s = ai[order], bi[order]
    run_starts = np.flatnonzero(
        np.concatenate(([True], ai_s[1:] != ai_s[:-1]))
    )
    run_bounds = np.concatenate((run_starts, [len(ai_s)]))
    nvocab = int(indices.max()) + 1 if len(indices) else 0
    mask = np.zeros(nvocab, dtype=bool)
    lens_all = indptr[1:] - indptr[:-1]
    for r in range(len(run_starts)):
        r0, r1 = run_bounds[r], run_bounds[r + 1]
        a = ai_s[r0]
        ia = indices[indptr[a] : indptr[a + 1]]
        mask[ia] = True
        b_run = bi_s[r0:r1]
        starts = indptr[b_run]
        lengths = lens_all[b_run]
        total = int(lengths.sum())
        if total:
            # flat CSR index of every partner element (ranges -> flat):
            # element j of partner p sits at indices[starts[p] + j]
            ends = np.cumsum(lengths)
            offs = np.concatenate(([0], ends[:-1]))
            within = np.arange(total) - np.repeat(offs, lengths)
            flat = np.repeat(starts, lengths) + within
            hits = mask[indices[flat]]
            # per-partner hit counts via prefix sum (handles empty
            # partner sets exactly, unlike reduceat)
            cum = np.concatenate(([0], np.cumsum(hits)))
            inter[order[r0:r1]] = cum[ends] - cum[offs]
        mask[ia] = False
    return inter


def _intersect_counts_popcount(
    indptr, indices, nvocab, ai, bi, chunk_pairs: int = 262_144
):
    """Exact set-intersection counts via packed bitsets + popcount —
    the small-vocabulary fast path of the blocked verify (r11).

    Each doc's set becomes a ``ceil(nvocab/8)``-byte bitset row;
    per pair the count is ``popcount(row_a & row_b)``, evaluated for
    ``chunk_pairs`` pairs at a time as three vectorized uint8 passes
    (gather, AND, LUT-popcount + row sum). Cost is
    O(pairs x nvocab/8) with a tiny constant — on template-heavy
    corpora the block vocabulary is small (2,041 distinct shingles at
    sf0.1) so this beats the CSR kernel's O(pairs x avg_set) passes by
    ~10x; the caller picks per block by comparing the two estimated
    traffic volumes.
    """
    import numpy as np

    inter = np.zeros(len(ai), dtype=np.int64)
    if len(ai) == 0 or nvocab == 0:
        return inter
    n_rows = len(indptr) - 1
    dense = np.zeros((n_rows, nvocab), dtype=bool)
    rows = np.repeat(
        np.arange(n_rows, dtype=np.int64), indptr[1:] - indptr[:-1]
    )
    dense[rows, indices] = True
    packed = np.packbits(dense, axis=1)
    del dense
    pop = getattr(np, "bitwise_count", None)
    if pop is None:  # numpy < 2.0: 256-entry LUT gather
        lut = np.array(
            [bin(v).count("1") for v in range(256)], dtype=np.uint8
        )
    for c0 in range(0, len(ai), chunk_pairs):
        c1 = min(c0 + chunk_pairs, len(ai))
        anded = packed[ai[c0:c1]] & packed[bi[c0:c1]]
        counts = pop(anded) if pop is not None else lut[anded]
        inter[c0:c1] = counts.sum(axis=1, dtype=np.int64)
    return inter


def _delta_csr(indptr, indices, nvocab):
    """Decompose a CSR set family against its majority CORE (r11): the
    elements present in more than half the rows. Returns
    ``(core_size, M_indptr, M_indices, P_indptr, P_indices)`` where row
    i's set A_i = (core \\ M_i) ∪ P_i — M_i the core elements the row
    is MISSING, P_i its extras. On a near-duplicate family both deltas
    are tiny, which is what makes the delta intersection kernel linear
    in actual differences instead of set sizes."""
    import numpy as np

    n_rows = len(indptr) - 1
    df_counts = np.bincount(indices, minlength=nvocab)
    core_mask = df_counts > (n_rows >> 1)
    core_size = int(core_mask.sum())
    rows = np.repeat(
        np.arange(n_rows, dtype=np.int64), indptr[1:] - indptr[:-1]
    )
    in_core = core_mask[indices]
    # extras: original order within row preserved (CSR is row-major)
    P_indices = indices[~in_core]
    P_indptr = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(np.bincount(rows[~in_core], minlength=n_rows), out=P_indptr[1:])
    # missing-core: dense (rows x core) presence, absent cells -> M
    core_col = np.cumsum(core_mask, dtype=np.int64) - 1  # vocab -> core idx
    D = np.zeros((n_rows, core_size), dtype=bool)
    if core_size:
        D[rows[in_core], core_col[indices[in_core]]] = True
    m_rows, m_cols = np.nonzero(~D)  # sorted by row: CSR order
    M_indices = m_cols.astype(np.int64)
    M_indptr = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(np.bincount(m_rows, minlength=n_rows), out=M_indptr[1:])
    return core_size, M_indptr, M_indices, P_indptr, P_indices


def _intersect_counts_delta(
    core_size, M_indptr, M_indices, P_indptr, P_indices, ai, bi
):
    """Exact set-intersection counts over a :func:`_delta_csr`
    decomposition: ``|A∩B| = |C| - |Ma| - |Mb| + |Ma∩Mb| + |Pa∩Pb|``
    (set identity: C∩A∩B = C minus the union of the two missing-sets,
    inclusion-exclusion on Ma, Mb; (A∩B)\\C = Pa∩Pb). Work is
    O(pairs x delta sizes) — on a near-duplicate family deltas are
    ~10-30 elements vs ~300-element sets, an order of magnitude under
    the popcount/BLAS kernels, and still exact integers."""
    import numpy as np

    m_len = M_indptr[1:] - M_indptr[:-1]
    inter = (
        core_size
        - m_len[ai]
        - m_len[bi]
        + _intersect_counts_csr(M_indptr, M_indices, ai, bi)
        + _intersect_counts_csr(P_indptr, P_indices, ai, bi)
    )
    return inter.astype(np.int64)


def _verify_block_pairs(
    M8, lens, indptr, indices, nvocab, sizes, ai, bi, band_idx, nh, rpb,
    min_est, thr,
):
    """Est-filter + first-matching-band dedup + exact Jaccard for an
    EXPLICIT candidate index list — the per-group kernel of the r12
    giant-bucket block-verify stage (verdict item 3). Identical
    arithmetic to the fused bucket paths: est = agreeing slots / nh in
    float64, drop if any earlier band fully agrees, intersection counts
    are exact integers from the shared delta/popcount/CSR kernels,
    jaccard = inter / (|A| + |B| - inter) in float64. Returns the
    filtered ``(ai, bi, est, jac)`` arrays."""
    import numpy as np

    eq = M8[ai] == M8[bi]
    est = eq.sum(axis=1) / float(nh)
    keep = est >= min_est
    for b in range(band_idx):
        keep &= ~eq[:, b * rpb : (b + 1) * rpb].all(axis=1)
    ai, bi, est = ai[keep], bi[keep], est[keep]
    if len(ai) == 0:
        return ai, bi, est, np.zeros(0, dtype=np.float64)
    # kernel choice by the measured cost laws of the chunked path
    # (blocks are <= ~1k rows, so the BLAS panel option is skipped —
    # all remaining kernels are exact, so the choice is speed-only)
    csize, Mip, Mix, Pip, Pix = _delta_csr(indptr, indices, nvocab)
    dlens = (Mip[1:] - Mip[:-1]) + (Pip[1:] - Pip[:-1])
    delta_cost = (
        13.0 * (int(dlens[ai].sum()) + int(dlens[bi].sum()))
        if csize
        else float("inf")
    )
    csr_cost = 13.0 * int(lens[bi].sum())
    pop_cost = 2.2 * len(ai) * nvocab
    n_rows = len(indptr) - 1
    if delta_cost < min(csr_cost, pop_cost):
        inter = _intersect_counts_delta(
            csize, Mip, Mix, Pip, Pix, ai, bi
        ).astype(np.float64)
    elif pop_cost < csr_cost and n_rows * nvocab <= (256 << 20):
        inter = _intersect_counts_popcount(
            indptr, indices, nvocab, ai, bi
        ).astype(np.float64)
    else:
        inter = _intersect_counts_csr(indptr, indices, ai, bi).astype(
            np.float64
        )
    jac = inter / (sizes[ai] + sizes[bi] - inter)
    keep2 = jac >= thr
    return ai[keep2], bi[keep2], est[keep2], jac[keep2]


def _verify_pairs_blocked(
    cands: DataFrame,
    sh: DataFrame,
    id_col: str,
    block_docs: int = 4096,
    pairs_per_block: int = 250_000,
    n_pairs: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Verify candidate pairs by blocked vectorized intersection — the
    high-pair-volume / beyond-broadcast path of
    :func:`lsh_verified_pairs`.

    ``threshold``: when given, the jaccard filter is applied INSIDE the
    Python kernel so only survivors cross the Arrow boundary back to
    the JVM (without it the full unthresholded pair list is returned —
    the contract the parity tests exercise).

    Pairs hash into blocks by ``xxhash64(id_a)``; each block's required
    doc shingle sets (both pair sides) are gathered once per block a doc
    appears in, and a cogrouped ``applyInPandas`` task CSR-encodes the
    block's sets against a block vocabulary and answers every pair with
    the mask-gather-prefix-sum kernel (:func:`_intersect_counts_csr`) —
    O(total pair set sizes) numpy work, no per-pair Python and no dense
    doc x vocab structure at any scale (the r9 dense einsum was
    O(pairs x vocab) and its fallback ~10 us of Python per pair; r11
    measurement at sf0.1: 2.4 M-pair verify 14.6 s -> 0.6 s, identical
    output).

    Versus the shuffled array-payload join this replaces: the shuffle
    key is a small block int (AQE-splittable), each doc's shingle array
    moves once per block (bounded by its pair fan-out, not duplicated
    per pair), and hot duplicate-family ids no longer concentrate on
    one join task. Same intersection-count exactness argument as
    :func:`blocked_jaccard_pairs` (int counts, float64 division).

    Output: (id_a, id_b, est_jaccard, jaccard) — UNTHRESHOLDED; the
    caller applies its jaccard filter.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n_docs = sh.count()  # checkpointed upstream: a cheap bounded scan
    # Block count balances two linear costs (r9, re-derived r11 for the
    # vectorized kernel): each block is ONE cogroup task (python-kernel
    # parallelism = num_blocks), but a doc's shingle payload ships once
    # per block it is paired into — duplicate-family docs pair into
    # nearly every block (measured fan-out 30.3 of 37 blocks at 30x),
    # so payload shuffle bytes grow ~linearly with num_blocks. With the
    # r9 einsum kernel (~30 s per 3M-pair task) blocks were capped hard
    # to amortize the kernel; the r11 CSR kernel does ~250 K pairs in
    # well under a second, so blocks now target ~pairs_per_block pairs
    # for parallelism, still capped by the doc-count rule so shipping
    # duplication never exceeds the r9-audited ceiling.
    if n_pairs is None:
        n_pairs = cands.count()  # checkpointed upstream: cheap
    par = max(1, cands.sparkSession.sparkContext.defaultParallelism)
    num_blocks = max(1, -(-n_docs // block_docs), min(par, n_docs))
    num_blocks = min(num_blocks, max(1, -(-n_pairs // pairs_per_block)))
    pairs_b = cands.withColumn(
        "__blk", F.pmod(F.xxhash64("id_a"), F.lit(num_blocks)).cast("int")
    )
    # Distinct alias (__dblk) on the doc side: it derives from pairs_b,
    # and cogrouping two frames that share the __blk lineage is an
    # ambiguous self-join to the analyzer. Cogroup keys align by
    # position, not name.
    need = (
        pairs_b.select(F.col("__blk").alias("__dblk"), F.col("id_a").alias("__id"))
        .union(pairs_b.select(F.col("__blk").alias("__dblk"), F.col("id_b").alias("__id")))
        .distinct()
    )
    doc_sh = need.join(
        sh, need["__id"] == sh[id_col]
    ).select("__dblk", "__id", "__sh")

    id_type = cands.schema["id_a"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("est_jaccard", T.DoubleType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def verify_block(pairs_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="object"),
                "id_b": pd.Series(dtype="object"),
                "est_jaccard": pd.Series(dtype="float64"),
                "jaccard": pd.Series(dtype="float64"),
            }
        )
        if len(pairs_pdf) == 0 or len(docs_pdf) == 0:
            return empty
        # CSR-encode the block's shingle sets against a block
        # vocabulary: the upstream arrays are already per-doc distinct
        # (array_distinct of the gram STRINGS, then hashed — the same
        # payload the broadcast join's size()/array_intersect sees), so
        # the only work is one np.unique(return_inverse) over the
        # concatenated block payload. Set sizes are the raw array
        # lengths — identical to the broadcast path's size(__sh).
        n_rows = len(docs_pdf)
        row_of: dict = {
            did: r for r, did in enumerate(docs_pdf["__id"])
        }
        arrs = [
            np.asarray(a, dtype=np.int64) for a in docs_pdf["__sh"]
        ]
        lens = np.fromiter((len(a) for a in arrs), np.int64, n_rows)
        flat = (
            np.concatenate(arrs) if n_rows else np.empty(0, np.int64)
        )
        vocab, indices = np.unique(flat, return_inverse=True)
        indices = indices.astype(np.int64)
        indptr = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(lens, out=indptr[1:])
        sizes = lens.astype(np.float64)
        ai = pairs_pdf["id_a"].map(row_of).to_numpy(dtype=np.int64)
        bi = pairs_pdf["id_b"].map(row_of).to_numpy(dtype=np.int64)
        # Kernel choice from the two measured cost laws (both exact,
        # both vectorized; constants measured at sf0.1, r11): the CSR
        # mask kernel costs ~13 ns per partner ELEMENT, the packed-
        # bitset popcount kernel ~2.2 ns per pair VOCABULARY BIT — so
        # popcount wins only when the block vocabulary is smaller than
        # ~6x the average set size (hyper-templated blocks). The bitset
        # build is additionally bounded so a diverse-vocabulary block
        # (vocab grows with corpus diversity at the 30x decade) never
        # allocates an oversized dense bool matrix.
        total_partner = int(lens[bi].sum()) if len(bi) else 0
        pop_cost = 2.2 * len(ai) * len(vocab)
        csr_cost = 13.0 * total_partner
        if pop_cost < csr_cost and n_rows * len(vocab) <= (256 << 20):
            inter = _intersect_counts_popcount(
                indptr, indices, len(vocab), ai, bi
            ).astype(np.float64)
        else:
            inter = _intersect_counts_csr(
                indptr, indices, ai, bi
            ).astype(np.float64)
        jac = inter / (sizes[ai] + sizes[bi] - inter)
        out = pd.DataFrame(
            {
                "id_a": pairs_pdf["id_a"].to_numpy(),
                "id_b": pairs_pdf["id_b"].to_numpy(),
                "est_jaccard": pairs_pdf["est_jaccard"].to_numpy(dtype=np.float64),
                "jaccard": jac,
            }
        )
        if threshold is not None:
            # kernel-side thresholding: survivors are typically a tiny
            # fraction of candidates (617 of 2.4M at sf0.1), so filter
            # BEFORE the Arrow return instead of shipping every pair
            # back to the JVM for the same comparison
            out = out[out["jaccard"] >= threshold]
        return out

    return (
        pairs_b.groupBy("__blk")
        .cogroup(doc_sh.groupBy("__dblk"))
        .applyInPandas(verify_block, schema=out_schema)
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    shingle_len: int = 5,
    threshold: float = 0.25,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within blocks via one BLAS matrix
    product per block (E1 verify stage, fast path).

    Same semantics as :func:`ngram_jaccard_pairs` with a ``block_col``
    (exact Jaccard over distinct lowercased character k-grams, pairs
    with ``id_a < id_b`` and ``jaccard >= threshold``) but a different
    physical strategy: each block becomes one ``applyInPandas`` task
    that builds a doc x distinct-shingle 0/1 matrix and computes ALL
    pairwise intersection counts as ``M @ M.T``. One vectorized matmul
    replaces |block|^2/2 per-pair hash-set intersections — ~6x faster
    at sf0.1 — and the matmul is row-striped (``chunk_rows``) so peak
    memory is O(chunk * block) pairs, not O(block^2).

    Scale contract: a block must fit one task (matrix is
    |block| x |distinct shingles| float32). That is the right contract
    for the verify stage — blocks are LSH buckets / bounded partitions;
    unbounded blocks belong in :func:`lsh_candidate_pairs` first. The
    block key is the ONLY shuffle; parallelism = number of blocks, so
    at 100 TB feed fine-grained buckets, not a handful of sources.

    Intersection counts are exact: float32 accumulation is exact for
    counts < 2^24, counts are cast to int64, and division happens in
    float64 — bit-identical to the SQL/DuckDB formulation (verified at
    sf0.01, 0/1871 diffs).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    k = shingle_len

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "jaccard": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(id_col)  # positional i<j => id_a < id_b
        ids = pdf[id_col].to_numpy()
        texts = pdf[text_col].str.lower().tolist()
        n = len(ids)
        vocab: dict[str, int] = {}
        doc_sets = []
        for t in texts:
            m = max(len(t) - k + 1, 1)
            s = {t[i : i + k] for i in range(m)}
            doc_sets.append(
                np.fromiter(
                    (vocab.setdefault(g, len(vocab)) for g in s),
                    dtype=np.int64,
                    count=len(s),
                )
            )
        M = np.zeros((n, len(vocab)), dtype=np.float32)
        for r, idxs in enumerate(doc_sets):
            M[r, idxs] = 1.0
        sizes = np.array([len(s) for s in doc_sets], dtype=np.float64)
        out_a, out_b, out_j = [], [], []
        col = np.arange(n)
        for c0 in range(0, n, chunk_rows):
            c1 = min(c0 + chunk_rows, n)
            inter = (M[c0:c1] @ M.T).astype(np.int64).astype(np.float64)
            jac = inter / (sizes[c0:c1, None] + sizes[None, :] - inter)
            keep = (col[None, :] > np.arange(c0, c1)[:, None]) & (jac >= threshold)
            ri, ci = np.nonzero(keep)
            out_a.append(ids[ri + c0])
            out_b.append(ids[ci])
            out_j.append(jac[ri, ci])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "jaccard": np.concatenate(out_j),
            }
        )

    return (
        df.select(id_col, text_col, block_col)
        .repartition(block_col)
        .groupBy(block_col)
        .applyInPandas(block_pairs, schema=out_schema)
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16
) -> DataFrame:
    """SimHash fingerprint over whitespace tokens (E1).

    Each distinct token votes +-1 per bit position of its md5-prefix
    hash; the fingerprint sets bits with positive vote sums. Narrow
    projection, no shuffle. Output: (id_col, simhash bigint).

    Token hashes are materialized ONCE in a projection; the per-bit
    vote aggregates then scan the precomputed int array. Folding the
    tokenize+md5 expression into each of the ``bits`` vote lambdas (the
    naive form) recomputes it per bit — measured 10x slower at sf0.1.

    r11: the fingerprint pass is spread to the session parallelism
    first — the per-row cost (one md5 per distinct token + bits vote
    folds) is high while the frame's BYTES are small, so AQE never
    parallelizes it on its own and a one-file scan ran the whole pass
    in one task (measured 3.5 s single-task at sf0.1, ~0.3 s spread).
    """
    df = _spread(df)
    hashed = df.select(
        F.col(id_col),
        F.expr(
            f"transform(array_distinct(split(lower({text_col}), '\\\\s+')), "
            f"t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
        ).alias("__h"),
    )
    bit_terms = []
    for j in range(bits):
        # sum over tokens of (bit_j ? 1 : -1), then bit_j(out) = sum > 0
        vote = (
            f"aggregate(__h, 0L, (acc, h) -> acc + "
            f"CASE WHEN (h div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)"
        )
        bit_terms.append(f"CASE WHEN ({vote}) > 0 THEN {1 << j}L ELSE 0L END")
    expr = " + ".join(bit_terms)
    return hashed.select(F.col(id_col), F.expr(expr).alias("simhash"))


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (E1), blocked by
    ``block_col`` (e.g. a cluster/label/LSH-bucket column) so the
    self-join is an equi-join, not a cross product.
    Output: (id_a, id_b, cosine)."""
    from .similarity import dot_expr, norm_expr

    a = df.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.expr(norm_expr(vec_col)).alias("na"),
    )
    b = df.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.expr(norm_expr(vec_col)).alias("nb"),
    )
    joined = a.join(b, [block_col] if block_col else None) if block_col else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(f"({dot_expr('va', 'vb')}) / nullif(na * nb, cast(0 as double))").alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ----------------------------------------------------- cluster + resolve


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_id: str = "id",
    cluster_col: str = "cluster_id",
    max_iterations: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph:
    every id that appears in ``pairs`` gets the MINIMUM id reachable
    from it as its cluster id (so each component's canonical member is
    its own cluster id). Completes the fuzzy-dedup pipeline: pair
    emitters (:func:`lsh_verified_pairs`, :func:`embedding_neardup_pairs`)
    find edges; this resolves transitivity (A~B, B~C => one cluster even
    though A,C never paired).

    Adaptive physical strategy, chosen from the counted edge total (a
    bounded driver scalar):

    * ``<= driver_threshold`` edges: union-find with path compression on
      the driver. Verified duplicate pairs are a small fraction of the
      corpus by construction (they ARE the duplicates), so this is the
      common case, and it replaces O(diameter) distributed rounds (each
      a join + aggregate + checkpoint job — seconds of fixed scheduling
      cost regardless of data size) with microseconds. The collect is
      explicitly bounded by the threshold.
    * above the threshold: iterative distributed min-label propagation —
      per round, one equi-join of the (cached) edge list with the
      current labels and one min-aggregate, converging in O(diameter)
      rounds; ``localCheckpoint`` truncates the per-round plan (an uncut
      lineage doubles per round and blows up codegen). The driver sees
      only the per-round changed-row count. This is the standard
      scalable CC formulation (the GraphFrames/Pregel shape) in plain
      DataFrame ops.

    Both paths produce identical output (equivalence-tested). The pair
    frame is persisted for the duration of the call so the (usually
    expensive) pair pipeline executes exactly once however many times
    this plan consumes it.
    """
    pairs_p = pairs.persist()
    n_pairs = pairs_p.count()  # bounded: one long; materializes the cache
    if 2 * n_pairs <= driver_threshold:
        try:
            # union-find with path compression + union-by-min
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for row in pairs_p.select(id_a, id_b).collect():
                a_val, b_val = row[0], row[1]
                for v in (a_val, b_val):
                    if v not in parent:
                        parent[v] = v
                ra, rb = find(a_val), find(b_val)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            rows = [(v, find(v)) for v in parent]
            id_field = pairs.schema[id_a]
            from pyspark.sql import types as T

            schema = T.StructType(
                [
                    T.StructField(out_id, id_field.dataType),
                    T.StructField(cluster_col, id_field.dataType),
                ]
            )
            return pairs.sparkSession.createDataFrame(rows, schema)
        finally:
            pairs_p.unpersist()
    edges = (
        pairs_p.select(F.col(id_a).alias("__src"), F.col(id_b).alias("__dst"))
        .union(
            pairs_p.select(F.col(id_b).alias("__src"), F.col(id_a).alias("__dst"))
        )
        .cache()
    )
    # localCheckpoint (not cache) per round: each iteration's plan embeds
    # the previous labels TWICE (once under neighbor_min, once as the
    # left side), so an uncut lineage doubles per round and blows up
    # planning/codegen after ~10 iterations. Checkpointing materializes
    # the round and truncates the plan to a scan; on a cluster with
    # non-resilient executors, swap for checkpoint() with a durable dir.
    labels = (
        edges.select(F.col("__src").alias(out_id)).distinct()
        .withColumn(cluster_col, F.col(out_id))
        .localCheckpoint(eager=True)
    )
    try:
        rounds = 0
        while True:
            neighbor_min = (
                edges.join(labels, edges["__dst"] == labels[out_id])
                .groupBy("__src")
                .agg(F.min(cluster_col).alias("__nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, labels[out_id] == neighbor_min["__src"], "left")
                .select(
                    F.col(out_id),
                    F.least(
                        F.col(cluster_col), F.coalesce("__nmin", F.col(cluster_col))
                    ).alias(cluster_col),
                    (F.coalesce("__nmin", F.col(cluster_col)) < F.col(cluster_col))
                    .alias("__changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.where(F.col("__changed")).count()  # bounded: 1 long
            labels = new_labels.drop("__changed")
            if changed == 0:
                break
            rounds += 1
            # Returning before convergence would hand the caller WRONG
            # cluster ids with no signal (min-label propagation needs
            # O(component diameter) rounds; long near-dup chains are
            # plausible exactly at the >threshold scale this path serves),
            # so a diameter past the safety bound is an error, not a
            # truncation.
            if rounds >= max_iterations:
                raise RuntimeError(
                    "duplicate_clusters: min-label propagation did not "
                    f"converge within max_iterations={max_iterations} rounds "
                    f"({changed} labels still changing); a duplicate chain "
                    "longer than max_iterations exists — raise max_iterations"
                )
        return labels
    finally:
        edges.unpersist()
        pairs_p.unpersist()


def fuzzy_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end fuzzy dedup with transitive resolution: LSH-verified
    pairs -> duplicate clusters -> keep each cluster's canonical (min-id)
    member plus every unpaired row.

    The anti-join key set is the non-canonical ids — a small fraction of
    the corpus (it is the duplicates), so at scale the join broadcasts;
    the corpus itself never shuffles.
    """
    pairs = lsh_verified_pairs(df, text_col, id_col, **lsh_kwargs)
    clusters = duplicate_clusters(pairs)
    dupes = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dupes, id_col, "left_anti")


def fuzzy_dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    quality_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """Fuzzy dedup with a QUALITY retention policy: within each
    transitive duplicate cluster keep the member with the highest
    ``quality_col`` (ties: lowest id), not the arbitrary min-id member.
    This is the policy real curation pipelines want — near-dup groups
    keep their longest / highest-scoring variant, so dedup never
    degrades the surviving corpus.

    Plan shape on top of :func:`fuzzy_dedup`'s: the cluster frame joins
    the corpus ONLY to fetch (id, quality) — a projection of two scalar
    columns, id-keyed; the keep-best choice is a window partitioned BY
    CLUSTER (bounded by cluster size, no global sort); and the final
    anti-join key set is again the non-kept duplicate ids — the small
    side, broadcastable. The corpus itself never shuffles.
    """
    pairs = lsh_verified_pairs(df, text_col, id_col, **lsh_kwargs)
    clusters = duplicate_clusters(pairs)
    ranked = clusters.join(
        df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q")),
        "id",
    ).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.desc("__q"), F.asc("id")
            )
        ),
    )
    dupes = ranked.where(F.col("__rk") > 1).select(F.col("id").alias(id_col))
    return df.join(dupes, id_col, "left_anti")


def _spread(df: DataFrame) -> DataFrame:
    """Raise an under-parallel batch frame to the session's default
    parallelism before an expensive per-row projection. A small parquet
    scan is often ONE file (sf0.1 documents), so the per-position
    shingle hashing that follows would run serially; spreading a few
    thousand rows costs one trivial shuffle. Decided from scan metadata
    only — no-op for many-file scans (at 100 TB never add a corpus-wide
    shuffle) and for streaming frames (functions/partitioning.py)."""
    return spread_to_parallelism(df)


def _banded(
    signatures: DataFrame, id_col: str, side: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a MinHash signature frame into (id, mh slots, band_idx,
    band_key) rows with side-prefixed column names — the join input for
    asymmetric LSH banding. Identical banding to
    :func:`lsh_candidate_pairs` (md5 over the band's slots)."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        slots = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = "md5(concat_ws(',', " + ", ".join(slots) + "))"
        band_structs.append(f"struct({b} as band_idx, {key} as band_key)")
    return signatures.select(
        F.col(id_col).alias(f"id_{side}"),
        *[F.col(f"mh_{k}").alias(f"{side}_{k}") for k in range(num_hashes)],
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("band"),
    ).select(
        f"id_{side}",
        *[f"{side}_{k}" for k in range(num_hashes)],
        "band.band_idx",
        "band.band_key",
    )


def incremental_neardup_pairs(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 5,
    min_est_jaccard: float = 0.25,
    threshold: float = 0.3,
    verify_broadcast_docs: int = 1_000_000,
    verify_broadcast_bytes: int = 256 << 20,
    verify_block_docs: int = 4096,
    strategy: str = "fused",
) -> DataFrame:
    """Incremental fuzzy dedup of a NEW BATCH against an already-ingested
    corpus — the production shape of continuous dataset building: the
    historical corpus is not re-deduplicated against itself on every
    ingest; only index x batch candidate pairs are generated and
    verified. Ids must be disjoint across the two frames (same id space,
    new ids for new docs).

    Plan shape, sized for a 100 TB index + small daily batch:

    * Signatures are computed per side with the map-only Arrow MinHash
      (in production the INDEX side would be a persisted signature
      table — the plan from ``minhash_signatures`` on, which this
      function takes as its contract, is identical).
    * The band join is ASYMMETRIC: index bands x batch bands on
      (band_idx, band_key). The shuffle is bounded by bands x rows, and
      with a small batch the batch side broadcasts (AQE decides) — the
      index never self-joins, which is what makes re-ingest linear in
      batch size instead of quadratic-ish in corpus size.
    * First-matching-band dedup and the est-Jaccard floor are the same
      as :func:`lsh_candidate_pairs`; verification (size-ratio prune,
      byte-gated broadcast, blocked-matmul fallback) is the shared
      :func:`_verify_candidate_pairs` tail, shingling ONLY candidate
      docs from either side.

    Output: (id_a = index doc, id_b = batch doc, est_jaccard, jaccard)
    with jaccard >= ``threshold`` — feed to an anti-join on id_b to drop
    duplicated new docs, or route to review.

    r11: ``strategy='fused'`` (default) routes through
    :func:`_incremental_fused` — one Arrow combo pass per side, band
    explode with a side tag, bipartite candidate generation + exact
    verification inside each bucket; one exchange, no checkpoints
    (measured 5.0 -> ~2 s at sf0.1, identical output). ``'staged'``
    keeps the r4-r10 pipeline below as the parity reference.
    """
    if strategy == "fused":
        return _incremental_fused(
            index_df,
            batch_df,
            text_col,
            id_col,
            num_hashes,
            bands,
            shingle_len,
            min_est_jaccard,
            threshold,
        )
    if strategy != "staged":
        raise ValueError(
            f"strategy must be 'fused' or 'staged', got {strategy!r}"
        )
    sigs_idx = minhash_signatures(
        index_df, text_col, id_col, num_hashes, shingle_len
    )
    sigs_new = minhash_signatures(
        batch_df, text_col, id_col, num_hashes, shingle_len
    )
    left = _banded(sigs_idx, id_col, "a", num_hashes, bands)
    right = _banded(sigs_new, id_col, "b", num_hashes, bands)
    rows_per_band = num_hashes // bands
    agree = sum(
        F.when(F.col(f"a_{k}") == F.col(f"b_{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )

    def band_agrees(b: int):
        cond = F.lit(True)
        for r in range(rows_per_band):
            k = b * rows_per_band + r
            cond = cond & (F.col(f"a_{k}") == F.col(f"b_{k}"))
        return cond

    not_earlier = F.lit(True)
    for b in range(bands - 1):
        not_earlier = not_earlier & ~(
            (F.col("band_idx") > b) & band_agrees(b)
        )
    cands = (
        left.join(right, ["band_idx", "band_key"])
        .where(not_earlier)
        .select(
            "id_a",
            "id_b",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= min_est_jaccard)
        .localCheckpoint(eager=True)
    )
    both = index_df.select(id_col, text_col).unionByName(
        batch_df.select(id_col, text_col)
    )
    return _verify_candidate_pairs(
        both,
        cands,
        text_col,
        id_col,
        shingle_len,
        threshold,
        verify_broadcast_docs,
        verify_broadcast_bytes,
        verify_block_docs,
    )


def sketched_shingles_expr(
    text_col: str,
    shingle_len: int = 5,
    shingle_mod: int | None = None,
    pre_lowered: bool = True,
) -> str:
    """Hashed shingle array expr, optionally hash-residue sketched:
    keep only shingles with hash ``0 (mod shingle_mod)`` — a
    deterministic 1/mod sample of each document's shingle set
    (hash-stable, so any two documents keep the SAME shingles)."""
    base = hashed_shingle_expr(text_col, shingle_len, pre_lowered=pre_lowered)
    if shingle_mod:
        return f"filter({base}, x -> x % {shingle_mod} = 0)"
    return base


def exploded_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_id: str,
    shingle_len: int = 5,
    shingle_mod: int | None = None,
) -> DataFrame:
    """(id, shingle_hash) rows for every (sketched) shingle of every
    doc — the shared explode feeding batch AND streaming contamination,
    containment, and n-gram novelty.

    Arrow fast path: the hash recipe is BIT-IDENTICAL to
    :func:`sketched_shingles_expr` (32-bit md5-prefix ints, optional
    mod sketch), but computed in an Arrow-batched ``mapInPandas`` with
    a per-batch intern cache. The SQL ``transform()`` lambda is
    interpreted per element — Spark generates no codegen for
    higher-order functions — which measured ~80us/shingle at sf0.1;
    the interned Python path hashes each distinct shingle once per
    batch (same move as ``_minhash_arrow``) and re-measures ~3x
    faster end-to-end on the explode pass. A stateless map — legal on
    streaming frames (streaming/contamination.py)."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(out_id, id_type),
            T.StructField("__g", T.LongType()),
        ]
    )
    k, mod = shingle_len, shingle_mod
    md5 = hashlib.md5
    src = df.select(
        F.col(id_col).alias(out_id), F.lower(F.col(text_col)).alias("__lt")
    )

    def gen(batches):
        cache: dict[str, int] = {}
        for pdf in batches:
            ids_np = pdf[out_id].to_numpy()
            out_ids, out_g = [], []
            for i, t in zip(ids_np, pdf["__lt"]):
                m = max(len(t) - k + 1, 1)
                for s in {t[j : j + k] for j in range(m)}:
                    h = cache.get(s)
                    if h is None:
                        h = int(md5(s.encode()).hexdigest()[:8], 16)
                        cache[s] = h
                    if mod and h % mod != 0:
                        continue
                    out_ids.append(i)
                    out_g.append(h)
            yield pd.DataFrame(
                {
                    out_id: pd.Series(out_ids, dtype=pdf[out_id].dtype),
                    "__g": pd.Series(out_g, dtype="int64"),
                }
            )

    return src.mapInPandas(gen, schema=out_schema)


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    min_shared: int = 5,
    max_shingle_df: int | None = None,
    shingle_mod: int | None = None,
    eval_exploded: DataFrame | None = None,
) -> DataFrame:
    """Train/eval contamination edges: (eval_id, train_id, shared) for
    every train doc sharing at least ``min_shared`` distinct hashed
    ``shingle_len``-gram shingles with an eval doc.

    The n^2-avoidance is the same move as LSH banding: instead of
    comparing every (train, eval) document pair, explode both sides to
    (shingle_hash, id) and equi-join on the 32-bit shingle hash — only
    pairs that actually share a shingle ever meet, and the join is an
    ordinary AQE-skew-splittable shuffle keyed by an 8-byte int.
    ``count(*)`` per (eval_id, train_id) afterwards IS the shared-shingle
    count because each side's shingle sets are distinct per doc.

    ``max_shingle_df`` drops shingles appearing in more than that many
    TRAIN docs before the join — boilerplate shingles ("in conclusion,")
    are not contamination evidence, and at 100 TB they are also exactly
    the hot keys that would dominate the join output (the pair blow-up
    is sum over shingles of train_df x eval_df). The document-frequency
    cut is computed with one partial-aggregated groupBy on the train
    side and applied as a broadcastable anti-join.

    ``shingle_mod`` enables SKETCH mode: keep only shingles whose
    32-bit hash is ``0 (mod shingle_mod)`` — a deterministic 1/mod
    sample of each document's shingle set (hash-stable, so both sides
    keep the SAME shingles). Every exploded row count, shuffle, and the
    join output shrink by ~mod x; shared-shingle counts scale by ~1/mod
    (scale ``min_shared`` accordingly). This is the knob that keeps the
    detector linear-ish at 100 TB; ``None`` = exact.

    ``eval_exploded`` (r11): a precomputed :func:`exploded_shingles`
    frame for ``eval_df`` (same ``shingle_len``/``shingle_mod``,
    ``out_id='eval_id'``) — the eval side depends on nothing upstream,
    so a composite caller (``curate_corpus_v2``) materializes it
    CONCURRENTLY with its pair-graph phase and passes it here instead
    of recomputing.
    """
    tr = exploded_shingles(
        _spread(train), text_col, id_col, "train_id", shingle_len, shingle_mod
    )
    if max_shingle_df is not None:
        # The exploded train frame has TWO consumers (the df-cut
        # aggregate and the join side) and its lineage is the expensive
        # per-position md5 projection — materialize it once instead of
        # hashing the train corpus twice (measured ~2x on this operator
        # at sf0.1). EAGER: a lazy checkpoint materializes inside the
        # consuming job and truncates lineage mid-flight, letting the
        # ContextCleaner drop broadcasts other tasks of that job still
        # hold (observed as a transient "Block broadcast_N does not
        # exist" failure); eager runs materialization as its own job.
        tr = tr.localCheckpoint(eager=True)
        hot = (
            tr.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_shingle_df)
            .select("__g")
        )
        tr = tr.join(hot, "__g", "left_anti")
    ev = eval_exploded
    if ev is None:
        ev = exploded_shingles(
            _spread(eval_df), text_col, id_col, "eval_id", shingle_len,
            shingle_mod,
        )
    return (
        tr.join(ev, "__g")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    min_shared: int = 5,
    max_shingle_df: int | None = None,
    shingle_mod: int | None = None,
) -> DataFrame:
    """Per-eval-doc contamination summary: how many train docs exceed the
    shared-shingle floor, the worst overlap, and the worst overlap as a
    fraction of the eval doc's own shingle count.

    Output: (``id_col``, n_train_docs, max_shared, overlap_frac) for
    contaminated eval docs only. ``overlap_frac`` is
    ``max_shared / |eval shingles|`` — near 1.0 means an eval doc is
    (almost) wholly contained in some training document. In sketch mode
    (``shingle_mod``) the denominator is the eval doc's SKETCHED shingle
    count, so the fraction stays an unbiased containment estimate. The
    per-eval aggregate is a partial-agg groupBy on eval_id (bounded by
    the eval set, which is small by construction); the eval
    shingle-count join is broadcastable for the same reason.
    """
    pairs = contamination_pairs(
        train, eval_df, text_col, id_col, shingle_len, min_shared,
        max_shingle_df, shingle_mod,
    )
    return report_from_pairs(
        pairs, eval_df, text_col, id_col, shingle_len, shingle_mod
    )


def report_from_pairs(
    pairs: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    shingle_mod: int | None = None,
) -> DataFrame:
    """Fold (eval_id, train_id, shared) contamination edges into the
    per-eval-doc report (shared by the batch and streaming detectors —
    the streaming path drains its edges from the state store first)."""
    per_eval = pairs.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.max("shared").alias("max_shared"),
    )
    size_expr = sketched_shingles_expr("__lt", shingle_len, shingle_mod)
    sizes = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.lower(F.col(text_col)).alias("__lt"),
    ).select(
        "eval_id",
        F.size(F.expr(size_expr)).alias("__n_sh"),
    )
    return per_eval.join(F.broadcast(sizes), "eval_id").select(
        F.col("eval_id").alias(id_col),
        "n_train_docs",
        "max_shared",
        (F.col("max_shared").cast("double") / F.col("__n_sh").cast("double")).alias(
            "overlap_frac"
        ),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    num_bits: int = 16,
) -> DataFrame:
    """Near-duplicate pairs within a Hamming ball over SimHash
    fingerprints (E1) — the bit-space analog of MinHash LSH.

    The ``num_bits``-bit fingerprint splits into ``bands`` equal bit
    slices; by pigeonhole any pair with hamming distance <= bands-1
    agrees exactly on at least one slice, so candidates come from an
    ordinary equi-join on (band_idx, slice_value) — sub-quadratic, AQE
    skew-splittable — and the verify is one ``bit_count(xor)`` per
    candidate. Exact recall requires ``max_hamming <= bands - 1``
    (asserted); duplicates from multi-band agreement are removed by the
    same first-matching-band filter as :func:`lsh_candidate_pairs` (no
    ``distinct()`` shuffle). Output: (id_a, id_b, hamming).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(got bands={bands}) for exact recall"
        )
    width = num_bits // bands
    sims = simhash(df, text_col, id_col)
    band_structs = [
        f"struct({b} as band_idx, "
        f"(simhash div {1 << (b * width)}) % {1 << width} as band_key)"
        for b in range(bands)
    ]
    banded = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_key")
    left = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("__sa"),
        "band_idx",
        "band_key",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("__sb"),
        "band_idx",
        "band_key",
    )

    def band_agrees(b: int):
        return F.expr(
            f"(__sa div {1 << (b * width)}) % {1 << width} = "
            f"(__sb div {1 << (b * width)}) % {1 << width}"
        )

    not_earlier = F.lit(True)
    for b in range(bands - 1):
        not_earlier = not_earlier & ~((F.col("band_idx") > b) & band_agrees(b))
    return (
        left.join(right, ["band_idx", "band_key"])
        .where((F.col("id_a") < F.col("id_b")) & not_earlier)
        .select(
            "id_a",
            "id_b",
            F.expr("bit_count(__sa ^ __sb)").cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def cross_split_exact_overlap(
    a: DataFrame, b: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Verbatim-overlap pairs between two row sets (split-leakage
    validation: a TRAIN doc reappearing verbatim in TEST invalidates
    the eval). The join key is ``sha2(text)`` — 32-byte digests shuffle,
    never documents — and the join is an ordinary AQE-skew-splittable
    equi-join (a boilerplate doc duplicated across both splits is a hot
    digest). Output: (id_a, id_b) for every cross-pair."""
    da = a.select(
        F.sha2(F.col(text_col), 256).alias("__dig"),
        F.col(id_col).alias("id_a"),
    )
    db = b.select(
        F.sha2(F.col(text_col), 256).alias("__dig"),
        F.col(id_col).alias("id_b"),
    )
    return da.join(db, "__dig").select("id_a", "id_b")


def duplicated_span_occurrences(
    df: DataFrame, text_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """Every NON-FIRST occurrence of a duplicated ``k``-token span:
    (id, pos) rows where the ``k``-gram starting at token ``pos`` also
    occurs somewhere earlier in the corpus (global (id, pos) order).

    This is the Spark shape of exact substring deduplication ("
    Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 — the reference pipeline uses a suffix array; a suffix
    array is a single-machine data structure, so at 100 TB the
    equivalent signal is computed relationally): explode every token
    position into its ``k``-gram hash, find each gram's first
    occurrence, and every later occurrence is a drop candidate.

    Physical form: ONE ``row_number`` window partitioned by gram hash —
    the gram projection (the expensive per-position md5 over token
    slices) is computed once and shuffled once on the 16-byte digest;
    the earlier groupBy+join-back formulation shuffled the gram rows
    twice AND re-evaluated the hashing subtree on both sides of the
    join (measured 3x slower at sf0.1). Boilerplate grams (the hot
    keys) are single window partitions — the same skew profile the
    join's build side had, and the per-row window state is one counter.

    Matching is case-insensitive (grams hash the LOWERCASED join of the
    whitespace tokens); positions index the whitespace token sequence of
    the ORIGINAL text, so callers can reconstruct original-case output.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # per-position md5-over-slice is the expensive projection: make sure
    # an under-parallel scan (one parquet file) doesn't serialize it
    toks = _spread(df).select(
        F.col(id_col),
        F.expr(
            f"filter(split({text_col}, '\\\\s+'), x -> x != '')"
        ).alias("__toks"),
    )
    # The explode is the GENERATOR over the toks projection — the
    # Generate node blocks CollapseProject, so the tokenization is
    # evaluated once per row. Aliasing the gram array in an adjacent
    # Project instead lets the optimizer inline filter(split(text))
    # into the per-position lambda: O(tokens^2) CPU per document
    # (measured 3-15x slower at sf0.1).
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(0, size(__toks) - {k}), "
                f"p -> struct(p AS pos, md5(lower(concat_ws(' ', slice(__toks, p + 1, {k})))) AS gh)) "
                f"ELSE array() END"
            )
        ).alias("__g"),
    ).select(id_col, F.col("__g.pos").alias("pos"), F.col("__g.gh").alias("gh"))
    w = Window.partitionBy("gh").orderBy(F.asc(id_col), F.asc("pos"))
    return (
        grams.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(id_col, "pos")
    )


def span_dedup(
    df: DataFrame, text_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """Approximate duplicated-span removal (greedy first-occurrence-wins):
    drop from each document every token covered by a ``k``-token span
    whose gram's first corpus occurrence is elsewhere (within-document
    repeats collapse too). Output:
    (id, clean_text, n_tokens, n_kept, n_dropped).

    APPROXIMATION, not the suffix-array guarantee: every non-first gram
    occurrence is removed independently, so when duplicated spans
    OVERLAP, a keeper span can be clipped by a different span's removal
    — the corpus-wide "exactly one surviving copy per span" property
    holds for isolated duplicates but not for overlapping ones (Lee et
    al. 2022's suffix-array pass resolves overlaps globally; that is a
    single-machine structure, this is the relational form).

    Reconstruction: matching is case-insensitive, but ``clean_text`` is
    rebuilt from the ORIGINAL-case whitespace tokens — only inter-token
    whitespace is normalized to single spaces; casing survives.

    Scale shape: the only wide ops are the gram groupBy + re-join in
    :func:`duplicated_span_occurrences` and one groupBy(id) that
    collects each document's duplicate START POSITIONS (bounded by
    tokens-per-doc, carried as ints — the document text itself never
    reshuffles: reconstruction re-joins the positions back onto the
    original row by id). Interval-cover + rebuild are per-row
    higher-order functions, fully codegen'd, no Python.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dup = duplicated_span_occurrences(df, text_col, id_col, k)
    dup_pos = dup.groupBy(id_col).agg(F.collect_list("pos").alias("__dp"))
    toks = _spread(df).select(
        F.col(id_col),
        F.expr(
            f"filter(split({text_col}, '\\\\s+'), x -> x != '')"
        ).alias("__toks"),
    )
    covered = (
        f"exists(__dp, p -> p <= t AND t < p + {k})"
    )
    return (
        toks.join(dup_pos, id_col, "left")
        .select(
            id_col,
            "__toks",
            F.expr("coalesce(__dp, array())").alias("__dp"),
        )
        .select(
            id_col,
            "__toks",
            # sequence(0, -1) counts DOWN ([0, -1]) and element_at(_, 0)
            # raises under ANSI — empty docs need the explicit guard.
            F.expr(
                f"CASE WHEN size(__toks) > 0 THEN "
                f"filter(sequence(0, size(__toks) - 1), t -> NOT ({covered})) "
                f"ELSE array() END"
            ).alias("__kept"),
        )
        .select(
            F.col(id_col),
            F.expr(
                "concat_ws(' ', transform(__kept, t -> element_at(__toks, t + 1)))"
            ).alias("clean_text"),
            F.expr("size(__toks)").cast("long").alias("n_tokens"),
            F.expr("size(__kept)").cast("long").alias("n_kept"),
            F.expr("size(__toks) - size(__kept)").cast("long").alias("n_dropped"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv paper): cluster embeddings, compare
    pairs ONLY within a cluster, and drop every document that has a
    more-canonical (lower-id) semantic duplicate at cosine >=
    ``threshold``. Returns the surviving rows of ``df``.

    This is the published algorithm's exact scale shape: the k-means
    partition bounds the quadratic — within-cell pairwise cost is
    sum(|cell|^2) instead of |corpus|^2, and k grows with the corpus so
    cells stay bounded. Composition here: broadcast-centroid
    :func:`~.similarity.ivf_assign` (one bounded argmax shuffle), the
    cell-blocked equi-self-join of :func:`embedding_neardup_pairs`
    (never a cross product), and a left-anti join on the dropped-id set
    (the duplicates — the small side). The corpus never shuffles except
    on its cell key.

    Centroids are caller-supplied (fit with
    :func:`~.similarity.kmeans_fit`, or any deterministic seed set), so
    the same fitted partition is reusable across incremental runs.
    """
    from .similarity import ivf_assign

    assign = ivf_assign(df, centroids, vec_col, id_col)
    cells = df.join(assign, id_col)
    pairs = embedding_neardup_pairs(
        cells, vec_col, id_col, block_col="centroid_id", threshold=threshold
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def blocked_linkage(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    max_distance: int = 6,
) -> DataFrame:
    """Blocked fuzzy record linkage: match each LEFT record to its best
    RIGHT record by edit distance, comparing only within equal
    ``block_col`` values (the classic blocking strategy from the record
    -linkage literature — Fellegi-Sunter style candidate generation).
    The reference pipeline has no linkage stage; this is the E1
    extension operators applied to entity resolution: dirty batch vs
    clean catalog (dedup across representations rather than exact
    copies).

    Match rule: candidates share a block AND have
    ``levenshtein(left.text, right.text) <= max_distance``; the winner
    per left record is the minimum distance, ties broken by the
    smaller right id (deterministic). Unmatched left records are
    dropped (callers wanting them do a left-anti join on the output).

    Scale shape: the only wide op is the block equi-join — cost is
    sum over blocks of |L_b| x |R_b|, never a cross product, so block
    key choice bounds the work exactly like LSH bands bound MinHash
    verification. ``levenshtein`` is a JVM builtin (codegen, no
    Python), and the per-left argmin is a partial-aggregated
    ``min_by`` groupBy, not a window sort. Hot blocks are AQE
    skew-splittable since the join is a plain equi-join.

    Output: (<id_col>_left, matched_id, distance).
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    l = left.select(
        F.col(id_col).alias("__lid"),
        F.col(text_col).alias("__ltext"),
        F.col(block_col).alias("__blk"),
    )
    r = right.select(
        F.col(id_col).alias("__rid"),
        F.col(text_col).alias("__rtext"),
        F.col(block_col).alias("__blk"),
    )
    cand = l.join(r, "__blk").withColumn(
        "__dist", F.levenshtein(F.col("__ltext"), F.col("__rtext"))
    ).where(F.col("__dist") <= max_distance)
    return (
        cand.groupBy(F.col("__lid").alias(f"{id_col}_left"))
        .agg(
            F.min_by(
                F.col("__rid"), F.struct(F.col("__dist"), F.col("__rid"))
            ).alias("matched_id"),
            F.min("__dist").cast("long").alias("distance"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    threshold: float = 0.8,
    max_shingle_df: int = 20,
    shingle_mod: int | None = None,
) -> DataFrame:
    """Directed asymmetric containment pairs: ``|A∩B| / |A| >=
    threshold`` over hashed distinct ``shingle_len``-gram sets —
    excerpt/quote detection (Broder 1997's containment measure,
    public). A short doc fully embedded in a long one has containment
    ~1 while its Jaccard is near zero (the union is dominated by
    |B|), so symmetric dedup misses exactly the excerpt/expansion
    family this operator exists for.

    Physical strategy is the contamination join, not all-pairs: both
    sides explode to (shingle_hash, id), boilerplate shingles
    appearing in more than ``max_shingle_df`` docs are cut with a
    partial-agg groupBy + anti-join BEFORE the pair join (they are
    not containment evidence, and at 100 TB they are exactly the hot
    keys whose train_df x eval_df pair blow-up would dominate), and
    only docs sharing a surviving shingle ever meet — an ordinary
    AQE-skew-splittable equi-join on an 8-byte int. Denominator
    ``|A|`` counts the POST-CUT shingle set (both engines, both sides
    of the ratio — documented contract). ``shingle_mod`` enables the
    same deterministic 1/mod shingle sketch as
    :func:`contamination_pairs` for corpus scale.

    Output: (id_a, id_b, n_shared BIGINT, containment DOUBLE) — the
    DIRECTED edge "id_a is contained in id_b"; both directions can
    appear.
    """
    sh = exploded_shingles(
        df, text_col, id_col, "__id", shingle_len, shingle_mod
    ).localCheckpoint(eager=True)  # feeds the df-cut agg AND both join sides
    hot = (
        sh.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_shingle_df)
        .select("__g")
    )
    kept = sh.join(hot, "__g", "left_anti").localCheckpoint(eager=True)
    sizes = kept.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    a = kept.select(F.col("__id").alias("id_a"), "__g")
    b = kept.select(F.col("__id").alias("id_b"), "__g")
    inter = (
        a.join(b, "__g")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("__id", "id_a"), "id_a"
        )
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.col("__sz"), 6),
        )
        .where(F.col("containment") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "n_shared", "containment")
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, weight every
    row by the inverse of its duplicate-cluster size (normalized-text
    groups, same canonicalization as ``normalized_dedup``), so a
    document repeated a million times contributes ONE document's worth
    of gradient. The training-data alternative to hard dedup when the
    duplicated text is legitimate (licenses, templates) and the epoch
    sampler consumes weights rather than a filtered corpus.

    Output: every input row with ``cluster_size`` (BIGINT), ``weight``
    (= 1/cluster_size), and ``is_canonical`` (1 for the lowest id in
    the cluster). Scale shape: one digest groupBy (map-side partial
    agg: count + min(id) per digest) broadcast-or-shuffle-joined back —
    digests move, documents don't.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    keyed = df.withColumn("__ndig", F.sha2(norm, 256))
    stats = keyed.groupBy("__ndig").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(id_col).alias("__canon"),
    )
    return (
        keyed.join(stats, "__ndig")
        .withColumn("weight", F.round(F.lit(1.0) / F.col("cluster_size"), 6))
        .withColumn(
            "is_canonical",
            F.when(F.col(id_col) == F.col("__canon"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn("cluster_size", F.col("cluster_size").cast("long"))
        .drop("__ndig", "__canon")
    )
