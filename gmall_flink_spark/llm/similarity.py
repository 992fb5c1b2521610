"""Similarity search over embedding columns (BASELINE north-star ops).

Two paths:
  brute-force  broadcast the (small) query set against every vector; dot
               product via zip_with + aggregate — JVM-side, no Python.
  IVF          assign every vector to its nearest centroid (a broadcast
               argmax), then search only the query's cluster — the shuffle
               partitioning IS the index; at 100 TB the cluster id becomes
               the table's partition key so a query touches one partition.

Determinism: dot products fold left-to-right over the array in double
precision — bit-identical to DuckDB's list_dot_product on DOUBLE[] — and
rankings order by (round(cos, 6) DESC, vec_id) so ties break stably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec: str = "vec") -> DataFrame:
    return df.withColumn("norm", F.sqrt(_dot(F.col(vec), F.col(vec))))


def prep(embeddings: DataFrame) -> DataFrame:
    """Cast the float embedding to double once (all engines then agree).
    Spread first: the fold/matmul kernels fuse onto the scan, and the
    single-row-group test parquet plans that scan as one task."""
    from gmall_flink_spark.sources.tables import spread

    return spread(embeddings, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )


def cosine(a_vec, a_norm, b_vec, b_norm):
    return F.round(_dot(a_vec, b_vec) / (a_norm * b_norm), 6)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    match_on: str | None = None,
) -> DataFrame:
    """Exact top-k neighbours per query vector (query set broadcast).

    ``match_on`` adds an equality column to the join key — the FILTERED
    search form (multi-tenant/namespace vector search): each query sees
    only candidates sharing its ``match_on`` value, applied by partition
    routing rather than post-scoring. One scoring/tie-break contract for
    the unfiltered, IVF-probed and filtered variants."""
    extra = [match_on] if match_on else []
    v = with_norm(vectors).select(
        *extra,
        F.col("vec_id").alias("n_id"), F.col("vec").alias("n_vec"), F.col("norm").alias("n_norm"),
    )
    q = with_norm(queries).select(
        *[F.col(c).alias(f"_q_{c}") for c in extra],
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"), F.col("norm").alias("q_norm"),
    )
    cond = F.col("q_id") != F.col("n_id")
    if match_on:
        cond = cond & (F.col(match_on) == F.col(f"_q_{match_on}"))
    scored = (
        v.join(F.broadcast(q), cond)
        .withColumn("cos", cosine(F.col("q_vec"), F.col("q_norm"), F.col("n_vec"), F.col("n_norm")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "q_id",
            *extra,
            F.col("n_id").alias("neighbor_id"),
            F.col("rk").alias("rk"),
            "cos",
        )
    )


def hard_negatives(
    vectors: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: per anchor
    (query vector), the top-``k`` highest-cosine vectors with a DIFFERENT
    label (the hard negatives) plus the margin against the anchor's nearest
    SAME-label positive — ``margin = pos_cos − neg_cos``, the triplet-loss
    quantity (small or negative margin = the valuable training pair).
    Anchors with no other same-label vector have no positive and drop out.

    One broadcast join scores both branches; ranking reuses the suite's
    tie-break contract (round(cos, 6) DESC, id ASC). Scale: anchors are a
    sampled subset (broadcast); the candidate side streams — and at corpus
    scale the scan side swaps to the IVF-probed candidate set
    (ivf_topk_multiprobe) with this same scoring, since a hard negative is
    by construction in the anchor's near clusters."""
    v = with_norm(vectors).select(
        F.col("label").alias("n_label"),
        F.col("vec_id").alias("n_id"), F.col("vec").alias("n_vec"), F.col("norm").alias("n_norm"),
    )
    q = with_norm(queries).select(
        F.col("label").alias("q_label"),
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"), F.col("norm").alias("q_norm"),
    )
    scored = (
        v.join(F.broadcast(q), F.col("n_id") != F.col("q_id"))
        .withColumn("cos", cosine(F.col("q_vec"), F.col("q_norm"), F.col("n_vec"), F.col("n_norm")))
    )
    return _triplet_rank(scored, k)


def _triplet_rank(scored: DataFrame, k: int) -> DataFrame:
    """Shared anchor/positive/negative ranking over a scored candidate
    frame (q_id, q_label, n_id, n_label, cos): positive = rank-1
    same-label, negatives = top-k different-label, margin = pos − neg.
    One contract for the brute-force and IVF-probed miners.

    ONE linear plan, deliberately: ranking within (q_id, is_pos) groups
    plus a windowed max for the positive's cos — never a pos/neg
    self-join, which would make Catalyst duplicate the whole upstream
    scoring subtree (for the probed miner that re-runs the full IVF
    assignment). Anchors with no same-label candidate have a NULL
    pos_cos and drop, matching the join form's inner-join semantics."""
    scored = scored.withColumn(
        "is_pos", F.col("n_label") == F.col("q_label")
    )
    w_rk = Window.partitionBy("q_id", "is_pos").orderBy(
        F.desc("cos"), F.asc("n_id")
    )
    w_q = Window.partitionBy("q_id")
    ranked = scored.withColumn("rk", F.row_number().over(w_rk)).withColumn(
        "pos_cos",
        F.max(F.when(F.col("is_pos") & (F.col("rk") == 1), F.col("cos"))).over(w_q),
    )
    return ranked.where(
        (~F.col("is_pos")) & (F.col("rk") <= k) & F.col("pos_cos").isNotNull()
    ).select(
        "q_id",
        "q_label",
        F.col("n_id").alias("neighbor_id"),
        F.col("n_label").alias("neighbor_label"),
        "rk",
        "cos",
        F.round(F.col("pos_cos") - F.col("cos"), 6).alias("margin"),
    )


def hard_negatives_probed(
    assigned_l: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    k: int = 5,
) -> DataFrame:
    """The SCALE PATH of hard-negative mining: restrict both the positive
    and the negatives to the anchor's ``nprobe`` nearest IVF clusters —
    hard negatives are by construction near the anchor, so the probed
    union recovers them without the full scan. ``assigned_l`` is the
    ivf_assign output with the label joined back (vec_id, vec, norm,
    cluster, label). At corpus scale the cluster id is the table's
    partition key and each probe is a partition-pruned scan; an anchor
    whose probed set has no same-label vector yields no rows (its
    positive is out of probe reach — raise nprobe)."""
    probes = ivf_probes(queries, centroids, nprobe).join(
        queries.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")),
        "q_id",
    )
    scored = (
        assigned_l.join(
            F.broadcast(probes), F.col("cluster") == F.col("probe_cluster")
        )
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos", cosine(F.col("q_vec"), F.col("q_norm"), F.col("vec"), F.col("norm"))
        )
        .select(
            "q_id", "q_label",
            F.col("vec_id").alias("n_id"), F.col("label").alias("n_label"), "cos",
        )
        # a vector probed via two clusters can't happen (ivf_assign puts
        # each vector in exactly one cluster), so no dedup is needed
    )
    return _triplet_rank(scored, k)


#: block cardinality at which the per-pair interpreted fold loses to one
#: Arrow-batched numpy matmul per block (kernel crossover, measured scale
#: posture: the fold is ~µs/pair, the matmul amortizes to ~ns/pair)
NEAR_DUP_MATMUL_MIN_BLOCK = 1024


def near_dup_kernel(max_block_rows: int) -> str:
    """Self-sizing kernel rule (the ``srp_auto_band_bits`` pattern): pure
    function of the largest block's cardinality, so tests pin the policy
    and deployments can decide from table stats without a scan."""
    return "matmul" if max_block_rows >= NEAR_DUP_MATMUL_MIN_BLOCK else "fold"


def near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.3,
    block_col: str = "label",
    kernel: str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north-star dedup op): block on
    ``block_col`` (a cluster/partition id — at scale an IVF/LSH bucket), then
    exact cosine within each block, keeping (a_id < b_id, cos >= threshold).

    The block join is the scale move: an all-pairs cosine over N vectors is
    N², but blocked pairs shuffle on the block key and compare only within
    buckets — the same partitioning IVF search uses. Dedup consumption:
    ``b_id`` is the dropped duplicate (keep-lowest-id representative).

    ``kernel`` picks the score engine: ``"fold"`` (JVM higher-order fold —
    wins on small blocks, zero Python), ``"matmul"`` (one numpy matmul per
    block via applyInPandas — wins past ~10³ vectors/block), or ``"auto"``
    (default): one count aggregate over the block keys decides via
    ``near_dup_kernel`` — trivially cheap next to the pair join it sizes;
    a metastore deployment reads the same number from table stats. Both
    kernels share the round-6 output contract (equivalence pinned by
    test_near_dup_matmul_equals_fold)."""
    if kernel == "auto":
        mx = (
            vectors.groupBy(block_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
        kernel = near_dup_kernel(int(mx or 0))
    if kernel == "matmul":
        return near_dup_pairs_matmul(vectors, threshold=threshold, block_col=block_col)
    if kernel != "fold":
        raise ValueError(f"unknown near-dup kernel {kernel!r}")
    v = with_norm(vectors)
    a = v.select(
        F.col(block_col).alias("block"),
        F.col("vec_id").alias("a_id"), F.col("vec").alias("a_vec"), F.col("norm").alias("a_norm"),
    )
    b = v.select(
        F.col(block_col).alias("block"),
        F.col("vec_id").alias("b_id"), F.col("vec").alias("b_vec"), F.col("norm").alias("b_norm"),
    )
    return (
        a.join(b, "block")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", cosine(F.col("a_vec"), F.col("a_norm"), F.col("b_vec"), F.col("b_norm")))
        .where(F.col("cos") >= threshold)
        .select("block", "a_id", "b_id", "cos")
    )


def near_dup_pairs_matmul(
    vectors: DataFrame, threshold: float = 0.3, block_col: str = "label"
) -> DataFrame:
    """``near_dup_pairs`` with a vectorized score kernel: same blocking and
    shuffle (one hash partition on the block key), but each block's pairwise
    cosines are ONE numpy matmul inside ``applyInPandas`` instead of an
    interpreted fold per pair — the kernel to swap in when blocks grow past
    ~10³ vectors (SCALE.md known-costs item). Arrow moves each block's
    matrix across the boundary once.

    Same output contract as near_dup_pairs (a_id < b_id, round(cos,6) >=
    threshold); BLAS accumulation order can differ from the fold at the
    1e-15 scale, invisible at 6-decimal rounding (equivalence pinned by
    test)."""
    thr = float(threshold)

    def per_block(pdf):
        import numpy as np
        import pandas as pd

        X = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids, X = ids[order], X[order]
        norms = np.sqrt((X * X).sum(axis=1))
        S = np.round((X @ X.T) / np.outer(norms, norms), 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= thr
        return pd.DataFrame(
            {
                "block": pdf["block"].iloc[0],
                "a_id": ids[iu[keep]],
                "b_id": ids[ju[keep]],
                "cos": S[iu, ju][keep],
            }
        )

    blocks = vectors.select(
        F.col(block_col).cast("bigint").alias("block"), "vec_id", "vec"
    )
    return blocks.groupBy("block").applyInPandas(
        per_block, "block bigint, a_id bigint, b_id bigint, cos double"
    )


def broadcast_cosine_hits(
    vectors: DataFrame, fixed_vecs: list, threshold: float
) -> DataFrame:
    """Per-vector hit statistics against a FIXED small matrix: for each
    input row, how many of ``fixed_vecs`` score round(cos, 6) >=
    ``threshold``, and the max such cosine — rows with zero hits are
    dropped. The vectorized twin of a broadcast nested-loop cosine join
    (the embed_decontaminate hot path): the fixed matrix rides the task
    closure, and each Arrow batch scores as ONE numpy matmul
    instead of an interpreted per-pair fold — the same kernel swap
    near_dup_pairs_matmul applies past ~10³-vector blocks. BLAS
    accumulation order can differ from the fold at the 1e-15 scale,
    invisible at 6-decimal rounding (same argument, pinned by the
    decontamination parity gate). Input needs (vec_id, label, vec);
    output (vec_id, label, hit_ct, max_cos)."""
    import numpy as np

    out_schema = "vec_id bigint, label int, hit_ct bigint, max_cos double"
    src = vectors.select("vec_id", "label", "vec")
    if not fixed_vecs:
        return src.sparkSession.createDataFrame([], out_schema)
    E = np.vstack([np.asarray(v, dtype=np.float64) for v in fixed_vecs])
    en = np.sqrt((E * E).sum(axis=1))
    thr = float(threshold)

    def per_batch(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            xn = np.sqrt((X * X).sum(axis=1))
            S = np.round((X @ E.T) / np.outer(xn, en), 6)
            M = S >= thr
            hit_ct = M.sum(axis=1)
            keep = hit_ct > 0
            if not keep.any():
                continue
            mx = np.where(M, S, -np.inf).max(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "label": pdf["label"].to_numpy()[keep],
                    "hit_ct": hit_ct[keep],
                    "max_cos": mx[keep],
                }
            )

    return src.mapInPandas(per_batch, out_schema)


def ivf_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (broadcast argmax; ties -> lowest id)."""
    c = with_norm(centroids).select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"), F.col("norm").alias("c_norm")
    )
    v = with_norm(vectors)
    scored = v.join(F.broadcast(c), how="cross").withColumn(
        "cos", cosine(F.col("vec"), F.col("norm"), F.col("c_vec"), F.col("c_norm"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "vec", "norm", F.col("c_id").alias("cluster"))
    )


#: centroid quantization scale for the deterministic k-means update
KMEANS_Q = 1_000_000


def quantized_mean(
    dims: DataFrame,
    keys: list[str],
    out_col: str = "vec",
    count_col: str | None = None,
) -> DataFrame:
    """Element-wise quantized-sum mean per key group, rebuilt as an array:
    (keys..., pos, x) -> (keys..., out_col). The ONE implementation of the
    order-independence contract both trainers share (IVF centroids keyed on
    cluster, PQ codebooks keyed on (sub, code)): components round to int64
    at KMEANS_Q granularity before the per-group sum, floor(s/ct) is
    double-exact, so the mean is independent of partition/accumulation
    order — what makes iterative FP training bit-reproducible across
    cluster layouts and oracle-checkable."""
    means = (
        dims.groupBy(*keys, "pos")
        .agg(
            F.sum(F.round(F.col("x") * KMEANS_Q).cast("bigint")).alias("s"),
            F.count(F.lit(1)).alias("ct"),
        )
        .withColumn("m", F.floor(F.col("s") / F.col("ct")) / F.lit(float(KMEANS_Q)))
    )
    aggs = [
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias(out_col)
    ]
    if count_col is not None:
        # group size for free (valid because every member vector carries
        # every position — fixed-dim inputs, which all callers have):
        # ct is constant across a group's pos rows
        aggs.append(F.max("ct").alias(count_col))
    return means.groupBy(*keys).agg(*aggs)


def kmeans_refine(vectors: DataFrame, centroids: DataFrame, iterations: int = 1) -> DataFrame:
    """Lloyd's k-means refinement over the embedding column — the iterative
    shape IVF training needs, in pure DataFrame ops (no MLlib, no driver
    loops over data): assign (broadcast argmax) → new centroid = per-cluster
    element-wise mean (posexplode → groupBy(cluster, pos) → rebuild array).
    Each iteration is one shuffle on (cluster, pos); vectors stay
    distributed throughout.

    The mean is the QUANTIZED-SUM mean ``floor(sum(round(x*Q)) / ct) / Q``
    (Q = 1e6): components round to integers before the per-cluster sum, so
    the update is independent of partition/accumulation order — a plain
    double ``avg`` drifts in the last bits when the shuffle order changes,
    making training non-reproducible across cluster layouts (and
    non-oracle-checkable). The int64 sum is exact (|x| ~ 1 → |xq| ~ 1e6,
    safe to ~9e12 members per cluster), floor(s/ct) is double-exact because
    the true fraction is >= 1/ct away from the floor boundary, and the 1e-6
    centroid granularity is far below any IVF assignment boundary that
    matters.

    Returns the refined centroids as (cluster, vec)."""
    cents = with_norm(centroids).select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"), F.col("norm").alias("c_norm")
    )
    for _ in range(iterations):
        assigned = ivf_assign(
            vectors,
            cents.select(
                F.col("c_id").alias("vec_id"), F.col("c_vec").alias("vec")
            ),
        )
        rebuilt = quantized_mean(
            assigned.select("cluster", F.posexplode("vec").alias("pos", "x")),
            ["cluster"],
            out_col="vec",
        )
        cents = with_norm(rebuilt, "vec").select(
            F.col("cluster").alias("c_id"), F.col("vec").alias("c_vec"), F.col("norm").alias("c_norm")
        )
    return cents.select(F.col("c_id").alias("cluster"), F.col("c_vec").alias("vec"))


def ivf_probes(queries: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Top-``nprobe`` nearest centroids per query (broadcast argmax top-n) —
    the multi-probe half of IVF search: more probes buy recall at the cost
    of scanning more inverted lists. Returns one row per (query, probe):
    (q_id, q_vec, q_norm, probe_cluster)."""
    c = with_norm(centroids).select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"), F.col("norm").alias("c_norm")
    )
    q = with_norm(queries)
    scored = q.join(F.broadcast(c), how="cross").withColumn(
        "pcos", cosine(F.col("vec"), F.col("norm"), F.col("c_vec"), F.col("c_norm"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("pcos"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= nprobe)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("norm").alias("q_norm"),
            F.col("c_id").alias("probe_cluster"),
        )
    )


def ivf_topk_multiprobe(
    assigned: DataFrame, queries: DataFrame, centroids: DataFrame, nprobe: int, k: int
) -> DataFrame:
    """Multi-probe IVF top-k: search the union of the query's ``nprobe``
    nearest clusters. ``assigned`` is the ivf_assign output (each vector in
    exactly one cluster, so no candidate is scored twice). The probe set is
    a broadcast — at scale the cluster id is the table's partition key and
    each probe is a partition-pruned scan."""
    scored = (
        assigned.join(
            F.broadcast(ivf_probes(queries, centroids, nprobe)),
            F.col("cluster") == F.col("probe_cluster"),
        )
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos", cosine(F.col("q_vec"), F.col("q_norm"), F.col("vec"), F.col("norm"))
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rk", "cos")
    )


# ---------------------------------------------------------------- SRP-LSH

def srp_auto_band_bits(n_vectors: int, n_planes: int = 96) -> int:
    """Self-size the SRP band width from the corpus size — the knob the
    operator contract (SCALE.md) used to leave manual. Picks the smallest
    divisor of ``n_planes`` with ``2^bits >= 2 * n_vectors`` (bucket-key
    space at least twice the corpus, so expected bucket occupancy stays
    O(1) per band), keeping at least 2 bands for recall. Mis-sizing is the
    one way this family degenerates (4-bit bands at 2 000 vectors = 3M
    candidate pairs vs ~4k at 12-bit), so growth is automatic: 500 vectors
    -> 12 bits, 20 000 -> 16, 10^9 -> 32. Corpora big enough to exhaust
    ``n_planes / 2`` bits should raise ``n_planes`` as well (more planes =
    more bands = recall), which remains an explicit choice."""
    import math

    divisors = [
        d for d in range(1, n_planes // 2 + 1) if n_planes % d == 0
    ]
    need = max(1, math.ceil(math.log2(max(2, 2 * n_vectors))))
    for d in divisors:
        if d >= need:
            return d
    return divisors[-1]


def srp_planes(n_planes: int, dim: int, salt: str = "srp") -> list[list[int]]:
    """Deterministic ±1 random-hyperplane matrix (signed random projections,
    Charikar cosine-LSH). Each weight's sign is the parity of
    md5("{salt}p{plane}d{dim}") — computed driver-side once, so the Spark
    plan and the DuckDB oracle share the exact same literal hyperplanes and
    the construction is reproducible across cluster layouts."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{salt}p{p}d{d}".encode()).hexdigest(), 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_signature(
    vectors: DataFrame,
    n_planes: int = 96,
    band_bits: int = 12,
    dim: int = 64,
    vec: str = "vec",
) -> DataFrame:
    """One row per (vector, band): ``band`` id and the band's packed sign
    bits ``bval``. Each projection is ``_dot(vec, <literal ±1 array>)`` —
    the same left-fold aggregate that is bit-identical to DuckDB's
    ``list_dot_product`` everywhere else in this module, and the literal
    array keeps the expression tree CONSTANT-size per plane (a ±-chain of
    dim terms per plane blows janino's method limit at ~96 planes and
    falls back to slow interpreted eval). Entirely map-side — no shuffle.

    Sizing contract (the scale lever): 2^band_bits is the bucket-key space
    per band. band_bits must grow with the corpus so expected bucket
    occupancy stays O(1) — 12 bits is right for 10^3-10^5 vectors; a
    100 TB corpus wants 16-20 bits (and more planes). With too-few bits
    the bucket join degenerates quadratically (measured: 4-bit bands at
    2 000 vectors = 3M candidate pairs, 47 s; 12-bit = ~4 k pairs)."""
    if n_planes % band_bits:
        raise ValueError(f"{n_planes=} must be a multiple of {band_bits=}")
    planes = srp_planes(n_planes, dim)
    bits = [
        F.when(
            _dot(F.col(vec), F.array(*[F.lit(float(w)) for w in pl])) > 0, 1
        ).otherwise(0)
        for pl in planes
    ]
    sig = vectors
    n_bands = n_planes // band_bits
    band_cols = []
    for b in range(n_bands):
        val = F.lit(0)
        for i in range(band_bits):
            val = val + bits[b * band_bits + i] * F.lit(2 ** (band_bits - 1 - i))
        band_cols.append(F.struct(F.lit(b).alias("band"), val.alias("bval")))
    return (
        sig.withColumn("_bands", F.array(*band_cols))
        .select("*", F.explode("_bands").alias("_b"))
        .select(
            *[c for c in vectors.columns],
            F.col("_b.band").alias("band"),
            F.col("_b.bval").alias("bval"),
        )
    )


def srp_near_dup(
    vectors: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 96,
    band_bits: int | None = None,
    dim: int = 64,
    fast: bool = True,
) -> DataFrame:
    """Embedding near-dup via SRP-LSH banding: vectors sharing any band
    bucket become candidate pairs; candidates are verified with the exact
    (portable-fold) cosine and kept at ``cos >= threshold``. Complements
    the IVF-blocked near_dup_pairs: SRP needs no trained centroids and its
    recall is tuned by (n_planes, band_bits) instead of nprobe.

    Shuffle shape: the bucket self-join carries IDS ONLY (band, bval,
    vec_id) — vectors re-attach to the deduplicated candidate pairs via
    two co-partitioned id joins, so the wide embedding column never rides
    the bucket shuffle or the pair dedup. ``fast`` picks the signature
    kernel: the numpy-matmul mapInPandas twin (default; bucket-identical
    to the portable path, pinned by test) or the portable fold the DuckDB
    oracle mirrors.

    ``band_bits=None`` (default) self-sizes the band width from the vector
    count via ``srp_auto_band_bits`` — one cheap count() job, the same
    stats-driven move as pack-shard sizing; pass an explicit value to pin
    the construction (the oracle-checked queries do, so their DuckDB twin
    mirrors the exact banding)."""
    if band_bits is None:
        band_bits = srp_auto_band_bits(vectors.count(), n_planes)
    sig_fn = srp_signature_fast if fast else _srp_signature_ids
    sig = sig_fn(vectors, n_planes, band_bits, dim)
    a = sig.select("band", "bval", F.col("vec_id").alias("a_id"))
    b = sig.select("band", "bval", F.col("vec_id").alias("b_id"))
    cand = (
        a.join(b, ["band", "bval"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    v = with_norm(vectors).select("vec_id", "vec", "norm")
    va = v.select(
        F.col("vec_id").alias("a_id"),
        F.col("vec").alias("a_vec"),
        F.col("norm").alias("a_norm"),
    )
    vb = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("vec").alias("b_vec"),
        F.col("norm").alias("b_norm"),
    )
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn(
            "cos",
            cosine(F.col("a_vec"), F.col("a_norm"), F.col("b_vec"), F.col("b_norm")),
        )
        .where(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def _srp_signature_ids(
    vectors: DataFrame, n_planes: int, band_bits: int, dim: int
) -> DataFrame:
    return srp_signature(vectors, n_planes, band_bits, dim).select(
        "vec_id", "band", "bval"
    )


#: margin below which a matmul projection's sign is re-decided by the
#: portable fold: ±1 weights over ~64 O(1) components accumulate at most
#: ~dim·ulp ≈ 1e-14 of reordering noise, so 1e-9 catches every possible
#: divergence while flagging only genuinely-near-orthogonal pairs.
_SRP_EPS = 1e-9


def srp_signature_fast(
    vectors: DataFrame,
    n_planes: int = 96,
    band_bits: int = 12,
    dim: int = 64,
    vec: str = "vec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vectorized production twin of srp_signature: one numpy matmul per
    Arrow batch via mapInPandas (sig = V @ W.T > 0, then band packing) —
    orders of magnitude less per-row overhead than the 96 portable
    left-fold aggregates (6.5× end-to-end at sf0.1). Numpy's pairwise
    summation could flip the sign of a projection within FP noise of zero
    vs the portable fold, so any projection with |dot| < _SRP_EPS is
    recomputed with the exact sequential left-fold the portable path (and
    the DuckDB oracle) uses — sign-zero cases are decided by the portable
    arithmetic, not the matmul, making the kernels equal by construction
    rather than only on the gate's testdata (r04 ADVICE). The flagged set
    is FP-noise-rare, so the scalar recompute costs nothing measurable;
    bucket equality is additionally pinned by
    tests/test_operators.py::test_srp_fast_matches_portable."""
    import numpy as np
    import pandas as pd

    if n_planes % band_bits:
        raise ValueError(f"{n_planes=} must be a multiple of {band_bits=}")
    planes = srp_planes(n_planes, dim)
    n_bands = n_planes // band_bits
    w_t = [[float(pl[d]) for pl in planes] for d in range(dim)]  # dim x planes
    pack = [2 ** (band_bits - 1 - i) for i in range(band_bits)]

    def gen(batches):
        wt = np.asarray(w_t)  # dim x planes
        pk = np.asarray(pack)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec].to_numpy())  # n x dim
            proj = v @ wt  # n x planes
            # projections within FP noise of zero: decide the sign with the
            # portable sequential left-fold (acc = 0.0; acc += x*y in index
            # order) so the fast kernel can't diverge from the oracle path
            near = np.abs(proj) < _SRP_EPS
            if near.any():
                for i, p in zip(*np.nonzero(near)):
                    acc = 0.0
                    for d_ in range(v.shape[1]):
                        acc += float(v[i, d_]) * wt[d_, p]
                    proj[i, p] = acc
            bits = proj > 0  # n x planes
            out = []
            for b in range(n_bands):
                seg = bits[:, b * band_bits : (b + 1) * band_bits]
                bval = seg @ pk
                out.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "band": b,
                            "bval": bval.astype("int32"),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return vectors.select(id_col, vec).mapInPandas(
        gen, schema=f"{id_col} long, band int, bval int"
    )


# ------------------------------------------------------------------ PQ/ADC

#: ADC partial-score quantization scale: each (query, subspace, code) inner
#: product rounds to an int64 of 1e-6 granularity BEFORE the cross-subspace
#: sum, so the total is an exact integer — FP accumulation order can never
#: reorder two candidates between engines or cluster layouts.
PQ_SCALE = 1_000_000


def pq_subvectors(vectors: DataFrame, m: int, d_sub: int) -> DataFrame:
    """Split each vector into ``m`` contiguous ``d_sub``-dim subvectors:
    (vec_id, sub, svec) long format via one slice array + posexplode
    (map-side; no shuffle)."""
    slices = F.array(*[F.slice("vec", s * d_sub + 1, d_sub) for s in range(m)])
    return vectors.select("vec_id", F.posexplode(slices).alias("sub", "svec"))


def _l2sq(a, b):
    """Squared L2 distance rounded to 6 dp, written as the fixed-order
    expression (dot(a,a) - 2*dot(a,b)) + dot(b,b) so Spark's left fold and
    DuckDB's list_dot_product agree bit-for-bit before the round."""
    return F.round(_dot(a, a) - 2 * _dot(a, b) + _dot(b, b), 6)


def pq_assign(subv: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest code per (vec_id, sub) under squared L2 (ties -> lowest
    code). The argmin is min(struct(dist, code)) — an ordinary aggregate
    with map-side partials, NOT a window: nothing sorts the ksub-wide
    candidate fan-out, each partition reduces it locally. Returns
    (vec_id, sub, code, svec)."""
    scored = subv.join(F.broadcast(books), "sub").select(
        "vec_id",
        "sub",
        "svec",
        _l2sq(F.col("svec"), F.col("cvec")).alias("dist"),
        "code",
    )
    best = scored.groupBy("vec_id", "sub").agg(
        F.min(F.struct("dist", "code")).alias("best"),
        # svec is constant within the group (one subvector per key)
        F.any_value("svec").alias("svec"),
    )
    return best.select("vec_id", "sub", F.col("best.code").alias("code"), "svec")


def pq_train(
    vectors: DataFrame, m: int, d_sub: int, ksub: int, iterations: int = 1
) -> DataFrame:
    """Product-quantization codebook training: seed each subspace's
    codebook with the ``ksub`` SMALLEST vec_ids' subvectors (a TakeOrdered
    cut + broadcast join — id-layout-proof, so sparse or offset id spaces
    still seed a full codebook; on contiguous 0-based ids this picks
    exactly ids 0..ksub-1, which is what the DuckDB twins mirror), then
    run Lloyd iterations with the quantized-sum mean (same
    order-independence contract as kmeans_refine — int64 component sums at
    1e-6 granularity, so training is bit-reproducible across partitionings
    and the whole construction is oracle-checkable). A code that loses all
    members in an iteration simply drops out of the codebook (standard
    empty-cluster behavior; the oracle mirrors it). Returns
    (sub, code, cvec)."""
    subv = pq_subvectors(vectors, m, d_sub)
    seed_ids = vectors.select("vec_id").orderBy("vec_id").limit(ksub)
    books = subv.join(F.broadcast(seed_ids), "vec_id").select(
        "sub", F.col("vec_id").alias("code"), F.col("svec").alias("cvec")
    )
    for _ in range(iterations):
        assigned = pq_assign(subv, books)
        books = quantized_mean(
            assigned.select("sub", "code", F.posexplode("svec").alias("pos", "x")),
            ["sub", "code"],
            out_col="cvec",
        )
    return books


def pq_encode(vectors: DataFrame, books: DataFrame, m: int, d_sub: int) -> DataFrame:
    """Encode every vector as m one-byte-ish codes: (vec_id, sub, code).
    This is the 100 TB payoff: the serving index stores m small ints per
    vector (m*log2(ksub) bits) instead of 4*dim bytes — a 64-dim float
    table compresses ~64x and the ADC scan never touches the raw
    vectors."""
    return pq_assign(pq_subvectors(vectors, m, d_sub), books).select(
        "vec_id", "sub", "code"
    )


def adc_lut(queries: DataFrame, books: DataFrame, m: int, d_sub: int) -> DataFrame:
    """Per-query ADC lookup table: (q_id, sub, code, part_e6) — each
    partial inner product rounds to int64 at PQ_SCALE granularity, so any
    downstream sum of a candidate's m partials is exact. m*ksub rows per
    query: always broadcastable."""
    qsub = pq_subvectors(queries, m, d_sub).select(
        F.col("vec_id").alias("q_id"), "sub", F.col("svec").alias("qvec")
    )
    return qsub.join(F.broadcast(books), "sub").select(
        "q_id",
        "sub",
        "code",
        F.round(_dot(F.col("qvec"), F.col("cvec")) * PQ_SCALE)
        .cast("bigint")
        .alias("part_e6"),
    )


def adc_rank(parts: DataFrame, m: int, k: int) -> DataFrame:
    """Rank ADC candidates from their (q_id, vec_id, part_e6) partial rows:
    sum each candidate's m integer partials, drop candidates missing any
    subspace partial (a missing row would silently deflate the score),
    top-k per query (ties -> lowest id). The ONE scoring contract shared
    by the batch query (pq_adc_topk) and the streamed-index read path
    (sinks/pq_sink.py::ivfpq_search) — PQ_SCALE, the all-m-partials guard,
    and the tie-break can never diverge between them. Returns
    (q_id, neighbor_id, rk, adc_e6)."""
    scored = (
        parts.groupBy("q_id", "vec_id")
        .agg(F.sum("part_e6").alias("adc_e6"), F.count(F.lit(1)).alias("m_ct"))
        .where(F.col("m_ct") == m)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("adc_e6"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rk", "adc_e6")
    )


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    books: DataFrame,
    m: int,
    d_sub: int,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k by inner product: each query builds
    a tiny (sub, code) -> partial-IP lookup table against the codebooks
    (adc_lut, broadcast), every encoded vector is a candidate, and a
    candidate's score is the exact integer sum of its m quantized partials
    (adc_rank). The scan side reads ONLY the code table — never the raw
    vectors — and the per-candidate work is m lookups, which is why PQ
    serves ANN at scales where even the IVF probe's float math is the
    bottleneck (IVF-PQ composes the two: this scan inside each probed
    partition). Returns (q_id, neighbor_id, rk, adc_e6)."""
    codes = pq_encode(vectors, books, m, d_sub)
    lut = adc_lut(queries, books, m, d_sub)
    parts = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "part_e6")
    )
    return adc_rank(parts, m, k)
