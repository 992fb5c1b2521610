"""Large-scale document deduplication (BASELINE north-star ops).

Four families, all built from declarative DataFrame ops with the portable
md5-based hash (functions/text.md5_long), so every stage is oracle-checkable
and shuffle-aware:

  exact        hash-groupBy on a fingerprint (one shuffle on the hash)
  minhash-LSH  shingle→minhash→band→bucket-join: candidate generation is
               a groupBy on (band, signature) — near-dup search without a
               quadratic cross join; the classic MMDS ch.3 construction
  ngram        inverted-index join on shingles; exact jaccard via integer
               arithmetic (no FP thresholds)
  simhash      per-bit signed tally from the bits of one token hash →
               16-bit signature in a single groupBy pass

Scale posture: everything is groupBy/join on hash keys. At 100 TB the
minhash path is the one that matters: its cost is O(docs × shingles × k)
map-side plus one shuffle per stage; candidate verification touches only
bucket-colliding pairs. No stage collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_spark.functions.text import md5_long, tokenize


def doc_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    spread_input: bool = True,
) -> DataFrame:
    # spread first: the shingle/token explodes and their md5 hashing fuse
    # onto the scan stage, and the single-row-group test parquet plans that
    # scan as ONE task (sources/tables.py::spread — no-op on wide scans).
    # ``spread_input=False`` opts out for latency-sensitive callers whose
    # input is small by construction (streaming micro-batches: an exchange
    # per batch buys nothing when the batch is a few files of text).
    if spread_input:
        from gmall_flink_spark.sources.tables import spread

        docs = spread(docs, id_col)
    return docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks"))


def shingles_from_tokens(toked: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles from a pre-tokenized ``(doc_id, toks)``
    frame — the map-side half of ``word_shingles``, split out so callers
    holding a shared/checkpointed token stage (queries/llm_dedup._doc_toks)
    can derive shingles without re-scanning and re-tokenizing the corpus."""
    sh = F.transform(
        F.sequence(F.lit(0), F.size("toks") - n),
        lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
    )
    return (
        toked.where(F.size("toks") >= n)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (exploded)."""
    return shingles_from_tokens(doc_tokens(docs), n)


def distinct_tokens(docs: DataFrame, spread_input: bool = True) -> DataFrame:
    return doc_tokens(docs, spread_input=spread_input).select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("shingle")
    )


#: modulus for the affine minhash family (prime, < 2^31 so every affine
#: product stays far inside int64 in both engines)
MINHASH_P = 1_000_000_007


def minhash_seed_hash(base: F.Column, seed: int) -> F.Column:
    """Universal-hash family member: h_s(x) = ((2s+1)·h(x) + s² + 7) mod P.
    One md5 per shingle feeds all k minhashes (the standard affine trick —
    k independent hashes without k hash computations)."""
    return ((2 * seed + 1) * base + (seed * seed + 7)) % MINHASH_P


def minhash_matrix(
    units: DataFrame, k: int = 12, extra_aggs: tuple = ()
) -> DataFrame:
    """The WIDE per-doc minhash matrix: one row per doc with columns
    ``_m0.._m{k-1}``. ``units`` = (doc_id, shingle) exploded frame.

    One-pass form: the shingle is md5-hashed ONCE, the k seeded variants are
    affine transforms of that base (minhash_seed_hash), and all k mins are
    aggregates of a single groupBy(doc_id) (map-side partials, ONE shuffle
    of k-column doc rows). This wide row is the canonical signature store:
    banding at ANY rows-per-band is a map-only projection of it
    (``matrix_bands``), so multi-width pipelines (two-level LSH) pay the
    signature shuffle once, not once per width.

    ``extra_aggs``: additional per-doc aggregates (over ``shingle`` or
    ``_h``) to ride the SAME groupBy — e.g. the unit count and the
    token-set fingerprint, so signature store + sizes + exact pre-pass
    share one exchange of the unit frame (guide §2.4). Unused input
    columns are pruned by Catalyst, so the bare-matrix call plans
    identically."""
    hashed = units.select(
        "doc_id", "shingle", (md5_long(F.col("shingle")) % MINHASH_P).alias("_h")
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(minhash_seed_hash(F.col("_h"), s)).alias(f"_m{s}") for s in range(k)],
        *extra_aggs,
    )


def matrix_k(matrix: DataFrame) -> int:
    """Number of minhash functions in a ``minhash_matrix`` frame."""
    return sum(1 for c in matrix.columns if c.startswith("_m"))


def minhash_signatures(units: DataFrame, k: int = 12) -> DataFrame:
    """Long-format (doc_id, seed, mh) signatures: the ``minhash_matrix``
    wide row exploded. Kept for callers that want the relational form;
    banding pipelines should band the matrix directly (``matrix_bands``)."""
    mins = minhash_matrix(units, k)
    pairs = F.array(
        *[
            F.struct(F.lit(s).cast("int").alias("seed"), F.col(f"_m{s}").alias("mh"))
            for s in range(k)
        ]
    )
    return mins.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.seed").alias("seed"), F.col("p.mh").alias("mh")
    )


def lsh_bands(signatures: DataFrame, rows_per_band: int) -> DataFrame:
    """Band the signature matrix: band signature = the band's minhashes in
    seed order, joined into one string key."""
    banded = signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("bigint"))
    sig = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seed", "mh"))),
            lambda s: s["mh"].cast("string"),
        ),
        ",",
    )
    return banded.groupBy("doc_id", "band").agg(sig.alias("band_sig"))


def matrix_bands(matrix: DataFrame, rows_per_band: int) -> DataFrame:
    """Band the WIDE signature matrix (``minhash_matrix``) — byte-identical
    output to ``lsh_bands(minhash_signatures(...), rows_per_band)`` (pinned
    by test_matrix_bands_equals_lsh_bands) with ZERO shuffles: each band
    signature is a concat of the per-doc row's own columns, then one
    explode. A trailing partial band (k not divisible by rows_per_band)
    keeps whatever seeds remain, exactly like the long-form banding."""
    k = matrix_k(matrix)
    structs = []
    for band in range((k + rows_per_band - 1) // rows_per_band):
        seeds = range(band * rows_per_band, min((band + 1) * rows_per_band, k))
        sig = F.concat_ws(",", *[F.col(f"_m{s}").cast("string") for s in seeds])
        structs.append(
            F.struct(
                F.lit(band).cast("bigint").alias("band"), sig.alias("band_sig")
            )
        )
    return matrix.select("doc_id", F.explode(F.array(*structs)).alias("p")).select(
        "doc_id", F.col("p.band").alias("band"), F.col("p.band_sig").alias("band_sig")
    )


def lsh_candidates(
    bands: DataFrame, max_bucket: int | None = None, oversize: str = "drop"
) -> DataFrame:
    """Distinct candidate pairs: docs sharing any band bucket.

    ``max_bucket`` is the degenerate-bucket guard (essential at 100 TB): a
    band signature shared by B docs yields B²/2 pairs — at sf0.1 sixteen
    >200-member buckets hold 15.2M of 15.3M raw pairs. ``oversize`` picks
    what happens to buckets above the cap:

    * ``"drop"`` — skip them entirely (classic LSH practice when oversized
      buckets are stop-vocabulary collisions). CAVEAT this corpus exposed
      (see lsh_recall_audit): when a genuine near-dup FAMILY is larger
      than the cap, every one of its band buckets is oversized, so drop
      mode loses the whole family (pair recall collapses to the sub-cap
      clusters).
    * ``"star"`` — replace the B²/2 within-bucket pairs with B star edges
      to the bucket's smallest doc_id. Linear in bucket size, still
      verified downstream, and it preserves CONNECTIVITY: a homogeneous
      family stays one connected component through its representative, so
      clustering-grade dedup recovers the family at O(B) cost. Pair-level
      listings remain a subset of the true pair set (documented).
    """
    if oversize not in ("drop", "star"):
        raise ValueError(f"unknown oversize mode {oversize!r}")
    if max_bucket is not None:
        stats = bands.groupBy("band", "band_sig").agg(
            F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_rep")
        )
        small = bands.join(
            stats.where(F.col("_n") <= max_bucket).select("band", "band_sig"),
            ["band", "band_sig"],
        )
        star = None
        if oversize == "star":
            big = stats.where(F.col("_n") > max_bucket).select(
                "band", "band_sig", "_rep"
            )
            star = (
                bands.join(big, ["band", "band_sig"])
                .where(F.col("doc_id") != F.col("_rep"))
                .select(
                    F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
                )
            )
        bands = small
    else:
        star = None
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if star is not None:
        # star reps are bucket minima, so doc_a < doc_b holds there too
        pairs = pairs.unionAll(star)
    return pairs.distinct()


def lsh_candidates_two_level(
    matrix: DataFrame,
    rows_per_band: int,
    fine_rows_per_band: int,
    max_bucket: int,
    oversize_fine: str = "drop",
) -> DataFrame:
    """Two-level LSH candidate generation — the bounded-cost answer to
    heterogeneous mega-buckets (the regime lsh_recall_audit exposed:
    low-entropy vocabularies collapse most docs into a few giant coarse
    buckets, and a flat cap then loses every family buried inside them).

    Level 1: band ``matrix`` (the WIDE ``minhash_matrix`` frame) at
    ``rows_per_band``; buckets <= ``max_bucket`` pair all-vs-all as usual.
    Level 2: docs from OVER-cap coarse buckets are re-banded at
    ``fine_rows_per_band`` (more rows per band = higher signature entropy =
    smaller buckets) and pair within fine buckets under the same cap.
    ``oversize_fine`` picks what happens to fine buckets STILL over the
    cap: ``"drop"`` loses them (the r6-r13 residual), ``"star"`` replaces
    the B²/2 within-bucket pairs with B-1 hub edges to the bucket's
    smallest doc_id (the lsh_candidates star semantics) — linear cost,
    still exact-verified downstream, and it preserves family CONNECTIVITY:
    a homogeneous near-dup family larger than any cap reassembles into one
    component through its hub, which is what every component-graph
    consumer (rep-select, loss weights, dup rates, datasheet) actually
    needs. Pair-level listings under star remain a subset of the true
    pair set (lsh_recall_audit measures the gap).

    Recall at j: per coarse band j^rows, per fine band j^fine_rows — at
    j=0.9 with 3-row coarse / 6-row fine bands, a family in a mega-bucket
    retains 1-(1-0.9^6)^bands_fine ≈ 0.78 pair recall instead of 0.

    Cost stays bounded, and the shuffle budget is FOUR (r6 shape was ~8):
    both bandings are MAP-ONLY projections of the one matrix
    (``matrix_bands`` — the signature shuffle is paid once, by whoever
    built the matrix); per level, ONE exchange on (band, band_sig) serves
    both the window bucket-count and the pair expansion (the groupBy that
    follows the window is already partitioned on its keys); the fine
    banding joins the over-cap doc list BEFORE banding, so level 2
    genuinely touches only mega-bucket members. Pair expansion collects a
    bucket's member array ONLY for sub-cap buckets (array size <= cap by
    the window filter — never a mega-bucket materialization) and explodes
    the C(n,2) combinations map-side."""
    if oversize_fine not in ("drop", "star"):
        raise ValueError(f"unknown oversize_fine mode {oversize_fine!r}")
    coarse = _bucket_counted(matrix_bands(matrix, rows_per_band))
    refined_docs = (
        coarse.where(F.col("_n") > max_bucket).select("doc_id").distinct()
    )
    fine = _bucket_counted(
        matrix_bands(matrix.join(refined_docs, "doc_id"), fine_rows_per_band)
    )
    pairs = _capped_bucket_pairs(coarse, max_bucket).unionAll(
        _capped_bucket_pairs(fine, max_bucket)
    )
    if oversize_fine == "star":
        from pyspark.sql import Window

        # hub = bucket min doc_id via a window min — rides the SAME
        # (band, band_sig) exchange _bucket_counted already planned, so
        # star mode adds zero extra shuffles; doc_a < doc_b holds because
        # the hub is the bucket minimum
        w = Window.partitionBy("band", "band_sig")
        star = (
            fine.where(F.col("_n") > max_bucket)
            .withColumn("_rep", F.min("doc_id").over(w))
            .where(F.col("doc_id") != F.col("_rep"))
            .select(F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
        pairs = pairs.unionAll(star)
    return pairs.distinct()


def _bucket_counted(bands: DataFrame) -> DataFrame:
    """Per-row bucket size via a window count — ONE exchange on
    (band, band_sig), no stats-table join. Both the sub-cap pair expansion
    and the over-cap doc extraction read the SAME counted frame, so the
    exchange is planned once (ReusedExchange on the second consumer)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_sig")
    return bands.withColumn("_n", F.count(F.lit(1)).over(w))


def _capped_bucket_pairs(counted: DataFrame, max_bucket: int) -> DataFrame:
    """All within-bucket pairs of sub-cap buckets, by cap-bounded array
    collection: the window filter guarantees every collected member array
    has <= max_bucket entries, so the C(n,2) expansion is a map-side
    higher-order-function explode, not a self-join (one exchange total —
    the groupBy rides the window's (band, band_sig) partitioning).
    ``counted`` = a ``_bucket_counted`` frame."""
    grouped = (
        counted.where(F.col("_n") <= max_bucket)
        .groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_m"))
    )
    combos = F.flatten(
        F.transform(
            F.col("_m"),
            lambda x, i: F.transform(
                F.slice(F.col("_m"), i + 2, F.size(F.col("_m"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return grouped.select(F.explode(combos).alias("p")).select("p.doc_a", "p.doc_b")


def containment_scored_pairs(
    units: DataFrame, q: int, scale: int
) -> DataFrame:
    """UNORDERED candidate pairs for the asymmetric set-containment
    threshold |A∩B| >= (q/scale)·|A| — the quote/excerpt duplicate class
    symmetric jaccard misses (a 50-token paragraph inside a 5,000-token
    page has containment 1.0 and jaccard 0.01) — each scored with its
    EXACT intersection. Returns (doc_a < doc_b, inter, na, nb, uni).

    Same prefix-filter soundness argument as the AllPairs jaccard form
    (prefix_filter_candidates), applied one-sided:

    * prefix bound — order the token universe by (df asc, token asc); if
      B contains NONE of A's ``p = n_a - ceil(q*n_a/scale) + 1`` rarest
      tokens, then |A∩B| <= n_a - p < (q/scale)·n_a, so joining A's
      PREFIX against the FULL inverted index of the corpus loses no
      qualifying pair;
    * size bound — |A∩B| <= n_b forces ``scale*n_b >= q*n_a`` (a short
      doc cannot contain a long one), applied per occurrence before the
      distinct.

    Physical form (optimization r14, guide §1.2/§2.3): the token universe
    is DICTIONARY-ENCODED as ``sid`` = row_number by (df asc, token asc) —
    the same global order the prefix bound needs — so (a) each doc's
    prefix is just ``slice(sort_array(sid-set), 1, p)``, replacing the
    per-doc row_number window + df join of the first implementation with
    an array slice over the per-doc sets frame, and (b) the exact
    per-pair intersection is ``size(array_intersect)`` over two
    broadcast-attached sorted INT arrays, replacing the inverted-index
    explode join (which shuffled candidate×shared-token occurrence rows
    into a count aggregation; measured 30-40% slower end-to-end at sf0.1
    where the adversarially dense corpus yields 759k candidates over 31
    distinct shingles). Both forms compute the same exact set
    intersection — output is bit-identical, only the join geometry
    changed.

    Scale: each doc contributes ~n(scale-q)/scale + 1 prefix sids (4 of
    30 at t=0.9) on the probe side; the build side is the full index, so
    bucket cost is Σ over prefix occurrences of df(token) — prefix tokens
    are each doc's RAREST, which is the AllPairs cost bound. Run it on
    the deterministic audit sample for corpus-quadratic-free stats,
    exactly like the sampled exact jaccard graph. The explicit broadcast
    of the per-doc sets frame is bounded by the same sample construction
    (ids + small int arrays, the audit-card premise — the same bound
    embed_decontaminate's protected-split collect relies on); a
    deployment whose audit sample outgrows the broadcast cap would drop
    the hints and let the attach joins shuffle candidate-pair metadata,
    never payloads."""
    from pyspark.sql import Window

    df_tab = units.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    dict_tab = df_tab.select(
        "shingle",
        F.row_number().over(Window.orderBy("_df", "shingle")).alias("sid"),
    )
    # share the encoded index and the per-doc sets across their consumers
    # (optimization r15): ``iu`` feeds the sets aggregation AND the probe
    # side, ``sets`` is referenced FOUR times (prefix slice, the size
    # bound, and both attach joins) — unshared, Catalyst re-plans the
    # dictionary window + collect_set aggregation per reference (the r14
    # plan shows the subtree 4x; 16 consumer shuffles). Lazy
    # localCheckpoints compute each once at first action and stay
    # jobless for plan-only consumers.
    iu = (
        units.join(F.broadcast(dict_tab), "shingle")
        .select("doc_id", "sid")
        .localCheckpoint(eager=False)
    )
    sets = (
        iu.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("sid")).alias("sh"))
        .withColumn("n", F.size("sh"))
        .localCheckpoint(eager=False)
    )
    p = F.col("n") - F.expr(f"(n * {q} + {scale - 1}) div {scale}") + 1
    prefix = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("_na"),
        F.explode(F.slice("sh", F.lit(1), p)).alias("sid"),
    )
    b = iu.select(F.col("doc_id").alias("doc_b"), "sid").join(
        F.broadcast(sets.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("_nb"))),
        "doc_b",
    )
    und = (
        prefix.join(b, "sid")
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (scale * F.col("_nb") >= q * F.col("_na"))
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    return (
        und.join(
            F.broadcast(
                sets.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("sh").alias("_sh_a"),
                    F.col("n").alias("na"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sets.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("sh").alias("_sh_b"),
                    F.col("n").alias("nb"),
                )
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("inter"),
            "na",
            "nb",
        )
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
    )


def prefix_filter_candidates(
    units: DataFrame, q: int, scale: int
) -> DataFrame:
    """EXACT set-similarity candidate generation by prefix filtering (the
    AllPairs construction, Bayardo/Ma/Srikant WWW'07): order the token
    universe globally by (document frequency asc, token asc) and index
    only each doc's PREFIX — its ``n - ceil(q*n/scale) + 1`` rarest
    tokens. Any pair with jaccard >= q/scale must share a prefix token
    (j >= t forces |A∩B| >= t*max(|A|,|B|), which cannot fit in either
    suffix), so the inverted-index join over prefixes alone has 100%
    recall at the threshold — no probabilistic misses, unlike MinHash
    banding (lsh_recall_audit measures exactly that gap on low-entropy
    corpora where minhash signatures collapse).

    Two further LOSSLESS prunes run inside the index join (the PPJoin
    refinements, Xiao et al. WWW'08, applied per shared-token occurrence
    before the distinct):

    * length filter — ``scale*min(na,nb) >= q*max(na,nb)`` (j <= min/max);
    * positional filter — a shared token at ranks (ra, rb) bounds the
      overlap REACHABLE FROM THAT OCCURRENCE ONWARD by
      ``min(na-ra, nb-rb) + 1``, which must reach the required overlap
      ``alpha = ceil(q*(na+nb)/(q+scale))`` (from
      ``i*(q+scale) >= q*(na+nb)``). Completeness holds through the pair's
      FIRST shared prefix token (zero prior matches there, so the bound is
      a true overlap upper bound and a qualifying pair passes); later
      occurrences of the same pair may legitimately FAIL the filter, and
      the trailing ``distinct`` keeps any surviving occurrence. Do NOT
      refactor to dedup pairs before this filter — completeness rests on
      the first-occurrence pass, not on every occurrence passing.

    Scale: each doc contributes ~n/scale*(scale-q)+1 prefix tokens (4 of
    30 at t=0.9); buckets are keyed by each doc's RAREST tokens, so the
    frequency ordering itself is the bucket-size guard (a token appears
    in prefix position only for docs where few rarer tokens exist — the
    classic AllPairs cost argument), and the two prunes cut the pair
    stream before the distinct using only per-row metadata. The rank
    window is per-doc (partitioned, never global); the df table rides a
    shingle-keyed shuffle the verify join needs anyway."""
    from pyspark.sql import Window

    df_tab = units.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    u = units.join(df_tab, "shingle")
    w = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    wn = Window.partitionBy("doc_id")
    ranked = u.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    p = F.col("_n") - F.expr(f"(_n * {q} + {scale - 1}) div {scale}") + 1
    # NOTE (optimization r15, honest negative): checkpointing ``prefix``
    # to share the ranked subtree across the self-join's two sides
    # measured a wash at sf0.1 (3.2 vs 3.2 s over 3 alternating process
    # pairs) — the duplication is only 2x, the rank window is per-doc
    # (parallel, no straggler class), and the input is sample-scoped, so
    # the materialization barrier costs what the saved recompute earns.
    # Contrast containment_scored_pairs above, where the duplication was
    # 4x and included a GLOBAL single-partition window — that one is
    # checkpointed.
    prefix = ranked.where(F.col("_rn") <= p).select("doc_id", "shingle", "_rn", "_n")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "shingle",
        F.col("_rn").alias("_ra"), F.col("_n").alias("_na"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "shingle",
        F.col("_rn").alias("_rb"), F.col("_n").alias("_nb"),
    )
    alpha = F.expr(f"({q} * (_na + _nb) + {q + scale - 1}) div {q + scale}")
    pos_ub = F.least(F.col("_na") - F.col("_ra"), F.col("_nb") - F.col("_rb")) + 1
    return (
        a.join(b, "shingle")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (scale * F.least("_na", "_nb") >= q * F.greatest("_na", "_nb"))
            & (pos_ub >= alpha)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_pairs(
    units: DataFrame,
    pairs: DataFrame | None = None,
    max_df: int | None = None,
    ratio: tuple[int, int] | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact jaccard for doc pairs sharing >= 1 shingle (inverted-index
    join); optionally restricted to given candidate pairs. Counts stay
    integers — thresholds compare ``scale*inter >= q*union`` exactly.

    Scale guards (both essential at 100 TB):

    * ``max_df`` caps shingle document frequency before the join: one
      stop-phrase shingle shared by millions of docs makes the unrestricted
      inverted-index self-join quadratic in that bucket. With the cap, the
      result is jaccard over *discriminative* shingles (df <= max_df) —
      both sizes and intersections use the capped shingle set, so the
      measure stays a true jaccard of the filtered sets.
    * with ``pairs``, the index join drives off the candidate list (LSH
      buckets) instead of self-joining the full index, so the cost is
      O(candidate pairs x shingles-per-doc), not O(index²).
    * ``ratio=(q, scale)`` is the LOSSLESS length-ratio prune for callers
      that will threshold at ``scale*inter >= q*union``: since
      j(a,b) <= min(|a|,|b|) / max(|a|,|b|), a candidate pair failing
      ``scale*min >= q*max`` can never reach the threshold, so it is
      dropped BEFORE the expensive unit join using only the tiny per-doc
      size table. A provable no-false-negative prune (the standard MinHash
      verify optimization); pairs that survive are scored exactly, so
      thresholded output is identical with or without it. On the
      ``pairs=None`` self-join path the same prune applies as a final
      filter on the already-joined sizes (the index join itself can't be
      pre-pruned pairwise), so ``ratio`` means the same thing on both
      paths: only pairs that could reach the threshold are returned.
    * ``sizes`` lets a caller that already aggregated the per-doc unit
      counts over the SAME units frame (e.g. _verified_pairs, which needs
      them again for the exact-fingerprint path) share that one shuffle
      instead of paying it twice; only valid without ``max_df`` (the
      internal sizes must reflect the post-filter units).
    """
    if max_df is not None:
        assert sizes is None, "pass sizes only without max_df (sizes must be post-filter)"
        keep = (
            units.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        units = units.join(keep, "shingle")
    if sizes is None:
        sizes = units.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if pairs is not None:
        if ratio is not None:
            q, scale = ratio
            pa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("_na"))
            pb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("_nb"))
            pairs = (
                pairs.join(pa, "doc_a")
                .join(pb, "doc_b")
                .where(
                    scale * F.least("_na", "_nb") >= q * F.greatest("_na", "_nb")
                )
                .select("doc_a", "doc_b")
            )
        a_units = units.select(F.col("doc_id").alias("doc_a"), "shingle").join(
            pairs, "doc_a"
        )
        b_units = units.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            a_units.join(b_units, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a, b = units.alias("a"), units.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = inter.join(sa, "doc_a").join(sb, "doc_b")
    if pairs is None and ratio is not None:
        q, scale = ratio
        out = out.where(
            scale * F.least("na", "nb") >= q * F.greatest("na", "nb")
        )
    return out.withColumn("uni", F.col("na") + F.col("nb") - F.col("inter")).select(
        "doc_a", "doc_b", "inter", "uni"
    )


def union_find(pairs) -> dict:
    """Root of every node of the undirected ``pairs`` ((a, b) ints):
    the one union-find of connected components, on the driver
    (``_driver_components``) and in the seeding workers
    (``_pregroup_labels``, where it ships by value). Union by min keeps
    each root its component's minimum id; find path-compresses."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min — roots stay component minima
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {v: find(v) for v in parent}


def _pregroup_labels(sym: DataFrame) -> DataFrame:
    """Partition-local union-find seeding for connected_components: shuffle
    the (src, dst) edge list by CONTIGUOUS 4096-id block (``src div 4096`` —
    hash-partitioned, so no range-sampling job) and collapse each
    partition's subgraph to its local roots in one Arrow pass — a chain of
    length n contracts to ~n/4096 segments before the distributed rounds
    (VERDICT r07 #8). Returns (doc_id, component) with component = a node
    id in doc_id's component, <= doc_id — a valid ``merge_components``
    mapping, since min over such seeds is the min reachable id.

    The partition count is max(32, the edge frame's own partition count),
    so the per-task union-find dict holds ~|edges|/parts entries at any
    input size instead of a fixed 1/32 share."""
    import pandas as pd

    def run(batches):
        roots = union_find(
            (int(a), int(b)) for pdf in batches for a, b in zip(pdf["src"], pdf["dst"])
        )
        if roots:
            yield pd.DataFrame({"doc_id": list(roots), "seed": list(roots.values())})

    parts = max(32, sym.rdd.getNumPartitions())
    return (
        sym.repartition(parts, F.expr("src div 4096"))
        .mapInPandas(run, "doc_id long, seed long")
        # a node split across partitions has several seeds, all in its
        # component: keep the smallest
        .groupBy("doc_id")
        .agg(F.min("seed").alias("component"))
    )


#: connected_components' driver fast-path bound: a pair graph at or under
#: this many edges is solved by one bounded collect + union-find on the
#: driver (a 1M-edge list is ~16 MB — the "bounded frame" collect class
#: alphabet/vocab/merge lists already sit in, well under
#: driver.maxResultSize); anything larger takes the distributed path. The
#: crossover is measured, not guessed: at 262k edges (the sf0.1 entity
#: graph) the driver solve runs the whole query at ~0.6x the distributed
#: path's wall, because each distributed round is a driver-synced job +
#: eager checkpoint regardless of cluster size, while the union-find is
#: ~1M edges/sec of bounded driver work. At 100 TB the verified pair graph
#: blows far past this and the bound is what keeps the collect safe.
CC_DRIVER_MAX_EDGES = 1_000_000

#: round budget of the distributed label loop. Path halving doubles each
#: label's reach per round, so 20 rounds cover diameters far past any
#: contracted graph; a graph that still changes after them fails loudly.
CC_MAX_ROUNDS = 20


def _symmetric(e: DataFrame) -> DataFrame:
    """(doc_a, doc_b) edges as directed (src, dst) arcs both ways."""
    return e.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        e.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )


def _driver_components(e: DataFrame) -> DataFrame | None:
    """(doc_id, component) of a checkpointed edge list of at most
    ``CC_DRIVER_MAX_EDGES`` edges, solved by ``union_find`` on the driver;
    None above the bound. take(bound + 1) reads the checkpointed blocks
    (one cheap job), and a result within the bound IS the whole graph."""
    bound = CC_DRIVER_MAX_EDGES
    if bound <= 0:
        return None
    head = e.select("doc_a", "doc_b").take(bound + 1)
    if len(head) > bound:
        return None
    import pandas as pd

    roots = union_find((int(a), int(b)) for a, b in head)
    pdf = pd.DataFrame(
        {"doc_id": list(roots), "component": list(roots.values())}, dtype="int64"
    )
    return e.sparkSession.createDataFrame(pdf, "doc_id long, component long")


def _propagate(e: DataFrame) -> DataFrame:
    """The distributed label loop over a checkpointed edge list: each round
    every node adopts the minimum label among itself and its neighbours,
    then its label's label (path halving: labels are node ids, so the
    label table doubles as a parent-pointer table; L(L(v)) <= L(v)
    because labels only decrease and L(x) <= x). Reach doubles per
    round, so rounds grow with log(diameter). Converged when no label
    changes; raises after ``CC_MAX_ROUNDS`` rounds."""
    from pyspark.sql import Observation

    sym = _symmetric(e)
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CC_MAX_ROUNDS):
        nbr_min = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("component").alias("nbr"))
        )
        updated = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.col("component").alias("_old"),
            F.least(F.col("component"), F.coalesce("nbr", F.col("component"))).alias(
                "component"
            ),
        )
        m = labels.select(F.col("doc_id").alias("_k"), F.col("component").alias("_v"))
        halved = F.coalesce("_v", "component")
        updated = updated.join(m, updated.component == m._k, "left").select(
            "doc_id", halved.alias("component"), (halved < F.col("_old")).alias("_chg")
        )
        # the convergence check rides the SAME job that materializes the
        # round's labels (Observation metrics are collected during the
        # eager localCheckpoint) — one job per round, not materialize+count
        obs = Observation()
        updated = updated.observe(
            obs, F.sum(F.col("_chg").cast("bigint")).alias("chg")
        ).localCheckpoint(eager=True)
        labels = updated.drop("_chg")
        if not obs.get["chg"]:
            return labels
    # silent fall-through would return WRONG labels (a long chain splits
    # into several components and dedup keeps extra "representatives")
    raise RuntimeError(
        f"connected_components did not converge within {CC_MAX_ROUNDS} "
        "rounds; the graph has a component with larger diameter — "
        "raise CC_MAX_ROUNDS"
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of the undirected (doc_a, doc_b) ``edges`` —
    the final step of near-dup dedup (pair graph → clusters → keep one
    representative per cluster) and of entity resolution (match edges →
    golden records). Returns (doc_id, component) for every doc in an
    edge, with component = the min doc_id reachable.

    One path, chosen by size. The edge list is checkpointed once. A graph
    of at most ``CC_DRIVER_MAX_EDGES`` edges is solved by ``union_find``
    on the driver: one bounded collect, where the distributed loop pays a
    driver-synced job and an eager checkpoint per round. A bigger graph
    is seeded by ``_pregroup_labels`` (a partition-local union-find over
    contiguous id blocks, so a chain collapses to ~n/4096 segments) and
    the seeds are folded with the edges through ``merge_components``,
    which solves the small contracted graph (driver union-find, or the
    path-halving round loop). Union by min and min-label propagation
    give the same labels, pinned by
    test_connected_components_distributed_equals_driver."""
    e = edges.select("doc_a", "doc_b").localCheckpoint(eager=True)
    small = _driver_components(e)
    if small is not None:
        return small
    seeds = _pregroup_labels(_symmetric(e)).localCheckpoint(eager=True)
    return merge_components(seeds, e)


def merge_components(mapping: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incrementally fold ``new_edges`` into an existing component
    ``mapping`` (doc_id, component — component = min reachable doc_id, the
    connected_components contract), returning the updated FULL mapping
    (VERDICT r10 task 2: merge new edges instead of rebuilding).

    Correctness: contract each new edge's endpoints through the old
    mapping (an unmapped endpoint — a brand-new doc or an old singleton —
    contracts to itself), drop self-loops, and solve the CONTRACTED graph
    only. Contracted node ids are old component labels (each the min
    doc_id of its old cluster) and unmapped doc ids, so the sub-graph's
    min-label result equals the full rebuild's label on the merged
    cluster: min over merged old-cluster minima and new ids = global min.
    The same argument holds for any mapping whose labels are ids inside
    the doc's component and <= the doc id, which is how
    connected_components folds its seeds through here. Old rows relabel
    through the (old component → new component) map; unmapped endpoints
    gain rows. Equality with a full rebuild is pinned by
    test_merge_components_equals_full_rebuild.

    The contracted graph is solved by the driver union-find at or under
    ``CC_DRIVER_MAX_EDGES`` edges, else by the path-halving round loop —
    never by seeding again, so the two functions cannot recurse.

    Cost at scale: the solve runs on |edges touching the delta| —
    proportional to the DELTA's cluster overlap, not the corpus; the full
    mapping is touched by exactly one relabel join (and the bucketed
    artifact form rewrites only the buckets holding changed rows — see
    queries/llm_dedup.merge_components_artifact).

    Materialization is CALLER-OWNED: this function checkpoints only the
    contracted edges it solves — a per-call localCheckpoint of the full
    mapping would leak lingering blocks across a long-running maintenance
    stream (the r04 pin_batch lesson); components_writer pins the batch
    edges deterministically and the mapping side is a plain (cheap,
    columnar) table re-scan per consumer."""
    m = mapping
    e = new_edges.select("doc_a", "doc_b")
    ma = m.select(F.col("doc_id").alias("doc_a"), F.col("component").alias("_ca"))
    mb = m.select(F.col("doc_id").alias("doc_b"), F.col("component").alias("_cb"))
    contracted = (
        e.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            F.coalesce("_ca", F.col("doc_a")).alias("doc_a"),
            F.coalesce("_cb", F.col("doc_b")).alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .localCheckpoint(eager=True)
    )
    sub = _driver_components(contracted)
    if sub is None:
        sub = _propagate(contracted)
    # old rows whose component merged into a lower label
    relabel = sub.select(
        F.col("doc_id").alias("component"), F.col("component").alias("_new")
    )
    kept_old = m.join(relabel, "component", "left").select(
        "doc_id", F.coalesce("_new", F.col("component")).alias("component")
    )
    # endpoints not in the old mapping (new docs / old singletons) whose
    # contracted node got a label — they join the mapping now
    new_nodes = (
        e.select(F.col("doc_a").alias("doc_id"))
        .unionAll(e.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .join(m.select("doc_id"), "doc_id", "left_anti")
    )
    new_rows = new_nodes.join(sub, "doc_id").select("doc_id", "component")
    return kept_old.unionAll(new_rows)


def _simhash_votes(bits: int) -> list:
    """The per-bit ±1 vote aggregates over the md5 hash column ``_h`` —
    the ONE home of the signature arithmetic (shared by ``simhash`` and
    the fused signature+fingerprint aggregation)."""
    return [
        F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_t{b}")
        for b in range(bits)
    ]


def _simhash_sig(bits: int):
    """Fold the ``_t{b}`` tallies into the signature bigint (bit b set
    iff the vote sum is positive) — the other half of the shared home."""
    sig = F.lit(0).cast("bigint")
    for b in range(bits):
        sig = sig + F.when(F.col(f"_t{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
    return sig.cast("bigint")


def _setfp_agg():
    """The token-set fingerprint aggregate (md5 of the sorted distinct
    token stream) — shared by ``token_set_fingerprint`` and the fused
    aggregation so the two can never drift."""
    return md5_long(F.concat_ws(" ", F.array_sort(F.collect_set("shingle")))).alias(
        "setfp"
    )


def simhash(docs: DataFrame, bits: int = 16, units: DataFrame | None = None) -> DataFrame:
    """Per-doc simhash, one-pass: each distinct token is hashed ONCE
    (md5_long) and every bit-b vote (±1) is derived from bit b of that hash
    by shift/mask, so the whole signature is a single groupBy(doc_id) with
    ``bits`` sum aggregates — one shuffle with map-side partials, no ×bits
    row expansion (the classic Charikar construction, vectorized).
    ``units`` (a (doc_id, shingle) frame) skips the tokenize scan."""
    if units is None:
        units = distinct_tokens(docs)
    toks = units.select("doc_id", md5_long(F.col("shingle")).alias("_h"))
    tallies = toks.groupBy("doc_id").agg(*_simhash_votes(bits))
    return tallies.select("doc_id", _simhash_sig(bits).alias("simhash"))


#: identical-content pre-pass group cap: a token-set fingerprint group is
#: a CLIQUE of true duplicates, so its size equals the real duplication
#: multiplicity of one document — bounded by data reality, not corpus
#: size. Above the cap the clique listing degenerates to the star form
#: (every member paired to the group minimum), which connected components
#: closes back into the full group — the same fallback the over-cap LSH
#: buckets use.
EXACT_FP_MAX_GROUP = 1000


def doc_set_stats(toked: DataFrame) -> DataFrame:
    """(doc_id, n, setfp) computed MAP-ONLY from a ``(doc_id, toks)``
    frame: the distinct-token count and the token-set fingerprint derived
    directly from each row's token array, with ZERO shuffle.

    Bit-identical to the aggregate forms over the exploded unit frame —
    ``n`` = count of distinct units = ``size(array_distinct(toks))``, and
    ``_setfp_agg``'s ``array_sort(collect_set(shingle))`` over
    ``explode(array_distinct(toks))`` is exactly
    ``array_sort(array_distinct(toks))`` — pinned by
    tests/test_dedup_approx.py::test_doc_set_stats_equals_aggregates.
    Token-less docs are excluded, matching the unit-frame aggregates (no
    unit rows -> no fingerprint row).

    Why it exists (optimization r15, guide §2.3): riding ``_setfp_agg``
    on the minhash/simhash signature groupBys (the r14 fusion) made ONE
    exchange serve signature + fingerprint, but that exchange's map-side
    partials then carried the full distinct-token string payload of every
    document — at corpus scale, the corpus text itself. Computing the
    stats map-side from the already-tokenized array removes the payload
    from the signature shuffles outright: the signature aggregations ship
    only their fixed-width integer partials, and the fingerprint never
    crosses the network at all."""
    s = F.array_sort(F.array_distinct("toks"))
    return (
        toked.select(
            F.col("doc_id"),
            F.size(s).cast("bigint").alias("n"),
            md5_long(F.concat_ws(" ", s)).alias("setfp"),
        )
        .where(F.col("n") > 0)
    )


def token_set_fingerprint(docs: DataFrame, units: DataFrame | None = None) -> DataFrame:
    """(doc_id, setfp): portable hash of the SORTED DISTINCT token stream —
    fingerprint equality is exactly token-set identity, i.e. jaccard 1
    (``inter == uni`` in the exact family's terms). The order/multiplicity
    -sensitive cousin of functions/text.fingerprint, needed because near-
    dup ground truth is defined on token SETS. Pass ``units`` (a
    (doc_id, shingle) frame, e.g. the session-memoized shared stage) to
    skip the tokenize scan. Token-LESS docs have no unit rows and thus no
    fingerprint — the same exclusion every set-similarity family here
    applies (jaccard is 0/0 on empty sets); an ingest that must dedup
    empty payloads filters them on length first."""
    if units is None:
        units = distinct_tokens(docs)
    return units.groupBy("doc_id").agg(_setfp_agg())


def exact_fingerprint_pairs(
    docs: DataFrame,
    max_group: int = EXACT_FP_MAX_GROUP,
    units: DataFrame | None = None,
    fp: DataFrame | None = None,
) -> DataFrame:
    """Identical-document pairs (a_id < b_id) by token-set fingerprint —
    the EXACT pre-pass routed AROUND capped approximate indexes (VERDICT
    r09 weak #2): identical documents share every band value, so a capped
    banded join is structurally blind to exactly the over-represented
    duplicates a dedup most needs; grouping on the full fingerprint finds
    them in one hash aggregation + a group-bounded self-join. Groups
    above ``max_group`` fall back to the star form (linear in group
    size).

    Scale: one shuffle on setfp; pair volume = Σ n_g² over TRUE duplicate
    groups (capped) — the size of the real answer, never corpus².
    ``fp`` (a (doc_id, setfp) frame, e.g. the fused signature+fingerprint
    aggregation) skips the fingerprint groupBy entirely."""
    if fp is None:
        fp = token_set_fingerprint(docs, units=units)
    else:
        fp = fp.select("doc_id", "setfp")
    stats = (
        fp.groupBy("setfp")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id"))
        .where(F.col("n") >= 2)
    )
    members = fp.join(stats, "setfp")
    small = members.where(F.col("n") <= max_group)
    full = (
        small.select("setfp", F.col("doc_id").alias("a_id"))
        .join(small.select("setfp", F.col("doc_id").alias("b_id")), "setfp")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    star = members.where(
        (F.col("n") > max_group) & (F.col("doc_id") != F.col("min_id"))
    ).select(F.col("min_id").alias("a_id"), F.col("doc_id").alias("b_id"))
    return full.unionByName(star)


def simhash_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    band_bits: int,
    max_bucket: int,
    ham_max: int,
    keys: tuple[str, ...] = (),
    dedup: bool = True,
) -> DataFrame:
    """Banded hamming-ball pairing over any signature table: split each
    signature into ``bands`` x ``band_bits`` values, bucket-join on
    (keys..., band, value) with degenerate buckets above ``max_bucket``
    dropped, verify candidates at exact hamming <= ``ham_max`` (bit_count
    of xor). Pigeonhole: a pair within hamming < bands shares at least one
    exact band, so the index has no false negatives while ham_max < bands.
    ``keys`` scope the pairing (e.g. per media kind). The ONE banding/
    verify implementation behind text SimHash pairing and media
    perceptual-hash pairing. Returns (keys..., a_id, b_id, hamming).

    ``dedup=False`` skips the candidate DISTINCT (a pair sharing several
    bands emits one row per shared band) for callers that already dedup
    the union downstream — one exchange of the candidate set saved."""
    from pyspark.sql import Window

    mask = (1 << band_bits) - 1
    band_vals = F.array(
        *[
            F.shiftright(sig_col, b * band_bits).bitwiseAND(F.lit(mask)).cast("bigint")
            for b in range(bands)
        ]
    )
    k = list(keys)
    exploded = sig.select(
        *k, id_col, sig_col, F.posexplode(band_vals).alias("band", "bval")
    )
    bucket_key = [*k, "band", "bval"]
    # bucket-size cap as a window count (one shuffle) instead of a
    # groupBy + join-back, and the capped frame CHECKPOINTED before the
    # pair self-join: unmaterialized, its two join sides each re-run the
    # whole signature chain (measured 17 → 12 static shuffles on
    # dedup_simhash_pairs; the media phash path shares this code)
    w = Window.partitionBy(*bucket_key)
    capped = (
        exploded.withColumn("__sz", F.count(F.lit(1)).over(w))
        .where(F.col("__sz") <= max_bucket)
        .drop("__sz")
        .localCheckpoint(eager=False)
    )
    a = capped.select(
        *bucket_key, F.col(id_col).alias("a_id"), F.col(sig_col).alias("a_sig")
    )
    b = capped.select(
        *bucket_key, F.col(id_col).alias("b_id"), F.col(sig_col).alias("b_sig")
    )
    cand = (
        a.join(b, bucket_key)
        .where(F.col("a_id") < F.col("b_id"))
        .select(*k, "a_id", "b_id", "a_sig", "b_sig")
    )
    if dedup:
        cand = cand.distinct()
    return cand.withColumn(
        "hamming", F.bit_count(F.expr("a_sig ^ b_sig")).cast("bigint")
    ).where(F.col("hamming") <= ham_max).select(*k, "a_id", "b_id", "hamming")
