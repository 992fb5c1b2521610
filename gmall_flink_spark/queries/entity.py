"""Oracle-checked entity-resolution queries (blocked fuzzy matching).

The Spark side finds candidate pairs with the exact wildcard-blocking
join (operators/fuzzy.py — one equi-join shuffle, alphabet-bounded
buckets); the DuckDB oracle brute-forces the full O(n²) levenshtein join,
so a parity pass proves the blocking is COMPLETE (finds every pair), not
just plausible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_spark.operators.fuzzy import hamming1_pairs
from gmall_flink_spark.sources.tables import table

#: customer names are 'Customer#%09d' — 9 digit positions, 1-based 10..18
NAME_DIGIT_POSITIONS = range(10, 19)
NAME_LEN = 18


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer pairs whose names differ by at most one character
    (hamming<=1 record linkage), aggregated per differing position:
    pair count and key checksums."""
    from gmall_flink_spark.sources.tables import spread

    # spread: the wildcard-key expansion fuses onto the scan, and the
    # single-row-group test parquet plans that scan as one task
    cust = spread(table(spark, sf_dir, "customer"), "c_custkey").select(
        "c_custkey", "c_name"
    )
    pairs = hamming1_pairs(
        cust, key_col="c_name", id_col="c_custkey", positions=NAME_DIGIT_POSITIONS
    )
    return (
        pairs.groupBy("diff_pos")
        .agg(
            F.count(F.lit(1)).alias("pair_ct"),
            F.sum("a_id").cast("bigint").alias("a_key_sum"),
            F.sum("b_id").cast("bigint").alias("b_key_sum"),
        )
        .orderBy("diff_pos")
    )


QUERIES = {"fuzzy_name_pairs": fuzzy_name_pairs}

# diff_pos for the oracle: first position where the two (equal-length)
# names disagree — generated CASE over every position so a pair differing
# OUTSIDE the blocked digit range would surface as a parity mismatch.
_DIFF_POS = (
    "CASE "
    + " ".join(
        f"WHEN substr(an,{p},1) != substr(bn,{p},1) THEN {p}"
        for p in range(1, NAME_LEN + 1)
    )
    + " END"
)

ORACLE = {
    "fuzzy_name_pairs": f"""
        WITH p AS (
            SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
                   a.c_name AS an, b.c_name AS bn
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
             AND len(a.c_name) = len(b.c_name)
             AND levenshtein(a.c_name, b.c_name) <= 1
        )
        SELECT {_DIFF_POS} AS diff_pos,
               CAST(COUNT(*) AS BIGINT) AS pair_ct,
               CAST(SUM(a_key) AS BIGINT) AS a_key_sum,
               CAST(SUM(b_key) AS BIGINT) AS b_key_sum
        FROM p
        GROUP BY diff_pos
        ORDER BY diff_pos
    """,
}


def entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution survivorship — the steps after candidate matching
    that produce the master-data "golden record": cluster the hamming<=1
    name matches with connected components (the same CC as near-dup
    dedup), then per cluster keep the richest member (highest account
    balance, ties to the lowest key) and report the merged view: member
    count, survivor, exact-cents balance total, and the key span. Every
    emitted cluster has >= 2 members by construction (components are
    derived from match edges).

    Scale: CC runs over match edges only. Sequential-id matching produces
    CHAIN-shaped clusters; above the driver bound the CC seeds each
    contiguous id block with a local union-find, so a chain reaches the
    distributed rounds as ~n/block super-nodes, and those rounds
    path-halve. Unlike pairwise blocking, TRANSITIVE closure does not
    bound cluster size (this synthetic table is the worst case:
    sequential names chain into one table-sized component), so the
    survivor argmax is deliberately max(struct(bal, -key)) — an ordinary
    aggregate with map-side partials that a giant cluster cannot
    serialize — never a per-cluster window sort."""
    from gmall_flink_spark.llm.dedup import connected_components
    from gmall_flink_spark.sources.tables import spread

    cust = spread(table(spark, sf_dir, "customer"), "c_custkey").select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    edges = hamming1_pairs(
        cust, key_col="c_name", id_col="c_custkey", positions=NAME_DIGIT_POSITIONS
    ).select(F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b"))
    comp = connected_components(edges)
    members = comp.join(
        cust, comp.doc_id == cust.c_custkey
    ).select("component", "c_custkey", "bal_cents")
    best = F.max(
        F.struct(
            F.col("bal_cents").alias("bal"), (-F.col("c_custkey")).alias("negkey")
        )
    ).alias("best")
    return (
        members.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("member_ct"),
            best,
            F.sum("bal_cents").alias("bal_cents_total"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .select(
            "component",
            "member_ct",
            (-F.col("best.negkey")).cast("bigint").alias("survivor_key"),
            F.col("best.bal").alias("survivor_bal_cents"),
            "bal_cents_total",
            "min_key",
            "max_key",
        )
        .orderBy("component")
    )


QUERIES["entity_golden_record"] = entity_golden_record

ORACLE["entity_golden_record"] = """
    WITH RECURSIVE
    edges AS (
        SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND len(a.c_name) = len(b.c_name)
         AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    sym AS (
        SELECT doc_a AS s, doc_b AS d FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    nodes AS (SELECT DISTINCT s AS doc_id FROM sym),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT reach.doc_id, sym.d FROM reach JOIN sym ON reach.r = sym.s
    ),
    comp AS (SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id),
    members AS (
        SELECT comp.component, c.c_custkey,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents,
               row_number() OVER (
                   PARTITION BY comp.component
                   ORDER BY CAST(round(c.c_acctbal * 100) AS BIGINT) DESC,
                            c.c_custkey
               ) AS rk
        FROM comp JOIN customer c ON comp.doc_id = c.c_custkey
    )
    SELECT component, CAST(COUNT(*) AS BIGINT) AS member_ct,
           CAST(MAX(CASE WHEN rk = 1 THEN c_custkey END) AS BIGINT) AS survivor_key,
           CAST(MAX(CASE WHEN rk = 1 THEN bal_cents END) AS BIGINT)
               AS survivor_bal_cents,
           CAST(SUM(bal_cents) AS BIGINT) AS bal_cents_total,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM members GROUP BY component ORDER BY component
"""
