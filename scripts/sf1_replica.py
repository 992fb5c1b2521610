"""The ~sf1 replica the sf1 scripts run on: K copies of an sf0.1 corpus.

``build_scaled_dir`` makes each table a directory of K symlinks to the
base parquet (facts only; dims stay 1x). Symlink replication is
adversarial for key-based queries: every fact-fact equi-join fans out xK
per matched pair, and every copy of a document is an exact dup of K-1
others. ``build_distinct_documents`` and ``build_distinct_facts`` then
replace those symlinks with K ID-DISTINCT replicas, the shape a true sfK
generator produces.
"""

from __future__ import annotations

import os
import shutil

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
#: dims stay 1x (at scale dims grow far slower than facts; replicating
#: customer K x would also break PK semantics for join results)
FACTS = {"lineitem", "orders", "events", "documents", "embeddings"}


def build_scaled_dir(base: str, k: int) -> str:
    root = f"/tmp/gmall_scale_x{k}"
    if os.path.exists(root):
        shutil.rmtree(root)
    for t in TABLES:
        d = os.path.join(root, f"{t}.parquet")
        os.makedirs(d)
        copies = k if t in FACTS else 1
        for i in range(copies):
            os.symlink(os.path.join(base, f"{t}.parquet"), os.path.join(d, f"copy-{i}.parquet"))
    return root


def build_distinct_documents(spark, root: str, base: str, k: int) -> None:
    """Replace the symlinked documents replication under ``root`` with K
    id-distinct, token-salted replicas (replica 0 = the original corpus
    verbatim). doc_id stride is a multiple of 4 so the deterministic
    1-in-AUDIT_MOD sample keeps the same density in every replica."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    stride = ((int(max_id) // 4) + 1) * 4

    def replica(i: int):
        if i == 0:
            return docs
        salted = F.array_join(
            F.transform(
                F.split("text", " "),
                # empty tokens stay empty: the tokenizers drop them, and
                # salting one into existence would add phantom shingles
                lambda t: F.when(t == "", t).otherwise(
                    F.concat(t, F.lit(f"~r{i}"))
                ),
            ),
            " ",
        )
        return docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * stride)).withColumn(
            "text", salted
        )

    out = replica(0)
    for i in range(1, k):
        out = out.unionAll(replica(i))
    d = os.path.join(root, "documents.parquet")
    shutil.rmtree(d)
    out.repartition(16).write.parquet(d)


def build_distinct_facts(spark, root: str, base: str, k: int) -> None:
    """Replace the symlinked orders / lineitem / events replication under
    ``root`` with K ID-DISTINCT replicas (replica 0 = the originals
    verbatim): o_orderkey and l_orderkey shift by the SAME stride (their
    join survives per replica), event_id and user_id shift by their own
    strides. Dim FKs (o_custkey, l_partkey, l_suppkey) stay — dims remain
    1x, so dim joins keep their selectivity. Symlink replication keeps
    duplicate keys, so every fact-fact equi-join fans out xK per matched
    pair (output xK^2 per join edge — the cdc_order_detail_wide x42.5
    artifact); id-distinct replication is what a true sfK generator
    produces, and it also grows the KEY space of user-keyed state xK."""
    from pyspark.sql import functions as F

    def stride_of(df, col):
        m = df.agg(F.max(col)).collect()[0][0]
        return ((int(m) // 4) + 1) * 4

    orders = spark.read.parquet(os.path.join(base, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(base, "lineitem.parquet"))
    events = spark.read.parquet(os.path.join(base, "events.parquet"))
    o_stride = max(stride_of(orders, "o_orderkey"), stride_of(lineitem, "l_orderkey"))
    e_stride = stride_of(events, "event_id")
    u_stride = stride_of(events, "user_id")

    def shifted(df, shifts, i):
        out = df
        for col, stride in shifts:
            out = out.withColumn(col, F.col(col) + F.lit(i * stride))
        return out

    plans = {
        "orders": (orders, [("o_orderkey", o_stride)]),
        "lineitem": (lineitem, [("l_orderkey", o_stride)]),
        "events": (events, [("event_id", e_stride), ("user_id", u_stride)]),
    }
    for name, (df, shifts) in plans.items():
        out = df
        for i in range(1, k):
            out = out.unionAll(shifted(df, shifts, i))
        d = os.path.join(root, f"{name}.parquet")
        shutil.rmtree(d)
        out.repartition(16).write.parquet(d)
