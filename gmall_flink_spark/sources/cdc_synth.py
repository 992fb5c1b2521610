"""Deterministic CDC changelog synthesizer (FIXTURES.md §1 / §6).

Wraps the driver's TPC-H-ish base tables into Maxwell-style changelog JSON
(`{database, table, type, ts, data, old}` — util/FlinkSqlUtil.java:9-15) so
the CDC operator suite is exercised end-to-end from raw JSON strings, like
the reference's Kafka topic_db source. Every derivation is pure arithmetic
on key columns, so the DuckDB oracle can reproduce the expected *results*
directly from the base tables without ever building the envelope.

Derivation rules (shared contract with queries/cdc.py oracles):

orders -> table 'order_info':
  corrupt JSON        o_orderkey % 97 == 0            (P1 parse-drop path)
  type                %10 <= 5 insert | 6,7 update | 8 delete
                      | 9 bootstrap-start             (P2 filter path)
  data.order_status   insert/delete: '1001'
                      update: %4==0 '1003' (cancel) | %4==1 '1004'
                              | %4==2 '1005' (pay-suc) | %4==3 '1006'
  old.order_status    update: %4==2 -> '1002' | else '1001'  (P6/P7 paths)
  old.total_amount    update: total * 0.8 (exact decimal)
  ts                  epoch seconds of o_orderdate

lineitem -> table 'cart_info':
  corrupt JSON        (l_orderkey + l_linenumber) % 13 == 0
  type                l_linenumber % 7 == 0 bootstrap-start
                      | l_linenumber odd insert | even update
  data.sku_num        int(l_quantity)
  old.sku_num         update: orderkey%3==0 -> sku_num-3 (increase path,
                      P5 passes) | else sku_num+2 (P5 drops)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_spark.sources.tables import table

DB = "gmall_flink"


def _json_value(envelope: Column, corrupt_when: Column) -> Column:
    return F.when(corrupt_when, F.lit('NOT_JSON{"oops"')).otherwise(F.to_json(envelope))


def orders_cdc_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_info changelog as raw JSON `value` strings (Kafka-source shape)."""
    od = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    typ = (
        F.when(k % 10 <= 5, "insert")
        .when(k % 10 <= 7, "update")
        .when(k % 10 == 8, "delete")
        .otherwise("bootstrap-start")
    )
    status = F.when(
        typ == "update",
        F.when(k % 4 == 0, "1003")
        .when(k % 4 == 1, "1004")
        .when(k % 4 == 2, "1005")
        .otherwise("1006"),
    ).otherwise(F.lit("1001"))
    old_status = F.when(k % 4 == 2, "1002").otherwise("1001")
    old_amount = (
        F.col("o_totalprice").cast("decimal(18,2)") * F.lit("0.8").cast("decimal(2,1)")
    ).cast("string")
    data = F.create_map(
        F.lit("id"), k.cast("string"),
        F.lit("user_id"), F.col("o_custkey").cast("string"),
        F.lit("order_status"), status,
        F.lit("total_amount"), F.col("o_totalprice").cast("string"),
        F.lit("create_time"), F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    )
    old = F.when(
        typ == "update",
        F.create_map(
            F.lit("order_status"), old_status,
            F.lit("total_amount"), old_amount,
        ),
    )
    envelope = F.struct(
        F.lit(DB).alias("database"),
        F.lit("order_info").alias("table"),
        typ.alias("type"),
        F.unix_timestamp("o_orderdate").alias("ts"),
        data.alias("data"),
        old.alias("old"),
    )
    return od.select(_json_value(envelope, k % 97 == 0).alias("value"))


def cart_cdc_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cart_info changelog as raw JSON `value` strings."""
    li = table(spark, sf_dir, "lineitem")
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    typ = (
        F.when(ln % 7 == 0, "bootstrap-start")
        .when(ln % 2 == 1, "insert")
        .otherwise("update")
    )
    sku_num = F.col("l_quantity").cast("int")
    old_sku = F.when(ok % 3 == 0, sku_num - 3).otherwise(sku_num + 2)
    # operate_time only on updates (+1h) — the W5 coalesce event-time path
    operate = F.when(
        typ == "update",
        F.date_format(F.col("l_shipdate") + F.expr("interval 1 hour"),
                      "yyyy-MM-dd HH:mm:ss"),
    )
    data = F.map_filter(
        F.create_map(
            F.lit("id"), (ok * 10 + ln).cast("string"),
            F.lit("sku_id"), F.col("l_partkey").cast("string"),
            F.lit("sku_num"), sku_num.cast("string"),
            F.lit("cart_price"), F.col("l_extendedprice").cast("string"),
            F.lit("create_time"), F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
            F.lit("operate_time"), operate,
        ),
        lambda _k, v: v.isNotNull(),
    )
    old = F.when(typ == "update", F.create_map(F.lit("sku_num"), old_sku.cast("string")))
    envelope = F.struct(
        F.lit(DB).alias("database"),
        F.lit("cart_info").alias("table"),
        typ.alias("type"),
        F.unix_timestamp("l_shipdate").alias("ts"),
        data.alias("data"),
        old.alias("old"),
    )
    return li.select(_json_value(envelope, (ok + ln) % 13 == 0).alias("value"))


def _detail_id() -> Column:
    """Packed order_detail PK: (l_orderkey, l_linenumber) is NOT unique in
    the synthetic lineitem, so the detail id packs all four key columns —
    unique at every SF (verified sf0.1) and reproducible in the oracle as
    ((l_orderkey*10 + l_linenumber)*100000 + l_partkey)*1000 + l_suppkey."""
    return (
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * 100000
        + F.col("l_partkey")
    ) * 1000 + F.col("l_suppkey")


def detail_cdc_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_detail changelog (the 4-way wide-fact driver table,
    app/dwd/DwdTradeOrderDetail.java:34-62). Derivation contract:

      corrupt JSON   (l_orderkey*7 + l_linenumber) % 89 == 0
      type           l_linenumber % 11 == 0 bootstrap-insert | else insert
      data.id        _detail_id() packed PK
    """
    li = table(spark, sf_dir, "lineitem")
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    typ = F.when(ln % 11 == 0, "bootstrap-insert").otherwise("insert")
    data = F.create_map(
        F.lit("id"), _detail_id().cast("string"),
        F.lit("order_id"), ok.cast("string"),
        F.lit("sku_id"), F.col("l_partkey").cast("string"),
        F.lit("sku_num"), F.col("l_quantity").cast("int").cast("string"),
        F.lit("split_total_amount"), F.col("l_extendedprice").cast("string"),
        F.lit("create_time"), F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
    )
    envelope = F.struct(
        F.lit(DB).alias("database"),
        F.lit("order_detail").alias("table"),
        typ.alias("type"),
        F.unix_timestamp("l_shipdate").alias("ts"),
        data.alias("data"),
        F.lit(None).cast("map<string,string>").alias("old"),
    )
    return li.select(_json_value(envelope, (ok * 7 + ln) % 89 == 0).alias("value"))


def activity_cdc_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_detail_activity changelog (left side of J2): exists only for
    lineitems with l_partkey % 5 == 0; activity_id = l_partkey % 10."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 5 == 0)
    data = F.create_map(
        F.lit("order_detail_id"), _detail_id().cast("string"),
        F.lit("activity_id"), (F.col("l_partkey") % 10).cast("string"),
    )
    envelope = F.struct(
        F.lit(DB).alias("database"),
        F.lit("order_detail_activity").alias("table"),
        F.lit("insert").alias("type"),
        F.unix_timestamp("l_shipdate").alias("ts"),
        data.alias("data"),
        F.lit(None).cast("map<string,string>").alias("old"),
    )
    return li.select(F.to_json(envelope).alias("value"))


def coupon_cdc_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_detail_coupon changelog (second left side of J2): exists only
    for lineitems with l_suppkey % 7 == 0; coupon_id = l_suppkey % 13."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") % 7 == 0)
    data = F.create_map(
        F.lit("order_detail_id"), _detail_id().cast("string"),
        F.lit("coupon_id"), (F.col("l_suppkey") % 13).cast("string"),
    )
    envelope = F.struct(
        F.lit(DB).alias("database"),
        F.lit("order_detail_coupon").alias("table"),
        F.lit("insert").alias("type"),
        F.unix_timestamp("l_shipdate").alias("ts"),
        data.alias("data"),
        F.lit(None).cast("map<string,string>").alias("old"),
    )
    return li.select(F.to_json(envelope).alias("value"))


def topic_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined `topic_db` stream: all tables' changelogs unioned, as the
    reference's single Kafka topic carries every MySQL table."""
    return orders_cdc_json(spark, sf_dir).unionAll(cart_cdc_json(spark, sf_dir))


# ---------------------------------------------------------------------------
# Parsed-envelope accessors (materialized once per SF — the topic at rest;
# see sources/materialize.py). Queries consume these; the raw *_cdc_json
# builders above stay the source of truth and run at cache build.
# ---------------------------------------------------------------------------

def _parsed(spark: SparkSession, sf_dir: str, name: str, raw_builder) -> DataFrame:
    from gmall_flink_spark.operators.cdc import parse_envelope
    from gmall_flink_spark.sources.materialize import materialized

    return materialized(
        spark, sf_dir, name, lambda: parse_envelope(raw_builder(spark, sf_dir))
    )


def _dead(spark: SparkSession, sf_dir: str, name: str, raw_builder) -> DataFrame:
    """Dead-letter quarantine at rest: the bronze landing step splits each
    topic into parsed envelope + malformed rows ONCE at ingest
    (parse_envelope_split); consumers scan the quarantine table instead of
    re-parsing the whole topic per query."""
    from gmall_flink_spark.operators.cdc import parse_envelope_split
    from gmall_flink_spark.sources.materialize import materialized

    return materialized(
        spark,
        sf_dir,
        name,
        lambda: parse_envelope_split(raw_builder(spark, sf_dir))[1],
    )


def orders_dead_letters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dead(spark, sf_dir, "order_info_dead", orders_cdc_json)


def cart_dead_letters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dead(spark, sf_dir, "cart_info_dead", cart_cdc_json)


def orders_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir, "order_info_env", orders_cdc_json)


def cart_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir, "cart_info_env_v2", cart_cdc_json)


def detail_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir, "order_detail_env", detail_cdc_json)


def activity_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir, "order_detail_activity_env", activity_cdc_json)


def coupon_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir, "order_detail_coupon_env", coupon_cdc_json)


def topic_db_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed union of every table's changelog (the single topic_db)."""
    return orders_envelope(spark, sf_dir).unionAll(cart_envelope(spark, sf_dir))
