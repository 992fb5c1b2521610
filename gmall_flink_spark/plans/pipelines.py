"""The reference's 17 pipeline applications (SURVEY §2.11), each mapped to
its composition in this engine — the parity index a reference user needs to
switch ("which of my jobs is which here?").

Every entry names the reference main class, the operators it exercises, and
a ``batch`` callable (spark, sf_dir) -> DataFrame built from the same
operator library the oracle-checked queries use. Streaming forms follow the
recipes proven in tests/test_streaming.py: the identical transform over
``streaming.core.stream_table`` / Kafka (sources/kafka.py), stateful D ops
via streaming.stateful, sinks via sinks/upsert (K3/K4) or
operators/log_split.log_split_sinks (M1 fan-out).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Pipeline:
    app: str  # reference main class
    ref: str  # file:line span in the reference
    operators: str  # SURVEY §2 operator ids
    batch: Callable[[SparkSession, str], DataFrame]
    streaming_via: str  # recipe pointer


def _q(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from gmall_flink_spark.registry import all_queries

        return all_queries()[name](spark, sf_dir)

    run.__name__ = name
    return run


def _dim_app(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DimApp batch pass: config-routed dim rows, pruned to sink_columns —
    the frame `foreachBatch` + sinks.upsert.upsert_into MERGEs into the dim
    store (K4)."""
    from pyspark.sql import functions as F

    from gmall_flink_spark.operators.cdc import drop_bootstrap, route_with_config
    from gmall_flink_spark.queries.cdc import _config_df
    from gmall_flink_spark.sources.cdc_synth import topic_db_envelope

    routed = route_with_config(
        drop_bootstrap(topic_db_envelope(spark, sf_dir)), _config_df(spark)
    )
    return routed.where(F.col("sink_type") == "dim").select(
        "sink_table", "type", "data_pruned", "ts"
    )


def _log_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DwdTrafficBaseLogSplit batch pass: the page main-stream with the D8
    is_new repair applied (the 4 side outputs are split_log(...)[name])."""
    from pyspark.sql import functions as F

    from gmall_flink_spark.operators.dedup import repair_is_new
    from gmall_flink_spark.operators.log_split import split_log
    from gmall_flink_spark.sources.log_synth import page_log_parsed

    page = split_log(page_log_parsed(spark, sf_dir))["page"]
    page = page.withColumn("rt", F.timestamp_millis("ts"))
    return repair_is_new(page, "mid", "rt", F.col("is_new").cast("int")).drop("rt")


PIPELINES: list[Pipeline] = [
    Pipeline("DimApp", "app/dim/DimApp.java:37-109", "S1,S4,P1,P2,J6,P8,K4,M4",
             _dim_app,
             "streaming/pipelines.py::dim_app_stream -> dim_store_writer (K4) "
             "under run_supervised (W12); pinned by "
             "test_dim_app_supervised_end_to_end"),
    Pipeline("DwdTrafficBaseLogSplit", "app/dwd/DwdTrafficBaseLogSplit.java:32-189",
             "S1,P1,M1,D8,K1", _log_split,
             "operators.log_split.log_split_sinks + streaming.stateful.is_new_repair_stream"),
    Pipeline("DwdBaseApp", "app/dwd/DwdBaseApp.java:37-110", "S1,S4,J6,P8,K2",
             _q("cdc_config_route"),
             "streaming/pipelines.py::dwd_base_app_stream -> replay-guarded "
             "topic_router (K2) under run_supervised (W12); pinned by "
             "test_dwd_base_app_supervised_end_to_end"),
    Pipeline("DwdTradeCartAdd", "app/dwd/DwdTradeCartAdd.java:19-72", "S3,P3,P5,K1",
             _q("cdc_cart_add"), "same transform over stream_table; append sink"),
    Pipeline("DwdInterationCommentInfo", "app/dwd/DwdInterationCommentInfo.java:21-101",
             "S3,P3,U1,S6,J3,K1", _q("lookup_dict_enrich"),
             "broadcast dict refreshed per micro-batch (J3 as-of-now)"),
    Pipeline("DwdTradeOrderDetail", "app/dwd/DwdTradeOrderDetail.java:20-224",
             "S3,P3,P4,J1,J2,J4,K3", _q("cdc_order_detail_wide"),
             "streaming/pipelines.py::order_detail_wide_stream — ONE query, "
             "chained stream-stream joins (J4) -> upsert_writer (K3); "
             "batch-equality pinned by test_order_detail_wide_pipeline_end_to_end"),
    Pipeline("DwdCancelOrderDetail", "app/dwd/DwdCancelOrderDetail.java:24-226",
             "S3,P6,J1,J2,J4,K3", _q("cdc_cancel_enrich"),
             "streaming/pipelines.py::cancel_segment_stream — ONE query, "
             "complete mode, transform shared via cancel_segment_frame; "
             "pinned by test_cancel_segment_pipeline_end_to_end"),
    Pipeline("DwdTradePayDetailSuc", "app/dwd/DwdTradePayDetailSuc.java:19-161",
             "S2,S3,P7,J3,J5,K3", _q("cdc_pay_detail_suc"),
             "streaming/pipelines.py::pay_detail_suc_stream — ONE query, "
             "P7 -> J3 dict lookup -> J5 interval join -> upsert_writer (K3); "
             "batch-equality pinned by test_pay_detail_suc_pipeline_end_to_end"),
    Pipeline("DwdTradeRefundOrderDetail", "app/dwd/DwdTradeRefundOrderDetail.java:23-138",
             "S3,P7,J1,J3x2,K3", _q("cdc_refund_region"), "as pay-suc"),
    Pipeline("DwdTradeRefundPaySuc", "app/dwd/DwdTradeRefundPaySuc.java:23-159",
             "S3,P7,J1,J3x2,K3", _q("cdc_refund_pay_suc"),
             "streaming/pipelines.py::refund_pay_suc_stream — ONE query, "
             "complete mode, transform shared via refund_pay_suc_frame; "
             "pinned by test_refund_pay_suc_pipeline_end_to_end"),
    Pipeline("DwsTrafficSourceKeywordPageViewWindow",
             "app/dws/DwsTrafficSourceKeywordPageViewWindow.java:18-103",
             "S2,P9,U2,J10,A2,A6,K5", _q("keyword_split"),
             "withWatermark + window agg (test_watermark_append_emits_closed_windows)"),
    Pipeline("DwsTrafficVcChArIsNewPageViewWindow",
             "app/dws/DwsTrafficVcChArIsNewPageViewWindow.java:42-170",
             "S1,D4,A1,A6,W1,K5,K6", _q("log_pvuv_channel"),
             "first_per_day_stream (D4) -> windowed agg"),
    Pipeline("DwsTrafficHomeDetailPageViewWindow",
             "app/dws/DwsTrafficHomeDetailPageViewWindow.java:37-147",
             "S1,D4,A5,A6,K5", _q("dws_home_detail_uv"), "as above, two-page filter"),
    Pipeline("DwsUserUserLoginWindow", "app/dws/DwsUserUserLoginWindow.java:36-151",
             "S1,D6,A5,A6,K5", _q("returning_users_daily"),
             "streaming.stateful.returning_flags_stream (D6)"),
    Pipeline("DwsUserUserRegisterWindow", "app/dws/DwsUserUserRegisterWindow.java:32-119",
             "S1,D7,A5,A6,K5", _q("uv_daily"),
             "streaming/pipelines.py::user_register_window_stream — ONE query, "
             "D4 dedup -> day window; pinned by "
             "test_user_register_window_pipeline_end_to_end"),
    Pipeline("DwsTradeCartAddUuWindow", "app/dws/DwsTradeCartAddUuWindow.java:37-142",
             "S1,W5,D4,A5,A6,K5", _q("cart_uu_daily"),
             "coalesce(operate_time, create_time) event time (W5) + D4"),
    Pipeline("DwsTradeOrderWindow", "app/dws/DwsTradeOrderWindow.java:36-126",
             "S1,D5,A5,A6,K5", _q("uv_new_daily"),
             "streaming/pipelines.py::order_uu_window_stream — ONE query, "
             "detail dedup -> stream joins -> D5 daily_new_flags_stream -> "
             "day window; pinned by test_order_uu_window_pipeline_end_to_end"),
    Pipeline("DwsTradePaymentWindow", "app/dws/DwsTradePaymentWindow.java:32-124",
             "S1,D5,A5,A6,K5", _q("dws_payment_uu_window"),
             "streaming/pipelines.py::payment_uu_window_stream — ONE query, "
             "P7 pay-suc filter -> D5 daily_new_flags_stream -> day window; "
             "pinned by test_payment_uu_window_pipeline_end_to_end"),
    Pipeline("DwsTradeSkuOrderWindow", "app/dws/DwsTradeSkuOrderWindow.java:50-376",
             "S1,D2,A3,A6,J7/J8/J9,K5", _q("dws_brand_order_window"),
             "streaming/pipelines.py::sku_order_window_stream — ONE query, "
             "D2 dedup -> broadcast enrich -> window agg; batch-equality "
             "pinned by test_sku_order_window_pipeline_end_to_end"),
    Pipeline("DwsTradeProvinceOrderWindow", "app/dws/DwsTradeProvinceOrderWindow.java:36-140",
             "S1,D2,A4,A6,J8,K5", _q("dws_nation_order_window"), "as sku window"),
]


def run(app: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    for p in PIPELINES:
        if p.app == app:
            return p.batch(spark, sf_dir)
    raise KeyError(f"unknown pipeline {app!r}; have {[p.app for p in PIPELINES]}")
