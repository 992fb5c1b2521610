"""End-to-end streaming compositions of whole reference pipelines
(SURVEY §2.11; VERDICT r07 task #3) — each app runs as ONE Structured
Streaming query, source → stateful → window/join → sink, not
per-operator twins.

* ``sku_order_window_stream`` = DwsTradeSkuOrderWindow
  (app/dws/DwsTradeSkuOrderWindow.java:50-376): CDC order_detail envelope
  stream → P2/P4 filters → D2 keep-first dedup (dropDuplicatesWithinWatermark)
  → J7 broadcast dim enrich (stream-static) → A3 money sums in tumbling
  windows → A6 stt/edt decoration. One query, two stateful operators
  (dedup + window agg) chained under a single watermark — supported by
  Spark's multiple-stateful-operator execution in append mode.

* ``cart_add_uu_window_stream`` = DwsTradeCartAddUuWindow
  (app/dws/DwsTradeCartAddUuWindow.java:37-142): CDC cart_info envelope
  stream → W5 coalesce event time → D4 first-per-day dedup (keyed on
  (sku, day)) → A5 daily unique counts — the D4 day-keyed state shape
  under a data-column event time.

* ``payment_uu_window_stream`` = DwsTradePaymentWindow
  (app/dws/DwsTradePaymentWindow.java:60-110): P7 exact 1002→1005
  transition filter → D5 (the event-time-correct retraction twin
  ``daily_new_flags_stream``) → A5 counters in day windows.

* ``pay_detail_suc_stream`` = DwdTradePayDetailSuc
  (app/dwd/DwdTradePayDetailSuc.java:59-158): P7 pay-suc transitions →
  J3 broadcast dict lookup → J5 interval join with the order_detail
  stream → K3 upsert — the only main chaining an interval join into a
  lookup-enriched stream; shares ``queries/cdc.py::pay_suc_with_name``
  with the batch twin.

* ``traffic_grain_window_stream`` = DwsTrafficVcChArIsNewPageViewWindow
  (app/dws/DwsTrafficVcChArIsNewPageViewWindow.java:130-154): raw
  topic_log JSON → P1 parse → M1 page split → EXACT uv via a
  self-union (plain branch + (grain, mid, day)-deduped branch) → A1
  pairwise-counter day windows — the traffic family's log source, where
  the other compositions consume CDC envelopes.

* ``home_detail_uv_window_stream`` = DwsTrafficHomeDetailPageViewWindow
  (app/dws/DwsTrafficHomeDetailPageViewWindow.java:70-133): raw log →
  parse → home/good_detail filter → (mid, page_id, day) dedup → two
  pairwise UV counters per day window.

* ``display_item_window_stream`` = the DwsTrafficSourceKeywordPageViewWindow
  shape (app/dws/DwsTrafficSourceKeywordPageViewWindow.java:40-76): raw
  log → parse → lateral explode (UDTF join) → per-value window counts;
  display items stand in for search keywords (the synth has none).

* ``user_login_window_stream`` = DwsUserUserLoginWindow
  (app/dws/DwsUserUserLoginWindow.java:36-151): event stream → login
  filter → D6 returning-user flags (custom applyInPandasWithState
  last-active-day state) → daily uu + 7-day-returner counts in day
  windows — the only composition chaining a CUSTOM stateful operator
  into a downstream windowed aggregation.

* ``order_uu_window_stream`` = DwsTradeOrderWindow fed by the DWD wide
  join in the same query (the deepest chain: detail dedup → three
  stream-stream joins → retraction-style D5 → window agg; five stateful
  operators under one trigger).

* ``nation_order_window_stream`` = DwsTradeProvinceOrderWindow
  (app/dws/DwsTradeProvinceOrderWindow.java:36-140): order_info inserts →
  broadcast geo enrichment → 30-day windows with EXACT distinct users via
  the self-union dedup on (user, epoch-aligned window bucket).

* ``refund_region_stream`` = DwdTradeRefundOrderDetail
  (app/dwd/DwdTradeRefundOrderDetail.java:44-46,100-106): the one
  COMPLETE-mode (non-windowed) continuous aggregate; the transform is
  the batch twin's function verbatim (queries/cdc.py::refund_region_frame).

* ``dim_app_stream`` = DimApp and ``dwd_base_app_stream`` = DwdBaseApp:
  config-routed envelope streams sunk through the K4 per-table dim MERGE
  (``dim_store_writer``) and the K2 replay-guarded topic fan-out
  (``topic_router``) respectively, each run SUPERVISED
  (``streaming.supervise.run_supervised``, W12) with an
  injected-transient-failure restart proof.

* ``cancel_segment_stream`` = DwdCancelOrderDetail and
  ``refund_pay_suc_stream`` = DwdTradeRefundPaySuc: COMPLETE-mode
  continuous aggregates sharing their transforms verbatim with the batch
  twins (cancel_segment_frame / refund_pay_suc_frame), the
  refund_region pattern at two more status pairs.

* ``user_register_window_stream`` = DwsUserUserRegisterWindow
  (app/dws/DwsUserUserRegisterWindow.java:32-119): D4 (user, day) dedup
  → per-day unique counts — the cart_add_uu shape keyed on user.

* ``order_detail_wide_stream`` = DwdTradeOrderDetail
  (app/dwd/DwdTradeOrderDetail.java:20-224): order_detail INNER JOIN
  order_info (J1) LEFT JOIN detail_activity LEFT JOIN detail_coupon (J2×2)
  as chained stream-stream joins with watermark-bounded state (J4), after a
  D-style keep-first on the detail stream (the K3 upsert compaction pulled
  to the front, where the stream form can do it exactly once). The caller
  sinks it through ``sinks.upsert.upsert_writer`` (K3).

Batch-vs-stream equality demands closed windows / closed join state at end
of replay; availableNow advances the watermark only with data, so the test
harness appends far-future *sentinel* slices (``sentinel_envelope_slices``)
whose ids can never join — they push the watermark past every real window
without contributing rows, the streaming analogue of the reference's
job-drain barrier.

Interval bounds: the tests use generous bounds (the synthetic envelopes
pack colliding ids years apart — see queries/cdc.py::cdc_order_detail_wide)
so the stream join state covers every batch-joinable pair. Production
deployments tighten the bound to the business skew (order→ship ≤ ~4
months) and the same code holds state proportional to it.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmall_flink_spark.operators.cdc import d, drop_bootstrap, src_filter
from gmall_flink_spark.operators.windows import tumble_agg

#: ids used by sentinel rows — negative, so they can never equi-join the
#: synthetic envelopes' non-negative packed keys.
SENTINEL_ID = -1

def _day_watermark_delay(dedup_delay: str) -> str:
    """Day-grain watermark delay = ``dedup_delay`` rounded UP to whole
    days, plus the 1-day correction-safety margin (see
    daily_new_flags_stream). Parses the unit instead of assuming a
    day-denominated string (ADVICE r10 #2): '2 weeks' must widen the
    day watermark to 15 days, not 3."""
    from gmall_flink_spark.streaming.stateful import _interval_ms

    return f"{-(-_interval_ms(dedup_delay) // 86_400_000) + 1} days"


def _od_stream(env: DataFrame) -> DataFrame:
    """Shared order_detail parse: P2 bootstrap drop, P4 table/type filter,
    P3 projection, event time from the envelope ts."""
    return src_filter(drop_bootstrap(env), "order_detail", ["insert"]).select(
        d("id").cast("bigint").alias("id"),
        d("order_id").cast("bigint").alias("order_id"),
        d("sku_id").cast("bigint").alias("sku_id"),
        d("sku_num").cast("bigint").alias("sku_num"),
        d("split_total_amount").cast("decimal(18,2)").alias("amount"),
        F.col("ts"),
        F.timestamp_seconds("ts").alias("od_ts"),
    )


def sku_order_window_stream(
    od_env: DataFrame,
    part: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsTradeSkuOrderWindow as one streaming query (D2→J7→A3→A6).

    ``dedup_delay`` bounds the keep-first state: it must exceed the widest
    event-time gap between duplicate detail ids (the synthetic envelopes
    collide packed ids years apart; production CDC dups arrive within
    seconds and use the reference's 5 s-scale TTL)."""
    od = _od_stream(od_env).withColumnRenamed("od_ts", "rt").drop("ts", "order_id")
    od = od.withWatermark("rt", dedup_delay).dropDuplicatesWithinWatermark(["id"])
    enriched = od.join(F.broadcast(part), od.sku_id == part.p_partkey)
    return tumble_agg(
        enriched,
        "rt",
        "30 days",
        [F.col("p_brand").alias("brand")],
        [
            F.count(F.lit(1)).alias("order_ct"),
            F.sum("sku_num").alias("sku_num_sum"),
            F.sum("amount").cast("double").alias("amount_sum"),
        ],
    )


def cart_add_uu_window_stream(
    cart_env: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsTradeCartAddUuWindow as one streaming query (W5→D4→A5/A6,
    app/dws/DwsTradeCartAddUuWindow.java:37-142): cart_info envelope
    stream → P2/P4 filters → W5 coalesce(operate_time, create_time) event
    time → D4 first-event-per-day-per-sku as dedup-on-(key, day) under the
    watermark (the reference's lastCartAddDate ValueState) → A5 daily
    unique counts with day-tumbling windows. Two chained stateful
    operators (dedup → window agg) under a single watermark, like
    sku_order_window_stream but with the D4 day-keyed state shape and a
    data-column (not envelope-ts) event time.

    Which duplicate the dedup keeps is batch-order-dependent, but the
    downstream per-day COUNT is tie-insensitive, so stream == batch twin
    (queries/cdc.py::cart_uu_daily) exactly. ``dedup_delay`` must exceed
    the corpus's event-time span so replayed history is never late; the
    per-key state a production 0-lateness deployment holds is one day of
    sku ids, exactly the reference's."""
    cart = src_filter(drop_bootstrap(cart_env), "cart_info", ["insert", "update"]).select(
        d("sku_id").cast("bigint").alias("sku_id"),
        F.coalesce(
            F.to_timestamp(d("operate_time")), F.to_timestamp(d("create_time"))
        ).alias("rt"),
    )
    firsts = (
        cart.withColumn("cur_date", F.date_format("rt", "yyyy-MM-dd"))
        .withWatermark("rt", dedup_delay)
        .dropDuplicatesWithinWatermark(["sku_id", "cur_date"])
    )
    # day-tumble window start date == cur_date (both UTC-day buckets of rt)
    return tumble_agg(
        firsts, "rt", "1 day", [], [F.count(F.lit(1)).alias("cart_uu_ct")]
    ).select(F.substring("stt", 1, 10).alias("cur_date"), "cart_uu_ct")


def payment_uu_window_stream(
    oi_env: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsTradePaymentWindow as one streaming query (P7→D5→A5/A6,
    app/dws/DwsTradePaymentWindow.java:60-110): order_info envelope
    stream → exact 1002→1005 pay-success transition filter → D5
    per-day-unique + first-ever-payer counters in day windows.

    D5 is the retraction-style, EVENT-TIME-CORRECT twin
    (streaming/stateful.py::daily_new_flags_stream — the same operator
    order_uu_window_stream uses): one delta row per (user, day) first
    sight, correction pairs when a chronologically earlier day surfaces
    late, summed in day-grain windows whose watermark delay is one day
    longer than the payment-side delay (the correction-safety margin
    proven in the operator's docstring). Correct under ANY arrival order
    — pinned by a disorder fixture in addition to the ordered-replay
    equality test."""
    from gmall_flink_spark.operators.cdc import status_transition
    from gmall_flink_spark.streaming.stateful import daily_new_flags_stream

    pays = (
        src_filter(drop_bootstrap(oi_env), "order_info")
        .where(status_transition("order_status", to="1005", from_="1002"))
        .select(
            d("user_id").cast("bigint").alias("user_id"),
            F.timestamp_seconds("ts").alias("rt"),
        )
    )
    flags = daily_new_flags_stream(
        pays.withWatermark("rt", dedup_delay), "user_id", ts="rt"
    )
    w = flags.withColumn("day_ts", F.to_timestamp("cur_date")).withWatermark(
        "day_ts", _day_watermark_delay(dedup_delay)
    )
    return tumble_agg(
        w,
        "day_ts",
        "1 day",
        [],
        [
            F.sum("uu").cast("long").alias("payment_suc_uu_ct"),
            F.sum("new_delta").cast("long").alias("payment_suc_new_user_ct"),
        ],
    ).select("stt", "edt", "payment_suc_uu_ct", "payment_suc_new_user_ct")


def traffic_grain_window_stream(
    raw: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsTrafficVcChArIsNewPageViewWindow as one streaming query
    (P1→M1→D4→A1/A6, app/dws/DwsTrafficVcChArIsNewPageViewWindow.java:
    130-154): raw topic_log JSON stream → permissive parse → page-split
    predicate → 1-day tumbling (vc, ch, ar, is_new) windows with pv,
    EXACT uv, and duration sums.

    Exact distinct counts are not a streaming aggregate, so the
    reference's per-mid ValueState flag is re-expressed as a SELF-UNION:
    the pv/duration branch passes every page view tagged (pv=1, uv=0)
    while the uv branch first dedups on (grain, mid, day) under the
    watermark and tags survivors (pv=0, uv=1); one window aggregation
    then sums the pairwise counters (A5's trick at the traffic grain).
    Both branches read the SAME source instance, so a micro-batch feeds
    them in lockstep; the query runs two stateful operators (dedup +
    window agg) under one watermark.

    Scale: the union doubles the window-agg input but both branches are
    map-side partial-aggregated per grain key; dedup state is one entry
    per (grain, mid, day) — the same cardinality the reference's keyed
    ValueState holds."""
    from gmall_flink_spark.operators.log_split import parse_page_log

    parsed = parse_page_log(raw)
    page = parsed.where(F.col("start").isNull() & F.col("page").isNotNull())
    keys = ["vc", "ch", "ar", "is_new"]
    grain = page.select(
        *[F.col(f"common.{k}").alias(k) for k in keys],
        F.col("common.mid").alias("mid"),
        F.col("page.during_time").cast("long").alias("during_time"),
        F.timestamp_millis("ts").alias("rt"),
    )
    pv = grain.withWatermark("rt", dedup_delay).select(
        *keys, "rt",
        F.lit(1).cast("long").alias("pv"),
        F.lit(0).cast("long").alias("uv"),
        F.col("during_time").alias("dur"),
    )
    uv = (
        grain.withColumn("cur_date", F.date_format("rt", "yyyy-MM-dd"))
        .withWatermark("rt", dedup_delay)
        .dropDuplicatesWithinWatermark(keys + ["mid", "cur_date"])
        .select(
            *keys, "rt",
            F.lit(0).cast("long").alias("pv"),
            F.lit(1).cast("long").alias("uv"),
            F.lit(0).cast("long").alias("dur"),
        )
    )
    return tumble_agg(
        pv.unionByName(uv),
        "rt",
        "1 day",
        keys,
        [
            F.sum("pv").alias("pv_ct"),
            F.sum("uv").alias("uv_ct"),
            F.sum("dur").alias("dur_sum"),
        ],
    )


#: 30-day tumbling windows in seconds — the nation/geo order window's
#: grain; the uv-dedup bucket below must floor to the SAME alignment
#: Spark's window() uses (epoch 1970-01-01, UTC session).
NATION_WIN_SECS = 30 * 86400


def nation_order_window_stream(
    oi_env: DataFrame,
    cust: DataFrame,
    nation: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsTradeProvinceOrderWindow as one streaming query (P2/P4→J8→
    A4/A6, app/dws/DwsTradeProvinceOrderWindow.java:36-140): order_info
    insert envelopes → broadcast geo enrichment (customer → nation, the
    stream-static form of the reference's async dim lookup) → per-nation
    30-day windows with order count, EXACT distinct user count, and
    decimal amount sums.

    Exact user_ct is not a streaming aggregate, so it rides the traffic
    pipeline's SELF-UNION trick one window size up: the plain branch tags
    every order (ord=1, uu=0, amount), the uu branch dedups on
    (user_id, 30-day bucket) under the watermark — the bucket floors
    unix seconds by NATION_WIN_SECS, Spark's own epoch-aligned tumble
    boundary, so dedup survivors land in exactly their window. A user's
    nation is a function of user_id, so the dedup key needs no geo
    column. Both branches read the SAME enriched instance; one window
    aggregation sums the pairwise counters.

    Scale: dims broadcast; dedup state is one entry per (user, window);
    the union doubles window-agg input but both branches partial-
    aggregate map-side per nation key."""
    oi = src_filter(drop_bootstrap(oi_env), "order_info", ["insert"]).select(
        d("id").cast("bigint").alias("order_id"),
        d("user_id").cast("bigint").alias("user_id"),
        d("total_amount").cast("decimal(18,2)").alias("amount"),
        F.timestamp_seconds("ts").alias("rt"),
    )
    # watermark ABOVE the join: the far-future sentinel's user_id can never
    # join `cust`, so it must advance the watermark before the join drops it
    oi = oi.withWatermark("rt", dedup_delay)
    enriched = (
        oi.join(F.broadcast(cust), oi.user_id == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("order_id", "user_id", "amount", "rt", F.col("n_name").alias("nation_name"))
    )
    plain = enriched.select(
        "nation_name", "rt",
        F.lit(1).cast("long").alias("ord"),
        F.lit(0).cast("long").alias("uu"),
        F.col("amount"),
    )
    uu = (
        enriched.withColumn(
            "win_bucket",
            (F.unix_timestamp("rt") / F.lit(NATION_WIN_SECS)).cast("bigint"),
        )
        .dropDuplicatesWithinWatermark(["user_id", "win_bucket"])
        .select(
            "nation_name", "rt",
            F.lit(0).cast("long").alias("ord"),
            F.lit(1).cast("long").alias("uu"),
            F.lit(0).cast("decimal(18,2)").alias("amount"),
        )
    )
    return tumble_agg(
        plain.unionByName(uu),
        "rt",
        "30 days",
        [F.col("nation_name")],
        [
            F.sum("ord").alias("order_ct"),
            F.sum("uu").alias("user_ct"),
            F.sum("amount").cast("double").alias("order_amount"),
        ],
    )


def refund_region_stream(
    oi_env: DataFrame,
    cust: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """DwdTradeRefundOrderDetail as one streaming query
    (app/dwd/DwdTradeRefundOrderDetail.java:44-46,100-106), in COMPLETE
    output mode — the suite's one non-windowed continuous aggregate
    (every other pipeline is an append-mode windowed stream): transition
    filter → three broadcast dim lookups → region-grain running totals,
    re-emitted per micro-batch. The transform is LITERALLY the batch
    twin's function (queries/cdc.py::refund_region_frame), so the
    equality test pins one implementation, not two.

    Scale: complete mode holds |regions| aggregate rows as state — the
    mode is only viable because the output grain is dimension-bounded;
    a high-cardinality grain would switch to update mode + an upsert
    sink (K3), same transform."""
    from gmall_flink_spark.queries.cdc import refund_region_frame

    return refund_region_frame(oi_env, cust, nation, region)


def home_detail_uv_window_stream(
    raw: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsTrafficHomeDetailPageViewWindow as one streaming query
    (P1→P9→D4→A5/A6, app/dws/DwsTrafficHomeDetailPageViewWindow.java:
    70-133): raw topic_log JSON → parse → home/good_detail page filter →
    first-per-day dedup on (mid, page_id, day) → two pairwise UV
    counters per day window. The reference keeps one ValueState flag per
    (mid, page type); the dedup key carries page_id, so a single
    dropDuplicatesWithinWatermark covers both page types and the
    conditional counters split them at aggregation time.

    Scale: dedup state = one entry per (mid, page type, day) — the
    reference's exact flag cardinality; one window agg with map-side
    partials."""
    from gmall_flink_spark.operators.log_split import parse_page_log

    parsed = parse_page_log(raw)
    page = parsed.where(
        F.col("start").isNull()
        & F.col("page").isNotNull()
        & F.col("page.page_id").isin("home", "good_detail")
    )
    x = page.select(
        F.col("common.mid").alias("mid"),
        F.col("page.page_id").alias("page_id"),
        F.timestamp_millis("ts").alias("rt"),
    )
    dedup = (
        x.withColumn("cur_date", F.date_format("rt", "yyyy-MM-dd"))
        .withWatermark("rt", dedup_delay)
        .dropDuplicatesWithinWatermark(["mid", "page_id", "cur_date"])
    )
    return tumble_agg(
        dedup,
        "rt",
        "1 day",
        [],
        [
            F.sum((F.col("page_id") == "home").cast("bigint")).alias("home_uv_ct"),
            F.sum((F.col("page_id") == "good_detail").cast("bigint")).alias(
                "detail_uv_ct"
            ),
        ],
    ).select("stt", "edt", "home_uv_ct", "detail_uv_ct")


def display_item_window_stream(
    raw: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """The DwsTrafficSourceKeywordPageViewWindow SHAPE as one streaming
    query (P1→J10→A2/A6, app/dws/DwsTrafficSourceKeywordPageViewWindow
    .java:40-76): raw log JSON → parse → lateral explode (the UDTF join)
    → per-exploded-value counts in tumbling windows. The reference
    splits `page.item` of search pages into keywords; this synth has no
    search-keyword pages (documented in queries/text.keyword_split), so
    the exploded DISPLAY items stand in — the plan shape (stateless
    UDTF fan-out feeding a watermarked window aggregate in one query)
    is identical, which is what the composition proves.

    Scale: explode is map-side fan-out; the window agg shuffles once on
    (item, window) with map-side partials."""
    from gmall_flink_spark.operators.log_split import parse_page_log

    parsed = parse_page_log(raw)
    d = (
        parsed.where(F.col("displays").isNotNull())
        .select(
            F.timestamp_millis("ts").alias("rt"),
            F.explode("displays").alias("d"),
        )
        .select("rt", F.col("d.item").alias("item"))
        .withWatermark("rt", dedup_delay)
    )
    return tumble_agg(
        d,
        "rt",
        "1 day",
        ["item"],
        [F.count(F.lit(1)).alias("item_ct")],
    ).select("stt", "edt", "item", "item_ct")


def user_login_window_stream(
    ev: DataFrame,
    login_type: str = "click",
    gap_days: int = 7,
) -> DataFrame:
    """DwsUserUserLoginWindow as one streaming query (P→D6→A5/A6,
    app/dws/DwsUserUserLoginWindow.java:36-151): event stream → login
    filter → D6 returning-user flags (the CUSTOM applyInPandasWithState
    last-active-day state machine, not a built-in dedup) → daily unique
    logins + 7-day returners in tumbling day windows.

    This is the composition none of the other five pipelines exercise: a
    custom stateful operator CHAINED INTO a downstream windowed
    aggregation in the same query. The flags stream re-bases event time
    on ``cur_date`` (each flag row's day floor) and re-watermarks there
    — under the ordered-replay harness a day's flag row is always
    emitted before any later-day event has advanced that node's
    watermark (rt = day start <= every ts of that day), so nothing is
    late even at a 0-second delay; far-future sentinel logins push the
    watermark past the last real window to close it.

    Sentinel contract (learned the hard way): the pipeline must NOT
    filter sentinel rows out itself — Catalyst pushes any such filter
    BELOW the EventTimeWatermark node, so the sentinel would be removed
    before the watermark node ever saw it and the last window would
    never close. Instead every sentinel slice carries the SAME
    far-future timestamp: the sentinel's own window [T, T+1d) can then
    never close (the watermark stops exactly at T), so it self-excludes
    from the append output no matter how many sentinel slices replay.

    Scale: D6 state is one date per user; the window agg adds one
    counter pair per day — both keyed, both bounded; one branch is enough
    because the D6 operator already emits exactly one row per (user,
    active day) with the is_back flag decided by real state."""
    from gmall_flink_spark.streaming.stateful import returning_flags_stream

    login = ev.where(F.col("event_type") == login_type)
    flags = returning_flags_stream(login, "user_id", ts="ts", gap_days=gap_days)
    # no sentinel filter anywhere (see docstring: Catalyst would push it
    # below the watermark node); same-timestamp sentinels self-exclude
    w = flags.withColumn("rt", F.to_timestamp("cur_date")).withWatermark(
        "rt", "0 seconds"
    )
    return tumble_agg(
        w,
        "rt",
        "1 day",
        [],
        [
            F.count(F.lit(1)).alias("uu_ct"),
            F.sum("is_back").alias("back_ct"),
        ],
    ).select("stt", "edt", "uu_ct", "back_ct")


def order_uu_window_stream(
    od_env: DataFrame,
    oi_env: DataFrame,
    oa_env: DataFrame,
    oc_env: DataFrame,
    bound: str = "2600 days",
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsTradeOrderWindow as one streaming query, fed by the DWD layer
    IN THE SAME QUERY (app/dws/DwsTradeOrderWindow.java:36-126 consuming
    app/dwd/DwdTradeOrderDetail.java's topic): the four envelope streams
    → D keep-first → J1/J2 stream-stream joins (order_detail_wide_stream,
    unchanged) → D5 per-user day/first-ever DELTAS (the retraction-style
    ``daily_new_flags_stream``, event-time-correct under the joins'
    arrival disorder) → A5 pairwise SUMS in day windows. This is the
    deepest composition in the suite — five stateful operators chained
    under one availableNow trigger (detail dedup, three joins, D5,
    window agg), reproducing the reference's layered DWD→DWS topology
    without an intermediate topic.

    Event time re-bases twice: the joins run on the envelope seconds;
    the D5 output re-bases on its emitted cur_date, with the day-grain
    watermark delay set ONE DAY LONGER than the join-side delay — the
    margin that makes first-ever corrections provably never late and
    their target windows provably still open (daily_new_flags_stream
    docstring has the inequality).

    Sentinel contract, one operator deeper than the login pipeline's:
    the downstream watermark only advances through rows that actually
    REACH the D5 node, so the sentinel must traverse the joins — and it
    must be a FULL four-way match (od+oi+oa+oc sharing the sentinel
    detail/order ids). A partial match is held captive: a left-outer
    null-pad emits only when the watermark passes od_ts + bound, which
    for the far-future row itself can never happen (the watermark tops
    out 3650 days BEHIND it). Matched rows emit immediately; null-pads
    wait — the sentinel must take the immediate path."""
    from gmall_flink_spark.streaming.stateful import daily_new_flags_stream

    wide = order_detail_wide_stream(
        od_env, oi_env, oa_env, oc_env, bound=bound, dedup_delay=dedup_delay
    )
    x = wide.select("user_id", F.timestamp_seconds("ts").alias("rt"))
    flags = daily_new_flags_stream(x, "user_id", ts="rt")
    w = flags.withColumn("day_ts", F.to_timestamp("cur_date")).withWatermark(
        "day_ts", _day_watermark_delay(dedup_delay)
    )
    return tumble_agg(
        w,
        "day_ts",
        "1 day",
        [],
        [
            F.sum("uu").cast("long").alias("order_uu_ct"),
            F.sum("new_delta").cast("long").alias("order_new_user_ct"),
        ],
    ).select("stt", "edt", "order_uu_ct", "order_new_user_ct")


def dim_app_stream(env: DataFrame, config: DataFrame) -> DataFrame:
    """DimApp's transform as one streaming DataFrame (P1/P2→J6→P8,
    app/dim/DimApp.java:37-109): the combined topic_db envelope stream,
    bootstrap-dropped, broadcast-config-routed (the reference re-reads
    table_process per batch; a per-batch-re-read config frame slots in
    unchanged), pruned to sink_columns, filtered to the dim-typed routes,
    keyed by the config PK. The caller sinks it through
    ``sinks.upsert.dim_store_writer`` (K4 — per-table keyed MERGE) under
    ``streaming.supervise.run_supervised`` (W12), which together complete
    the reference's supervised dim-layer job."""
    from gmall_flink_spark.operators.cdc import route_with_config

    routed = route_with_config(drop_bootstrap(env), config, match_type=True)
    return routed.where(F.col("sink_type") == "dim").select(
        "sink_table",
        F.element_at("data_pruned", F.col("sink_row_key")).cast("bigint").alias("pk"),
        "type",
        "data_pruned",
        "ts",
    )


def dwd_base_app_stream(env: DataFrame, config: DataFrame) -> DataFrame:
    """DwdBaseApp's transform as one streaming DataFrame (P1/P2→J6→P8→K2,
    app/dwd/DwdBaseApp.java:37-110): the topic_db stream config-routed on
    (source_table, source_type) and pruned, every surviving row addressed
    to its per-route topic. The caller sinks it through
    ``sinks.upsert.topic_router`` (K2 — replay-guarded append fan-out)
    under ``run_supervised`` (W12)."""
    from gmall_flink_spark.operators.cdc import route_with_config

    routed = route_with_config(drop_bootstrap(env), config, match_type=True)
    return routed.select(
        "sink_table",
        F.element_at("data_pruned", "id").cast("bigint").alias("id"),
        "data_pruned",
        "ts",
    )


def dim_and_dwd_writer(
    config: DataFrame, dim_store: str, topic_dir: str, between=None
):
    """The COMBINED DimAndDwdApp (M3 dual-sink routing,
    app/lab/DimAndDwdApp.java:100-113 + DimAndDwdTableProcessFunction
    .java:70-119): ONE topic_db envelope stream, each micro-batch routed
    BOTH ways — dim-typed rows MERGE into the per-table dim store (K4),
    dwd-typed rows append through the replay-guarded topic router (K2) —
    the reference's main-output/side-output split as two filtered writes
    of one batch. Write order matters for crash safety: the idempotent
    dim MERGE runs first, the deterministic-publish append second, so a
    crash between them replays the MERGE harmlessly and the append still
    lands exactly once (topic_router scrubs and re-publishes its own
    (lineage, batch) files). ``between`` is an optional per-batch hook invoked between the
    two writes (fault injection in the crash-ordering test; a metrics
    probe in a deployment)."""
    from gmall_flink_spark.sinks.upsert import dim_store_writer, topic_router

    dim_w = dim_store_writer(dim_store)
    dwd_w = topic_router(topic_dir)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        dim_w(dim_app_stream(batch_df, config), batch_id)
        if between is not None:
            between(batch_id)
        dwd_w(dwd_base_app_stream(batch_df, config), batch_id)

    return write


def cancel_segment_stream(oi_env: DataFrame, cust: DataFrame) -> DataFrame:
    """DwdCancelOrderDetail as one streaming query
    (app/dwd/DwdCancelOrderDetail.java:24-226), complete output mode:
    P6 any→'1003' cancel transitions → J3 broadcast dim lookup →
    segment-grain running totals, re-emitted per micro-batch. The
    transform is LITERALLY the batch twin's function
    (queries/cdc.py::cancel_segment_frame), the refund_region_stream
    pattern at the cancel status pair.

    Scale: complete mode holds |segments| rows — dimension-bounded; a
    high-cardinality grain would switch to update mode + K3."""
    from gmall_flink_spark.queries.cdc import cancel_segment_frame

    return cancel_segment_frame(oi_env, cust)


def refund_pay_suc_stream(
    oi_env: DataFrame, cust: DataFrame, nation: DataFrame
) -> DataFrame:
    """DwdTradeRefundPaySuc as one streaming query
    (app/dwd/DwdTradeRefundPaySuc.java:23-159), complete output mode:
    P7 exact '1001'→'1004' refund-pay-success transitions → J3×2 chained
    broadcast lookups → nation-grain running totals. Transform shared
    verbatim with the batch twin (queries/cdc.py::refund_pay_suc_frame).

    Scale: |nations| rows of complete-mode state — dimension-bounded."""
    from gmall_flink_spark.queries.cdc import refund_pay_suc_frame

    return refund_pay_suc_frame(oi_env, cust, nation)


def user_register_window_stream(
    ev: DataFrame,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwsUserUserRegisterWindow as one streaming query (D4/D7→A5/A6,
    app/dws/DwsUserUserRegisterWindow.java:32-119): event stream →
    first-event-per-user-per-day dedup (D4; the synth has no dedicated
    register topic, so the daily-UV form stands in — the reference's
    register rows are unique per user by construction, making its window
    agg exactly this dedup+count composition) → per-day unique-user
    counts in tumbling day windows. The cart_add_uu composition shape,
    keyed on user instead of sku, over the events table.

    Scale: dedup state is one entry per (user, day) under the watermark;
    one window agg with map-side partials."""
    firsts = (
        ev.select("user_id", "ts")
        .withColumn("cur_date", F.date_format("ts", "yyyy-MM-dd"))
        .withWatermark("ts", dedup_delay)
        .dropDuplicatesWithinWatermark(["user_id", "cur_date"])
    )
    return tumble_agg(
        firsts, "ts", "1 day", [], [F.count(F.lit(1)).alias("uv_ct")]
    ).select(F.substring("stt", 1, 10).alias("cur_date"), "uv_ct")


def pay_detail_suc_stream(
    oi_env: DataFrame,
    od_env: DataFrame,
    dic: DataFrame,
    bound_lo_s: int | None = None,
    bound_hi_s: int | None = None,
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwdTradePayDetailSuc as ONE streaming query (P7→J3→J5→K3,
    app/dwd/DwdTradePayDetailSuc.java:59-158) — the only reference main
    whose COMPOSITION chains an interval join into a lookup-enriched
    stream: pay-success transitions (P7, :59-71) → broadcast dict lookup
    (J3, the as-of-now form of the :87-96 HBase lookup join) → J5
    interval join with the order_detail stream on order_id within
    [pi − lo, pi + hi] (:100-127's od.rt ∈ [pi.rt − 15 min, pi.rt + 5 s],
    band mirrored to this data's order→ship skew; defaults imported from
    the batch twin so the two can never drift) → ready for the K3 upsert
    sink keyed on order_detail_id (:131-158). The transform up to the
    interval join is LITERALLY the batch twin's function
    (queries/cdc.py::pay_suc_with_name), so the equality test pins one
    lookup implementation, not two.

    The detail side carries the K3 keep-first compaction pulled to the
    front (same contract as order_detail_wide_stream) — a no-op on this
    data's unique packed ids, state-bounded by the watermark otherwise.

    No sentinels needed: both stateful operators here (dedup, INNER
    interval join) emit on sight — nothing waits for a closing
    watermark, unlike the windowed/outer-join pipelines.

    Scale: dict broadcast; join state is bounded by the watermark delay
    minus the band (Spark evicts rows that can no longer match); in a
    production deployment ``dedup_delay`` shrinks to the real CDC
    disorder bound and state is hours, not years."""
    from gmall_flink_spark.queries.cdc import (
        PAY_DETAIL_HI_S,
        PAY_DETAIL_LO_S,
        pay_suc_with_name,
    )

    lo = PAY_DETAIL_LO_S if bound_lo_s is None else bound_lo_s
    hi = PAY_DETAIL_HI_S if bound_hi_s is None else bound_hi_s
    pi = (
        pay_suc_with_name(oi_env, dic)
        .withColumnRenamed("order_id", "pi_order_id")
        .withColumn("pi_rt", F.timestamp_seconds("pay_ts"))
        .withWatermark("pi_rt", dedup_delay)
    )
    od = (
        src_filter(drop_bootstrap(od_env), "order_detail", ["insert"])
        .select(
            d("id").cast("bigint").alias("order_detail_id"),
            d("order_id").cast("bigint").alias("order_id"),
            d("sku_id").cast("bigint").alias("sku_id"),
            d("sku_num").cast("bigint").alias("sku_num"),
            d("split_total_amount").cast("decimal(18,2)").alias("amount"),
            F.timestamp_seconds("ts").alias("od_rt"),
        )
        .withWatermark("od_rt", dedup_delay)
        .dropDuplicatesWithinWatermark(["order_detail_id"])
    )
    wide = od.join(
        pi,
        (F.col("order_id") == F.col("pi_order_id"))
        & (F.col("od_rt") >= F.col("pi_rt") - F.expr(f"interval {lo} seconds"))
        & (F.col("od_rt") <= F.col("pi_rt") + F.expr(f"interval {hi} seconds")),
    )
    return wide.select(
        "order_detail_id", "order_id", "user_id", "sku_id", "sku_num",
        F.col("amount").cast("double").alias("split_payment_amount"),
        "payment_type_code", "payment_type_name", "pay_ts",
    )


def sentinel_value_slices(
    spark,
    slices_dir: str,
    value: str,
    n: int = 2,
) -> None:
    """``sentinel_envelope_slices`` for raw-JSON ``value`` topics
    (topic_log): append ``n`` single-row slices each holding the given
    far-future JSON line. The same ordering contract applies (mtimes
    strictly after the newest real slice; pair with
    ``maxFilesPerTrigger=1``); the caller crafts ``value`` so it parses
    and reaches the watermark node but can never land in a closed
    window."""
    _append_sentinel_slices(
        slices_dir,
        lambda j: spark.createDataFrame([(value,)], "value string"),
        n,
    )


def order_detail_wide_stream(
    od_env: DataFrame,
    oi_env: DataFrame,
    oa_env: DataFrame,
    oc_env: DataFrame,
    bound: str = "2600 days",
    dedup_delay: str = "3650 days",
) -> DataFrame:
    """DwdTradeOrderDetail as one streaming query (D→J1→J2×2), ready for a
    K3 upsert sink. ``bound`` is the stream-stream join's event-time window
    (state retention); it must cover the max event-time skew between
    joinable rows."""

    def within(a: str, b: str) -> Column:
        return F.expr(
            f"{b} >= {a} - interval {bound} AND {b} <= {a} + interval {bound}"
        )

    od = (
        _od_stream(od_env)
        .withColumnRenamed("amount", "split_total_amount")
        .withWatermark("od_ts", dedup_delay)
        .dropDuplicatesWithinWatermark(["id"])
    )
    oi = (
        src_filter(drop_bootstrap(oi_env), "order_info", ["insert"])
        .select(
            d("id").cast("bigint").alias("order_id"),
            d("user_id").cast("bigint").alias("user_id"),
            F.timestamp_seconds("ts").alias("oi_ts"),
        )
        .withWatermark("oi_ts", dedup_delay)
    )
    oa = (
        oa_env.select(
            d("order_detail_id").cast("bigint").alias("oa_id"),
            d("activity_id").cast("bigint").alias("activity_id"),
            F.timestamp_seconds("ts").alias("oa_ts"),
        )
        .withWatermark("oa_ts", dedup_delay)
    )
    oc = (
        oc_env.select(
            d("order_detail_id").cast("bigint").alias("oc_id"),
            d("coupon_id").cast("bigint").alias("coupon_id"),
            F.timestamp_seconds("ts").alias("oc_ts"),
        )
        .withWatermark("oc_ts", dedup_delay)
    )

    wide = (
        od.join(oi, (od.order_id == oi.order_id) & within("od_ts", "oi_ts"))
        .drop(oi.order_id)
        .join(oa, (F.col("id") == oa.oa_id) & within("od_ts", "oa_ts"), "leftOuter")
        .join(oc, (F.col("id") == oc.oc_id) & within("od_ts", "oc_ts"), "leftOuter")
    )
    return wide.select(
        "id", "order_id", "user_id", "sku_id", "sku_num",
        F.col("split_total_amount").cast("double").alias("split_total_amount"),
        "activity_id", "coupon_id", "ts",
    )


def sentinel_envelope_slices(
    spark,
    slices_dir: str,
    table: str,
    data: dict[str, str],
    ts: int,
    n: int = 2,
    type_: str = "insert",
    old: dict[str, str] | None = None,
) -> None:
    """Append ``n`` single-row far-future slices to a ``split_into_files``
    directory. Each sentinel is a valid insert envelope for ``table`` whose
    key fields are SENTINEL_ID (never joinable), timestamped ``ts + j·1h``
    (strictly increasing, so every sentinel batch advances the watermark) —
    they push the watermark past every real window/join without adding
    output rows. The first raises the watermark at its batch's END; each
    later one triggers an emission/eviction pass that uses it. CHAINED
    outer joins cascade null-padded rows one stateful stage per batch, so
    a pipeline with k chained outer joins needs n ≥ k + 1 sentinels.

    Sizing ``ts``: watermark propagation subtracts each interval join's
    bound from the watermark it hands downstream, so the sentinel must
    clear  max_event_time + watermark_delay + (k+1)·bound  — for the wide
    pipeline (delay 3650 d, three 2600 d joins) that is > 14 050 days past
    the data; undershooting silently withholds the null-padded tail.

    Ordering contract: the file source lists files and (with
    ``latestFirst`` left at its false default) processes them oldest-mtime
    first, so the sentinels are mtime-stamped strictly AFTER the newest
    real slice — callers must pair this with ``maxFilesPerTrigger=1`` (as
    ``envelope_stream`` does) so each sentinel lands in its own batch; a
    single batch containing sentinel + real rows would advance the
    watermark before the real rows are stated.

    ``type_``/``old`` shape the envelope for pipelines whose filters sit
    upstream of the watermark node: a P6/P7 transition pipeline drops
    plain inserts before they can advance the watermark, so its sentinel
    must be an update carrying the matching ``old`` image."""
    from gmall_flink_spark.schemas import CDC_ENVELOPE

    def make_df(j: int):
        row = ("gmall_flink", table, type_, ts + (j - 1) * 3600, data, old)
        return spark.createDataFrame([row], CDC_ENVELOPE)

    _append_sentinel_slices(slices_dir, make_df, n)


def _append_sentinel_slices(slices_dir: str, make_df, n: int) -> None:
    """Shared file-append machinery for both sentinel flavors: write each
    single-row frame (``make_df(j)``) as zz-sentinel-NN.parquet with an
    mtime strictly after the newest real slice, so the file source (false
    ``latestFirst`` + ``maxFilesPerTrigger=1``) replays them last, one
    batch each. The mtime-ordering contract lives HERE and only here."""
    import shutil

    slices = os.listdir(slices_dir)
    if not slices:
        raise ValueError(
            f"sentinel slices: {slices_dir!r} is empty — write the real "
            "slices (split_into_files) before appending sentinels, or the "
            "sentinel mtimes cannot be ordered after the data"
        )
    base = max(
        int(os.path.getmtime(os.path.join(slices_dir, f))) for f in slices
    )
    for j in range(1, n + 1):
        tmp = os.path.join(slices_dir, f"_sentinel_tmp_{j}")
        make_df(j).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(slices_dir, f"zz-sentinel-{j:02d}.parquet")
        os.replace(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + j, base + j))
