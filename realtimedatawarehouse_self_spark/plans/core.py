"""Batch twins of the reference's DWD/DWS pipelines over the driver testdata.

Table mapping (FIXTURES.md §6): the `events` table stands in for the page-log
stream (user_id≈mid/uid, event_type≈channel/page_id, value≈during_time,
props≈page JSON); `lineitem`/`orders` stand in for order_detail/order_info;
`nation`/`region`/`part`/`supplier`/`customer` stand in for base_dic and the
dim_* tables.

Every query here is the *batch twin* of a streaming pipeline (streaming
variants live in realtimedatawarehouse_self_spark/streaming/): the stateful
dedup operators T1-T6 are expressed as window functions (`row_number`/`lag`)
exactly as documented in SURVEY.md §2.6 "batch oracle" notes, and windowed
aggregations A1-A8 as `groupBy(window(...))`.

Scale notes (100 TB design):
- dedup window functions partition by (user_id, day) — high-cardinality keys,
  so the shuffle is even; no global sort anywhere;
- all dim joins broadcast the dim side (region/nation/part/supplier/customer
  stay orders of magnitude below fact tables), so fact tables never shuffle
  for enrichment;
- filters are applied directly on scan columns so Catalyst pushes them into
  the parquet reader (verified via .explain PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtimedatawarehouse_self_spark.functions.exprs import (
    TS_FMT,
    cents_amount,
    money_cents,
    window_bounds,
)
from realtimedatawarehouse_self_spark.session import apply_runtime_confs
from realtimedatawarehouse_self_spark.sources.tables import load_table

SESSION_GAP_MS = 30 * 60 * 1000  # session boundary for sv_ct (T2 analogue)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Dws02: per-dimension traffic window — T2 daily-UV dedup + sessionization +
# A1 keyed tumbling window + A8 boundary stamping.
# Reference: Dws02TrafficVcChArIsNewPageViewWindow.java:81-203.
# ---------------------------------------------------------------------------
def dws02_traffic_page_view_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "ts", "event_type", "user_id", "event_id", money_cents("value").alias("v")
    )
    w_day = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("rn", F.row_number().over(w_day))
        .withColumn("ms", F.unix_millis("ts"))
        .withColumn("prev_ms", F.lag(F.unix_millis("ts")).over(w_user))
    )
    agg = flagged.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("uv_ct"),
        F.sum(
            F.when(
                F.col("prev_ms").isNull()
                | (F.col("ms") - F.col("prev_ms") > SESSION_GAP_MS),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("sv_ct"),
        F.count(F.lit(1)).alias("pv_ct"),
        cents_amount(F.sum("v")).alias("dur_sum"),
    )
    return agg.select(*window_bounds("w"), "event_type", "uv_ct", "sv_ct", "pv_ct", "dur_sum")


_DWS02_SQL = f"""
WITH flagged AS (
    SELECT ts, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts, event_id) AS rn,
           epoch_ms(ts) AS ms,
           lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
    FROM events
)
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS edt,
       event_type,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
       CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > {SESSION_GAP_MS}
                THEN 1 ELSE 0 END) AS BIGINT) AS sv_ct,
       CAST(count(*) AS BIGINT) AS pv_ct,
       CAST(sum(v) AS DOUBLE) / 100.0 AS dur_sum
FROM flagged
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Dws03: home/good_detail independent daily UV (two dedup states per key) +
# global (keyless) window. Reference: Dws03TrafficPageViewWindow.java:57-177.
# 'view'≈home, 'click'≈good_detail.
# ---------------------------------------------------------------------------
def dws03_home_detail_uv_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click"))  # P6 page-id filter
        .select("ts", "event_type", "user_id", "event_id")
    )
    w = Window.partitionBy("user_id", "event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    flagged = ev.withColumn("rn", F.row_number().over(w))
    agg = flagged.filter(F.col("rn") == 1).groupBy(
        F.window("ts", "1 hour").alias("w")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("home_uv_ct"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("good_detail_uv_ct"),
    )
    return agg.select(*window_bounds("w"), "home_uv_ct", "good_detail_uv_ct")


_DWS03_SQL = """
WITH flagged AS (
    SELECT ts, event_type,
           row_number() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
                              ORDER BY ts, event_id) AS rn
    FROM events
    WHERE event_type IN ('view', 'click')
)
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS edt,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS home_uv_ct,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS good_detail_uv_ct
FROM flagged
WHERE rn = 1
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Dws04: login UU + 7-day returning users (T4).
# Reference: Dws04UserUserLoginWindow.java:56-148. 'view' events ≈ logins.
# ---------------------------------------------------------------------------
def dws04_user_login_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "view")  # P7 login-event filter
        .select("user_id", F.to_date("ts").alias("dt"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dt")
    flagged = ev.withColumn("prev_dt", F.lag("dt").over(w))
    agg = flagged.groupBy("dt").agg(
        F.count(F.lit(1)).alias("uu_ct"),
        F.sum(
            F.when(
                F.col("prev_dt").isNotNull()
                & (F.datediff("dt", "prev_dt") > 7),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("back_ct"),
    )
    return agg.select(
        F.date_format("dt", "yyyy-MM-dd").alias("cur_date"), "uu_ct", "back_ct"
    )


_DWS04_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt
    FROM events WHERE event_type = 'view'
), flagged AS (
    SELECT dt, lag(dt) OVER (PARTITION BY user_id ORDER BY dt) AS prev_dt
    FROM days
)
SELECT strftime(dt, '%Y-%m-%d') AS cur_date,
       CAST(count(*) AS BIGINT) AS uu_ct,
       CAST(sum(CASE WHEN prev_dt IS NOT NULL AND date_diff('day', prev_dt, dt) > 7
                THEN 1 ELSE 0 END) AS BIGINT) AS back_ct
FROM flagged
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Dws05: registration count per 10 s tumbling window (A4, literal window-size
# parity with the reference). Reference: Dws05UserRegister.java:89-116.
# ---------------------------------------------------------------------------
def dws05_user_register_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "signup")
    agg = ev.groupBy(F.window("ts", "10 seconds").alias("w")).agg(
        F.count(F.lit(1)).alias("register_ct")
    )
    return agg.select(*window_bounds("w"), "register_ct")


_DWS05_SQL = """
SELECT strftime(time_bucket(INTERVAL '10 seconds', ts), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(time_bucket(INTERVAL '10 seconds', ts) + INTERVAL '10 seconds',
                '%Y-%m-%d %H:%M:%S') AS edt,
       CAST(count(*) AS BIGINT) AS register_ct
FROM events
WHERE event_type = 'signup'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Dws06: cart-add unique users per day (T5 first-per-user-per-day dedup).
# Reference: Dws06TradeCartAddUuWindow.java:68-130. 'purchase' ≈ cart_add.
# ---------------------------------------------------------------------------
def dws06_cart_add_uu_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("dt"))
    )
    agg = (
        ev.dropDuplicates(["user_id", "dt"])  # T5 batch twin
        .groupBy("dt")
        .agg(F.count(F.lit(1)).alias("cart_add_uu_ct"))
    )
    return agg.select(
        F.date_format("dt", "yyyy-MM-dd").alias("cur_date"), "cart_add_uu_ct"
    )


_DWS06_SQL = """
SELECT strftime(dt, '%Y-%m-%d') AS cur_date,
       CAST(count(*) AS BIGINT) AS cart_add_uu_ct
FROM (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt
    FROM events WHERE event_type = 'purchase'
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Dws09: per-sku monthly trade sums (T6 first-row-per-key dedup + A7 decimal
# window sums + J5 dim enrichment via broadcast join).
# Reference: Dws09TradeSkuOrderWindow.java:99-223 (dedup + reduce),
# AsyncDimFunction.java:19-93 (dim join — replaced by broadcast join).
# ---------------------------------------------------------------------------
def dws09_trade_sku_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # T6 first-row-per-key dedup as min(struct(order-prefix..., payload)):
    # lexicographic struct-min ≡ row_number()=1 over the same prefix order,
    # and the payload tail makes the pick total (deterministic even under
    # order-prefix ties). A struct aggregation buffer is not
    # hash-aggregatable, so this plans as a SortAggregate with a partial
    # combine: a Sort on each side of the exchange.
    first = F.min(
        F.struct(
            "l_shipdate", "l_partkey", "l_extendedprice", "l_discount", "l_tax"
        )
    ).alias("f")
    deduped = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(first)
        .select("l_orderkey", "l_linenumber", "f.*")
    )
    enriched = deduped.join(F.broadcast(part), deduped.l_partkey == part.p_partkey)
    agg = enriched.groupBy(
        F.date_trunc("month", "l_shipdate").alias("mon"), "l_partkey", "p_name"
    ).agg(
        cents_amount(F.sum(money_cents("l_extendedprice"))).alias("original_amount"),
        cents_amount(
            F.sum(money_cents(F.col("l_extendedprice") * F.col("l_discount")))
        ).alias("activity_reduce_amount"),
        cents_amount(
            F.sum(money_cents(F.col("l_extendedprice") * F.col("l_tax")))
        ).alias("coupon_reduce_amount"),
        cents_amount(
            F.sum(
                money_cents(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                )
            )
        ).alias("order_amount"),
        F.count(F.lit(1)).alias("order_ct"),
    )
    return agg.select(
        F.date_format("mon", "yyyy-MM-dd").alias("stt"),
        "l_partkey",
        "p_name",
        "original_amount",
        "activity_reduce_amount",
        "coupon_reduce_amount",
        "order_amount",
        "order_ct",
    )


_DWS09_SQL = """
WITH deduped AS (
    SELECT * FROM (
        SELECT l.*,
               -- total order over the full payload so the survivor is
               -- identical to Spark's min-over-struct even if the data ever
               -- carried duplicate (orderkey, linenumber) with equal
               -- (shipdate, partkey) prefixes
               row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                                  ORDER BY l_shipdate, l_partkey,
                                           l_extendedprice, l_discount,
                                           l_tax) AS rn
        FROM lineitem l
    ) WHERE rn = 1
)
SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS stt,
       l_partkey,
       p_name,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100.0 AS original_amount,
       CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS activity_reduce_amount,
       CAST(sum(CAST(floor(l_extendedprice * l_tax * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS coupon_reduce_amount,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 100.0 AS order_amount,
       CAST(count(*) AS BIGINT) AS order_ct
FROM deduped JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# DwdTradeOrderDetail: five-table join — inner (J1) + two left joins (J2) +
# lookup/broadcast dim joins (J3/J5).
# Reference: DwdTradeOrderDetail.java:123-170.
# ---------------------------------------------------------------------------
def dwd_trade_order_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)  # J1 inner
        .join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")  # J2
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left")  # J2
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)  # J3 lookup
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "o_orderstatus",
        "o_orderpriority",
        "p_name",
        "s_name",
        F.col("n_name").alias("cust_nation"),
        cents_amount(
            money_cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        ).alias("split_total_amount"),
    )


_DWD_ORDER_DETAIL_SQL = """
SELECT l_orderkey,
       l_linenumber,
       o_orderstatus,
       o_orderpriority,
       p_name,
       s_name,
       n_name AS cust_nation,
       CAST(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
                 AS BIGINT) AS DOUBLE) / 100.0 AS split_total_amount
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN part ON l_partkey = p_partkey
LEFT JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
"""


# ---------------------------------------------------------------------------
# DwdTradeCartAdd: map-projection from a JSON payload (P4/F7) + source-table
# predicate (P5) + dictionary lookup join (J3).
# Reference: DwdTradeCartAdd.java:80-123.
# ---------------------------------------------------------------------------
def dwd_cart_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")  # P5
    region = load_table(spark, sf_dir, "region")
    projected = ev.select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("source_type"),  # P4
        F.date_format("ts", TS_FMT).alias("create_time"),
        cents_amount(money_cents("value")).alias("cart_price"),
    )
    dic = region.select(
        F.col("r_regionkey").alias("dic_code"), F.col("r_name").alias("dic_name")
    )
    return projected.join(
        F.broadcast(dic), projected.source_type % 5 == dic.dic_code
    ).select(
        "event_id", "user_id", "source_type", "dic_name", "create_time", "cart_price"
    )


_DWD_CART_ADD_SQL = """
SELECT event_id,
       user_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS source_type,
       r_name AS dic_name,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS create_time,
       CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE) / 100.0
           AS cart_price
FROM events
JOIN region ON CAST(json_extract_string(props, '$.k') AS INTEGER) % 5 = r_regionkey
WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# DimApp/BaseDBApp: config-table-driven routing (J4) + dynamic column pruning
# (P9) — the reference's signature feature. The rule table is broadcast and
# events route to a sink_table; columns not in sink_columns are nulled out
# (the fixed output schema makes pruning oracle-comparable).
# Reference: DIM_MyBroadcastFunction.java:66-248, DWD_MyBroadcastFunction.java:108-168.
# ---------------------------------------------------------------------------
ROUTING_RULES = [
    # (source_type, sink_table, sink_columns CSV)
    ("view", "dim_view_log", "event_id,user_id"),
    ("click", "dim_click_log", "event_id,user_id,value"),
    ("purchase", "dwd_purchase", "event_id,user_id,value,props"),
    # signup / error: no rule -> dropped (DIM_MyBroadcastFunction.java:226-228)
]


def dim_config_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    config = spark.createDataFrame(
        ROUTING_RULES, "source_type string, sink_table string, sink_columns string"
    ).withColumn("cols", F.split("sink_columns", ","))
    routed = ev.join(
        F.broadcast(config), ev.event_type == config.source_type
    )  # no match => dropped, matching reference semantics

    def kept(colname: str, expr=None):
        c = expr if expr is not None else F.col(colname)
        return F.when(F.array_contains(F.col("cols"), colname), c).alias(colname)

    return routed.select(
        "sink_table",
        F.col("event_id"),
        F.col("user_id"),
        kept("value", cents_amount(money_cents("value"))),
        kept("props"),
    )


_DIM_ROUTING_VALUES = ", ".join(
    f"('{s}', '{t}', '{c}')" for s, t, c in ROUTING_RULES
)
_DIM_ROUTING_SQL = f"""
WITH tp(source_type, sink_table, sink_columns) AS (
    VALUES {_DIM_ROUTING_VALUES}
)
SELECT sink_table,
       event_id,
       user_id,
       CASE WHEN list_contains(string_split(sink_columns, ','), 'value')
            THEN CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE) / 100.0
            END AS value,
       CASE WHEN list_contains(string_split(sink_columns, ','), 'props')
            THEN props END AS props
FROM events JOIN tp ON event_type = source_type
"""


# ---------------------------------------------------------------------------
# BaseLogApp split (P13): one pass fans the stream into 5 branch sinks; the
# batch twin audits the split — branch assignment + per-branch counts.
# Reference: BaseLogApp.java:109-183.
# ---------------------------------------------------------------------------
BRANCH_MAP = {
    "error": "dwd_traffic_error_log",
    "signup": "dwd_traffic_start_log",
    "view": "dwd_traffic_page_log",
    "click": "dwd_traffic_display_log",
    "purchase": "dwd_traffic_action_log",
}


def baselog_stream_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    branch = F.coalesce(
        *[
            F.when(F.col("event_type") == k, F.lit(v))
            for k, v in BRANCH_MAP.items()
        ]
    )
    return (
        ev.withColumn("branch", branch)
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).alias("row_ct"),
            cents_amount(F.sum(money_cents("value"))).alias("total_value"),
        )
    )


_BRANCH_CASE = " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in BRANCH_MAP.items()
)
_BASELOG_SPLIT_SQL = f"""
SELECT CASE event_type {_BRANCH_CASE} END AS branch,
       CAST(count(*) AS BIGINT) AS row_ct,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Keyword page-view: tokenize + explode (U1 UDTF analogue) + count per word
# (A6). Reference: SplitFunction.java:12-28, DwsTrafficKeywordPageViewWindow.java:90-111.
# ---------------------------------------------------------------------------
def keyword_page_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    words = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("keyword")
    ).filter(F.col("keyword") != "")
    return words.groupBy("lang", "keyword").agg(
        F.count(F.lit(1)).alias("keyword_ct")
    )


_KEYWORD_SQL = """
SELECT lang, keyword, CAST(count(*) AS BIGINT) AS keyword_ct
FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS keyword FROM documents
)
WHERE keyword <> ''
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Scalar-function surface (F1-F9, P11): one wide projection exercising the
# reference's entire scalar vocabulary. Reference: DateFormatUtil.java:14-39,
# plus the string/JSON/numeric ops inventoried in SURVEY.md §2.8.
# ---------------------------------------------------------------------------
def scalar_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.date_format("ts", TS_FMT).alias("ts_str"),  # F1 DATE_FORMAT
        F.unix_millis("ts").alias("ts_ms"),  # F2/F3 epoch millis
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),  # F5 toDate
        F.upper("event_type").alias("etype_uc"),  # F6 toUpperCase
        F.substring(F.date_format("ts", TS_FMT), 1, 10).alias("dt_split"),  # F6 split(" ")[0]
        cents_amount(F.coalesce(money_cents("value"), F.lit(0))).alias("amount"),  # P11/F8
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),  # F7
        F.when(F.date_format("ts", "yyyy-MM-dd") < "2024-01-15", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_first_half"),  # F9 string-date compare
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day_idx"
        ),  # F8 day-gap arithmetic
    )


_SCALAR_SQL = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       epoch_ms(ts) AS ts_ms,
       strftime(ts, '%Y-%m-%d') AS dt,
       upper(event_type) AS etype_uc,
       substr(strftime(ts, '%Y-%m-%d %H:%M:%S'), 1, 10) AS dt_split,
       CAST(COALESCE(CAST(floor(value * 100 + 0.5) AS BIGINT), 0) AS DOUBLE)
           / 100.0 AS amount,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       CAST(CASE WHEN strftime(ts, '%Y-%m-%d') < '2024-01-15' THEN 1 ELSE 0 END
            AS BIGINT) AS is_first_half,
       CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER)
           AS day_idx
FROM events
"""


# ---------------------------------------------------------------------------
# CDC changelog compaction as an oracle-gated query: the S4/K3 semantic —
# a keyed change stream compacts to current state, last change per key
# wins, keys whose last change is a tombstone disappear (reference:
# upsert-Kafka retractions, MyKafkaUtil.java:129-137; tombstone null-check,
# BaseDBApp.java:53). Executed through sources/envelopes.changelog_latest —
# the same operator the Debezium/Maxwell paths use — over the events table
# ('error' plays the tombstone op). One shuffle on the key.
# ---------------------------------------------------------------------------
def cdc_changelog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.sources.envelopes import (
        changelog_latest,
    )

    apply_runtime_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    latest = changelog_latest(
        ev,
        ["user_id"],
        ts_col="ts",
        op_col="event_type",
        delete_ops=("error",),
        tiebreak_cols=["event_id"],
    )
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("event_type").alias("last_op"),
        cents_amount(money_cents("value")).alias("last_value"),
    )


_CDC_SNAPSHOT_SQL = """
SELECT user_id,
       event_id AS last_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_op,
       CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE) / 100.0
           AS last_value
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1 AND event_type <> 'error'
"""


# ---------------------------------------------------------------------------
# Retraction-stream aggregate maintenance — the reference's Flink retract
# semantic (K3 upsert sink tombstones, J2 left-join retractions, T6's
# dedup defense: MyKafkaUtil.java:129-137, DwdTradeOrderDetail.java:164-167,
# Dws09:99-145) re-expressed as the IDENTITY it must satisfy: treating
# each user's purchase sequence as upserts of their current value, the
# downstream per-segment aggregate maintained by SIGNED deltas (+new,
# -previous — exactly Flink's retract pairs) must equal the aggregate
# recomputed from the final snapshot. Both legs are computed in one query
# and compared per segment; `consistent` must be 1 everywhere — the
# invariant an upsert-sink consumer relies on when it folds tombstones.
# Scale: one (user) window for the lag pairs (same shuffle the snapshot
# row_number needs), signed rows explode 2x in-row, both reduces are
# combine-backed over the tiny segment domain.
# ---------------------------------------------------------------------------
RETRACT_SEG_LOW_C = 2_000
RETRACT_SEG_MID_C = 6_000


def retraction_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    seg_of = (
        f"CASE WHEN {{v}} < {RETRACT_SEG_LOW_C} THEN 'low'"
        f" WHEN {{v}} < {RETRACT_SEG_MID_C} THEN 'mid' ELSE 'high' END"
    )
    upd = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", "ts", "event_id", money_cents("value").alias("v_c")
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = upd.withColumn("prev_v", F.lag("v_c").over(w))
    signed = lagged.select(
        F.explode(
            F.expr(
                "filter(array("
                f" named_struct('seg', {seg_of.format(v='v_c')},"
                "  'v', v_c, 'sgn', CAST(1 AS BIGINT)),"
                f" named_struct('seg', CASE WHEN prev_v IS NULL THEN"
                f"  CAST(NULL AS STRING) ELSE {seg_of.format(v='prev_v')} END,"
                "  'v', coalesce(prev_v, CAST(0 AS BIGINT)),"
                "  'sgn', CAST(-1 AS BIGINT))"
                "), x -> x.seg IS NOT NULL)"
            )
        ).alias("r")
    ).select("r.seg", "r.v", "r.sgn")
    maintained = signed.groupBy("seg").agg(
        F.sum("sgn").cast("bigint").alias("users_maintained"),
        F.sum(F.expr("sgn * v")).cast("bigint").alias("cents_maintained"),
    )
    wlast = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snapshot = (
        upd.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .groupBy(F.expr(seg_of.format(v="v_c")).alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("users_snapshot"),
            F.sum("v_c").cast("bigint").alias("cents_snapshot"),
        )
    )
    return (
        maintained.join(snapshot, "seg", "full_outer")
        .select(
            "seg",
            F.coalesce("users_maintained", F.lit(0)).cast("bigint").alias(
                "users_maintained"
            ),
            F.coalesce("users_snapshot", F.lit(0)).cast("bigint").alias(
                "users_snapshot"
            ),
            F.coalesce("cents_maintained", F.lit(0)).cast("bigint").alias(
                "cents_maintained"
            ),
            F.coalesce("cents_snapshot", F.lit(0)).cast("bigint").alias(
                "cents_snapshot"
            ),
        )
        .withColumn(
            "consistent",
            F.expr(
                "CAST(users_maintained = users_snapshot"
                " AND cents_maintained = cents_snapshot AS BIGINT)"
            ),
        )
    )


def _retract_seg(v: str) -> str:
    return (
        f"CASE WHEN {v} < {RETRACT_SEG_LOW_C} THEN 'low'"
        f" WHEN {v} < {RETRACT_SEG_MID_C} THEN 'mid' ELSE 'high' END"
    )


_RETRACT_SQL = f"""
WITH upd AS (
    SELECT user_id, ts, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
    FROM events WHERE event_type = 'purchase'
),
lagged AS (
    SELECT *, lag(v_c) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_v
    FROM upd
),
signed AS (
    SELECT {_retract_seg('v_c')} AS seg, v_c AS v, 1 AS sgn FROM lagged
    UNION ALL
    SELECT {_retract_seg('prev_v')}, prev_v, -1 FROM lagged
    WHERE prev_v IS NOT NULL
),
maintained AS (
    SELECT seg, CAST(sum(sgn) AS BIGINT) AS users_maintained,
           CAST(sum(sgn * v) AS BIGINT) AS cents_maintained
    FROM signed GROUP BY 1
),
snapshot AS (
    SELECT {_retract_seg('v_c')} AS seg,
           CAST(count(*) AS BIGINT) AS users_snapshot,
           CAST(sum(v_c) AS BIGINT) AS cents_snapshot
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM upd
    ) WHERE rn = 1
    GROUP BY 1
)
SELECT coalesce(m.seg, s.seg) AS seg,
       CAST(coalesce(m.users_maintained, 0) AS BIGINT) AS users_maintained,
       CAST(coalesce(s.users_snapshot, 0) AS BIGINT) AS users_snapshot,
       CAST(coalesce(m.cents_maintained, 0) AS BIGINT) AS cents_maintained,
       CAST(coalesce(s.cents_snapshot, 0) AS BIGINT) AS cents_snapshot,
       CAST(coalesce(m.users_maintained, 0) = coalesce(s.users_snapshot, 0)
            AND coalesce(m.cents_maintained, 0)
                = coalesce(s.cents_snapshot, 0) AS BIGINT) AS consistent
FROM maintained m FULL JOIN snapshot s ON m.seg = s.seg
"""


QUERIES = {
    "dws02_traffic_page_view_window": dws02_traffic_page_view_window,
    "dws03_home_detail_uv_window": dws03_home_detail_uv_window,
    "dws04_user_login_window": dws04_user_login_window,
    "dws05_user_register_window": dws05_user_register_window,
    "dws06_cart_add_uu_window": dws06_cart_add_uu_window,
    "dws09_trade_sku_order_window": dws09_trade_sku_order_window,
    "dwd_trade_order_detail": dwd_trade_order_detail,
    "dwd_cart_add": dwd_cart_add,
    "dim_config_routing": dim_config_routing,
    "baselog_stream_split": baselog_stream_split,
    "keyword_page_view": keyword_page_view,
    "scalar_function_surface": scalar_function_surface,
    "cdc_changelog_snapshot": cdc_changelog_snapshot,
    "retraction_rollup": retraction_rollup,
}

ORACLE = {
    "dws02_traffic_page_view_window": _DWS02_SQL,
    "dws03_home_detail_uv_window": _DWS03_SQL,
    "dws04_user_login_window": _DWS04_SQL,
    "dws05_user_register_window": _DWS05_SQL,
    "dws06_cart_add_uu_window": _DWS06_SQL,
    "dws09_trade_sku_order_window": _DWS09_SQL,
    "dwd_trade_order_detail": _DWD_ORDER_DETAIL_SQL,
    "dwd_cart_add": _DWD_CART_ADD_SQL,
    "dim_config_routing": _DIM_ROUTING_SQL,
    "baselog_stream_split": _BASELOG_SPLIT_SQL,
    "keyword_page_view": _KEYWORD_SQL,
    "scalar_function_surface": _SCALAR_SQL,
    "cdc_changelog_snapshot": _CDC_SNAPSHOT_SQL,
    "retraction_rollup": _RETRACT_SQL,
}
