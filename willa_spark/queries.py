"""The query inventory — one entry per operator from SURVEY §2 plus the
training-data pipeline extensions, each with a DuckDB oracle SQL string
(None → non-SQL-expressible, driver records a rows-only check).

Every query is a function (spark, sf_dir) -> DataFrame. Column names are
aliased identically in the Spark plan and the oracle SQL — the driver's
compare sorts columns by name and hashes values.

Float-determinism rules used throughout (so hashes match DuckDB):
- money aggregates: per-row ROUND(x*100) to BIGINT cents, then integer
  sums (order-free, exact);
- per-row doubles (no aggregation) pass through bit-exact;
- ordered running sums: identical fold order on both sides → identical
  doubles, rounded for safety;
- timestamps: epoch-millis BIGINT on both sides (ns DIV 1e6).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .batch import run_topology
from .model import KEY, TIMESTAMP, VALUE
from .operators import Aggregate, HoppingWindow, SessionWindow, TumblingWindow
from .operators.aggregates import SEQ
from .operators.tables import latest_per_key
from .operators.windows import WINDOW_START, assign_session_windows, assign_time_windows
from .pin import pin
from .functions import corpus as CORPUS
from .functions import curation as CURATION
from .functions import dedup as D
from .functions import similarity as SIM
from .functions import text as TXT
from .functions.multimodal import decode_images, fake_image_decoder
from .sources import read_table
from .transforms import Compose, FilterRecords, FlatMapValues, MapValues

QUERIES: dict = {}


def read_docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan spread across cores: the sf-dir corpus is a
    single parquet file, so it arrives as ONE partition and every
    CPU-heavy per-row text pass would otherwise run serially;
    repartitioning costs one tiny shuffle of the raw rows and is a
    no-op on a properly-partitioned (100 TB) corpus."""
    from .functions.dedup import _spread

    return _spread(read_table(spark, sf_dir, "documents"), "doc_id")


def read_emb_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan spread across cores — the read_docs_spread
    rationale for the vector corpus where a SCORING pass follows:
    |corpus|×|queries| interpreted cosine folds are CPU-heavy per
    byte, so the byte-sized scan split under-parallelizes them
    (profiled at the derived sf1: hybrid's exact-cosine job ran 58 s
    on the scan's 2 partitions while every other stage ran 32-way).
    Used by the pure-scoring consumers only — training inputs
    (train_centroids / pq_train) stay on the raw scan: their Lloyd
    mean aggregates are float-order-sensitive in the last ulp, and
    measured A/B showed the extra per-action exchange costs more
    than the parallelism buys on the iterative rows."""
    from .functions.dedup import _spread

    return _spread(
        read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )


ORACLE_SQL: dict[str, str] = {}

HOUR_MS = 3_600_000
DAY_MS = 86_400_000


def query(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return reg


def _cents(c) -> F.Column:
    return F.round(c * 100).cast("bigint")


def _ms(c) -> F.Column:
    return F.unix_millis(c)


def _events_records(spark, sf_dir, value_col=None, key_col="user_id"):
    """events as a record stream: key, value, timestamp, seq=event_id
    (explicit arrival order so oracle ordering is reproducible)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.col(key_col).alias(KEY),
        (value_col if value_col is not None else F.col("value")).alias(VALUE),
        _ms(F.col("ts")).alias(TIMESTAMP),
        F.col("event_id").alias(SEQ),
    )


# =====================================================================
# §2.2 stateless transforms (P1/P4/P6/P7) through the topology DSL
# =====================================================================

@query(
    "filter_map",
    oracle="""
    SELECT event_id, value * 2 AS doubled
    FROM events WHERE event_type = 'purchase' AND value > 50
    """,
)
def q_filter_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P4/P7: topic → kstream(filter ∘ map) → topic.
    Value is a struct; the filter collapses it to a scalar — all
    Column-tier, so Catalyst pushes the predicate into the scan."""
    ev = read_table(spark, sf_dir, "events")
    records = ev.select(
        F.col("event_id").alias(KEY),
        F.struct(F.col("event_type").alias("et"), F.col("value").alias("amount")).alias(VALUE),
        _ms(F.col("ts")).alias(TIMESTAMP),
        F.col("event_id").alias(SEQ),
    )
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "s": {
                "type": "kstream",
                "xform": Compose(
                    [
                        FilterRecords(lambda k, v: (v["et"] == "purchase") & (v["amount"] > 50)),
                        MapValues(lambda v: v["amount"] * 2),
                    ]
                ),
            },
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(F.col(KEY).alias("event_id"), F.col(VALUE).alias("doubled"))


@query(
    "fanout_flatmap",
    oracle="""
    SELECT event_id, value AS v FROM events
    UNION ALL
    SELECT event_id, -value AS v FROM events
    """,
)
def q_fanout_flatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 fan-out: one value -> N records with the same key."""
    records = _events_records(spark, sf_dir, key_col="event_id")
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "s": {"type": "kstream", "xform": FlatMapValues(lambda v: F.array(v, -v))},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(F.col(KEY).alias("event_id"), F.col(VALUE).alias("v"))


@query(
    "merge_streams",
    oracle="""
    SELECT event_id, event_type FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
    """,
)
def q_merge_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 merge: two filtered branches of one source union into a sink
    (implicit multi-parent merge)."""
    records = _events_records(spark, sf_dir, value_col=F.col("event_type"), key_col="event_id")
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "clicks": {"type": "kstream", "xform": FilterRecords(lambda k, v: v == "click")},
            "purchases": {"type": "kstream", "xform": FilterRecords(lambda k, v: v == "purchase")},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "clicks"), ("in", "purchases"), ("clicks", "out"), ("purchases", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(F.col(KEY).alias("event_id"), F.col(VALUE).alias("event_type"))


# =====================================================================
# §2.3/§2.4 table state, aggregation, windows (S2/C2/A1-A4)
# =====================================================================

@query(
    "latest_per_key",
    oracle="""
    WITH r AS (
      SELECT user_id, value, epoch_ms(ts) AS t, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, value AS last_value, t AS ts_ms FROM r WHERE rn = 1
    """,
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/C2: KTable latest-state materialization (max_by, partial-agg
    shuffle — one row per key out of each map task)."""
    records = _events_records(spark, sf_dir)
    out = latest_per_key(records)
    return out.select(
        F.col(KEY).alias("user_id"),
        F.col(VALUE).alias("last_value"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "running_sum_changelog",
    oracle="""
    SELECT user_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(ts), event_id
                                  ROWS UNBOUNDED PRECEDING), 4) AS running_sum,
           epoch_ms(ts) AS ts_ms
    FROM events
    """,
)
def q_running_sum_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: the changelog aggregate — one output per input (F10
    semantics), via the topology DSL's ktable running fold."""
    records = _events_records(spark, sf_dir)
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "t": {"type": "ktable", "aggregate": Aggregate.sum()},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "t"), ("t", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.round(F.col(VALUE), 4).alias("running_sum"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "tumbling_window_sum",
    oracle=f"""
    SELECT user_id,
           (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} AS win_start,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 tumbling windows, final (suppressed) result per window."""
    records = _events_records(spark, sf_dir, value_col=_cents(F.col("value")))
    win = assign_time_windows(records, TIMESTAMP, HOUR_MS, HOUR_MS)
    return win.groupBy(F.col(KEY).alias("user_id"), F.col(WINDOW_START).alias("win_start")).agg(
        F.sum(VALUE).alias("sum_cents"), F.count(F.lit(1)).alias("n")
    )


@query(
    "hopping_window_count",
    oracle=f"""
    WITH t AS (SELECT (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} AS s FROM events),
         w AS (SELECT s FROM t UNION ALL SELECT s - {HOUR_MS} FROM t)
    SELECT s AS win_start, count(*) AS n FROM w GROUP BY 1
    """,
)
def q_hopping_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 hopping windows (size 2h, advance 1h): per-record window
    enumeration is a Column-expr sequence+explode — no UDF."""
    records = _events_records(spark, sf_dir)
    win = assign_time_windows(records, TIMESTAMP, 2 * HOUR_MS, HOUR_MS)
    return win.groupBy(F.col(WINDOW_START).alias("win_start")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "session_windows",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
         m AS (SELECT user_id, t,
                      CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                                OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > {30*60*1000}
                           THEN 1 ELSE 0 END AS brk
               FROM e),
         s AS (SELECT user_id, t,
                      sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                     ROWS UNBOUNDED PRECEDING) AS sid
               FROM m)
    SELECT user_id, min(t) AS session_start, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 session windows: 30-min inactivity gap per user."""
    records = _events_records(spark, sf_dir)
    win = assign_session_windows(
        records, TIMESTAMP, 30 * 60 * 1000, [KEY], [F.col(TIMESTAMP).asc(), F.col(SEQ).asc()]
    )
    return win.groupBy(F.col(KEY).alias("user_id"), F.col(WINDOW_START).alias("session_start")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


# =====================================================================
# §2.5 joins (J1/J5-J7) over the star schema
# =====================================================================

@query(
    "interval_join",
    oracle=f"""
    SELECT o_orderkey AS orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS l_cents,
           greatest(epoch_ms(o_orderdate), epoch_ms(l_shipdate)) AS ts_ms
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
     AND epoch_ms(l_shipdate) BETWEEN epoch_ms(o_orderdate)
                                  AND epoch_ms(o_orderdate) + {30 * DAY_MS}
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: windowed stream-stream join — orders⋈lineitem where the ship
    date falls within [orderdate, orderdate+30d]. Key-equi join with a
    time band (sort-merge on key; never a cartesian)."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    o_rec = orders.select(
        F.col("o_orderkey").alias(KEY),
        _cents(F.col("o_totalprice")).alias(VALUE),
        _ms(F.col("o_orderdate")).alias(TIMESTAMP),
        F.col("o_orderkey").alias(SEQ),
    )
    l_rec = lineitem.select(
        F.col("l_orderkey").alias(KEY),
        _cents(F.col("l_extendedprice")).alias(VALUE),
        _ms(F.col("l_shipdate")).alias(TIMESTAMP),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias(SEQ),
    )
    topo = {
        "entities": {
            "orders": {"type": "topic", "source": o_rec},
            "lines": {"type": "topic", "source": l_rec},
            "joined": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [("orders", "joined"), ("lines", "joined"), ("joined", "out")],
        "joins": {("orders", "lines"): {"type": "inner", "window": (0, 30 * DAY_MS)}},
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("orderkey"),
        F.col(VALUE)[0].alias("o_cents"),
        F.col(VALUE)[1].alias("l_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "asof_enrich",
    oracle="""
    WITH s AS (SELECT user_id AS k, CAST(round(value * 100) AS BIGINT) AS sv,
                      epoch_ms(ts) AS t, event_id AS seq, 1 AS side,
                      NULL::BIGINT AS ov
               FROM events),
         o AS (SELECT o_custkey AS k, NULL::BIGINT AS sv,
                      epoch_ms(o_orderdate) AS t, o_orderkey AS seq, 0 AS side,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS ov
               FROM orders),
         u AS (SELECT * FROM s UNION ALL SELECT * FROM o),
         w AS (SELECT *, last_value(ov IGNORE NULLS)
                           OVER (PARTITION BY k ORDER BY t, side, seq
                                 ROWS UNBOUNDED PRECEDING) AS last_ov
               FROM u)
    SELECT k AS user_id, sv AS ev_cents, last_ov AS order_cents, t AS ts_ms
    FROM w WHERE side = 1
    """,
)
def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: as-of stream-table join — each event enriched with the same
    key's latest order total as of the event time. Executed as the
    union + running last(ignorenulls) pattern: ONE shuffle by key,
    linear state, no range join (the 100 TB-safe as-of plan)."""
    ev = _events_records(spark, sf_dir, value_col=_cents(F.col("value")))
    orders = read_table(spark, sf_dir, "orders")
    o_rec = orders.select(
        F.col("o_custkey").alias(KEY),
        _cents(F.col("o_totalprice")).alias(VALUE),
        _ms(F.col("o_orderdate")).alias(TIMESTAMP),
        F.col("o_orderkey").alias(SEQ),
    )
    topo = {
        "entities": {
            "events": {"type": "topic", "source": ev},
            "orders": {"type": "topic", "source": o_rec},
            "s": {"type": "kstream"},
            "t": {"type": "ktable"},
            "joined": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [
            ("events", "s"),
            ("orders", "t"),
            ("s", "joined"),
            ("t", "joined"),
            ("joined", "out"),
        ],
        "joins": {("s", "t"): {"type": "left"}},
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.col(VALUE)[0].alias("ev_cents"),
        F.col(VALUE)[1].alias("order_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "broadcast_enrich",
    oracle="""
    SELECT p_brand AS brand,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: global-ktable broadcast join (fact stream never shuffles for
    the join) + downstream aggregation. Uses struct tuple_mode for the
    heterogeneous (cents, brand) pair."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    l_rec = lineitem.select(
        F.col("l_partkey").alias(KEY),
        _cents(F.col("l_extendedprice")).alias(VALUE),
        _ms(F.col("l_shipdate")).alias(TIMESTAMP),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias(SEQ),
    )
    p_rec = part.select(
        F.col("p_partkey").alias(KEY),
        F.col("p_brand").alias(VALUE),
        F.lit(0).alias(TIMESTAMP),
        F.col("p_partkey").alias(SEQ),
    )
    topo = {
        "entities": {
            "lines": {"type": "topic", "source": l_rec},
            "parts": {"type": "topic", "source": p_rec},
            "s": {"type": "kstream"},
            "dim": {"type": "global_ktable"},
            "joined": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [
            ("lines", "s"),
            ("parts", "dim"),
            ("s", "joined"),
            ("dim", "joined"),
            ("joined", "out"),
        ],
        "joins": {("s", "dim"): {"type": "inner", "tuple_mode": "struct"}},
    }
    out = run_topology(spark, topo)["out"]
    return out.groupBy(F.col(VALUE)["_2"].alias("brand")).agg(
        F.sum(F.col(VALUE)["_1"]).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


# =====================================================================
# aggregate vocabulary: TPC-H-style analytics (free Catalyst wins,
# SURVEY §2.4 "not present in reference" list)
# =====================================================================

@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS base_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS disc_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS charge_cents,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: partial-aggregated groupBy —
    the shuffle carries 6 rows, not 600k."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("base_cents"),
        F.sum(_cents(disc)).alias("disc_cents"),
        F.sum(_cents(charge)).alias("charge_cents"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    ORDER BY total_cents DESC, c_custkey ASC
    LIMIT 10
    """,
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/limit top-k with broadcast dim join; deterministic
    tie-break on custkey."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("total_cents")
    )
    return (
        per_cust.join(F.broadcast(customer), per_cust.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "total_cents")
        .orderBy(F.col("total_cents").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@query(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets vocabulary (rollup) — absent in the reference,
    free in Spark (SURVEY §2.4)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents")
    )


@query(
    "distinct_parts_per_supplier",
    oracle="""
    SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_lines
    FROM lineitem GROUP BY 1
    """,
)
def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi — free Spark join type (SURVEY §2.5 'not present')."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO high-value order (left_anti with a filtered
    build side). The price floor makes the result non-vacuous on the
    synthetic data — an anti-join proof where both sides return 0
    rows would be satisfied by any broken implementation."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "except_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops beyond the reference's union (SURVEY §2.6): customers
    with open orders but no filled ones."""
    orders = read_table(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract = SQL EXCEPT (set semantics); exceptAll would be bag
    # difference and keep customers who have BOTH open and filled orders
    return open_.subtract(filled)


@query(
    "intersect_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    pending = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return open_.intersect(pending)


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n,
           round(avg(l_quantity), 4) AS avg_qty,
           CAST(min(l_quantity) AS BIGINT) AS min_qty,
           CAST(max(l_quantity) AS BIGINT) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage aggregation (operators/skew.py): lineitem
    grouped by l_returnflag — 3 distinct values over the whole table,
    exactly the hot-key shape that straggles a plain groupBy at 100 TB.
    Salting on (l_orderkey, l_linenumber) spreads each flag across 32
    reducers; the oracle checks the rewrite is invisible in results."""
    from .operators.skew import salted_aggregate

    li = read_table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", F.col("l_quantity")),
            "revenue_cents": ("sum", _cents(F.col("l_extendedprice"))),
            "n": ("count", F.lit(1)),
            "avg_qty": ("avg", F.col("l_quantity")),
            "min_qty": ("min", F.col("l_quantity")),
            "max_qty": ("max", F.col("l_quantity")),
        },
        buckets=32,
        salt_on=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("bigint").alias("sum_qty"),
        "revenue_cents",
        "n",
        F.round("avg_qty", 4).alias("avg_qty"),
        F.col("min_qty").cast("bigint").alias("min_qty"),
        F.col("max_qty").cast("bigint").alias("max_qty"),
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT n.n_name,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicate-small/salt-big join (operators/skew.py): lineitem ⋈
    supplier via deterministic 16-bucket salting — the plan for a dim
    side above the broadcast threshold but hot on a few keys. Second
    hop to nation stays a plain broadcast. Oracle checks row parity."""
    from .operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_extendedprice"
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = salted_join(li, supp, on="s_suppkey", buckets=16)
    return (
        enriched.join(F.broadcast(nation), enriched.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents"),
        )
    )


@query(
    "pivot_order_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
    FROM orders GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


# =====================================================================
# training-data pipeline: text analysis
# =====================================================================

@query(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs_spread(spark, sf_dir)
    return docs.select("doc_id", TXT.fingerprint(F.col("text")).alias("fp"))


@query(
    "exact_dup_groups",
    oracle=r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
    ),
    f AS (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM all_docs)
    SELECT fp, count(*) AS n_dups, min(doc_id) AS canonical_id
    FROM f GROUP BY fp HAVING count(*) > 1
    """,
)
def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups over documents plus a deterministic planted-dup
    set (every 50th doc re-keyed +1e6): the driver testdata has no
    byte-identical texts, so without planting the query is vacuously
    green on an empty result. The planted copies make the grouping,
    counting, and canonical-id selection all observable."""
    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return D.exact_dup_groups(docs.unionByName(planted))


@query(
    "token_stats",
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
           round(length(regexp_replace(trim(text), '\s+', '', 'g'))
                 / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1),
                 4) AS avg_tok_len
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs_spread(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        TXT.token_count(t).alias("n_tokens"),
        TXT.word_token_count(t).alias("n_words"),
        F.round(TXT.avg_token_length(t), 4).alias("avg_tok_len"),
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TXT.LANG_STOPWORDS[lang])
    return (
        r"len(list_filter(string_split_regex(lower(trim(text)), '\s+'),"
        f" x -> x IN ({words})))"
    )


@query(
    "lang_id",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, text,
             {_lang_hits_sql('en')} AS en_h,
             {_lang_hits_sql('de')} AS de_h,
             {_lang_hits_sql('fr')} AS fr_h,
             {_lang_hits_sql('es')} AS es_h,
             regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') AS cjk
      FROM documents)
    SELECT doc_id,
           CASE WHEN cjk THEN 'zh'
                WHEN greatest(en_h, de_h, fr_h, es_h) = 0 THEN 'und'
                WHEN en_h >= de_h AND en_h >= fr_h AND en_h >= es_h THEN 'en'
                WHEN de_h >= fr_h AND de_h >= es_h THEN 'de'
                WHEN fr_h >= es_h THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM h
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs_spread(spark, sf_dir)
    return docs.select("doc_id", TXT.lang_id(F.col("text")).alias("lang_pred"))


@query(
    "quality_score",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, text,
             length(text) AS n,
             len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
             length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> x IN ('the','a','of','and','to','in','is','that'))) AS sw
      FROM documents)
    SELECT doc_id,
           round(least(n / 500.0, 1.0) * 0.4
                 + (1.0 - least((n_punct / greatest(n, 1)) * 10, 1.0)) * 0.2
                 + least((sw / greatest(n_tok, 1)) * 5, 1.0) * 0.2
                 + CASE WHEN n_nonspace / greatest(n_tok, 1) BETWEEN 3 AND 10
                        THEN 0.2 ELSE 0.0 END,
                 4) AS quality
    FROM c
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs_spread(spark, sf_dir)
    return docs.select("doc_id", TXT.quality_score(F.col("text")).alias("quality"))


@query(
    "ngram_jaccard_pairs",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 2, 0)),
               i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
                    string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
                    string_split_regex(lower(trim(text)), '\s+')[i+2])) AS s
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
    SELECT id_a, id_b,
           round(CASE WHEN len(list_distinct(list_cat(sa, sb))) > 0
                      THEN len(list_filter(sa, x -> list_contains(sb, x)))
                           / len(list_distinct(list_cat(sa, sb)))
                      ELSE 0.0 END, 6) AS jaccard
    FROM pairs
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on adjacent doc-id pairs (the verification
    kernel of near-dup dedup, oracle-checkable)."""
    docs = read_docs_spread(spark, sf_dir)
    sh = docs.select(
        F.col("doc_id"), F.array_distinct(D.shingles(F.col("text"), 3)).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    pairs = a.join(b, b.id_b == a.id_a + 1)
    return pairs.select(
        "id_a", "id_b", F.round(D.ngram_jaccard(F.col("sa"), F.col("sb")), 6).alias("jaccard")
    )


# =====================================================================
# training-data pipeline: dedup + similarity (hash-based ops are
# rows-only: xxhash64/LSH have no DuckDB equivalent)
# =====================================================================

@query("minhash_near_dups")  # rows-only
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs_spread(spark, sf_dir)
    cands = D.minhash_candidate_pairs(docs, num_hashes=32, num_bands=16)
    return D.verified_near_dups(docs, cands, threshold=0.2)


@query("winnow_overlap_pairs")  # rows-only (xxhash64 has no DuckDB twin)
def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap pairs via winnowing fingerprints (Schleimer et
    al., SIGMOD'03): docs sharing any >= k+window-1-token run share a
    fingerprint, so detection is explode → equi-join on the
    fingerprint value — the same 100 TB scale shape as the LSH band
    join, and a containment signal MinHash's whole-doc Jaccard
    dilutes. A document-frequency cap drops ubiquitous fingerprints
    (template/boilerplate runs) BEFORE the self-join — without it a
    fingerprint shared by f docs fans out f² pairs and a hot template
    goes quadratic (observed: sf0.1 ran minutes without the cap,
    ~2 s with it; MOSS applies the same rule). The winnowing guarantee
    is pinned by pytest (test_winnow_fingerprints_guarantee) AND by
    the oracle-checked planted ``recall_winnow`` row."""
    docs = read_docs_spread(spark, sf_dir)  # already core-spread
    return D.winnow_overlap_pairs(docs, df_cap=10)


@query("simhash_near_dups")  # rows-only
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hamming <= 3 is the production near-dup radius for 64-bit
    SimHash (Manku/Jain/Sarma, WWW'07, dedup at 8B-doc web scale) —
    full recall guaranteed by num_blocks = 4 pigeonholing. A radius of
    8 admits ~3.5% of ALL pairs on this corpus (no longer "near-dup")
    and multiplies candidate volume ~5× for no semantic gain."""
    docs = read_docs_spread(spark, sf_dir)
    return D.simhash_near_dups(docs, max_hamming=3)


_PREP_LANG = """
    WITH h AS (
      SELECT doc_id, text,
             {en} AS en_h, {de} AS de_h, {fr} AS fr_h, {es} AS es_h,
             regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') AS cjk
      FROM documents),
    l AS (
      SELECT doc_id, text,
             CASE WHEN cjk THEN 'zh'
                  WHEN greatest(en_h, de_h, fr_h, es_h) = 0 THEN 'und'
                  WHEN en_h >= de_h AND en_h >= fr_h AND en_h >= es_h THEN 'en'
                  WHEN de_h >= fr_h AND de_h >= es_h THEN 'de'
                  WHEN fr_h >= es_h THEN 'fr'
                  ELSE 'es' END AS lang
      FROM h),
    c AS (
      SELECT doc_id, length(text) AS n,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_nonspace,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 x -> x IN ('the','a','of','and','to','in','is','that'))) AS sw
      FROM documents),
    e AS (
      SELECT l.doc_id, l.lang, c.n_tok,
             round(least(c.n / 500.0, 1.0) * 0.4
                   + (1.0 - least((c.n_punct / greatest(c.n, 1)) * 10, 1.0)) * 0.2
                   + least((c.sw / greatest(c.n_tok, 1)) * 5, 1.0) * 0.2
                   + CASE WHEN c.n_nonspace / greatest(c.n_tok, 1) BETWEEN 3 AND 10
                          THEN 0.2 ELSE 0.0 END, 4) AS q,
             md5(regexp_replace(lower(trim(l.text)), '\\s+', ' ', 'g')) AS fp
      FROM l JOIN c ON l.doc_id = c.doc_id),
    f AS (SELECT * FROM e WHERE q >= 0.5 AND lang <> 'und'),
    k AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY fp),
    s AS (SELECT f.* FROM f JOIN k ON f.fp = k.fp AND f.doc_id = k.keep_id)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(q), 4) AS avg_quality
    FROM s GROUP BY lang
"""


@query(
    "training_data_prep",
    oracle=_PREP_LANG.format(
        en=_lang_hits_sql("en"), de=_lang_hits_sql("de"),
        fr=_lang_hits_sql("fr"), es=_lang_hits_sql("es"),
    ),
)
def q_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-prep pipeline a real training run chains:
    language ID → quality floor → exact dedup (min-id survivor per
    fingerprint) → per-language corpus stats. Oracle-checked END TO
    END — each stage is the same Column expression its standalone
    query verifies, so a drift in any stage breaks this query's hash.

    Plan shape: the enrichment is ONE scan (all four text features in
    a single projection — the regex/stopword feature expressions are
    the dominant cost, so they must not evaluate twice), dedup is a
    min-id window over the fingerprint shuffle (a groupBy+self-join
    would re-run the whole feature projection on the second branch —
    Spark does not reuse the subtree), and the rollup
    partial-aggregates per language: two exchanges total at any
    scale. The quality filter uses the ROUNDED score on both engines
    (raw doubles at the threshold boundary could differ in ulps
    between engines)."""
    from pyspark.sql import Window as W

    docs = read_docs_spread(spark, sf_dir)
    t = F.col("text")
    enriched = docs.select(
        "doc_id",
        TXT.lang_id(t).alias("lang"),
        F.round(TXT.quality_score(t), 4).alias("q"),
        TXT.fingerprint(t).alias("fp"),
        TXT.token_count(t).alias("n_tok"),
    ).filter((F.col("q") >= 0.5) & (F.col("lang") != "und"))
    w = W.partitionBy("fp").orderBy("doc_id")
    surv = (
        enriched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return surv.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
    )


@query(
    "near_dup_clusters",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\s+')) AS L
      FROM documents),
    g AS (
      SELECT doc_id,
             count(*) OVER (PARTITION BY L) AS n,
             min(doc_id) OVER (PARTITION BY L) AS m
      FROM t)
    SELECT doc_id AS id, m AS cluster_id FROM g WHERE n > 1
    """,
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over dup pairs (the dedup-policy closure:
    similarity is not transitive, the keep-one-survivor decision is).
    The edge set here is SQL-expressible so the CLUSTERING is
    oracle-checked end-to-end: consecutive doc ids within a
    token-length bucket form chains, so the iterative min-label
    propagation must walk the whole chain to reach the oracle's
    bucket-min — a single-join shortcut would fail the hash check.
    Production pair sources (minhash/simhash near-dups) plug into the
    same ``dup_clusters`` operator (rows-only, tested in pytest)."""
    from pyspark.sql import Window as W

    docs = read_docs_spread(spark, sf_dir)
    t = docs.select(F.col("doc_id"), TXT.token_count(F.col("text")).alias("__len"))
    w = W.partitionBy("__len").orderBy("doc_id")
    e = t.withColumn("__nxt", F.lead("doc_id").over(w)).filter(F.col("__nxt").isNotNull())
    pairs = e.select(F.col("doc_id").alias("id_a"), F.col("__nxt").alias("id_b"))
    return D.dup_clusters(pairs)


@query(
    "embedding_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT qid, cid,
                      round(list_dot_product(cv, qv)
                            / (sqrt(list_dot_product(cv, cv))
                               * sqrt(list_dot_product(qv, qv))), 6) AS sim
               FROM c, q),
         r AS (SELECT qid, cid, sim,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY sim DESC, cid ASC) AS rnk
               FROM s)
    SELECT qid AS query_id, cid AS vec_id, sim AS cosine_sim, rnk AS rank
    FROM r WHERE rnk <= 10
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): broadcast query
    set, JVM-side zip_with/aggregate dot products, per-query window
    rank with deterministic tie-break. The corpus is SPREAD
    (read_emb_spread): scoring is |corpus|×|queries| interpreted
    cosine folds — CPU-heavy per byte, so the byte-sized scan split
    under-parallelizes it (profiled at the derived sf1: the scoring
    job ran on the scan's 2 partitions). Scores/ranks are row-local +
    rounded-then-ranked — partitioning-invariant values."""
    emb = read_emb_spread(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return SIM.brute_force_topk(emb, queries, k=10)


@query("ann_lsh_topk")  # rows-only (hyperplane hashes not SQL-expressible)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table + multi-probe LSH ANN (8 tables of 4 planes, 2
    lowest-margin bit flips — measured recall@10 = 1.00 vs the exact
    baseline at sf0.001; asserted with a floor in
    tests/test_functions.py::test_ann_recall_floors). At larger corpus
    scale raise n_planes with log2(N) to keep the per-bucket candidate
    count constant."""
    emb = read_emb_spread(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return SIM.lsh_topk(emb, queries, k=10, n_planes=4, n_tables=8, n_probes=2)


@query("ann_ivf_topk")  # rows-only (k-means cells not SQL-expressible)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN: deterministic k-means cells + n_probe
    rescoring — the bucketed scale path next to the exact baseline."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    centroids = SIM.train_centroids(emb, n_centroids=8, n_iters=1)
    return SIM.ivf_topk(emb, queries, centroids, k=10, n_probe=2)


# ---------------------------------------------------------------------------
# Per-family planted-recall proofs: one oracle-checked row PER family,
# not one composite row running every hash family (strictly stronger:
# the gate hashes each family's recall separately, and each family
# prices its own cost in bench.py). Each docstring states the per-family
# MATHEMATICAL recall guarantee — recall 100% by construction, not
# probabilistically, so n_found = n_planted is what the oracle asserts.

_RECALL_OFF = 1_000_000


def _plant_guarded_id(off: int) -> F.Column:
    """The plant-offset guard COLUMN: doc_id validated < ``off`` LAZILY
    inside the plan (raise_error on violation, no extra pass) — a
    corpus whose ids reach the offset would alias planted copies onto
    real docs and silently corrupt every plant-derived answer (voided
    recall guarantees, false duplicate pairs in user-visible dup
    queries). Shared by _recall_docs AND every standalone planted
    corpus (the guard must ride everywhere the plant is used, not
    just the recall rows). Same discipline as
    curation.plant_eval_leaks."""
    return F.when(
        F.col("doc_id") >= off,
        F.raise_error(
            F.concat(
                F.lit(
                    f"planted corpus: doc_id >= plant offset ({off}) "
                    "would collide with planted ids: got "
                ),
                F.col("doc_id").cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(F.col("doc_id"))


def _recall_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the plant-offset guard (``_plant_guarded_id``)."""
    return read_docs_spread(spark, sf_dir).select(
        _plant_guarded_id(_RECALL_OFF).alias("doc_id"), "text"
    )


def _recall_row(name: str, planted: DataFrame, found: DataFrame) -> DataFrame:
    """(family, n_planted, n_found) — the cross of two SCALAR
    aggregates (a 1x1 crossJoin, not a data join)."""
    return planted.crossJoin(found).select(
        F.lit(name).alias("family"), "n_planted", "n_found"
    )


def _count_planted(df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))


def _count_found_offset_pairs(pairs: DataFrame) -> DataFrame:
    """Distinct originals whose planted twin (id + _RECALL_OFF) came
    back as a pair."""
    return pairs.filter(F.col("id_b") == F.col("id_a") + _RECALL_OFF).agg(
        F.count_distinct(F.col("id_a")).alias("n_found")
    )


@query(
    "recall_minhash",
    oracle=r"""
    WITH mh AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      WHERE doc_id % 20 = 0
        AND len(string_split_regex(lower(trim(text)), '\s+')) >= 3)
    SELECT 'minhash' AS family, n AS n_planted, n AS n_found FROM mh
    """,
)
def q_recall_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH recall proof: an exact copy (doc_id + 1e6) of every
    20th doc with >= shingle_n tokens is planted. Identical text ⇒
    identical shingle set ⇒ identical minhash signature ⇒ ALL bands
    collide ⇒ the banded equi-join MUST emit the pair, and exact
    verification scores jaccard = 1.0 — a recall bug in candidate
    generation (a band hashed wrong, a probe-key mismatch) breaks the
    value hash, which a rows-exist check could never see. Driver-gate
    proof for the rows-only ``minhash_near_dups``."""
    docs = _recall_docs(spark, sf_dir)
    n_tok = TXT.token_count(F.col("text"))
    eligible = docs.filter((F.col("doc_id") % 20 == 0) & (n_tok >= 3))
    corpus = docs.unionByName(
        eligible.withColumn("doc_id", F.col("doc_id") + F.lit(_RECALL_OFF))
    )
    cands = D.minhash_candidate_pairs(corpus, num_hashes=32, num_bands=16)
    pairs = D.verified_near_dups(corpus, cands, threshold=0.5)
    return _recall_row(
        "minhash", _count_planted(eligible), _count_found_offset_pairs(pairs)
    )


@query(
    "recall_simhash",
    oracle=r"""
    WITH sh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
                WHERE doc_id % 20 = 0)
    SELECT 'simhash' AS family, n AS n_planted, n AS n_found FROM sh
    """,
)
def q_recall_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash recall proof: an exact copy of every 20th doc (no token
    floor — empty docs sign to 0=0). Identical text ⇒ hamming 0 ⇒ the
    pigeonhole guarantee (num_blocks = max_hamming + 1) forces a block
    collision — guaranteed, not sampled. Driver-gate proof for the
    rows-only ``simhash_near_dups``."""
    docs = _recall_docs(spark, sf_dir)
    planted_docs = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.unionByName(
        planted_docs.withColumn("doc_id", F.col("doc_id") + F.lit(_RECALL_OFF))
    )
    pairs = D.simhash_near_dups(corpus, max_hamming=3)
    return _recall_row(
        "simhash", _count_planted(planted_docs), _count_found_offset_pairs(pairs)
    )


def _ann_recall_parts(spark: SparkSession, sf_dir: str, spread: bool = False):
    """Shared ANN plant: every 50th embedding is issued as its own
    query. An identical vector lands in the same bucket in EVERY hash
    table (same sign bits) / the same IVF cell (same argmax centroid),
    and cosine(self) = 1.0 dominates, so self MUST appear in the
    top-k.

    ``spread=True`` for the pure-scoring consumers (LSH signatures /
    brute-force cosine — row-local values, partitioning-invariant);
    the IVF row keeps the raw scan because it TRAINS on the frame
    (read_emb_spread's training caveat)."""
    emb = (
        read_emb_spread(spark, sf_dir)
        if spread
        else read_table(spark, sf_dir, "embeddings")
    )
    ann_q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    planted = ann_q.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    return emb, ann_q, planted


def _ann_found(topk: DataFrame) -> DataFrame:
    return topk.filter(F.col("vec_id") == F.col("query_id")).agg(
        F.count_distinct(F.col("query_id")).alias("n_found")
    )


@query(
    "recall_ann_lsh",
    oracle="""
    WITH an AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
                WHERE vec_id % 50 = 0)
    SELECT 'ann_lsh' AS family, n AS n_planted, n AS n_found FROM an
    """,
)
def q_recall_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN recall proof (see ``_ann_recall_parts`` for
    the self-query guarantee). Driver-gate proof for the rows-only
    ``ann_lsh_topk``."""
    emb, ann_q, planted = _ann_recall_parts(spark, sf_dir, spread=True)
    lsh = SIM.lsh_topk(emb, ann_q, k=10, n_planes=4, n_tables=8, n_probes=2)
    return _recall_row("ann_lsh", planted, _ann_found(lsh))


@query(
    "recall_ann_ivf",
    oracle="""
    WITH an AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
                WHERE vec_id % 50 = 0)
    SELECT 'ann_ivf' AS family, n AS n_planted, n AS n_found FROM an
    """,
)
def q_recall_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN recall proof (see ``_ann_recall_parts``
    for the self-query guarantee). Driver-gate proof for the rows-only
    ``ann_ivf_topk``."""
    emb, ann_q, planted = _ann_recall_parts(spark, sf_dir)
    centroids = SIM.train_centroids(emb, n_centroids=8, n_iters=1)
    ivf = SIM.ivf_topk(emb, ann_q, centroids, k=10, n_probe=2)
    return _recall_row("ann_ivf", planted, _ann_found(ivf))


@query(
    "recall_winnow",
    oracle=r"""
    WITH wn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
                WHERE doc_id % 20 = 0
                  AND len(string_split_regex(lower(trim(text)), '\s+')) >= 8)
    SELECT 'winnow' AS family, n AS n_planted, n AS n_found FROM wn
    """,
)
def q_recall_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing recall proof: for every 20th doc with >= k+window-1 =
    8 tokens, a NEW doc (doc_id + 1e6) is planted holding the source's
    first 8 tokens plus a unique tail token — a LOCAL overlap, not a
    copy (whole-doc fingerprints would miss it; this is exactly the
    containment case winnowing exists for). The SIGMOD'03 guarantee:
    any shared run of >= k+window-1 tokens forces at least one
    identical fingerprint in both docs, so the fingerprint equi-join
    MUST emit every (source, planted) pair (reference test-strategy
    analogue: congruity-by-equality, test/willa/test_utils.clj:86-92).
    Fingerprints ONLY the pair members — the standalone
    ``winnow_overlap_pairs`` covers the corpus-wide join; this row is
    its driver-gate proof."""
    docs = _recall_docs(spark, sf_dir)
    n_tok = TXT.token_count(F.col("text"))
    WK, WW = 5, 4  # winnow_fingerprints defaults
    run_len = WK + WW - 1
    eligible = docs.filter((F.col("doc_id") % 20 == 0) & (n_tok >= run_len))
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    planted_text = F.concat(
        F.concat_ws(" ", F.slice(toks, 1, run_len)),
        F.lit(" winnowtail"),
        F.col("doc_id").cast("string"),
    )
    planted_docs = eligible.select(
        (F.col("doc_id") + F.lit(_RECALL_OFF)).alias("doc_id"),
        planted_text.alias("text"),
    )

    def fps(frame):
        return D.winnow_fingerprint_frame(frame, k=WK, window=WW)

    pairs = fps(eligible).alias("l").join(
        fps(planted_docs).alias("r"),
        (F.col("l.fp") == F.col("r.fp"))
        & (F.col("r.id") == F.col("l.id") + _RECALL_OFF),
    )
    found = pairs.agg(F.count_distinct(F.col("l.id")).alias("n_found"))
    return _recall_row("winnow", _count_planted(eligible), found)


@query(
    "recall_image_phash",
    # own CTE even though it matches recall_simhash textually today:
    # the modulus below is _phash_planted_corpus's plant modulus (20),
    # NOT the simhash plant's — sharing a CTE coupled them silently;
    # changing either plant now desynchronizes exactly
    # one oracle, loudly.
    oracle="""
    WITH ph AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
                WHERE doc_id % 20 = 0)
    SELECT 'image_phash' AS family, n AS n_planted, n AS n_found FROM ph
    """,
)
def q_recall_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash recall proof: every 20th doc's binary
    payload (the first 200 text bytes through the injected
    byte-sensitive fake codec) is planted again under doc_id + 1e6.
    Identical bytes ⇒ identical decoded pixels ⇒ identical 64-bit
    pHash ⇒ hamming 0, and the pigeonhole block join (the same
    ``hamming_block_pairs`` machinery as simhash) MUST emit the pair.
    Decodes ONLY the pair members (sources + twins) — the standalone
    ``image_phash_dups`` covers the corpus-wide join; this row is its
    driver-gate proof."""
    from .functions.multimodal import fake_image_decoder_8x8, image_phash_pairs

    docs = _recall_docs(spark, sf_dir)
    _, planted_imgs, members = _phash_planted_corpus(docs, _RECALL_OFF)
    pairs = image_phash_pairs(
        members, max_hamming=3, id_col="doc_id", decoder=fake_image_decoder_8x8
    )
    return _recall_row(
        "image_phash",
        _count_planted(planted_imgs),
        _count_found_offset_pairs(pairs),
    )


@query(
    "recall_audio_fp",
    # modulus 25 = _audio_planted_corpus's plant modulus, deliberately
    # different from the image/simhash plants' 20 so no two families'
    # oracles can silently couple.
    oracle="""
    WITH au AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
                WHERE doc_id % 25 = 0)
    SELECT 'audio_fp' AS family, n AS n_planted, n AS n_found FROM au
    """,
)
def q_recall_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint recall proof (the audio member of the
    hamming family): every 25th doc's binary payload (fake PCM via
    the injected byte-sensitive codec) is planted again under
    doc_id + 1e6. Identical bytes ⇒ identical samples ⇒ identical
    64-frame energy envelope ⇒ identical threshold fingerprint ⇒
    hamming 0 ⇒ the pigeonhole block join MUST emit the pair. Decodes
    ONLY the pair members — the standalone ``audio_fingerprint_dups``
    covers the corpus-wide join; this row is its driver-gate proof."""
    from .functions.multimodal import (
        audio_fingerprint_pairs,
        fake_audio_decoder_pcm,
    )

    docs = _recall_docs(spark, sf_dir)
    _, planted_clips, members = _audio_planted_corpus(docs, _RECALL_OFF)
    pairs = audio_fingerprint_pairs(
        members, max_hamming=3, id_col="doc_id", decoder=fake_audio_decoder_pcm
    )
    return _recall_row(
        "audio_fp",
        _count_planted(planted_clips),
        _count_found_offset_pairs(pairs),
    )



@query(
    "embedding_near_dups",
    oracle="""
    WITH all_e AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_e),
    s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
          FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine_sim FROM s WHERE cosine_sim >= 0.9
    """,
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs over embeddings plus planted exact-dup
    vectors (every 50th, re-keyed +1e6). The oracle is BRUTE-FORCE
    cosine over all pairs in DuckDB — equality proves the LSH-bucketed
    candidate path reaches full recall at this threshold (planted dups
    are identical vectors, so they always share a bucket; the organic
    corpus has no pair above 0.8, giving wide threshold margin)."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    return SIM.embedding_near_dups(
        emb.unionByName(planted), threshold=0.9, n_planes=6
    )


# =====================================================================
# multimodal plumbing (decode stubbed with deterministic fake)
# =====================================================================

@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id, 4 AS width, 4 AS height,
           octet_length(CAST(substr(text, 1, 64) AS BLOB)) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing via Arrow-batched mapInPandas; the
    codec is the deterministic fake (real decoders are injected via
    decoder=; see functions/multimodal.py)."""
    docs = read_docs_spread(spark, sf_dir)
    binary = docs.select(
        "doc_id", F.encode(F.substring(F.col("text"), 1, 64), "utf-8").alias("data")
    )
    decoded = decode_images(binary, binary_col="data", id_col="doc_id", decoder=fake_image_decoder)
    return decoded.select("doc_id", "width", "height", "n_bytes")


@query(
    "table_table_asof",
    oracle="""
    WITH a AS (SELECT user_id AS k, CAST(round(value * 100) AS BIGINT) AS av,
                      epoch_ms(ts) AS t, event_id AS seq
               FROM events WHERE event_type = 'purchase'),
         b AS (SELECT user_id AS k, CAST(round(value * 100) AS BIGINT) AS bv,
                      epoch_ms(ts) AS t, event_id AS seq
               FROM events WHERE event_type = 'view'),
         u AS (SELECT k, av, NULL::BIGINT AS bv, t, seq, 1 AS side FROM a
               UNION ALL
               SELECT k, NULL::BIGINT, bv, t, seq, 0 AS side FROM b),
         w AS (SELECT *,
                 last_value(av IGNORE NULLS)
                   OVER (PARTITION BY k ORDER BY t, 1 - side, seq
                         ROWS UNBOUNDED PRECEDING) AS la,
                 last_value(bv IGNORE NULLS)
                   OVER (PARTITION BY k ORDER BY t, side, seq
                         ROWS UNBOUNDED PRECEDING) AS lb
               FROM u)
    SELECT k AS user_id,
           CASE WHEN side = 1 THEN av ELSE la END AS a_cents,
           CASE WHEN side = 0 THEN bv ELSE lb END AS b_cents,
           t AS ts_ms
    FROM w
    """,
)
def q_table_table_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (streams.clj:84-97; oracle experiment.clj:37-62): KTable⋈KTable
    as-of join, BOTH directions — every update on either side emits a
    record carrying the other side's latest value with ts <= this
    update's. Outer flags (require nothing) exercise the reference's
    inverted table-join flag semantics. Same union + running
    last(ignorenulls) plan as J6: one shuffle by key, no range join."""
    ev = read_table(spark, sf_dir, "events")

    def side(event_type):
        return ev.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias(KEY),
            _cents(F.col("value")).alias(VALUE),
            _ms(F.col("ts")).alias(TIMESTAMP),
            F.col("event_id").alias(SEQ),
        )

    topo = {
        "entities": {
            "purchases": {"type": "topic", "source": side("purchase")},
            "views": {"type": "topic", "source": side("view")},
            "ta": {"type": "ktable"},
            "tb": {"type": "ktable"},
            "j": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [
            ("purchases", "ta"),
            ("views", "tb"),
            ("ta", "j"),
            ("tb", "j"),
            ("j", "out"),
        ],
        "joins": {("ta", "tb"): {"type": "outer"}},
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.col(VALUE)[0].alias("a_cents"),
        F.col(VALUE)[1].alias("b_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS orderdate_ms
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue_cents DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: two selective dim filters pushed into the scans,
    the filtered customer side broadcast, one shuffle for the orderkey
    aggregate, global top-10 via orderBy+limit (TakeOrderedAndProject —
    per-partition top-k then a single-driver merge of k·p rows, never a
    full sort at scale). Deterministic tie-break on l_orderkey."""
    cutoff = F.lit("1995-03-15").cast("timestamp")
    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_cents(disc)).alias("revenue_cents"))
        .select(
            "l_orderkey",
            "revenue_cents",
            _ms(F.col("o_orderdate")).alias("orderdate_ms"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "regional_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND c.c_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
)
def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier volume per nation in one region.
    Every dimension (supplier⋈nation⋈region, customer) broadcasts; the
    c_nationkey = s_nationkey correlation rides the customer broadcast;
    only the fact-fact orders⋈lineitem join shuffles."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), (F.col("o_custkey") == cust.c_custkey)
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(_cents(disc)).alias("revenue_cents"))
    )


@query(
    "monthly_revenue_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(epoch_ms(date_trunc('month', o_orderdate)) AS BIGINT) AS month_ms,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM orders GROUP BY 1
    )
    SELECT month_ms, revenue_cents,
           revenue_cents - lag(revenue_cents) OVER (ORDER BY month_ms) AS growth_cents
    FROM m
    """,
)
def q_monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions (SURVEY §2.6 superset): month-over-
    month revenue delta via lag(). The global-order window runs over
    the AGGREGATED frame (one row per month — bounded, driver-safe at
    any fact-table scale); the heavy lifting stays in the partial
    month aggregate."""
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"))
    w = W.orderBy(F.col("month").asc())
    return monthly.select(
        _ms(F.col("month")).alias("month_ms"),
        F.col("revenue_cents"),
        (F.col("revenue_cents") - F.lag("revenue_cents").over(w)).alias("growth_cents"),
    )


@query(
    "corpus_profile",
    oracle=r"""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
               AS n_distinct_fp,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
    FROM documents GROUP BY lang
    """,
)
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc count, distinct fingerprints,
    and exact length quantiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear-interpolated — verified bit-equal).
    At 100 TB swap the exact forms for their sketch twins —
    approx_count_distinct (HLL) and approx_percentile (KLL) — same
    query shape, partial-aggregated, bounded memory;
    tests/test_curation.py::test_corpus_profile_sketch_paths pins the
    sketches within tolerance of these exact values."""
    docs = read_docs_spread(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct(TXT.fingerprint(F.col("text"))).alias("n_distinct_fp"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90_chars"),
    )


@query(
    "above_avg_orders",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey, price_cents
    FROM o
    WHERE price_cents > (SELECT avg(o2.price_cents) FROM o o2
                         WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (SURVEY §2.6 superset): orders priced
    above their own customer's average, written as correlated SQL so
    CATALYST must decorrelate it — the plan is a partial per-customer
    aggregate joined back, never a per-row re-scan (asserted in
    tests/test_curation.py::test_above_avg_orders_decorrelates).
    Arithmetic is integer-exact (cents; per-customer sums << 2^53) so
    the boundary predicate cannot diverge between engines in ulps."""
    orders = read_table(spark, sf_dir, "orders")
    orders.select(
        "o_orderkey",
        "o_custkey",
        _cents(F.col("o_totalprice")).alias("price_cents"),
    ).createOrReplaceTempView("__orders_cents")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, price_cents
        FROM __orders_cents o
        WHERE price_cents > (SELECT avg(o2.price_cents) FROM __orders_cents o2
                             WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "top_bigrams",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    bg AS (
      SELECT unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS bigram
      FROM toks
      WHERE len(t) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics (training-data text analysis): top-20
    word bigrams. Bigram generation is a pure Column expression
    (zip_with over shifted slices — no Python, no UDF); the count is a
    partial aggregate and the top-20 a TakeOrderedAndProject. The
    single-file corpus is spread across cores first — explode keeps
    its input's partitioning, so without it the whole tokenize+explode
    pass runs on one core."""
    from .functions.dedup import _spread

    docs = _spread(read_table(spark, sf_dir, "documents").select("text"))
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT (length(text) // 100) * 100 AS bucket,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape profiling: document-length histogram in 100-char
    buckets — the quick pre-filter pass a training pipeline runs before
    choosing quality thresholds. One partial-aggregated shuffle of
    (bucket, count, sum) triples."""
    docs = read_docs_spread(spark, sf_dir)
    bucket = (F.floor(F.length("text") / 100) * 100).cast("bigint")
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


@query(
    "forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective scan-and-sum. The point at
    100 TB is the scan, not the agg: all four predicates reach the
    parquet reader (PushedFilters), ReadSchema prunes to the four used
    columns, and the aggregate is partial (one row per task) so the
    only shuffle moves n_partitions rows."""
    li = read_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    row_cents = F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("bigint")
    return filtered.agg(
        F.sum(row_cents).cast("bigint").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "top_parts_per_supplier",
    oracle="""
    WITH pr AS (
      SELECT l_suppkey AS suppkey, l_partkey AS partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
      FROM lineitem GROUP BY 1, 2
    )
    SELECT suppkey, partkey, revenue_cents, rnk FROM (
      SELECT suppkey, partkey, revenue_cents,
             row_number() OVER (PARTITION BY suppkey
                                ORDER BY revenue_cents DESC, partkey ASC) AS rnk
      FROM pr
    ) WHERE rnk <= 2
    """,
)
def q_top_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked top-N per group (grouped top-k) — a shape the reference
    lacks entirely (§2.6: no user-facing ordering). Two levels on
    purpose: partial-aggregate revenue per (supplier, part) first, then
    rank over the aggregated frame — at 100 TB the window function runs
    on |suppliers|×|parts-per-supplier| rows, never on the fact table,
    and both steps share the suppkey-hashed exchange. Ties are
    deterministic: integer cents desc, then partkey asc."""
    from pyspark.sql import Window as W

    li = read_table(spark, sf_dir, "lineitem")
    row_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
    per_part = li.groupBy(
        F.col("l_suppkey").alias("suppkey"), F.col("l_partkey").alias("partkey")
    ).agg(F.sum(row_cents).cast("bigint").alias("revenue_cents"))
    w = W.partitionBy("suppkey").orderBy(F.col("revenue_cents").desc(), F.col("partkey").asc())
    return per_part.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 2)


@query(
    "late_shipment_priorities",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a LEFT SEMI join with a non-equi
    residual (l_shipdate > o_orderdate), then a tiny aggregate. The
    semi join never materializes lineitem columns and stops probing an
    order on first match; at scale the shuffle carries only
    (orderkey, orderdate, priority) from orders and two pruned columns
    from lineitem."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey")) & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# =====================================================================
# driver coverage for the J2/J3, J8, A1, A5, A6, A8, P2, P3, P5 and C1
# operators (all SQL-expressible): each runs through the topology DSL
# so the driver oracle exercises the ENGINE path, not a hand-built
# DataFrame shortcut
# =====================================================================

_H12_MS = 12 * HOUR_MS


def _typed_event_records(spark, sf_dir):
    """events as records: key=user_id, value=struct(et, amount_cents)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias(KEY),
        F.struct(
            F.col("event_type").alias("et"), _cents(F.col("value")).alias("amount")
        ).alias(VALUE),
        _ms(F.col("ts")).alias(TIMESTAMP),
        F.col("event_id").alias(SEQ),
    )


@query(
    "windowed_left_join",
    oracle=f"""
    WITH o AS (SELECT o_orderkey k, CAST(round(o_totalprice * 100) AS BIGINT) v,
                      epoch_ms(o_orderdate) t FROM orders),
         l AS (SELECT l_orderkey k, CAST(round(l_extendedprice * 100) AS BIGINT) v,
                      epoch_ms(l_shipdate) t FROM lineitem),
         j AS (SELECT o.k, o.v lv, l.v rv, greatest(o.t, l.t) t
               FROM o JOIN l ON o.k = l.k AND l.t BETWEEN o.t AND o.t + {30 * DAY_MS}),
         uj AS (SELECT k, v lv, CAST(NULL AS BIGINT) rv, t FROM o),
         a AS (SELECT * FROM j UNION ALL SELECT * FROM uj),
         g AS (SELECT *, count(*) OVER (PARTITION BY t, k) n FROM a)
    SELECT k AS orderkey, lv AS o_cents, rv AS l_cents, t AS ts_ms
    FROM g WHERE NOT (n > 1 AND (lv IS NULL OR rv IS NULL))
    """,
)
def q_windowed_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left windowed stream-stream join with the reference's
    nil-dedup rule (experiment.clj:23-34): unmatched orders emit
    [o_cents, NULL]; at equal (ts, key) a joined result suppresses the
    placeholder."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    o_rec = orders.select(
        F.col("o_orderkey").alias(KEY),
        _cents(F.col("o_totalprice")).alias(VALUE),
        _ms(F.col("o_orderdate")).alias(TIMESTAMP),
        F.col("o_orderkey").alias(SEQ),
    )
    l_rec = lineitem.select(
        F.col("l_orderkey").alias(KEY),
        _cents(F.col("l_extendedprice")).alias(VALUE),
        _ms(F.col("l_shipdate")).alias(TIMESTAMP),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias(SEQ),
    )
    topo = {
        "entities": {
            "orders": {"type": "topic", "source": o_rec},
            "lines": {"type": "topic", "source": l_rec},
            "joined": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [("orders", "joined"), ("lines", "joined"), ("joined", "out")],
        "joins": {("orders", "lines"): {"type": "left", "window": (0, 30 * DAY_MS)}},
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("orderkey"),
        F.col(VALUE)[0].alias("o_cents"),
        F.col(VALUE)[1].alias("l_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "windowed_outer_join",
    oracle=f"""
    WITH o AS (SELECT o_orderkey k, CAST(round(o_totalprice * 100) AS BIGINT) v,
                      epoch_ms(o_orderdate) t FROM orders),
         l AS (SELECT l_orderkey k, CAST(round(l_extendedprice * 100) AS BIGINT) v,
                      epoch_ms(l_shipdate) t FROM lineitem),
         j AS (SELECT o.k, o.v lv, l.v rv, greatest(o.t, l.t) t
               FROM o JOIN l ON o.k = l.k AND l.t BETWEEN o.t AND o.t + {30 * DAY_MS}),
         ujl AS (SELECT k, v lv, CAST(NULL AS BIGINT) rv, t FROM o),
         ujr AS (SELECT k, CAST(NULL AS BIGINT) lv, v rv, t FROM l),
         a AS (SELECT * FROM j UNION ALL SELECT * FROM ujl UNION ALL SELECT * FROM ujr),
         g AS (SELECT *, count(*) OVER (PARTITION BY t, k) n FROM a)
    SELECT k AS orderkey, lv AS o_cents, rv AS l_cents, t AS ts_ms
    FROM g WHERE NOT (n > 1 AND (lv IS NULL OR rv IS NULL))
    """,
)
def q_windowed_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: outer windowed join — J2 plus [NULL, l_cents] for lineitems
    outside every order window, same nil-dedup rule."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    o_rec = orders.select(
        F.col("o_orderkey").alias(KEY),
        _cents(F.col("o_totalprice")).alias(VALUE),
        _ms(F.col("o_orderdate")).alias(TIMESTAMP),
        F.col("o_orderkey").alias(SEQ),
    )
    l_rec = lineitem.select(
        F.col("l_orderkey").alias(KEY),
        _cents(F.col("l_extendedprice")).alias(VALUE),
        _ms(F.col("l_shipdate")).alias(TIMESTAMP),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias(SEQ),
    )
    topo = {
        "entities": {
            "orders": {"type": "topic", "source": o_rec},
            "lines": {"type": "topic", "source": l_rec},
            "joined": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [("orders", "joined"), ("lines", "joined"), ("joined", "out")],
        "joins": {("orders", "lines"): {"type": "outer", "window": (0, 30 * DAY_MS)}},
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("orderkey"),
        F.col(VALUE)[0].alias("o_cents"),
        F.col(VALUE)[1].alias("l_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "nary_join_fold",
    oracle=f"""
    WITH e AS (SELECT user_id k, CAST(round(value * 100) AS BIGINT) v,
                      epoch_ms(ts) t, event_type FROM events),
         p AS (SELECT k, v, t FROM e WHERE event_type = 'purchase'),
         c AS (SELECT k, v, t FROM e WHERE event_type = 'click'),
         w AS (SELECT k, v, t FROM e WHERE event_type = 'view'),
         j1 AS (SELECT p.k, p.v v1, c.v v2, greatest(p.t, c.t) t
                FROM p JOIN c ON p.k = c.k
                 AND c.t BETWEEN p.t - {_H12_MS} AND p.t + {_H12_MS}),
         j2 AS (SELECT j1.k, v1, v2, w.v v3, greatest(j1.t, w.t) t
                FROM j1 JOIN w ON j1.k = w.k
                 AND w.t BETWEEN j1.t - {_H12_MS} AND j1.t + {_H12_MS})
    SELECT k AS user_id, v1 AS p_cents, v2 AS c_cents, v3 AS v_cents, t AS ts_ms
    FROM j2
    """,
)
def q_nary_join_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: three-way join fold (streams.clj:115-123) — pairwise fold
    widening the tuple: (p ⋈ c) ⋈ v → [v1 v2 v3]; the second leg's time
    band applies to the ACCUMULATED timestamp (greatest of the first
    pair), exactly the reference's conj semantics."""
    ev = read_table(spark, sf_dir, "events")
    rec = ev.select(
        F.col("user_id").alias(KEY),
        _cents(F.col("value")).alias(VALUE),
        _ms(F.col("ts")).alias(TIMESTAMP),
        F.col("event_id").alias(SEQ),
        F.col("event_type"),
    )
    topo = {
        "entities": {
            "in": {"type": "topic", "source": rec.drop("event_type")},
            "p": {"type": "kstream"},
            "c": {"type": "kstream"},
            "v": {"type": "kstream"},
            "joined": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [
            ("in", "p"),
            ("in", "c"),
            ("in", "v"),
            ("p", "joined"),
            ("c", "joined"),
            ("v", "joined"),
            ("joined", "out"),
        ],
        "joins": {("p", "c", "v"): {"type": "inner", "window": (_H12_MS, _H12_MS)}},
    }
    # per-branch filters need event_type, which isn't part of the record
    # contract — use build overrides projecting the typed source
    for name, et in (("p", "purchase"), ("c", "click"), ("v", "view")):
        sub = rec.filter(F.col("event_type") == et).drop("event_type")
        topo["entities"][name] = {
            "type": "kstream",
            "build": (lambda s, parents, ent, sub=sub: sub),
        }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.col(VALUE)[0].alias("p_cents"),
        F.col(VALUE)[1].alias("c_cents"),
        F.col(VALUE)[2].alias("v_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "group_by_fn_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           max(epoch_ms(ts)) AS ts_ms
    FROM events GROUP BY 1
    """,
)
def q_group_by_fn_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: re-grouping by a key-extraction fn over (k, v) (core.clj:99)
    — group = value.et, not the record key — with a suppressed sum, so
    the oracle sees the final state per derived group."""
    records = _typed_event_records(spark, sf_dir)
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "t": {
                "type": "ktable",
                "group_by": lambda k, v: v["et"],
                "aggregate": Aggregate.of(lambda v: F.sum(v["amount"])),
                "suppress": True,
            },
            "out": {"type": "topic"},
        },
        "workflow": [("in", "t"), ("t", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("event_type"),
        F.col(VALUE).alias("total_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "suppressed_window_final",
    oracle=f"""
    SELECT user_id,
           (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} AS win_start,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           max(epoch_ms(ts)) AS ts_ms
    FROM events GROUP BY 1, 2
    """,
)
def q_suppressed_window_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: suppression through the TOPOLOGY path (ktable window +
    suppress + emit_window → final_only) — tumbling_window_sum checks
    the same numbers via the bare operators; this entry pins the
    engine's suppressed-changelog emission (value carries its window,
    timestamp = the closing record's)."""
    records = _events_records(spark, sf_dir, value_col=_cents(F.col("value")))
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "t": {
                "type": "ktable",
                "group_by": lambda k, v: k,
                "window": TumblingWindow(HOUR_MS),
                "aggregate": Aggregate.sum(),
                "suppress": True,
                "emit_window": True,
            },
            "out": {"type": "topic"},
        },
        "workflow": [("in", "t"), ("t", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.col(VALUE)["win"].alias("win_start"),
        F.col(VALUE)["v"].alias("sum_cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "regrouped_retraction",
    oracle="""
    WITH r AS (SELECT user_id, event_type,
                      CAST(round(value * 100) AS BIGINT) cents,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY epoch_ms(ts) DESC, event_id DESC) rn
               FROM events)
    SELECT event_type, CAST(sum(cents) AS BIGINT) AS total_cents
    FROM r WHERE rn = 1 GROUP BY event_type
    """,
)
def q_regrouped_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: adder+subtractor on a re-grouped table (streams.clj:44-50) —
    each user's newest event moves their contribution to its new
    event_type group, retracting the old one. The final state per group
    telescopes to 'sum of each user's LATEST amount, grouped by that
    latest event's type', which is what the oracle computes directly."""
    records = _typed_event_records(spark, sf_dir)
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "t": {
                "type": "ktable",
                "group_by": lambda k, v: v["et"],
                "aggregate": Aggregate(
                    "column",
                    column_fn=lambda v: F.sum(v["amount"]),
                    contribution_fn=lambda v: v["amount"],
                ),
                "retract": True,
                "suppress": True,
            },
            "out": {"type": "topic"},
        },
        "workflow": [("in", "t"), ("t", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("event_type"), F.col(VALUE).alias("total_cents")
    )


@query(
    "with_dedupe_first",
    oracle="""
    WITH r AS (SELECT user_id, value, epoch_ms(ts) t, event_id,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY epoch_ms(ts) ASC, event_id ASC) rn
               FROM events)
    SELECT user_id, value AS v, t AS ts_ms FROM r WHERE rn = 1
    """,
)
def q_with_dedupe_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the with_dedupe topology rewrite (workflow.clj:6-24) spliced
    onto an edge — exactly-once pass-through of the FIRST record per
    dedup id (here the record key), via one min_by partial aggregate."""
    from .workflow import with_dedupe

    records = _events_records(spark, sf_dir)
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "s": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    topo = with_dedupe(topo, ("s", "out"), id_fn=lambda k, v: k)
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.col(VALUE).alias("v"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "rekey_fanout",
    oracle="""
    SELECT 'u:' || CAST(user_id AS VARCHAR) AS k,
           CAST(round(value * 100) AS BIGINT) AS cents, epoch_ms(ts) AS ts_ms
    FROM events
    UNION ALL
    SELECT 't:' || event_type AS k,
           CAST(round(value * 100) AS BIGINT) AS cents, epoch_ms(ts) AS ts_ms
    FROM events
    """,
)
def q_rekey_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: full transducer fan-out WITH key change (streams.clj:126-132
    TransducerTransformer) — each event emits under two derived keys.
    Column-tier (FlatMapRecords = explode of struct array), so the
    1→N rekeying never leaves the JVM."""
    from .transforms import FlatMapRecords

    records = _typed_event_records(spark, sf_dir)
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "s": {
                "type": "kstream",
                "xform": FlatMapRecords(
                    lambda k, v: F.array(
                        F.struct(
                            F.concat(F.lit("u:"), k.cast("string")).alias("key"),
                            v["amount"].alias("value"),
                        ),
                        F.struct(
                            F.concat(F.lit("t:"), v["et"]).alias("key"),
                            v["amount"].alias("value"),
                        ),
                    )
                ),
            },
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("k"),
        F.col(VALUE).alias("cents"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "value_only_rekey",
    oracle="""
    SELECT user_id, CAST(round(value * 100) AS BIGINT) * 2 AS doubled,
           epoch_ms(ts) AS ts_ms
    FROM events
    """,
)
def q_value_only_rekey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: value-only transform (transduce-stream-values,
    streams.clj:135-160): the inner transform REKEYS to a junk key and
    doubles the value; ValueOnly must keep the original user_id on
    every output record (reference test core_test.clj:84-97) — no
    repartition is ever needed downstream."""
    from .transforms import MapRecord, ValueOnly

    records = _events_records(spark, sf_dir, value_col=_cents(F.col("value")))
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "s": {
                "type": "kstream",
                "xform": ValueOnly(MapRecord(lambda k, v: (F.lit("junk"), v * 2))),
            },
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.col(VALUE).alias("doubled"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "rekey_transform",
    oracle="""
    SELECT user_id % 100 AS bucket, value AS v, epoch_ms(ts) AS ts_ms
    FROM events
    """,
)
def q_rekey_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: transform-key (utils.clj:9-10) — key := f(key); downstream
    stateful ops would reshuffle on the new key automatically."""
    from .transforms import MapKey

    records = _events_records(spark, sf_dir)
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "s": {"type": "kstream", "xform": MapKey(lambda k: k % 100)},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("bucket"),
        F.col(VALUE).alias("v"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


@query(
    "changelog_filter",
    oracle="""
    WITH r AS (SELECT user_id,
                      round(sum(value) OVER (PARTITION BY user_id
                                             ORDER BY epoch_ms(ts), event_id
                                             ROWS UNBOUNDED PRECEDING), 4) rs,
                      epoch_ms(ts) t
               FROM events)
    SELECT user_id, rs AS running_sum, t AS ts_ms FROM r WHERE rs > 1000
    """,
)
def q_changelog_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: coerce-to-kstream (streams.clj:17-23) — a ktable's changelog
    re-enters stream-land and a downstream kstream FILTERS the update
    stream (every running-sum update above the threshold passes, not
    just the final state)."""
    records = _events_records(spark, sf_dir)
    topo = {
        "entities": {
            "in": {"type": "topic", "source": records},
            "t": {"type": "ktable", "aggregate": Aggregate.sum()},
            "s": {
                "type": "kstream",
                "xform": FilterRecords(lambda k, v: F.round(v, 4) > 1000),
            },
            "out": {"type": "topic"},
        },
        "workflow": [("in", "t"), ("t", "s"), ("s", "out")],
    }
    out = run_topology(spark, topo)["out"]
    return out.select(
        F.col(KEY).alias("user_id"),
        F.round(F.col(VALUE), 4).alias("running_sum"),
        F.col(TIMESTAMP).alias("ts_ms"),
    )


# =====================================================================
# Gopher/C4-style corpus quality + repetition filters (training-data
# pipeline extensions; willa_spark.functions.corpus)
# =====================================================================

_TOKS_SQL = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"
_GOPHER_SW_SQL = ", ".join(f"'{w}'" for w in CORPUS.GOPHER_STOPWORDS)


@query(
    "gopher_quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             round(coalesce(list_sum(list_transform(toks, s -> length(s))), 0) * 1.0
                   / greatest(len(toks), 1), 4) AS mean_word_len,
             round(len(list_filter(toks, s -> regexp_matches(s, '[a-z]'))) * 1.0
                   / greatest(len(toks), 1), 4) AS alpha_word_frac,
             round((length(text) - length(replace(text, '#', ''))
                    + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0
                   / greatest(len(toks), 1), 4) AS symbol_word_ratio,
             len(list_filter(list_distinct(toks),
                             s -> s IN ({_GOPHER_SW_SQL}))) AS stopword_hits
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_ratio,
           stopword_hits,
           (n_words BETWEEN 30 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND alpha_word_frac >= 0.80
            AND symbol_word_ratio <= 0.10
            AND stopword_hits >= 2) AS kept
    FROM m
    """,
)
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 document-quality screen (Rae et al. 2021): word-count
    band, mean-word-length band, alphabetic-word fraction, symbol/word
    ratio, distinct-stopword floor — plus the combined keep flag. Pure
    Column expressions over one scan: no shuffle, no Python, fully
    codegen'd; at 100 TB this is a single map-only stage."""
    from .functions import corpus as C

    docs = read_docs_spread(spark, sf_dir)
    m = docs.select("doc_id", C.gopher_metrics(F.col("text")).alias("__m"))
    return m.select(
        "doc_id",
        F.col("__m.n_words").alias("n_words"),
        F.col("__m.mean_word_len").alias("mean_word_len"),
        F.col("__m.alpha_word_frac").alias("alpha_word_frac"),
        F.col("__m.symbol_word_ratio").alias("symbol_word_ratio"),
        F.col("__m.stopword_hits").alias("stopword_hits"),
        F.col("__m.kept").alias("kept"),
    )


# Planted repeats (mirrors corpus.plant_repeated_docs): every 50th
# doc's first 10 tokens repeated 8x, re-keyed +1e6 — makes the
# dup-ngram / dup-line branches observable (the synthetic corpus has
# no natural 5-gram or line duplication).
_PLANT_SQL = r"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             repeat(array_to_string(
               (list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> ''))[1:10], ' ') || ' ', 8) AS text
      FROM documents WHERE doc_id % 50 = 0
"""


def _repetition_oracle(src: str) -> str:
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM {src}
    ), base AS (
      SELECT doc_id, toks, length(array_to_string(toks, ' ')) AS total_chars
      FROM t
    ), grams AS (
      SELECT doc_id, total_chars, 2 AS n,
             unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN range(1, len(toks))]) AS gram
      FROM base WHERE len(toks) >= 2
      UNION ALL
      SELECT doc_id, total_chars, 5 AS n,
             unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3] || ' ' || toks[i+4]
                     FOR i IN range(1, len(toks) - 3)]) AS gram
      FROM base WHERE len(toks) >= 5
    ), per_gram AS (
      SELECT doc_id, n, gram, count(*) AS cnt, first(total_chars) AS total_chars
      FROM grams GROUP BY doc_id, n, gram
    )
    SELECT doc_id,
           round(max(CASE WHEN n = 2 THEN cnt * length(gram) ELSE 0 END) * 1.0
                 / greatest(first(total_chars), 1), 4) AS top_ngram_char_frac,
           round(CAST(sum(CASE WHEN n = 5 AND cnt > 1 THEN cnt * length(gram)
                          ELSE 0 END) AS BIGINT) * 1.0
                 / greatest(first(total_chars), 1), 4) AS dup_ngram_char_frac
    FROM per_gram GROUP BY doc_id
    """


@query(
    "repetition_ngram_filter",
    oracle=f"WITH all_docs AS ({_PLANT_SQL}), "
    + _repetition_oracle("all_docs").lstrip().removeprefix("WITH "),
)
def q_repetition_ngram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition screen: per-doc fraction of characters covered
    by the most frequent 2-gram and by duplicated 5-grams, over the
    corpus plus planted repetitive docs (see plant_repeated_docs).
    The metric is per-document, so it is computed WITHIN each row via
    sorted-array run counting — one map-only stage, zero shuffle, zero
    Python, linear in corpus tokens: the plan a 100 TB screen wants."""
    from .functions import corpus as C

    docs = read_docs_spread(spark, sf_dir)
    return C.ngram_char_fracs(C.plant_repeated_docs(docs))


@query(
    "dup_line_filter",
    oracle=rf"""
    WITH all_docs AS ({_PLANT_SQL}),
    t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM all_docs
    ), lines AS (
      SELECT doc_id,
             unnest([array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ')
                     FOR i IN range(1, CAST(ceil(len(toks) / 8.0) AS BIGINT) + 1)])
                 AS line
      FROM t WHERE len(toks) > 0
    ), per_line AS (
      SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY doc_id, line
    )
    SELECT doc_id,
           round(CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END)
                      AS BIGINT) * 1.0
                 / greatest(CAST(sum(cnt * length(line)) AS BIGINT), 1), 4)
               AS dup_line_char_frac
    FROM per_line GROUP BY doc_id
    """,
)
def q_dup_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line screen over deterministic 8-token
    pseudo-lines (the synthetic corpus has no newlines; real corpora
    split on '\\n' upstream). Explode → partial-agg (doc, line) →
    per-doc ratio."""
    from .functions import corpus as C

    docs = read_docs_spread(spark, sf_dir)
    return C.dup_line_char_frac(C.plant_repeated_docs(docs))


@query(
    "corpus_keep_by_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKS_SQL} AS toks FROM documents
    ), g AS (
      SELECT doc_id, source,
             (len(toks) BETWEEN 30 AND 100000
              AND round(coalesce(list_sum(list_transform(toks, s -> length(s))), 0) * 1.0
                        / greatest(len(toks), 1), 4) BETWEEN 3.0 AND 10.0
              AND round(len(list_filter(toks, s -> regexp_matches(s, '[a-z]'))) * 1.0
                        / greatest(len(toks), 1), 4) >= 0.80
              AND round((length(text) - length(replace(text, '#', ''))
                         + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0
                        / greatest(len(toks), 1), 4) <= 0.10
              AND len(list_filter(list_distinct(toks),
                                  s -> s IN ({_GOPHER_SW_SQL}))) >= 2) AS kept_gopher
      FROM t
    ), rep AS (
      {_repetition_oracle("documents")}
    ), j AS (
      SELECT g.doc_id, g.source, g.kept_gopher,
             (coalesce(rep.top_ngram_char_frac, 0) <= 0.20
              AND coalesce(rep.dup_ngram_char_frac, 0) <= 0.15) AS kept_rep
      FROM g LEFT JOIN rep ON g.doc_id = rep.doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN kept_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_gopher,
           CAST(sum(CASE WHEN kept_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_repetition,
           CAST(sum(CASE WHEN kept_gopher AND kept_rep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept_all
    FROM j GROUP BY source
    """,
)
def q_corpus_keep_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-filter report: per ingestion source, how many
    docs survive the Gopher quality screen, the repetition screen, and
    both — the acceptance dashboard a training-data pipeline publishes
    per crawl slice. BOTH screens are per-row Column expressions (the
    repetition ratios via sorted-array run counting), so the whole
    report is one scan + one tiny partial agg on source — no join, no
    doc-keyed shuffle."""
    from .functions import corpus as C

    docs = read_docs_spread(spark, sf_dir)
    t = F.col("text")
    m = docs.select(
        "source",
        C.gopher_metrics(t).alias("__g"),
        C.repetition_metrics(t).alias("__r"),
    )
    flags = m.select(
        "source",
        F.col("__g.kept").alias("kept_gopher"),
        (
            (F.col("__r.top_ngram_char_frac") <= C.MAX_TOP_BIGRAM_CHAR_FRAC)
            & (F.col("__r.dup_ngram_char_frac") <= C.MAX_DUP_5GRAM_CHAR_FRAC)
        ).alias("kept_rep"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("kept_gopher").cast("int")).cast("bigint").alias("n_kept_gopher"),
        F.sum(F.col("kept_rep").cast("int")).cast("bigint").alias("n_kept_repetition"),
        F.sum((F.col("kept_gopher") & F.col("kept_rep")).cast("int"))
        .cast("bigint")
        .alias("n_kept_all"),
    )


# =====================================================================
# training-data pipeline: corpus curation — PII redaction, eval-set
# decontamination, corpus-wide line dedup, deterministic data mixing
# (willa_spark.functions.curation; capability superset — the reference
# has no corpus operators, see curation.py module docstring)
# =====================================================================

_PII_PLANT_SQL = r"""
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' contact user' || doc_id || '@example.com or 10.0.' ||
               (doc_id % 256) || '.7 at 555-300-' || (1000 + doc_id % 9000)
             ELSE text END AS text
      FROM documents
"""


@query(
    "pii_redaction",
    # counts mirror the replace CHAIN (each category counted on the
    # text after the preceding replacements) so counts always agree
    # with text_clean even on overlapping raw matches
    oracle=rf"""
    WITH all_docs AS ({_PII_PLANT_SQL}),
    chain AS (
      SELECT doc_id, text,
             regexp_replace(text, '{CURATION.PII_EMAIL}', '<EMAIL>', 'g')
               AS after_email
      FROM all_docs),
    chain2 AS (
      SELECT *, regexp_replace(after_email, '{CURATION.PII_IPV4}', '<IP>', 'g')
               AS after_ip
      FROM chain)
    SELECT doc_id,
           len(regexp_extract_all(text, '{CURATION.PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(after_email, '{CURATION.PII_IPV4}')) AS n_ips,
           len(regexp_extract_all(after_ip, '{CURATION.PII_PHONE}')) AS n_phones,
           regexp_replace(after_ip, '{CURATION.PII_PHONE}', '<PHONE>', 'g')
             AS text_clean
    FROM chain2
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4s / phones → typed placeholders)
    over the corpus plus deterministically planted PII (the synthetic
    corpus has none — see curation.plant_pii). Pure map-only Column
    regexes, RE2-compatible so the oracle runs character-identical
    patterns: zero shuffle, zero Python — a single scan at 100 TB."""
    docs = read_docs_spread(spark, sf_dir)
    return CURATION.pii_redact(CURATION.plant_pii(docs))


# 8-gram SQL over an unfiltered lowercase split — mirrors
# functions.dedup.shingles(text, 8) exactly.
def _grams8_sql(src: str) -> str:
    return rf"""
      SELECT doc_id,
             unnest([array_to_string(t[i:i+7], ' ')
                     FOR i IN range(1, greatest(len(t) - 6, 1))]) AS gram
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
            FROM {src})
    """


@query(
    "decontaminate",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS tk FROM documents
    ), corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, array_to_string(tk[3:18], ' ') AS text
      FROM toks WHERE doc_id % 97 = 0
    ), grams AS ({_grams8_sql("corpus")}),
    ev AS (
      SELECT DISTINCT gram FROM ({_grams8_sql("documents")}) g
      WHERE doc_id % 97 = 0
    )
    SELECT doc_id, count(*) AS n_hits,
           count(DISTINCT gram) AS n_distinct_grams
    FROM grams JOIN ev USING (gram) GROUP BY doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 appendix C / PaLM style): flag
    every training doc sharing an 8-token n-gram with the benchmark
    set (docs ≡ 0 mod 97 stand in for the eval set; planted partial
    leaks make overlap observable — curation.plant_eval_leaks). Corpus
    grams explode map-side into a BROADCAST hash join against the tiny
    eval-gram set; only the surviving hits shuffle for the per-doc
    count — no corpus-wide gram shuffle at any scale."""
    docs = read_docs_spread(spark, sf_dir)
    corpus = CURATION.plant_eval_leaks(docs, every=97)
    ev = CURATION.eval_ngrams(docs.filter(F.col("doc_id") % 97 == 0))
    return CURATION.contamination_report(corpus, ev)


@query(
    "decontaminate_fuzzy",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
      FROM documents
    ), para AS (
      SELECT doc_id + 1000000 AS doc_id,
             [tk[i] FOR i IN range(1, len(tk)+1) IF i % 4 != 1] AS tk
      FROM t WHERE doc_id % 97 = 0
    ), allt AS (SELECT * FROM t UNION ALL SELECT * FROM para),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest([array_to_string(tk[i:i+2], ' ')
               FOR i IN range(1, greatest(len(tk)-1, 1))]) AS g FROM allt)
    ), ev AS (
      SELECT doc_id AS eval_id, g,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams WHERE doc_id % 97 = 0 AND doc_id < 1000000
    ), hits AS (
      SELECT d.doc_id, e.eval_id,
             CAST(count(DISTINCT d.g) AS BIGINT) AS n_shared_grams,
             max(e.n_grams) AS n_ev
      FROM grams d JOIN ev e USING (g) GROUP BY 1, 2
    )
    SELECT doc_id, eval_id, n_shared_grams,
           round(n_shared_grams * 1.0 / n_ev, 4) AS overlap
    FROM hits WHERE n_shared_grams * 1.0 / n_ev >= 0.10
    """,
)
def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY eval-set decontamination: flag every
    (training doc, eval item) pair whose distinct-3-gram overlap
    FRACTION reaches 0.1 — the PaLM-style fraction screen that
    catches PARAPHRASED leakage the exact any-hit 8-gram screen
    (``decontaminate``) is blind to. Docs ≡ 0 mod 97 stand in for the
    benchmark; a planted paraphrase of each (every 4th token dropped —
    longest verbatim run 3 tokens, so ZERO exact-8-gram hits by
    construction; pytest-pinned) lands at measured overlap 0.22–0.26,
    2× above threshold, while clean docs flag only on genuine organic
    duplication. Composition of two existing kernels: the
    ``contamination_report`` broadcast-prune shape with per-eval-item
    gram fractions (``curation.eval_ngram_sets`` +
    ``fuzzy_contamination_report``); at 100 TB corpus grams explode
    map-side into the broadcast eval-set join — no corpus-wide gram
    shuffle, hit volume bounded by the eval set. Streaming twin:
    ``corpus_pipeline.corpus_curation_step(fuzzy_eval_sets=...)``.

    The eval selection pre-filters to items with ≥1 3-gram:
    eval_ngram_sets fails LOUD on sub-n items by contract, and
    without the filter a future SF whose 97-stride contains a
    sub-3-token doc would hard-fail this registered row instead of
    screening; the oracle needs no twin change — its ev CTE forms
    3-grams directly, so sub-3-token items never had rows there
    (the filter aligns the engines, it doesn't diverge them)."""
    docs = read_docs_spread(spark, sf_dir)
    corpus = CURATION.plant_paraphrased_leaks(docs, every=97)
    ev = CURATION.eval_ngram_sets(
        docs.filter(F.col("doc_id") % 97 == 0).filter(
            F.size(D.shingles(F.col("text"), 3)) > 0
        ),
        n=3,
    )
    return CURATION.fuzzy_contamination_report(corpus, ev, n=3, min_overlap=0.1)


@query(
    "line_dedup",
    oracle=rf"""
    WITH all_docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN '{CURATION.SPAM_PREFIX} ' || text
                  ELSE text END AS text
      FROM documents
    ), t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM all_docs
    ), lines AS (
      SELECT doc_id,
             unnest([{{'pos': i-1,
                      'line': array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ')}}
                     FOR i IN range(1, CAST(ceil(len(toks) / 8.0) AS BIGINT) + 1)])
                 AS u
      FROM t WHERE len(toks) > 0
    ), ranked AS (
      SELECT doc_id, u.pos AS pos, u.line AS line,
             row_number() OVER (PARTITION BY u.line ORDER BY doc_id, u.pos) AS rn
      FROM lines
    )
    SELECT doc_id, count(*) AS n_lines,
           count(*) FILTER (WHERE rn = 1) AS n_kept,
           round(CAST(sum(CASE WHEN rn = 1 THEN length(line) ELSE 0 END)
                      AS BIGINT) * 1.0
                 / greatest(CAST(sum(length(line)) AS BIGINT), 1), 4)
               AS kept_char_frac
    FROM ranked GROUP BY doc_id
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-WIDE duplicate-line removal stats (CCNet §3.1: keep only
    the first occurrence of every line across the whole corpus — kills
    boilerplate). Planted 2-line spam prefix on every 10th doc makes
    cross-doc duplication observable. One partial-agg shuffle on the
    line hash elects first owners; the join back reuses the exchange;
    a hot boilerplate line is a single partial-agg key, not a blowup."""
    docs = read_docs_spread(spark, sf_dir)
    return CURATION.line_dedup_stats(CURATION.plant_spam_lines(docs))


# UNFILTERED whitespace split — mirrors functions.dedup.shingles /
# retrieval._toks exactly (keeping any empty edge token a non-space
# whitespace edge leaves behind; _TOKS_SQL's empty-token filter would
# shift every gram POSITION off the Spark side's for such documents)
_RAW_TOKS_SQL = r"string_split_regex(lower(trim(text)), '\s+')"

@query(
    "dup_ngram_spans",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_RAW_TOKS_SQL} AS toks FROM documents
    ), toks AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM t
    ), grams AS (
      SELECT doc_id, pos,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                 || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS g,
             lead(tok, 4) OVER w IS NOT NULL AS full_gram
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), dup AS (
      SELECT g FROM grams WHERE full_gram GROUP BY g HAVING count(*) >= 2
    ), hits AS (
      SELECT doc_id, pos FROM grams
      WHERE full_gram AND g IN (SELECT g FROM dup)
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w2 IS NULL
                   OR pos - lag(pos) OVER w2 > 5
                  THEN 1 ELSE 0 END AS new_island
      FROM hits WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos)
                 AS island
      FROM flagged
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 4 AS BIGINT) AS span_end,
           CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, island
    """,
)
def q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document (exact-substring
    dedup, Lee et al. 2022): every token run whose 5-grams all occur
    >= 2 times corpus-wide, as (doc_id, span_start, span_end,
    span_tokens) — the analysis half; ``dedup.mask_dup_spans`` is the
    apply half (pytest-pinned: masked docs rebuilt from the normalized
    token stream, span-free docs verbatim). The sf corpus's organic
    boilerplate runs make the output non-trivial without planting.
    Plan: posexplode 5-grams → 8-byte hash count (partial agg) →
    occurrence filter → position semi-join → per-doc gaps-and-islands
    window — three short-key shuffles, no all-pairs; the oracle groups
    on raw n-gram strings (value-identical to the xxhash64 grouping
    absent 64-bit collisions)."""
    docs = read_docs_spread(spark, sf_dir)
    spans = D.dup_ngram_spans(docs, n=5)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


@query(
    "bm25_topk",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_RAW_TOKS_SQL} AS toks FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM t
    ), post AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
        SELECT doc_id, unnest(toks) AS term, len(toks) AS dl FROM t
      ) GROUP BY doc_id, term
    ), q AS (
      SELECT doc_id AS query_id, unnest(list_distinct(toks[1:5])) AS term
      FROM t WHERE doc_id % 50 = 0
    ), dfreq AS (
      SELECT term, count(*) AS df_t FROM post
      WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
    ), scored AS (
      SELECT q.query_id, p.doc_id,
             sum(ln(1 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
                 * (p.tf * 2.2)
                 / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))) AS score
      FROM q JOIN post p USING (term) JOIN dfreq d USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    ), r AS (
      SELECT query_id, doc_id, round(score, 6) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 6) DESC, doc_id
             ) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
    FROM r WHERE rank <= 5
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 lexical retrieval (functions/retrieval.py): every
    50th document's first 5 distinct tokens form a query set ranked
    against the whole corpus — the text-side counterpart of
    ``embedding_topk``, and the primitive behind retrieval-based
    decontamination and DSIR-style data selection. Scale shape: the
    postings frame is semi-joined against the BROADCAST query-term set
    before any scoring (inverted-index access expressed relationally —
    score volume ∝ queried-term postings, not corpus), per-term df
    and the 1-row (N, avgdl) stats ride broadcast joins, and ranking
    rounds to 6 decimals BEFORE row_number with a doc_id tie-break so
    both engines order identically (cross-engine double summation
    differs in the last ulps only)."""
    from willa_spark.functions import retrieval as R

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_distinct(F.slice(toks, 1, 5)).alias("terms"),
    )
    out = R.bm25_topk(docs, queries, k=5)
    return out.select(
        "query_id", "doc_id", F.col("rank").cast("long").alias("rank"), "score"
    )


# Data-mixing rates keyed by source (three tiers). Defined once and
# rendered into BOTH the Spark broadcast-join frame and the oracle's
# VALUES list so the two engines share one spec.
MIX_RATES = {f"src{i}": (0.15, 0.5, 0.9)[i % 3] for i in range(100)}
_RATES_SQL = ", ".join(f"('{s}', {r})" for s, r in MIX_RATES.items())


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, d.source AS source FROM documents d
    JOIN (VALUES {_RATES_SQL}) r(source, rate) ON d.source = r.source
    WHERE ((d.doc_id * {CURATION.KNUTH}) % {CURATION._2_32})
          / {float(CURATION._2_32)} < r.rate
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sampling — the data-mixing primitive
    (web 15% / mid 50% / books 90%). Keeps a row iff a multiplicative
    id hash lands under the stratum's rate: reproducible across runs,
    task retries, and engines (rand()-based sampleBy is none of
    those). Broadcast rates join on one scan — zero shuffle."""
    docs = read_docs_spread(spark, sf_dir)
    return CURATION.stratified_sample(docs, MIX_RATES).select("doc_id", "source")


@query(
    "token_budget_cap",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, source, text,
             length(text) AS n,
             len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
             length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> x IN ('the','a','of','and','to','in','is','that'))) AS sw
      FROM documents
    ), q AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             round(least(n / 500.0, 1.0) * 0.4
                   + (1.0 - least((n_punct / greatest(n, 1)) * 10, 1.0)) * 0.2
                   + least((sw / greatest(n_tok, 1)) * 5, 1.0) * 0.2
                   + CASE WHEN n_nonspace / greatest(n_tok, 1) BETWEEN 3 AND 10
                          THEN 0.2 ELSE 0.0 END,
                   4) AS q
      FROM c
    ), w AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY q DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM w WHERE cum_tokens <= 800
    """,
)
def q_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget packing: rank each source's docs
    by quality (id tie-break) and keep while the running token total
    stays ≤ 800 — assembling a fixed-size training mix from an
    oversized pool. One shuffle into a per-stratum window sort."""
    docs = read_docs_spread(spark, sf_dir)
    return CURATION.token_budget_cap(docs, budget_tokens=800)


@query(
    "pack_sequences",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), w AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS BIGINT) AS cb
      FROM c
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor(cb / 512.0) AS BIGINT) AS seq_id,
           CAST(cb % 512 AS BIGINT) AS seq_offset
    FROM w
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (GPT-style pretraining
    layout): per source, docs concatenate in id order and the token
    stream is cut every 512 tokens; each doc reports the sequence it
    starts in and its offset. Same plan shape as token_budget_cap —
    one stratum-keyed shuffle into a window sort."""
    docs = read_docs_spread(spark, sf_dir)
    return CURATION.pack_sequences(docs, seq_len=512)


@query(
    "sequence_manifest",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n
      FROM documents
    ), w AS (
      SELECT doc_id, source, n,
             CAST(sum(n) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n AS BIGINT) AS cb
      FROM c
    ), e AS (
      SELECT source, doc_id, n, cb,
             unnest(generate_series(cb // 512, (cb + n - 1) // 512)) AS s
      FROM w WHERE n >= 1
    )
    SELECT source, CAST(s AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(0, cb - s*512) AS BIGINT) AS start_in_seq,
           CAST(greatest(0, s*512 - cb) AS BIGINT) AS start_in_doc,
           CAST(least((s+1)*512, cb + n) - greatest(s*512, cb) AS BIGINT)
             AS slice_len
    FROM e
    """,
)
def q_sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-side slice manifest for 512-token sequence packing: one
    row per (sequence, contributing doc) with exact token spans — the
    read contract a training loader joins against shards. Window pass
    + per-row explode over touched sequences, no extra shuffle."""
    docs = read_docs_spread(spark, sf_dir)
    return CURATION.sequence_manifest(docs, seq_len=512)


@query(
    "packed_shard_roundtrip",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n
      FROM documents
    ), w AS (
      SELECT doc_id, source, n,
             CAST(sum(n) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n AS BIGINT) AS cb
      FROM c
    ), e AS (
      SELECT source, doc_id, n, cb,
             unnest(generate_series(cb // 512, (cb + n - 1) // 512)) AS s
      FROM w WHERE n >= 1
    ), m AS (
      SELECT source, CAST(s AS BIGINT) AS seq_id, doc_id,
             CAST(greatest(0, cb - s*512) AS BIGINT) AS start_in_seq,
             CAST(least((s+1)*512, cb + n) - greatest(s*512, cb) AS BIGINT)
               AS slice_len
      FROM e
    )
    SELECT source, seq_id,
           CAST(seq_id // 8 AS BIGINT) AS shard_min,
           CAST(seq_id // 8 AS BIGINT) AS shard_max,
           CAST(count(*) AS BIGINT) AS n_slices,
           CAST(sum(slice_len) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(sum(start_in_seq) AS BIGINT) AS start_sum
    FROM m GROUP BY source, seq_id
    """,
)
def q_packed_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ON-DISK proof of the packed-assembly endpoint: write the
    corpus with ``save_packed_shards`` (seq_len=512, 8 seqs/shard) to
    a temp dir, READ THE PARQUET BACK, and aggregate per (stratum,
    sequence) — slice count, token total derived from the WRITTEN
    ``slice_text`` (re-tokenized from disk, so a wrong slice span,
    dropped row, or mis-normalized token stream breaks the hash), doc
    range, offset sum, and the shard partition values each sequence
    landed in (shard_min = shard_max = seq_id // 8 proves placement).
    The oracle is the manifest SQL aggregated the same way — the
    loader contract checked against the bytes a loader would read,
    not against the plan that produced them. Mirrors how the
    reference proves sinks end-to-end (core_test.clj:53-69 asserts
    per-sink outputs). The result frame is eagerly pinned
    (localCheckpoint) so the temp dir can be deleted before return."""
    import shutil
    import tempfile

    docs = read_docs_spread(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="willa_packed_rt_")
    try:
        CURATION.save_packed_shards(docs, out, seq_len=512, seqs_per_shard=8)
        back = spark.read.parquet(out)
        agg = back.groupBy(
            F.col("source").cast("string").alias("source"), "seq_id"
        ).agg(
            F.min("shard").cast("bigint").alias("shard_min"),
            F.max("shard").cast("bigint").alias("shard_max"),
            F.count(F.lit(1)).cast("bigint").alias("n_slices"),
            F.sum(F.size(F.split(F.col("slice_text"), " ")))
            .cast("bigint")
            .alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum("start_in_seq").cast("bigint").alias("start_sum"),
        )
        return pin(agg)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "packed_sequences_loaded",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), n AS (
      SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n FROM c
    ), w AS (
      SELECT doc_id, source, toks, n,
             CAST(sum(n) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n AS BIGINT) AS cb
      FROM n
    ), e AS (
      SELECT source, doc_id, toks, n, cb,
             unnest(generate_series(cb // 512, (cb + n - 1) // 512)) AS s
      FROM w WHERE n >= 1
    ), m AS (
      SELECT source, CAST(s AS BIGINT) AS seq_id,
             CAST(greatest(0, cb - s*512) AS BIGINT) AS start_in_seq,
             array_to_string(
               toks[CAST(greatest(0, s*512 - cb) + 1 AS BIGINT):
                    CAST(greatest(0, s*512 - cb)
                         + least((s+1)*512, cb + n) - greatest(s*512, cb)
                         AS BIGINT)],
               ' ') AS slice_txt,
             CAST(least((s+1)*512, cb + n) - greatest(s*512, cb) AS BIGINT)
               AS slice_len
      FROM e
    )
    SELECT source, CAST(seq_id // 8 AS BIGINT) AS shard, seq_id,
           string_agg(slice_txt, ' ' ORDER BY start_in_seq) AS seq_text,
           CAST(sum(slice_len) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_slices
    FROM m GROUP BY source, seq_id
    """,
)
def q_packed_sequences_loaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOADER-side proof closing the assembly path end to end:
    write the corpus with ``save_packed_shards``, then materialize
    every training sequence from the on-disk shards with
    ``load_packed_sequences`` — the exact frame a trainer consumes,
    including the fully-assembled ``seq_text``. The oracle rebuilds
    each sequence's text independently in DuckDB (token-slice
    arithmetic + ordered string_agg), so a wrong slice span, a
    mis-sorted slice, or a normalization mismatch anywhere in
    write→read→assemble breaks the value hash. Complements
    ``packed_shard_roundtrip`` (aggregate totals) with the strongest
    possible check: the sequence BYTES."""
    import shutil
    import tempfile

    docs = read_docs_spread(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="willa_packed_load_")
    try:
        CURATION.save_packed_shards(docs, out, seq_len=512, seqs_per_shard=8)
        seqs = CURATION.load_packed_sequences(spark, out).select(
            F.col("source").cast("string").alias("source"),
            "shard",
            "seq_id",
            "seq_text",
            "n_tokens",
            "n_slices",
        )
        return pin(seqs)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _planted_binary_corpus(docs: DataFrame, off: int, modulus: int):
    """Shared builder for the media-family planted corpora: payload =
    first 200 text bytes, plant = byte-identical twin of every
    ``modulus``-th doc under doc_id + off. Each family passes its OWN
    modulus at the call site (image 20, audio 25, video 30 —
    deliberately distinct so no two families' plants or oracles can
    silently couple; the modulus is visible next to each family's
    oracle). Base ids ride the ``_plant_guarded_id`` check (a corpus
    whose ids reach ``off`` would alias planted
    twins onto real docs and emit false duplicate pairs in the
    standalone dup queries — fail loud HERE, not only in the recall
    rows). Returns (corpus, planted_originals, members)."""
    clips = docs.select(
        _plant_guarded_id(off).alias("doc_id"),
        F.encode(F.substring(F.col("text"), 1, 200), "utf-8").alias("data"),
    )
    planted = clips.filter(F.col("doc_id") % modulus == 0)
    twins = planted.withColumn("doc_id", F.col("doc_id") + F.lit(off))
    return clips.unionByName(twins), planted, planted.unionByName(twins)


def _phash_planted_corpus(docs: DataFrame, off: int):
    """The planted image corpus shared by ``image_phash_dups`` and
    ``recall_image_phash`` — ONE definition of the payload and the
    plant (modulus 20), via ``_planted_binary_corpus``, so the recall
    proof can never desynchronize from the rows-only pairs query."""
    return _planted_binary_corpus(docs, off, 20)


_KB_SUFFIX = " !@ #$ %^ &* !@ #$ %^ &*"


@query(
    "near_dup_keep_best",
    oracle=r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' !@ #$ %^ &* !@ #$ %^ &*'
      FROM documents WHERE doc_id % 20 = 0
    ), q AS (
      SELECT doc_id,
             CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
                  WHEN doc_id % 20 = 0 THEN doc_id
                  ELSE NULL END AS cluster,
             round(least(length(text) / 500.0, 1.0) * 0.4
                   + (1.0 - least((length(regexp_replace(text,
                          '[A-Za-z0-9\s]', '', 'g'))
                        / greatest(length(text), 1)) * 10, 1.0)) * 0.2
                   + least((len(list_filter(
                          string_split_regex(lower(trim(text)), '\s+'),
                          x -> x IN ('the','a','of','and','to','in','is','that')))
                        / greatest(len(string_split_regex(lower(trim(text)),
                          '\s+')), 1)) * 5, 1.0) * 0.2
                   + CASE WHEN length(regexp_replace(trim(text), '\s+', '', 'g'))
                               / greatest(len(string_split_regex(lower(trim(text)),
                                 '\s+')), 1) BETWEEN 3 AND 10
                          THEN 0.2 ELSE 0.0 END,
                   4) AS quality
      FROM all_docs
    ), ranked AS (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY cluster ORDER BY quality DESC, doc_id ASC
             ) AS rn
      FROM q WHERE cluster IS NOT NULL
    )
    SELECT q.doc_id, q.quality FROM q
    WHERE q.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
    """,
)
def q_near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-aware SURVIVOR POLICY driver-proven end to end:
    every 20th doc gets a punctuation-degraded near-dup twin
    (doc_id + 1e6); the (original, twin) clusters are known by
    construction (so the policy is isolated from candidate
    generation, whose recall the recall_* rows prove), and
    ``keep_best`` must keep exactly the higher-``quality_score``
    member — ties and NULLs to the min id. The oracle recomputes the
    identical score arithmetic and argmax in SQL, so a policy bug
    (wrong tie-break, NULL mishandling, dropped unclustered doc)
    breaks the value hash. Returns every survivor with its score."""
    OFF = 1_000_000
    docs = read_docs_spread(spark, sf_dir).select(
        _plant_guarded_id(OFF).alias("doc_id"), "text"
    )
    planted = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_KB_SUFFIX)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    members = docs.filter(F.col("doc_id") % 20 == 0).select("doc_id")
    clusters = members.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("cluster_id")
    ).unionByName(
        members.select(
            (F.col("doc_id") + OFF).alias("id"),
            F.col("doc_id").alias("cluster_id"),
        )
    )
    kept = D.keep_best(
        corpus, clusters, TXT.quality_score(F.col("text")), id_col="doc_id"
    )
    return kept.select(
        "doc_id", TXT.quality_score(F.col("text")).alias("quality")
    )


@query("image_phash_dups")  # rows-only (decoded-pixel hashes not SQL-expressible)
def q_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate image pairs over the corpus's
    binary payloads (each doc's first 200 bytes through the injected
    byte-sensitive fake codec — the container ships no real image
    libraries; see multimodal.py) plus byte-identical planted twins of
    every 20th doc (``_phash_planted_corpus``, shared with the recall
    row). decode → 64-bit pHash → pigeonhole block join (the simhash
    machinery, ``hamming_block_pairs``) → exact hamming <= 3. Recall
    is driver-proven by the oracle-checked ``recall_image_phash``
    row; streaming twin:
    ``streaming.near_dedup.phash_dedup_step``."""
    from .functions.multimodal import fake_image_decoder_8x8, image_phash_pairs

    corpus, _planted, _members = _phash_planted_corpus(
        read_docs_spread(spark, sf_dir), 1_000_000
    )
    return image_phash_pairs(
        corpus, max_hamming=3, id_col="doc_id", decoder=fake_image_decoder_8x8
    )


def _audio_planted_corpus(docs: DataFrame, off: int):
    """The planted audio corpus shared by ``audio_fingerprint_dups``
    and ``recall_audio_fp`` (modulus 25 — distinct from image's 20,
    see ``_planted_binary_corpus``)."""
    return _planted_binary_corpus(docs, off, 25)


@query("audio_fingerprint_dups")  # rows-only (decoded-PCM hashes not SQL-expressible)
def q_audio_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint near-duplicate audio pairs over the
    corpus's binary payloads (each doc's first 200 bytes as fake PCM
    through the injected byte-sensitive codec — the container ships no
    real audio libraries; see multimodal.py) plus byte-identical
    planted twins of every 25th doc (``_audio_planted_corpus``, shared
    with the recall row). decode → 64-frame energy envelope → 64-bit
    threshold fingerprint → pigeonhole block join (the simhash
    machinery, ``hamming_block_pairs``) → exact hamming <= 3 —
    completing the text/image/audio trio on the shared bucketed
    kernel. Recall is driver-proven by the oracle-checked
    ``recall_audio_fp`` row; streaming twin:
    ``streaming.near_dedup.audio_fp_dedup_step``."""
    from .functions.multimodal import audio_fingerprint_pairs, fake_audio_decoder_pcm

    corpus, _planted, _members = _audio_planted_corpus(
        read_docs_spread(spark, sf_dir), 1_000_000
    )
    return audio_fingerprint_pairs(
        corpus, max_hamming=3, id_col="doc_id", decoder=fake_audio_decoder_pcm
    )


@query("video_fingerprint_dups")  # rows-only (frame-hash joins not SQL-expressible)
def q_video_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-frame near-duplicate video pairs over the corpus's
    binary payloads (each doc's first 200 bytes as a 5-frame fake
    video through the injected byte-sensitive codec — the container
    ships no real video libraries; see multimodal.py) plus
    byte-identical planted twins of every 30th doc
    (``_video_planted_corpus``, shared with the recall row). decode →
    sampled per-frame 64-bit perceptual hashes → the winnowing
    fingerprint equi-join kernel (``winnow_pair_counts``) → pairs
    sharing >= 2 distinct frame hashes — the shot-fingerprint
    containment design, completing the image/audio/video trio. Recall
    is proven by ``recall_video_fp`` (oracle-bearing); streaming
    twin: ``streaming.near_dedup.video_fp_dedup_step``."""
    from .functions.multimodal import fake_video_decoder, video_fingerprint_pairs

    corpus, _planted, _members = _video_planted_corpus(
        read_docs_spread(spark, sf_dir), 1_000_000
    )
    return video_fingerprint_pairs(
        corpus, min_shared_frames=2, id_col="doc_id", decoder=fake_video_decoder
    )


def _video_planted_corpus(docs: DataFrame, off: int):
    """The planted video corpus shared by ``video_fingerprint_dups``
    and ``recall_video_fp`` (modulus 30 — distinct from image 20 /
    audio 25, see ``_planted_binary_corpus``)."""
    return _planted_binary_corpus(docs, off, 30)


@query(
    "recall_video_fp",
    # modulus 30 = _video_planted_corpus's plant modulus (distinct from
    # image's 20 / audio's 25 — no silent oracle coupling).
    oracle="""
    WITH vd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
                WHERE doc_id % 30 = 0)
    SELECT 'video_fp' AS family, n AS n_planted, n AS n_found FROM vd
    """,
)
def q_recall_video_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-frame video recall proof (the 8th recall family): every
    30th doc's binary payload is planted again under doc_id + 1e6.
    Identical bytes ⇒ identical decoded frames ⇒ identical per-frame
    hashes ⇒ EVERY frame is shared, so at ``min_shared_frames=1`` the
    fingerprint equi-join MUST emit the pair — even for an empty
    payload (one all-zero frame, still shared). Decodes ONLY the pair
    members — the standalone ``video_fingerprint_dups`` covers the
    corpus-wide join; this row is its driver-gate proof. The frame
    document-frequency cap is DISABLED here (the cap is a
    pair-emission policy for the reporting operator; applying it to a
    planted-recall proof could drop a legitimately-shared frame and
    void the guarantee)."""
    from .functions.multimodal import fake_video_decoder, video_fingerprint_pairs

    docs = _recall_docs(spark, sf_dir)
    _, planted_clips, members = _video_planted_corpus(docs, _RECALL_OFF)
    pairs = video_fingerprint_pairs(
        members,
        min_shared_frames=1,
        frame_df_cap=None,
        id_col="doc_id",
        decoder=fake_video_decoder,
    )
    return _recall_row(
        "video_fp",
        _count_planted(planted_clips),
        _count_found_offset_pairs(pairs),
    )


# --------------------------------------------------------------------
# precision rows — the DUAL of the recall family. The 8 recall rows
# prove planted dups are FOUND; these prove just-over-threshold
# near-misses are NOT found. Each row carries BOTH arms so it is
# self-controlled: an exact twin (offset 1e6, distance 0 — the
# positive control: machinery that silently emits nothing fails the
# row) and a near-miss twin (offset 2e6, distance exactly
# max_hamming+1 / shared-count exactly min_shared-1). The near-miss is
# constructed by SIGNATURE surgery, not byte flips: flipping payload
# bytes through the threshold-against-mean fakes moves an
# uncontrollable number of hash bits (the mean shifts every borderline
# bit), so only an XOR at the signature layer pins the distance at
# exactly threshold+1 — and flipping all max_hamming+1 bits INSIDE ONE
# pigeonhole block leaves the other max_hamming blocks identical, so
# candidate generation MUST surface the pair and the exact-verify
# filter is what the row actually exercises. The corpus-side
# signatures still come from each family's full decode→signature path.

_P_OFF1 = 1_000_000  # exact-twin offset (positive control, distance 0)
_P_OFF2 = 2_000_000  # near-miss offset (distance = threshold + 1)


def _precision_sig_rows(
    family: str, sig: DataFrame, modulus: int, max_hamming: int = 3
) -> DataFrame:
    """(family, n_planted, n_true_found, n_false_found) over an
    (id, simhash) frame: per planted id, an exact twin at _P_OFF1 and
    a near-miss twin at _P_OFF2 whose signature is XOR'd with the
    low (max_hamming+1) bits — all inside pigeonhole block 0 (blocks
    are ``simhash_block_frame``'s low-to-high 16-bit shifts), so the
    other max_hamming blocks match exactly and the candidate pair is
    GUARANTEED to reach the bit_count verify, which must reject it:
    hamming is exactly max_hamming+1 by construction. n_false_found
    counts originals whose near-miss twin was (wrongly) emitted — the
    oracle asserts 0; n_true_found must equal n_planted.

    ``sig`` is EAGERLY pinned first (the video dual's discipline): it
    fans out to four consumers (corpus branch, both twin branches, the
    n_planted count) and Spark does not reuse subtrees — unpinned, the
    image/audio callers' mapInPandas decode ran ~4× per gate run. The
    pinned frame is (id, 8-byte hash) rows — tiny at any corpus size.
    The true/false counts share ONE conditional aggregate for the same
    reason (the pigeonhole self-join ran twice as separate aggs).

    DUAL-PROGRAM STATUS (complete): every hash/containment/
    ANN family carries a recall row AND a precision row (this harness
    for the hamming families; fp-frame surgery for video/winnow/
    audio-segment; three verify arms for ANN) — EXCEPT minhash, BY
    DESIGN: its pipeline ends in an exact-Jaccard verify IN-PLAN
    (``verified_near_dups`` rescoring every candidate against the
    true shingle sets), so a planted near-miss can never survive to
    the output — the verify itself is a stronger precision proof than
    any planted dual, and ``recall_minhash``'s oracle already pins
    that verify's arithmetic (jaccard = 1.0 on exact copies)."""
    sig = pin(sig)
    mask = (1 << (max_hamming + 1)) - 1
    planted = sig.filter(F.col("id") % modulus == 0)
    exact = planted.select((F.col("id") + _P_OFF1).alias("id"), "simhash")
    miss = planted.select(
        (F.col("id") + _P_OFF2).alias("id"),
        F.col("simhash").bitwiseXOR(F.lit(mask)).alias("simhash"),
    )
    frame = sig.unionByName(exact).unionByName(miss)
    pairs = D.hamming_block_pairs(frame, max_hamming, max_hamming + 1)
    counts = pairs.filter(F.col("id_a") < _P_OFF1).agg(
        F.count_distinct(
            F.when(F.col("id_b") == F.col("id_a") + _P_OFF1, F.col("id_a"))
        ).alias("n_true_found"),
        F.count_distinct(
            F.when(F.col("id_b") == F.col("id_a") + _P_OFF2, F.col("id_a"))
        ).alias("n_false_found"),
    )
    n_pl = planted.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    return n_pl.crossJoin(counts).select(
        F.lit(family).alias("family"),
        "n_planted",
        "n_true_found",
        "n_false_found",
    )


def _precision_oracle(family: str, modulus: int) -> str:
    return f"""
    WITH p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
               WHERE doc_id % {modulus} = 0)
    SELECT '{family}' AS family, n AS n_planted, n AS n_true_found,
           CAST(0 AS BIGINT) AS n_false_found FROM p
    """


@query("precision_simhash", oracle=_precision_oracle("simhash", 20))
def q_precision_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash precision proof (dual of ``recall_simhash``): corpus
    signatures from the full text→simhash path; near-miss twins at
    hamming exactly 4 with all flips in block 0 (candidate guaranteed
    by pigeonhole) must be REJECTED by the exact bit_count verify,
    while exact twins (hamming 0) must all be found. A verify bug
    (wrong mask arithmetic, off-by-one threshold, dropped filter)
    flips n_false_found off 0 or n_true_found off n_planted."""
    docs = _recall_docs(spark, sf_dir)
    sig = D.with_simhash(docs.select("doc_id", "text"), "text").select(
        F.col("doc_id").alias("id"), "simhash"
    )
    return _precision_sig_rows("simhash", sig, 20)


@query("precision_image_phash", oracle=_precision_oracle("image_phash", 20))
def q_precision_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image pHash precision proof (dual of ``recall_image_phash``):
    corpus signatures from the full decode (injected byte-sensitive
    8x8 fake codec) → threshold-hash path; signature-surgery twins as
    in ``_precision_sig_rows``."""
    from .functions.multimodal import (
        decode_image_phash_frame,
        fake_image_decoder_8x8,
    )

    docs = _recall_docs(spark, sf_dir)
    clips = docs.select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 200), "utf-8").alias("data"),
    )
    sig = decode_image_phash_frame(
        clips, id_col="doc_id", decoder=fake_image_decoder_8x8
    )
    return _precision_sig_rows("image_phash", sig, 20)


@query("precision_audio_fp", oracle=_precision_oracle("audio_fp", 25))
def q_precision_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint precision proof (dual of ``recall_audio_fp``):
    corpus signatures from the full decode (byte-sensitive PCM fake)
    → energy envelope → threshold-hash path; signature-surgery twins
    as in ``_precision_sig_rows``."""
    from .functions.multimodal import (
        decode_audio_fp_frame,
        fake_audio_decoder_pcm,
    )

    docs = _recall_docs(spark, sf_dir)
    clips = docs.select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 200), "utf-8").alias("data"),
    )
    sig = decode_audio_fp_frame(
        clips, id_col="doc_id", decoder=fake_audio_decoder_pcm
    )
    return _precision_sig_rows("audio_fp", sig, 25)


@query("precision_video_fp", oracle=_precision_oracle("video_fp", 30))
def q_precision_video_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shared-frame precision proof (dual of ``recall_video_fp``)
    — the containment analogue of the hamming duals: the near-miss
    twin owns exactly ONE of its original's frame hashes (min(fp) —
    one row, so n_shared with the original is exactly 1 =
    min_shared_frames - 1 BY CONSTRUCTION, however the other frames
    hash), which the >= 2 threshold must reject; the exact twin owns
    every frame hash and must be found (n_shared >= 1 — every decoded
    video has at least one frame). Counting runs through the family's
    real kernel (``winnow_pair_counts`` over the decoded frame-hash
    frame)."""
    from .functions.multimodal import (
        decode_video_fp_frame,
        fake_video_decoder,
    )

    docs = _recall_docs(spark, sf_dir)
    clips = docs.select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 200), "utf-8").alias("data"),
    )
    fpf = pin(decode_video_fp_frame(
        clips, id_col="doc_id", decoder=fake_video_decoder
    ))
    planted_fp = fpf.filter(F.col("id") % 30 == 0)
    exact = planted_fp.select((F.col("id") + _P_OFF1).alias("id"), "fp")
    miss = (
        planted_fp.groupBy("id")
        .agg(F.min("fp").alias("fp"))
        .select((F.col("id") + _P_OFF2).alias("id"), "fp")
    )
    frame = fpf.unionByName(exact).unionByName(miss)
    counts = D.winnow_pair_counts(frame)
    orig = F.col("id_a") < _P_OFF1
    n_true = counts.filter(
        orig & (F.col("id_b") == F.col("id_a") + _P_OFF1) & (F.col("n_shared") >= 1)
    ).agg(F.count_distinct("id_a").alias("n_true_found"))
    n_false = counts.filter(
        orig & (F.col("id_b") == F.col("id_a") + _P_OFF2) & (F.col("n_shared") >= 2)
    ).agg(F.count_distinct("id_a").alias("n_false_found"))
    n_pl = (
        clips.filter(F.col("doc_id") % 30 == 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    )
    return (
        n_pl.crossJoin(n_true)
        .crossJoin(n_false)
        .select(
            F.lit("video_fp").alias("family"),
            "n_planted",
            "n_true_found",
            "n_false_found",
        )
    )


@query(
    "precision_winnow",
    oracle=r"""
    WITH p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
               WHERE doc_id % 20 = 0
                 AND len(string_split_regex(lower(trim(text)), '\s+')) >= 5)
    SELECT 'winnow' AS family, n AS n_planted, n AS n_true_found,
           CAST(0 AS BIGINT) AS n_false_found FROM p
    """,
)
def q_precision_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing precision proof (dual of ``recall_winnow``, closing
    the dual program) — the containment analogue at TEXT
    granularity, the exact ``precision_video_fp`` pattern: per planted
    original (every 20th doc with >= k = 5 tokens, so >= 1 winnowing
    fingerprint exists), the exact twin owns EVERY fingerprint and
    must be found at n_shared >= 1 (the SIGMOD'03 admission level,
    ``winnow_dedup_step``'s default), while the near-miss twin owns
    exactly ONE fingerprint (min(fp) — one row BY CONSTRUCTION, so
    n_shared with the original is exactly 1) and must be REJECTED at
    the stricter containment threshold 2 (the video/audio-segment
    families' admission level): n_false_found counts min-fp twins
    wrongly reported at >= 2 shared — an over-count anywhere in the
    pair kernel (duplicate fp rows surviving the distinct-minima
    contract, a join duplicating rows, count instead of
    count-distinct semantics) flips it off 0. Counting runs through
    the family's real kernel (``winnow_pair_counts``). Fingerprints
    ONLY the pair members, like ``recall_winnow`` and for the same
    reason: the corpus-wide join belongs to ``winnow_overlap_pairs``
    whose MOSS df-cap exists precisely because organic template runs
    make text fingerprints hot — a cap here could silently drop a
    planted fp and void the construction."""
    docs = _recall_docs(spark, sf_dir)
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    eligible = docs.filter((F.col("doc_id") % 20 == 0) & (n_tok >= 5))
    fpf = pin(D.winnow_fingerprint_frame(eligible))
    exact = fpf.select((F.col("id") + _P_OFF1).alias("id"), "fp")
    miss = (
        fpf.groupBy("id")
        .agg(F.min("fp").alias("fp"))
        .select((F.col("id") + _P_OFF2).alias("id"), "fp")
    )
    counts = D.winnow_pair_counts(fpf.unionByName(exact).unionByName(miss))
    orig = F.col("id_a") < _P_OFF1
    n_true = counts.filter(
        orig & (F.col("id_b") == F.col("id_a") + _P_OFF1) & (F.col("n_shared") >= 1)
    ).agg(F.count_distinct("id_a").alias("n_true_found"))
    n_false = counts.filter(
        orig & (F.col("id_b") == F.col("id_a") + _P_OFF2) & (F.col("n_shared") >= 2)
    ).agg(F.count_distinct("id_a").alias("n_false_found"))
    n_pl = eligible.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    return (
        n_pl.crossJoin(n_true)
        .crossJoin(n_false)
        .select(
            F.lit("winnow").alias("family"),
            "n_planted",
            "n_true_found",
            "n_false_found",
        )
    )


@query("precision_audio_seg", oracle=_precision_oracle("audio_seg", 35))
def q_precision_audio_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segment-containment precision proof (dual of
    ``recall_audio_seg``; promotes the pytest pin at
    tests/test_functions.py::test_audio_segment_pairs_precision_one_shared_window
    to a driver oracle row): corpus segment fingerprints from the
    full decode (byte-sensitive PCM fake) → sliding-window envelope →
    threshold-hash path (``audio_segment_fp_frame``); per planted
    original (every 35th doc — every clip yields >= 1 segment fp,
    empty payloads hash to the single fp 0), the exact twin owns
    every segment fp and must be found at n_shared >= 1 (the recall
    admission level) while the near-miss twin owns exactly ONE
    segment fp (min(fp) — one row, n_shared exactly 1 BY
    CONSTRUCTION) and must be REJECTED by the family threshold
    ``min_shared_segments = 2`` (``audio_segment_pairs`` /
    ``audio_segment_dedup_step`` default). Corpus-wide fp frame like
    the video dual (segment fps are byte-derived — no organic hot
    keys at test scale; the driver ran the uncapped corpus-wide join
    green in ``recall_audio_seg``); the pinned frame is (id,
    8-byte fp) rows, PCM never leaves the scan stage."""
    from .functions.multimodal import (
        decode_audio_segment_fp_frame,
        fake_audio_decoder_pcm,
    )

    docs = _recall_docs(spark, sf_dir)
    clips = docs.select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 200), "utf-8").alias("data"),
    )
    fpf = pin(decode_audio_segment_fp_frame(
        clips, id_col="doc_id", decoder=fake_audio_decoder_pcm
    ))
    planted_fp = fpf.filter(F.col("id") % 35 == 0)
    exact = planted_fp.select((F.col("id") + _P_OFF1).alias("id"), "fp")
    miss = (
        planted_fp.groupBy("id")
        .agg(F.min("fp").alias("fp"))
        .select((F.col("id") + _P_OFF2).alias("id"), "fp")
    )
    counts = D.winnow_pair_counts(fpf.unionByName(exact).unionByName(miss))
    orig = F.col("id_a") < _P_OFF1
    n_true = counts.filter(
        orig & (F.col("id_b") == F.col("id_a") + _P_OFF1) & (F.col("n_shared") >= 1)
    ).agg(F.count_distinct("id_a").alias("n_true_found"))
    n_false = counts.filter(
        orig & (F.col("id_b") == F.col("id_a") + _P_OFF2) & (F.col("n_shared") >= 2)
    ).agg(F.count_distinct("id_a").alias("n_false_found"))
    n_pl = clips.filter(F.col("doc_id") % 35 == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_planted")
    )
    return (
        n_pl.crossJoin(n_true)
        .crossJoin(n_false)
        .select(
            F.lit("audio_seg").alias("family"),
            "n_planted",
            "n_true_found",
            "n_false_found",
        )
    )


@query(
    "precision_ann_lsh",
    oracle="""
    WITH an AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
                WHERE vec_id % 50 = 0)
    SELECT 'ann_lsh' AS family, n AS n_queries, n AS n_rank1_self,
           CAST(0 AS BIGINT) AS n_score_mismatch,
           CAST(0 AS BIGINT) AS n_bound_violations FROM an
    """,
)
def q_precision_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN precision proof (dual of ``recall_ann_lsh``, closing the
    dual program for the ANN families): three oracle-pinned arms over
    the LSH top-10 of the planted self-queries (every 50th vector
    querying itself — ``_ann_recall_parts``):

    - ``n_score_mismatch`` = 0 — NO FABRICATED NEIGHBORS OR SCORES:
      every returned (query, neighbor, cosine) must re-derive exactly
      (neighbor id present in the corpus, reported cosine equal to the
      independently recomputed round(cosine, 6)). Counted as (returned
      rows) − (rows surviving the recompute join), so a neighbor id
      NOT in the corpus is caught as a deficit without a left join —
      the verify joins broadcast the tiny top-k/query frames against
      one corpus scan (scale-safe).
    - ``n_rank1_self`` = n_queries — RANK-1 EXACTNESS under planted
      geometry: self sits in the probe's own bucket in every table and
      cosine(self) = 1.0 dominates (no other corpus vector rounds to
      1.0 — verified zero near-ties at every test SF), so rank 1 must
      be the planted self; a bucket-key mismatch between index and
      probe sides, a dropDuplicates bug, or a tie-break inversion
      flips it.
    - ``n_bound_violations`` = 0 — QUALITY BAND vs the exact baseline:
      every returned neighbor's cosine must be within 0.05 of the
      brute-force 10th-best for its query
      (measured max gap on the deterministic corpus: 0.0 / 0.0042 /
      0.0060 at sf0.001/0.01/0.1 — the band holds with ~8× margin,
      the mixing rows' measured-band discipline). The brute-force
      side is the documented broadcast-bounded exact baseline
      (similarity.py ``brute_force_topk``) — the cost is the proof
      surface, as in ``recall_ann_ivf``.

    IVF shares the exact-rescoring and ranking kernel
    (``_rank_topk``-shaped window in ``ivf_probe_topk``), so arms 1-2
    pin it transitively; its own recall row stays ``recall_ann_ivf``."""
    emb, ann_q, _planted = _ann_recall_parts(spark, sf_dir, spread=True)
    lsh = pin(SIM.lsh_topk(
        emb, ann_q, k=10, n_planes=4, n_tables=8, n_probes=2
    ))
    n_q = ann_q.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    n_rank1 = lsh.filter(
        (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
    ).agg(F.count_distinct("query_id").alias("n_rank1_self"))
    rederived = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(lsh), "vec_id")
        .join(
            F.broadcast(
                ann_q.select(
                    "query_id", SIM._as_double(F.col("query_vec")).alias("__qv")
                )
            ),
            "query_id",
        )
        .filter(
            F.abs(
                F.round(
                    SIM.cosine(SIM._as_double(F.col("embedding")), F.col("__qv")), 6
                )
                - F.col("cosine_sim")
            )
            <= F.lit(1e-9)
        )
        .agg(F.count(F.lit(1)).alias("__ok"))
    )
    n_rows = lsh.agg(F.count(F.lit(1)).alias("__n"))
    bf_kth = (
        SIM.brute_force_topk(emb, ann_q, k=10)
        .groupBy("query_id")
        .agg(F.min("cosine_sim").alias("__bf_kth"))
    )
    n_viol = (
        lsh.join(F.broadcast(bf_kth), "query_id")
        .filter(F.col("cosine_sim") < F.col("__bf_kth") - F.lit(0.05))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bound_violations"))
    )
    return (
        n_q.crossJoin(n_rank1)
        .crossJoin(n_rows)
        .crossJoin(rederived)
        .crossJoin(n_viol)
        .select(
            F.lit("ann_lsh").alias("family"),
            "n_queries",
            "n_rank1_self",
            (F.col("__n") - F.col("__ok")).cast("bigint").alias("n_score_mismatch"),
            "n_bound_violations",
        )
    )


# ----------------------------------------------------- audio containment
_ASEG_PAD = bytes([0x5A]) * 32  # hop-aligned flank for embedded plants


def _audio_seg_planted_corpus(docs: DataFrame, off: int):
    """Planted EMBEDDED-copy corpus for the audio segment family
    (modulus 35 — distinct from image 20 / audio-whole 25 / video 30,
    the no-coupling rule): the twin of every 35th doc with a payload of
    >= 64 bytes (one full segment window) is the payload FLANKED by
    32-byte (= hop-aligned) junk pads — byte-embedded, not
    byte-identical, which is precisely what the whole-clip envelope
    family cannot see. Alignment: the twin's segment at offset hop
    equals the original's segment at offset 0, so >= 1 shared segment
    fingerprint is GUARANTEED by construction (more when the payload
    is longer and aperiodic). Returns (corpus, planted, members)."""
    clips = docs.select(
        _plant_guarded_id(off).alias("doc_id"),
        F.encode(F.substring(F.col("text"), 1, 200), "utf-8").alias("data"),
    )
    planted = clips.filter(
        (F.col("doc_id") % 35 == 0) & (F.length("data") >= 64)
    )
    twins = planted.select(
        (F.col("doc_id") + F.lit(off)).alias("doc_id"),
        F.concat(F.lit(_ASEG_PAD), F.col("data"), F.lit(_ASEG_PAD)).alias(
            "data"
        ),
    )
    return clips.unionByName(twins), planted, planted.unionByName(twins)


@query("audio_segment_dups")  # rows-only (segment hashes not SQL-expressible)
def q_audio_segment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-SEGMENT near-duplicate audio pairs — containment dedup
    for audio (the whole-clip ``audio_fingerprint_dups`` reduces a
    clip to one global envelope fingerprint, so a clip embedded in or
    trimmed from a longer file is invisible to it; this family's
    sliding-window segment fingerprints catch exactly that, the video
    family's containment design at audio granularity). Corpus payloads
    plus hop-aligned EMBEDDED twins of every 35th doc
    (``_audio_seg_planted_corpus``, shared with the recall row).
    decode → sliding-window segment fps → fingerprint equi-join
    (``winnow_pair_counts``) → pairs sharing >= 2 distinct segment
    fps. Recall at the admission threshold is driver-proven by the
    oracle-checked ``recall_audio_seg`` row; streaming twin:
    ``streaming.near_dedup.audio_segment_dedup_step``."""
    from .functions.multimodal import audio_segment_pairs, fake_audio_decoder_pcm

    corpus, _planted, _members = _audio_seg_planted_corpus(
        read_docs_spread(spark, sf_dir), 1_000_000
    )
    return audio_segment_pairs(
        corpus, min_shared_segments=2, id_col="doc_id", decoder=fake_audio_decoder_pcm
    )


@query(
    "recall_audio_seg",
    oracle=r"""
    WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
               WHERE doc_id % 35 = 0
                 AND octet_length(encode(substring(text, 1, 200))) >= 64)
    SELECT 'audio_seg' AS family, n AS n_planted, n AS n_found FROM a
    """,
)
def q_recall_audio_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segment-containment recall proof: an EMBEDDED copy
    (hop-aligned junk flanks, doc_id + 1e6) of every 35th doc with a
    >= 64-byte payload is planted. The twin's segment at offset hop
    is byte-identical to the original's segment at offset 0 ⇒ same
    envelope ⇒ same fingerprint ⇒ the fp equi-join MUST surface the
    pair at min_shared = 1 (the threshold the recall proof admits,
    same as ``recall_video_fp``'s min_shared_frames=1 — a SINGLE
    shared segment is already guaranteed by construction; distinct
    counting cannot promise two, e.g. a periodic payload collapses
    all its windows to one fp). Driver-gate proof for the rows-only
    ``audio_segment_dups``."""
    from .functions.multimodal import audio_segment_pairs, fake_audio_decoder_pcm

    docs = _recall_docs(spark, sf_dir)
    corpus, planted, _members = _audio_seg_planted_corpus(docs, _RECALL_OFF)
    pairs = audio_segment_pairs(
        corpus,
        min_shared_segments=1,
        seg_df_cap=None,
        id_col="doc_id",
        decoder=fake_audio_decoder_pcm,
    )
    return _recall_row(
        "audio_seg", _count_planted(planted), _count_found_offset_pairs(pairs)
    )


# ---------------------------------------------------------- mixing rows
# The mixing trio (sample salt-0 / repeat salt-1 / split salt-2) is
# pytest-proven; these rows make repeat_dataset and
# train_val_test_split driver-visible. DuckDB cannot compute Spark's
# xxhash64, so the oracles check the SALT-FREE projections exactly
# (floor-copy counts, exhaustive+disjoint partition) while the
# salt-gated arms ride IN-PLAN raise_error band assertions (measured
# deterministic deviations: epochs extra-copy fraction within 0.027 of
# its target at sf0.001/0.01/0.1, split fractions within 0.006 —
# bands 0.1 / 0.03 hold with wide margin and the values are pure
# functions of the corpus, not random). Exact per-id gate decisions
# stay pytest-pinned (tests/test_curation.py replicates the xxhash64
# arithmetic bit-for-bit).

MIX_EPOCHS = {f"src{i}": (0.25, 1.0, 2.5)[i % 3] for i in range(100)}
_EPOCHS_SQL = ", ".join(f"('{s}', {e})" for s, e in MIX_EPOCHS.items())


def _band_checked(ok: F.Column, label: str) -> F.Column:
    """TRUE, or an in-plan raise_error — the driver-visible arm of a
    non-SQL-expressible invariant (the row fails loud, not silently)."""
    return F.when(
        ~ok,
        F.raise_error(F.lit(f"mixing invariant violated: {label}")).cast(
            "boolean"
        ),
    ).otherwise(F.lit(True))


@query(
    "mixing_repeat_epochs",
    oracle=f"""
    WITH rates(source, e) AS (VALUES {_EPOCHS_SQL}),
    t AS (SELECT CAST(e AS DOUBLE) AS e, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents d JOIN rates USING (source) GROUP BY 1)
    SELECT e AS epochs, n_docs,
           CAST(n_docs * CAST(floor(e) AS BIGINT) AS BIGINT) AS n_floor_rows,
           true AS extra_in_band
    FROM t
    """,
)
def q_mixing_repeat_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch repetition driver-proven per epoch tier: docs
    join a 3-tier epochs spec (0.25 / 1.0 / 2.5 — a sub-epoch tier, an
    identity tier, and a floor+fractional tier, so every arm of
    ``repeat_dataset`` executes). Exact oracle arm: each tier's
    floor-copy row count is exactly n_docs x floor(e) — a broadcast
    bug, dropped stratum, or explode off-by-one breaks the value
    hash. Gated arm: the salt-1 xxhash64 extra-copy count must land
    within 0.1 of fraction(e) x n_docs (in-plan raise_error;
    measured deviation <= 0.027 at every test SF, deterministic —
    DuckDB cannot compute xxhash64, so the bound is the
    driver-checkable projection; exact per-id decisions are
    pytest-pinned)."""
    docs = read_docs_spread(spark, sf_dir).select("doc_id", "source")
    rates = spark.createDataFrame(
        list(MIX_EPOCHS.items()), "source string, e double"
    )
    base = (
        docs.join(F.broadcast(rates), "source")
        .groupBy("e")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    rep = CURATION.repeat_dataset(docs, MIX_EPOCHS).join(
        F.broadcast(rates), "source"
    )
    out = rep.groupBy("e").agg(
        F.sum(
            F.when(F.col("repeat_idx") < F.floor("e"), 1).otherwise(0)
        ).cast("bigint").alias("n_floor_rows"),
        F.sum(
            F.when(F.col("repeat_idx") == F.floor("e"), 1).otherwise(0)
        ).cast("bigint").alias("n_extra"),
    )
    frac = F.col("e") - F.floor("e")
    joined = base.join(out, "e", "left").na.fill(
        {"n_floor_rows": 0, "n_extra": 0}
    )
    ok = (
        (F.col("n_extra") >= 0)
        & (F.col("n_extra") <= F.col("n_docs"))
        & (
            F.abs(F.col("n_extra") / F.col("n_docs") - frac) <= F.lit(0.1)
        )
    )
    return joined.select(
        F.col("e").alias("epochs"),
        "n_docs",
        "n_floor_rows",
        _band_checked(ok, "extra-copy fraction off its epoch fraction").alias(
            "extra_in_band"
        ),
    )


@query(
    "mixing_train_val_test",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs,
           true AS fracs_in_band
    FROM documents
    """,
)
def q_mixing_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split driver-proven: the exact
    oracle arm pins the PARTITION property — every doc labeled exactly
    once (n_total = n_distinct_docs = |documents|; a dropped or
    duplicated row breaks the hash). Gated arm: the three salt-2
    label fractions must land within 0.03 of (0.9, 0.05, 0.05) and
    sum exactly to n_total (in-plan raise_error; measured deviation
    <= 0.006 at every test SF, deterministic). Exact per-id labels
    are pytest-pinned against the xxhash64 arithmetic."""
    docs = read_docs_spread(spark, sf_dir).select("doc_id")
    lab = CURATION.train_val_test_split(docs, (0.9, 0.05, 0.05))
    agg = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.count_distinct("doc_id").alias("n_distinct_docs"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("n_va"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_te"),
    )
    n = F.col("n_total").cast("double")
    ok = (
        (F.col("n_tr") + F.col("n_va") + F.col("n_te") == F.col("n_total"))
        & (F.abs(F.col("n_tr") / n - 0.90) <= 0.03)
        & (F.abs(F.col("n_va") / n - 0.05) <= 0.03)
        & (F.abs(F.col("n_te") / n - 0.05) <= 0.03)
    )
    return agg.select(
        "n_total",
        "n_distinct_docs",
        _band_checked(ok, "split fractions off (0.9, 0.05, 0.05)").alias(
            "fracs_in_band"
        ),
    )


# --------------------------------------------------------------------
# DSIR importance weights. The oracle is also parity-pinned by
# tests/test_selection.py::test_dsir_weights_oracle_parity.
DSIR_WEIGHTS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id, unnest(tk) AS g FROM t
    UNION ALL
    SELECT doc_id,
           unnest([array_to_string(tk[i:i+1], ' ')
                   FOR i IN range(1, greatest(len(tk), 1))]) AS g
    FROM t
  ) WHERE g <> '' GROUP BY 1, 2
), rm AS (
  SELECT g, sum(cnt) AS c FROM grams GROUP BY g
), rs AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS space
  FROM rm
), tm AS (
  SELECT g, sum(cnt) AS c FROM grams WHERE doc_id % 13 = 0 GROUP BY g
), ts AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS space
  FROM tm
)
SELECT d.doc_id,
       CAST(sum(d.cnt) AS BIGINT) AS n_grams,
       round(sum(d.cnt * (
         ln((coalesce(tm.c, 0) + 1e-4) / (ts.total + 1e-4 * ts.space))
         - ln((rm.c + 1e-4) / (rs.total + 1e-4 * rs.space))
       )), 6) AS log_weight
FROM grams d
LEFT JOIN tm ON d.g = tm.g
JOIN rm ON d.g = rm.g
CROSS JOIN ts CROSS JOIN rs
GROUP BY d.doc_id
"""


@query("dsir_weights", oracle=DSIR_WEIGHTS_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (functions/selection.py, Xie et al.
    2023) over the exact feature space: every document scored by the
    smoothed unigram+bigram log-likelihood ratio between a quality
    seed (every 13th doc — the target stand-in) and the raw corpus.
    The exact space (``num_buckets=None``) is the oracle-expressible
    projection — the hashed 10k-bucket form is the 100 TB twin, count-
    equivalence pytest-pinned on collision-free vocab; the raw-model
    join needs no floor (a corpus gram is always in the corpus's own
    model — mirrored by the oracle's inner join). Weights rounded to
    6dp for cross-engine hashing (sums of ~100 ln terms differ in the
    last ulps only — the bm25_topk rule)."""
    from .functions import selection as SELECTION

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    # pin the corpus feature frame once — it feeds the raw model, the
    # TARGET model (the seed is a subset of the corpus, so its feature
    # rows are already here — no second tokenize pass), and the
    # scoring join (dsir_select's own discipline)
    feats = pin(SELECTION._gram_features(
        docs, None, (1, 2), "doc_id", "text"
    ))
    # pin BOTH model frames too: each model feeds TWO broadcast
    # subqueries downstream (the scoring join + its _floor_guarded
    # scalar), and Spark does not reuse subtrees across broadcast
    # exchanges — unpinned, the vocab-keyed model aggregation over the
    # pinned gram frame ran up to 4x concurrently per action (profiled:
    # 6 heavy 32-task broadcast-build jobs, ~19 s of task time on the
    # calibration row). Models are vocab-sized — the streaming twin
    # (streaming/selection.py) pins them too. The two models are
    # independent aggregations of the SAME pinned feature frame, so
    # they are pinned together (concurrent jobs, not back-to-back).
    tgt_model, raw_model = pin(
        SELECTION._model_from_features(
            feats.filter(F.col("id") % 13 == 0), None, SELECTION.DEFAULT_SMOOTH
        ),
        SELECTION._model_from_features(feats, None, SELECTION.DEFAULT_SMOOTH),
    )
    w = SELECTION.importance_log_weights(
        docs,
        tgt_model,
        raw_model,
        num_buckets=None,
        _feats=feats,
    )
    return w.select(
        "doc_id", "n_grams", F.round("log_weight", 6).alias("log_weight")
    )


# --------------------------------------------------------------------
# Hybrid lexical+semantic retrieval via reciprocal-rank fusion.
HYBRID_RRF_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, {_RAW_TOKS_SQL} AS toks FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM t
), post AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
    SELECT doc_id, unnest(toks) AS term, len(toks) AS dl FROM t
  ) GROUP BY doc_id, term
), qids AS (
  -- the QUERY SET is documents(doc_id mod 50 = 0, id < 2500) INNER
  -- JOIN embeddings — a query doc must have BOTH terms and a vector,
  -- exactly like the Spark side's join (a one-sided definition would
  -- silently diverge on a corpus where the id spaces differ; caught
  -- in self-review). The id < 2500 cap BOUNDS the query set at 50
  -- regardless of corpus scale: the exact-cosine arm is the
  -- brute-force baseline, and its cost must stay corpus x CONSTANT,
  -- never corpus x corpus-proportional-queries (the
  -- precision_ann_lsh bounded-query-set pattern)
  SELECT doc_id AS query_id FROM documents
  WHERE doc_id % 50 = 0 AND doc_id < 2500
  INTERSECT
  SELECT vec_id FROM embeddings
), q AS (
  SELECT doc_id AS query_id, unnest(list_distinct(toks[1:5])) AS term
  FROM t WHERE doc_id IN (SELECT query_id FROM qids)
), dfreq AS (
  SELECT term, count(*) AS df_t FROM post
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
), scored AS (
  SELECT q.query_id, p.doc_id,
         sum(ln(1 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
             * (p.tf * 2.2)
             / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))) AS score
  FROM q JOIN post p USING (term) JOIN dfreq d USING (term)
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
), lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, doc_id) AS rank
  FROM scored
), qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (SELECT query_id FROM qids)
), cv AS (
  SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings
), sem0 AS (
  SELECT query_id, vec_id AS doc_id,
         round(list_dot_product(cvec, qv)
               / (sqrt(list_dot_product(cvec, cvec))
                  * sqrt(list_dot_product(qv, qv))), 6) AS sim
  FROM cv, qv
), sem AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id) AS rank
  FROM sem0
), u AS (
  SELECT query_id, doc_id, rank FROM lex WHERE rank <= 5
  UNION ALL
  SELECT query_id, doc_id, rank FROM sem WHERE rank <= 5
), f AS (
  SELECT query_id, doc_id,
         round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
         CAST(count(*) AS BIGINT) AS n_systems
  FROM u GROUP BY query_id, doc_id
), fr AS (
  SELECT query_id, doc_id, rrf_score, n_systems,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id) AS rank
  FROM f
)
SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, rrf_score, n_systems
FROM fr WHERE rank <= 5
"""


@query("hybrid_rrf_topk", oracle=HYBRID_RRF_ORACLE)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (functions/retrieval.py::hybrid_topk): BM25
    top-5 over every 50th document's first 5 distinct tokens FUSED
    with exact-cosine top-5 over the same document's embedding
    (vec_id ≡ doc_id in the testdata) by reciprocal-rank fusion
    (Cormack et al. 2009, k_rrf=60) — the standard uncalibrated
    lexical+semantic combiner a retrieval-based decontamination or
    curation pass runs at 100 TB. Only ranks cross the system
    boundary; both input rank lists are the already-oracle-green
    bm25_topk / embedding_topk rankings (round-to-6dp before
    row_number, id tie-break), the fused score is a ≤2-term sum of
    exact reciprocals rounded to 6dp before the final rank. The
    fusion itself touches |queries|x5x2 rows — post-retrieval volume,
    corpus-size-independent. The exact-cosine arm is the
    oracle-expressible projection, and the query set is EXPLICITLY
    BOUNDED (doc_id % 50 == 0 AND doc_id < 2500 — at most 50 queries
    at ANY corpus scale, the precision_ann_lsh pattern) so the
    brute-force arm costs corpus x constant, never corpus x
    corpus-proportional queries (the unbounded form measured 25x at
    10x corpus x 10x queries); the at-scale twin fuses lsh_topk under
    the bucket-count rule instead, measured FLAT per-query at 10x/10x
    (BASELINE.md)."""
    from willa_spark.functions import retrieval as R

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    # SPREAD the vector corpus: the exact-cosine arm is
    # |corpus|×|queries| interpreted cosine folds, CPU-heavy per byte,
    # and the byte-sized scan split serialized it (profiled at the
    # derived sf1: a 58 s scoring job on the scan's 2 partitions while
    # every other stage ran 32-way). Cosines are row-local and the
    # ranking rounds before the tie-broken row_number —
    # partitioning-invariant values.
    emb = read_emb_spread(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    queries = (
        docs.filter((F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 2500))
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_distinct(F.slice(toks, 1, 5)).alias("terms"),
        )
        .join(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            "query_id",
        )
    )
    out = R.hybrid_topk(docs, emb, queries, k=5)
    return out.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "rrf_score",
        "n_systems",
    )


# --------------------------------------------------------------------
# The sketch profile's band proof. Exact columns hash-checked
# cross-engine; the sketch columns are verified IN-PLAN against the
# exact aggregates and exported as band booleans the oracle asserts TRUE
# (the mixing fracs_in_band pattern — an approx value itself can never
# hash-match a different engine's sketch).
SKETCH_PROFILE_ORACLE = rf"""
WITH t AS (
  SELECT lang, {_RAW_TOKS_SQL} AS toks FROM documents
), d AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS total_tokens
  FROM t GROUP BY lang
), v AS (
  SELECT lang, CAST(count(DISTINCT term) AS BIGINT) AS vocab_exact
  FROM (SELECT lang, unnest(toks) AS term FROM t) GROUP BY lang
)
SELECT d.lang AS lang, d.n_docs, d.total_tokens, v.vocab_exact,
       TRUE AS vocab_in_band, TRUE AS p50_in_band, TRUE AS p95_in_band
FROM d JOIN v USING (lang)
"""


@query("sketch_profile_bands", oracle=SKETCH_PROFILE_ORACLE)
def q_sketch_profile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile from ONE mergeable-sketch aggregate
    pass (functions/sketches.py): exact doc/token counts ride the same
    partial agg as the HLL++ vocabulary estimate and the
    percentile_approx p50/p95 token lengths — at 100 TB the reduce
    phase moves kilobyte sketch states, never data rows, where the
    exact-distinct twin is a corpus-wide shuffle. The exact columns
    (n_docs, total_tokens, vocab_exact) hash-check the tokenize +
    count arithmetic against DuckDB; the sketches are bounded IN-PLAN:
    vocab within ±10% of exact (5 sigma at rsd=0.02 — HLL++ is
    deterministic given the data, measured exact on this corpus),
    p50/p95 inside the exact p45–p55 / p90–p99 value brackets (rank
    error 1/accuracy = 1% ≪ the ±5%/±4% rank margins)."""
    from willa_spark.functions import sketches as SK
    from willa_spark.functions.text import tokens as _tokens

    docs = read_docs_spread(spark, sf_dir).select("lang", "text")
    prof = SK.sketch_profile(docs, group_col="lang")
    dl = docs.select(
        F.col("lang").alias("group"), F.size(_tokens(F.col("text"))).alias("__dl")
    )
    exact = (
        docs.select(
            F.col("lang").alias("group"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("group")
        .agg(F.count_distinct("term").cast("long").alias("vocab_exact"))
        .join(
            dl.groupBy("group").agg(
                F.expr(
                    "percentile(__dl, array(0.45, 0.55, 0.90, 0.99))"
                ).alias("__pp")
            ),
            "group",
        )
    )
    j = prof.join(exact, "group")
    return j.select(
        F.col("group").alias("lang"),
        "n_docs",
        "total_tokens",
        "vocab_exact",
        (
            F.abs(F.col("vocab_approx") - F.col("vocab_exact"))
            <= 0.10 * F.col("vocab_exact")
        ).alias("vocab_in_band"),
        F.col("p50_tokens")
        .between(F.col("__pp")[0], F.col("__pp")[1])
        .alias("p50_in_band"),
        F.col("p95_tokens")
        .between(F.col("__pp")[2], F.col("__pp")[3])
        .alias("p95_in_band"),
    )


# --------------------------------------------------------------------
# Token-window document chunking, the retrieval-indexing / packing
# primitive.
CHUNK_DOCS_ORACLE = r"""
WITH t AS (
  -- mirrors the Spark side's blank-document rule: NULL/blank text is
  -- the EMPTY token array (one chunk, chunk_tokens = 0), not the
  -- split-of-'' phantom ['']
  SELECT doc_id,
         CASE WHEN trim(coalesce(text, '')) = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST(greatest(ceil((len(toks) - 32) / 24.0), 0) AS INT) AS n_extra
  FROM t
), e AS (
  SELECT doc_id, toks, n, unnest(generate_series(0, n_extra)) AS chunk_id
  FROM c
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(least(32, n - chunk_id * 24) AS INT) AS chunk_tokens,
       array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
         AS chunk_text
FROM e
"""


@query("chunk_documents", oracle=CHUNK_DOCS_ORACLE)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (functions/text.py::chunk_documents):
    every document split into 32-token chunks at stride 24 (8-token
    overlap), the last chunk always reaching the document end (ceiling
    division — the floor-division-tail lesson). Map-only pure-Column
    plan: one sequence+transform explode, output ≈ corpus × 1.33. The
    primitive under retrieval indexing (chunks are the BM25/ANN units
    for long docs) and fixed-window packing."""
    from willa_spark.functions.text import chunk_documents

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    return chunk_documents(docs, chunk_size=32, overlap=8)


# --------------------------------------------------------------------
# CCNet-style perplexity-proxy quality banding — the selection family's
# single-model signal (DSIR covers the likelihood RATIO; this is the
# single-model absolute signal). Fully SQL-expressible (the DSIR
# oracle's gram arithmetic with one model), so the row is hash-grade end
# to end.
PERPLEXITY_BANDS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id, unnest(tk) AS g FROM t
    UNION ALL
    SELECT doc_id,
           unnest([array_to_string(tk[i:i+1], ' ')
                   FOR i IN range(1, greatest(len(tk), 1))]) AS g
    FROM t
  ) WHERE g <> '' GROUP BY 1, 2
), tm AS (
  SELECT g, sum(cnt) AS c FROM grams WHERE doc_id % 13 = 0 GROUP BY g
), ts AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS space
  FROM tm
), scored AS (
  SELECT d.doc_id,
         CAST(sum(d.cnt) AS BIGINT) AS n_grams,
         round(sum(d.cnt * -ln(
           (coalesce(tm.c, 0) + 1e-4) / (ts.total + 1e-4 * ts.space)
         )) / sum(d.cnt), 6) AS cross_entropy
  FROM grams d
  LEFT JOIN tm ON d.g = tm.g
  CROSS JOIN ts
  GROUP BY d.doc_id
)
SELECT doc_id, n_grams, cross_entropy,
       CASE WHEN cross_entropy < 5.8 THEN 'head'
            WHEN cross_entropy < 6.4 THEN 'middle'
            ELSE 'tail' END AS quality_bucket
FROM scored
"""


@query("perplexity_bands", oracle=PERPLEXITY_BANDS_ORACLE)
def q_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet quality banding (functions/selection.py::
    cross_entropy_score + with_quality_bucket, Wenzek et al. 2020
    §3.3): every document's mean NLL (nats/gram — exp(ce) IS a
    perplexity) under the quality-seed model (every 13th doc, the
    DSIR stand-in), banded head/middle/tail at FIXED bounds 5.8/6.4
    (calibration-corpus constants — picked from the measured tercile
    range so all three bands populate at sf0.01 AND sf0.1; rank-based
    banding inside the operator would shuffle globally and diverge
    across engines). The exact feature space is the oracle projection
    (the dsir_weights rule); banding runs on the 6dp-ROUNDED score so
    a cross-engine last-ulp difference can never flip a bucket at the
    boundary. One explode + one per-doc partial agg, model broadcast
    — gram-less docs have no row (the family contract, oracle's
    g <> '' mirror)."""
    from .functions import selection as SELECTION

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    # pinned: the model feeds TWO broadcast subqueries in
    # cross_entropy_score (the scoring join + the floor scalar), and
    # broadcast exchanges never share subtrees — unpinned, the seed
    # tokenize+explode+model agg ran twice per action (the
    # q_dsir_weights model-pin rationale; vocab-sized frame)
    model = pin(SELECTION.feature_log_probs(
        docs.filter(F.col("doc_id") % 13 == 0), num_buckets=None
    ))
    scored = SELECTION.cross_entropy_score(docs, model, num_buckets=None)
    rounded = scored.select(
        "doc_id",
        "n_grams",
        F.round("cross_entropy", 6).alias("cross_entropy"),
    )
    return SELECTION.with_quality_bucket(rounded, 5.8, 6.4)


# --------------------------------------------------------------------
# The PQ / IVF-PQ ANN families' driver rows — the band-proof form (the
# sketch_profile_bands pattern: an approximate index's output can never
# hash-match another engine, so the row carries EXACT columns the oracle
# reproduces plus in-plan-verified invariant booleans the oracle asserts
# TRUE; a violated band raise_errors, never silently hash-mismatches).
# Thresholds are measured floors with margin (tools: per-query recall ≥
# 0.6 and means 0.75–0.98 across all three SFs at refine=200) — the
# exact integer differential lives in tests/test_pq.py.
PQ_RECALL_ORACLE = r"""
SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
       TRUE AS self_top1, TRUE AS recall_ok, TRUE AS mean_recall_ok
FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000
"""

IVFPQ_RECALL_ORACLE = r"""
SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
       TRUE AS self_top1, TRUE AS recall_ok, TRUE AS mean_recall_ok
FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000
"""


def _ann_band_inputs(spark: SparkSession, sf_dir: str):
    """THE corpus projection + bounded query set the band rows and
    their exact arm both derive from — one definition."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb, q


def _ann_recall_bands(
    spark: SparkSession,
    sf_dir: str,
    approx_fn,
    label: str,
    k: int = 10,
    min_recall: float = 0.5,
    min_mean: float = 0.7,
) -> DataFrame:
    """Shared band-proof tail for the PQ/IVF-PQ rows: per bounded
    query (vec_id % 100 == 0, id < 2000 — ≤20 at ANY scale, the
    precision_ann_lsh rule), emit exact n_results, rank-1-is-self,
    per-query recall@10 ≥ ``min_recall`` vs in-plan brute force, and
    the corpus-mean recall ≥ ``min_mean`` riding every row."""
    from .functions.dedup import _spread
    from .functions.similarity import brute_force_topk

    emb, q = _ann_band_inputs(spark, sf_dir)
    # pinned: the approx frame feeds the top-1 check AND the recall
    # join (multi-consumer rule). The exact arm is the bounded-query
    # brute-force baseline; brute force is pure per-row scoring
    # (round-then-rank), so the corpus side is spread to parallelize
    # the |corpus|×|queries| cosine pass. The two arms are independent
    # and pinned together.
    approx, exact = pin(
        approx_fn(emb, q, k).select(
            F.col("query_id").alias("qid"), "vec_id", "rank"
        ),
        brute_force_topk(_spread(emb, "vec_id"), q, k=k).select(
            F.col("query_id").alias("qid"),
            F.col("vec_id").alias("__xid"),
            F.lit(1).alias("__hit"),
        ),
    )
    j = approx.join(
        F.broadcast(exact),
        (approx["qid"] == exact["qid"]) & (approx["vec_id"] == exact["__xid"]),
        "left",
    ).select(approx["qid"], approx["vec_id"], approx["rank"], "__hit")
    per = j.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_results"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__n_hits"),
        F.max(F.when(F.col("rank") == 1, F.col("vec_id"))).alias("__top1"),
    )
    # the recall denominator is the SAME k the shortlists used — a
    # hardcoded 10 here would silently un-normalize the band if a
    # later change tunes k
    mean = per.agg(
        F.avg(F.col("__n_hits") / F.lit(float(k))).alias("__mean_recall")
    )
    return per.crossJoin(F.broadcast(mean)).select(
        F.col("qid").alias("query_id"),
        "n_results",
        _band_checked(
            F.col("__top1") == F.col("qid"), f"{label}: refined top-1 not self"
        ).alias("self_top1"),
        _band_checked(
            F.col("__n_hits") / F.lit(float(k)) >= F.lit(min_recall),
            f"{label}: per-query recall@{k} under {min_recall}",
        ).alias("recall_ok"),
        _band_checked(
            F.col("__mean_recall") >= F.lit(min_mean),
            f"{label}: mean recall@10 under {min_mean}",
        ).alias("mean_recall_ok"),
    )


@query("pq_recall_bands", oracle=PQ_RECALL_ORACLE)
def q_pq_recall_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat PQ two-stage serving proof (functions/pq.py, Jégou 2011):
    deterministic train (m=8, k=16, lowest-id init, ONE Lloyd round;
    m=4 was measured and rejected, recall floor 0.3) + encode + ADC
    top-10 with refine=300 exact rescoring, verified in-plan against
    the bounded-query brute-force baseline — rank-1 self, per-query
    recall@10 ≥ 0.5, mean ≥ 0.7 (measured floors 0.6 / 0.84 at sf0.1
    with margin). PRICE: an earlier ~15 s was job-dispatch +
    Column-tree construction, not data — fusing the m per-subspace
    Lloyd jobs into one corpus pass per round and collapsing the
    codebook literals to one transform-over-nested-literal brought it
    to ~5 s steady-state at sf0.1 (BASELINE.md), in line with the
    other heavy proof rows (recall_minhash 4.4 s); the bounded query
    set is the flat-ADC serving contract's own precondition (pq_topk
    docstring)."""
    from .functions import pq as PQ

    def approx(emb, q, k):
        # train on the raw scan; encode/ADC/refine are frozen-codebook
        # per-row scoring — spread (see q_ivfpq_recall_bands's note)
        emb_s = read_emb_spread(spark, sf_dir)
        books = PQ.pq_train(emb, m=8, k=16, n_iters=1)
        return PQ.pq_topk(
            PQ.pq_encode(emb_s, books), q, books, k=k, refine=300, corpus=emb_s
        )

    return _ann_recall_bands(spark, sf_dir, approx, "pq_recall_bands")


@query("ivfpq_recall_bands", oracle=IVFPQ_RECALL_ORACLE)
def q_ivfpq_recall_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed-index serving proof (functions/pq.py::ivfpq_*,
    the FAISS IVFPQ shape): residual codebooks over 8 cosine-IVF
    cells (2 Lloyd rounds), n_probe=6 probes, ONE residual-codebook
    round, refine=300 exact rescoring — same in-plan verification
    arms as q_pq_recall_bands (measured floors 0.6 / 0.78 at sf0.1
    with margin). Probe volume is the probed cells' codes, never the
    corpus (the bulk-serving path's own plan). PRICE: ~10 s
    steady-state at sf0.1 after the training fusion + tree shrink
    (down from 17.2 s; BASELINE.md) — the remaining cost is two
    quantizer trainings + encode + the brute-force proof arm. SCALE
    HONESTY: cells is FIXED at 8 here for cross-SF determinism, and the
    BASELINE.md 10× row measured 2.4× at that fixed shape — the cost
    of NOT scaling the quantizer, kept as a contract-by-
    counterexample; production sizes cells ~∛N–√N with corpus growth
    (similarity.train_centroids rule), where the same 10× step
    measured 3.7× total work but FLAT per-probed-candidate cost.
    Never read the fixed-cells shape as the recommended one."""
    from .functions import pq as PQ
    from .functions.similarity import train_centroids

    def approx(emb, q, k):
        # TRAINING on the raw scan (read_emb_spread's training caveat:
        # Lloyd means are float-order-sensitive and the per-round
        # exchange measured slower); ENCODE/ADC/refine are pure
        # per-row scoring against FROZEN centroids+codebooks —
        # partitioning-invariant values — so those passes run over the
        # spread corpus and parallelize instead of executing on the
        # scan's single split inside the bands checkpoint.
        emb_s = read_emb_spread(spark, sf_dir)
        cents = train_centroids(emb, n_centroids=8, n_iters=2)
        books = PQ.ivfpq_train(emb, cents, m=8, k=16, n_iters=1)
        idx = PQ.ivfpq_encode(emb_s, cents, books)
        return PQ.ivfpq_topk(
            idx, q, cents, books, k=k, n_probe=6, refine=300, corpus=emb_s
        )

    return _ann_recall_bands(spark, sf_dir, approx, "ivfpq_recall_bands")


# --------------------------------------------------------------------
# The count-min sketch and epoch-shuffle families' driver rows —
# band-proof form (exact columns the oracle reproduces +
# in-plan-verified invariants; thresholds are measured values with
# margin, see each docstring).
CMS_HEAVY_HITTERS_ORACLE = rf"""
WITH t AS (
  SELECT unnest({_TOKS_SQL}) AS term FROM documents
), c AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_count FROM t GROUP BY term
)
SELECT term, exact_count, TRUE AS cms_ge_exact, TRUE AS cms_within_bound
FROM c ORDER BY exact_count DESC, term LIMIT 20
"""


@query("cms_heavy_hitters", oracle=CMS_HEAVY_HITTERS_ORACLE)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters (functions/sketches.py::token_cms /
    cms_estimate, Cormode-Muthukrishnan 2005): the corpus's top-20
    terms by EXACT count (the oracle-reproducible column, tie-break
    term asc), each probed against the depth×width=4×1024 counter
    sketch — est ≥ exact (the structural one-sided guarantee; a
    violation means the estimator broke) and est ≤ exact + N/width
    (the Markov-bound arm; measured excess 0 at all three SFs for
    heavy hitters — min-over-depth kills their collisions — so the
    band carries ~26–264 counts of margin). Exact counts cost one
    term agg over the SAME exploded pass shape the sketch builds
    from; the sketch side is depth×width rows through the shuffle
    regardless of vocabulary.

    TRIAGE NOTE: the Markov-bound arm here and
    epoch_shuffle_bands' epochs_decorrelated band are the ONLY
    PROBABILISTIC arms in the whole band-proof set (every other band
    is a structural invariant). A future corpus/SF failing one of
    these two with legitimate-but-unlucky hash statistics means BAND
    RECALIBRATION, not a kernel bug — re-measure the margin before
    touching the operator."""
    from .functions import sketches as SK
    from .functions.text import tokens as TOKENS

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    exact = pin(  # feeds total, top-k, and probe
        docs.select(F.explode(TOKENS(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    )
    n_total = exact.agg(F.sum("exact_count").alias("__n"))
    top = exact.orderBy(F.col("exact_count").desc(), F.col("term")).limit(20)
    est = SK.cms_estimate(SK.token_cms(docs), top.select("term"))
    return (
        top.join(est, "term")
        .crossJoin(F.broadcast(n_total))
        .select(
            "term",
            "exact_count",
            _band_checked(
                F.col("est_count") >= F.col("exact_count"),
                "cms est < exact: the one-sided guarantee broke",
            ).alias("cms_ge_exact"),
            _band_checked(
                F.col("est_count")
                <= F.col("exact_count") + F.col("__n") / F.lit(float(SK.CMS_WIDTH)),
                "cms excess above N/width",
            ).alias("cms_within_bound"),
        )
    )


EPOCH_SHUFFLE_ORACLE = r"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       TRUE AS positions_distinct, TRUE AS shards_balanced,
       TRUE AS epochs_decorrelated, TRUE AS no_fixed_positions
FROM documents
"""


@query("epoch_shuffle_bands", oracle=EPOCH_SHUFFLE_ORACLE)
def q_epoch_shuffle_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle proof (functions/curation.py::
    epoch_shuffle): epochs 1 and 2 over the corpus at 32 shards, one
    summary row — exact doc count (the oracle column) plus four
    in-plan bands: positions are pairwise distinct within an epoch
    (the bijection the shard-major read order relies on), max shard
    size ≤ 2× mean (measured 1.16–1.54×), the same-shard fraction
    across epochs sits in [1/64, 3/64] around the independent-draw
    1/32 (measured 0.026–0.036), and NO document keeps its exact
    position across epochs (measured 0 — the affine-salt correlation
    trap this operator exists to avoid would score ~100% here).
    Everything is one hash projection + small aggs; nothing scales
    past the corpus scan.

    TRIAGE NOTE: epochs_decorrelated ([1/64, 3/64]
    around the independent-draw 1/32; measured 0.026–0.036) is one of
    the TWO probabilistic arms in the band-proof set (the other:
    cms_heavy_hitters' Markov bound) — a future legitimate-but-
    unlucky failure is a band recalibration, not a kernel bug. The
    other three bands here are structural (bijection, 2× balance,
    zero fixed points) and a violation IS a bug."""
    from .functions.curation import epoch_shuffle

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    e1 = epoch_shuffle(docs, 1, 32).select(
        "doc_id", F.col("epoch_shard").alias("s1"), F.col("epoch_pos").alias("p1")
    )
    e2 = epoch_shuffle(docs, 2, 32).select(
        "doc_id", F.col("epoch_shard").alias("s2"), F.col("epoch_pos").alias("p2")
    )
    j = e1.join(e2, "doc_id")
    stats = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        # BOTH epochs' bijections — a salt regression hitting only
        # epoch 2 (e.g. the epoch literal dropped from one call) must
        # not hide behind an epoch-1-only check
        F.count_distinct(F.col("p1")).alias("__np1"),
        F.count_distinct(F.col("p2")).alias("__np2"),
        F.sum(F.when(F.col("s1") == F.col("s2"), 1).otherwise(0)).alias("__same_s"),
        F.sum(F.when(F.col("p1") == F.col("p2"), 1).otherwise(0)).alias("__same_p"),
    )
    mx = (
        e1.groupBy("s1")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.max("__c").alias("__max_shard"))
    )
    return stats.crossJoin(F.broadcast(mx)).select(
        "n_docs",
        _band_checked(
            (F.col("__np1") == F.col("n_docs"))
            & (F.col("__np2") == F.col("n_docs")),
            "epoch positions collide (bijection broken)",
        ).alias("positions_distinct"),
        _band_checked(
            F.col("__max_shard") <= 2.0 * F.col("n_docs") / F.lit(32.0),
            "shard imbalance above 2x mean",
        ).alias("shards_balanced"),
        _band_checked(
            (F.col("__same_s") / F.col("n_docs")).between(1 / 64, 3 / 64),
            "cross-epoch shard agreement outside the independence band",
        ).alias("epochs_decorrelated"),
        _band_checked(
            F.col("__same_p") == 0, "a document kept its position across epochs"
        ).alias("no_fixed_positions"),
    )


# --------------------------------------------------------------------
# Unicode text normalization — the pre-dedup cleanup every real pipeline
# runs (decomposed vs composed spellings of one glyph otherwise hash to
# different exact-dup fingerprints and different shingles). The corpus
# is ASCII, so every 50th document gets a PLANTED copy with a decomposed
# accent + a control byte + doubled spaces — both engines build the same
# bytes, so the normalized text itself is hash-grade.
NORMALIZE_DOCS_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         'Cafe' || chr(769) || '  ' || chr(7) || 'fin ' || text AS text
  FROM documents WHERE doc_id % 50 = 0
), n AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           nfc_normalize(regexp_replace(
             text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')),
           '\s+', ' ', 'g')) AS text_norm
  FROM corpus
)
SELECT doc_id, text_norm,
       CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
       text_norm <> text AS changed
FROM n
"""


@query("normalize_docs", oracle=NORMALIZE_DOCS_ORACLE)
def q_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization (functions/text.py::normalize_text):
    strip C0 controls (keeping \\t \\n \\r for the collapse step) →
    NFC (the Arrow-batched step Spark has no built-in for) → collapse
    whitespace runs → trim, in the ONE order both engines reproduce.
    Planted copies of every 50th doc carry 'e'+U+0301 (composes to é
    under NFC), a BEL byte, and doubled spaces — the full normalized
    TEXT hashes cross-engine (Python unicodedata and DuckDB utf8proc
    agree on NFC), the strongest proof form available for a string
    transform. The control class is ASCII-only BY DESIGN so Java
    regex and RE2 see identical semantics (CONTROL_CHARS_RE note).
    Plan: map-only; the only non-JVM stage is the one Arrow hop."""
    from .functions.text import normalize_text

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        # DECOMPOSED accent ('e' + combining U+0301, the oracle's
        # chr(769)) — NFC must COMPOSE it; a composed literal here
        # would make the Arrow step a no-op and prove nothing
        F.concat(
            F.lit("Cafe\u0301  \x07fin "), F.col("text")
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    n = corpus.select(
        "doc_id", "text", normalize_text(F.col("text")).alias("text_norm")
    )
    return n.select(
        "doc_id",
        "text_norm",
        F.length("text_norm").cast("bigint").alias("n_chars_norm"),
        (F.col("text_norm") != F.col("text")).alias("changed"),
    )


# --------------------------------------------------------------------
# The BPE family's driver row — band-proof form over the trained
# tokenizer (merge arithmetic itself is not SQL-expressible; the exact
# overlap-count / non-overlap-merge differential lives in
# tests/test_bpe.py).
BPE_CONSISTENCY_ORACLE = rf"""
WITH w AS (
  SELECT DISTINCT unnest({_TOKS_SQL}) AS word FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
       TRUE AS reconstruct_ok, TRUE AS pieces_ge_one,
       TRUE AS pieces_le_chars_plus_eow
FROM w WHERE word <> ''
"""


@query("bpe_consistency_bands", oracle=BPE_CONSISTENCY_ORACLE)
def q_bpe_consistency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-fitting proof (functions/bpe.py, Sennrich 2016):
    train 16 merges on the corpus, segment the full distinct-word
    vocabulary, and verify IN-PLAN, per word, the three invariants
    any correct merge fold preserves — concatenating the pieces
    reconstructs word+EOW exactly (merges only ever JOIN adjacent
    symbols, so the character stream is invariant), at least one
    piece, and at most chars+1 pieces (the un-merged ceiling). One
    summary row: the exact distinct-word count (the oracle column)
    plus the three bands folded over the whole vocabulary — a single
    violated word raise_errors with the word in the message. Training
    touches the corpus once (word count); every other stage works the
    |vocab| table."""
    from .functions import bpe as B

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    merges = B.bpe_train(docs, n_merges=16)
    words = (
        docs.select(F.explode(B.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    seg = B.segment_words(words, merges)
    per = seg.select(
        "word",
        (F.array_join("pieces", "") == F.concat(F.col("word"), F.lit(B.EOW))).alias(
            "__rec"
        ),
        (F.size("pieces") >= 1).alias("__ge1"),
        (F.size("pieces") <= F.length("word") + 1).alias("__le"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        F.min("__rec").alias("__all_rec"),
        F.min("__ge1").alias("__all_ge1"),
        F.min("__le").alias("__all_le"),
    )
    return agg.select(
        "n_distinct_words",
        _band_checked(
            F.col("__all_rec"), "bpe pieces do not reconstruct word+EOW"
        ).alias("reconstruct_ok"),
        _band_checked(F.col("__all_ge1"), "bpe word with zero pieces").alias(
            "pieces_ge_one"
        ),
        _band_checked(
            F.col("__all_le"), "bpe word with more pieces than chars+EOW"
        ).alias("pieces_le_chars_plus_eow"),
    )


# --------------------------------------------------------------------
# Embedding-space domain relevance — the semantic counterpart of DSIR's
# lexical target model (score every document's cosine to a target
# source's mean embedding; the mixture-weighting /
# target-domain-selection signal). Fully SQL-expressible, hash-grade end
# to end.
DOMAIN_RELEVANCE_ORACLE = r"""
WITH ed AS (
  SELECT d.doc_id, d.source, e.embedding::DOUBLE[] AS v
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), per_dim AS (
  SELECT pos, avg(x) AS m FROM (
    SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos
    FROM ed WHERE source = 'src0'
  ) GROUP BY pos
), c AS (
  SELECT list(m ORDER BY pos) AS cv FROM per_dim
)
SELECT doc_id, source,
       round(list_dot_product(v, cv)
             / (sqrt(list_dot_product(v, v))
                * sqrt(list_dot_product(cv, cv))), 6) AS domain_rel
FROM ed CROSS JOIN c
"""


@query("domain_relevance", oracle=DOMAIN_RELEVANCE_ORACLE)
def q_domain_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space domain relevance (functions/selection.py::
    domain_relevance): every embedded document's cosine to the 'src0'
    source centroid (the element-wise mean, built distributed — one
    posexplode + a dim-row agg, no vector on the driver), rounded 6dp
    before the cross-engine hash. The semantic twin of dsir_weights'
    lexical signal: compose the two for combined selection. Plan:
    one small agg + one broadcast of the 1-row centroid against a
    map-only scan — nothing scales past the corpus scan."""
    from .functions.selection import domain_relevance

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return domain_relevance(docs.join(emb, "doc_id"), "src0")


# --------------------------------------------------------------------
# SEMANTIC decontamination — the third screen in the family (exact
# 8-gram, fuzzy overlap-fraction, and embedding-cosine), catching
# translations/heavy-rewrites that share no n-grams with the eval item.
# The corpus has no organic ≥0.9 cross-doc cosines (measured 0 at
# sf0.01/0.1), so every eval vector gets a PLANTED directional
# perturbation (first element += 0.2·‖v‖ — cosine lands in [√0.96 ≈
# 0.9798, 1.0] for ANY vector, proven in the planting note below); both
# engines construct identical doubles, so the row hashes.
DECONTAMINATE_SEMANTIC_ORACLE = r"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), ev AS (
  SELECT * FROM e WHERE vec_id % 97 = 0 AND vec_id < 4850
), planted AS (
  SELECT vec_id + 3000000 AS vec_id,
         [CASE WHEN i = 1
               THEN v[i] + 0.2 * sqrt(list_dot_product(v, v))
               ELSE v[i] END
          FOR i IN range(1, len(v) + 1)] AS v
  FROM ev
), corpus AS (
  SELECT * FROM e UNION ALL SELECT * FROM planted
), pairs AS (
  SELECT c.vec_id, ev.vec_id AS eval_id,
         -- NULLIF mirrors Spark's try_divide: a zero-norm vector
         -- yields NULL (filtered), never NaN (which DuckDB would
         -- compare >= threshold)
         round(list_dot_product(c.v, ev.v)
               / NULLIF(sqrt(list_dot_product(c.v, c.v))
                        * sqrt(list_dot_product(ev.v, ev.v)), 0),
               6) AS cosine_sim
  FROM corpus c, ev WHERE c.vec_id <> ev.vec_id
)
SELECT vec_id, eval_id, cosine_sim FROM pairs WHERE cosine_sim >= 0.9
"""


@query("decontaminate_semantic", oracle=DECONTAMINATE_SEMANTIC_ORACLE)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (functions/curation.py::
    semantic_contamination_report): flag every (corpus doc, eval
    item) pair at embedding cosine ≥ 0.9 — the screen that catches
    paraphrases BEYOND the fuzzy n-gram screen's reach (translations,
    template re-renderings). Eval set = embeddings(vec_id % 97 == 0,
    id < 4850) — bounded ≤50 at any scale (the hybrid-arm rule);
    planted leak = each eval vector with its first element shifted
    by 0.2·‖v‖. Why that perturbation is threshold-safe for ANY
    vector: with a = v₁/‖v‖ ∈ [−1, 1], cos(v, v′) =
    (1 + 0.2a)/√(1.04 + 0.4a); f′ ∝ (0.04 + 0.2a), so the minimum is
    at a = −0.2 with value √0.96 ≈ 0.9798 (not the a≈0 value
    0.9806), reaching 1.0 at a = ±1 — always
    inside the 0.9 screen, never dependent on the corpus. Threshold applies to the 6dp-ROUNDED
    cosine in both engines (the banding rule). Plan: broadcast the
    bounded eval side, map-only cosine filter over the corpus — the
    exact arm of the serving contract; at eval sets past broadcast
    scale, block with the LSH/k-means machinery first
    (semantic_dedup_pairs) and verify survivors here."""
    from .functions import curation as CURATION
    from .functions.dedup import _spread
    from .functions.similarity import _as_double, norm

    # spread the corpus scan (the read_docs_spread discipline): the
    # sf-dir parquet is one file, so the map-only cosine screen would
    # otherwise run on 1-2 input partitions regardless of cores —
    # no-op on a properly-partitioned corpus, and the sf1→sf10
    # scale row (BASELINE.md) is measured with it
    emb = _spread(
        read_table(spark, sf_dir, "embeddings"), "vec_id"
    ).select("vec_id", _as_double(F.col("embedding")).alias("embedding"))
    ev = emb.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 4850))
    # stage the norm into its own projection so the per-element lambda
    # references a bound column, not a re-evaluated fold (the CSE rule)
    planted = ev.select(
        (F.col("vec_id") + 3_000_000).alias("vec_id"),
        "embedding",
        norm(F.col("embedding")).alias("__n"),
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + 0.2 * F.col("__n")).otherwise(x),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    # exclude_same_id=True: the eval items ARE corpus rows here (the
    # planted-oracle convention) — flagging each against itself at
    # cosine 1.0 would just restate the eval filter
    return CURATION.semantic_contamination_report(
        corpus, ev, min_sim=0.9, exclude_same_id=True
    )


# --------------------------------------------------------------------
# Per-stratum KL divergence from the corpus distribution — the
# distribution-shift monitor (which languages/sources diverge from the
# mix; the drift alarm between snapshots). Fully SQL-expressible;
# hash-grade. The row runs the VOCAB-BOUND path (top_v=600, min_count=2
# over BIGRAMS — the n>1 space the knobs exist for; the synthetic corpus
# has only 31 distinct unigrams, so no unigram knob setting could bind):
# the kept grams become THE feature space, every total / |V| / floor
# mass re-derives from the truncated set, and the top_v cut is
# deterministic (count desc, gram asc). The untruncated default path
# stays pinned by tests/test_selection.py's Python differential.
KL_PROFILE_ORACLE = r"""
WITH t AS (
  SELECT lang, doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS tk
  FROM documents
), grams AS (
  SELECT lang, g, count(*) AS cnt FROM (
    SELECT lang,
           unnest([array_to_string(tk[i:i+1], ' ')
                   FOR i IN range(1, greatest(len(tk), 1))]) AS g
    FROM t
  ) WHERE g <> '' GROUP BY 1, 2
), corpus0 AS (
  SELECT g, sum(cnt) AS c FROM grams GROUP BY g
), kept AS (
  -- min_count then top_v, tie-broken (c desc, g asc): deterministic
  SELECT g, c FROM corpus0 WHERE c >= 2 ORDER BY c DESC, g ASC LIMIT 600
), groups_ AS (
  SELECT DISTINCT lang FROM grams
), gkept AS (
  SELECT gr.lang, gr.g, gr.cnt FROM grams gr JOIN kept k ON gr.g = k.g
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS T, CAST(count(*) AS DOUBLE) AS V
  FROM kept
), gt AS (
  SELECT groups_.lang, CAST(coalesce(s.Tg, 0) AS DOUBLE) AS Tg
  FROM groups_ LEFT JOIN (
    SELECT lang, sum(cnt) AS Tg FROM gkept GROUP BY lang
  ) s USING (lang)
), full_ AS (
  SELECT gt.lang, gt.Tg, k.g, k.c, coalesce(gk.cnt, 0) AS cg
  FROM gt CROSS JOIN kept k
  LEFT JOIN gkept gk ON gk.lang = gt.lang AND gk.g = k.g
)
SELECT lang,
       CAST(sum(cg) AS BIGINT) AS n_grams,
       round(sum(
         ((cg + 1e-4) / (Tg + 1e-4 * tot.V))
         * ln(((cg + 1e-4) / (Tg + 1e-4 * tot.V))
              / ((c + 1e-4) / (tot.T + 1e-4 * tot.V)))
       ), 6) AS kl_to_corpus
FROM full_ CROSS JOIN tot
GROUP BY lang
"""


@query("kl_profile", oracle=KL_PROFILE_ORACLE)
def q_kl_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KL divergence from the corpus BIGRAM
    distribution over the BOUNDED vocabulary (functions/
    selection.py::kl_divergence_profile with top_v=600, min_count=2
    — the vocab-bound knobs, oracle-proven):
    the kept grams are the feature space (totals, |V|, and floor
    mass re-derive from the truncated set — the exact profile over
    the truncated vocabulary, not an approximation of the full one),
    absent grams contribute floor mass (the zero rows are GENERATED,
    never skipped), sums 6dp before the cross-engine hash. Bigrams
    because the knobs exist for n>1 vocabularies (unigram |V| here
    is 31 — nothing to bound); top_v=600 binds at every test SF
    (916-931 bigrams), min_count=2 additionally at the small SFs.
    The monitoring twin of the DSIR machinery: DSIR asks "how
    target-like is this DOCUMENT", this asks "how corpus-like is
    this STRATUM". Every frame past the one (group, gram) partial
    agg is vocabulary-sized or smaller; the corpus enters once."""
    from .functions.selection import kl_divergence_profile

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "lang", "text")
    return kl_divergence_profile(
        docs, group_col="lang", ns=(2,), top_v=600, min_count=2
    )


# --------------------------------------------------------------------
# The trainable quality classifier's band row. Training is iterative
# (not SQL-expressible); the exact distributed-vs-pure-Python gradient
# differential lives in tests/test_classifier.py, so the driver row is
# band-proof (the bpe_consistency_bands form).
QUALITY_CLASSIFIER_ORACLE = r"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_pos,
       TRUE AS train_acc_ok, TRUE AS probs_separated, TRUE AS weights_finite
FROM documents
"""


@query("quality_classifier_bands", oracle=QUALITY_CLASSIFIER_ORACLE)
def q_quality_classifier_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality-classifier proof (functions/classifier.py —
    the GPT-3/CCNet-style learned corpus filter: logistic regression
    over hashed n-gram features, trained full-batch distributed with
    the support-preconditioned step). Labels: every 7th doc is the
    "quality seed" and gets three PLANTED marker tokens (the
    planted-leak convention — the corpus has no organic label signal,
    so the proof plants a separable one); train K=1024 binary-presence
    unigram features, 6 epochs, lr=0.5, then score the training set
    in-plan. Exact columns (n_docs, n_pos) hash-check the corpus
    arithmetic; bands verified in-plan: training accuracy ≥ 0.95
    (measured 1.0 at all three SFs), mean positive-class probability
    exceeds the negative mean by ≥ 0.3 (measured ~0.72), and the
    trained weights are all finite (checked driver-side on the
    returned config — a diverged fit raises before the plan runs).
    Plan: the feature frame is built once and pinned (one explode +
    one (doc, feature) agg + one per-doc list agg); each epoch is one
    map-side error pass against the broadcast literal weights + one
    ≤K+1-key partial agg + one bounded collect; scoring is map-only.
    Wall ~5 s at sf0.1 (the heavy-proof-row class — one fixed epoch
    budget, corpus-scan-bound per epoch)."""
    import math as _math

    from .functions import classifier as CLS

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    labeled = docs.select(
        "doc_id",
        (F.col("doc_id") % 7 == 0).cast("int").alias("label"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("qmarkeralpha qmarkerbeta qmarkergamma "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    fv = pin(CLS.doc_feature_vectors(
        labeled, num_buckets=1024, ns=(1,), label_col="label", binary=True
    ))
    w = CLS.train_logreg(fv, num_buckets=1024, epochs=6, lr=0.5)
    if not all(_math.isfinite(x) for x in w):
        raise ValueError(
            "quality_classifier_bands: non-finite trained weight — "
            "the fit diverged"
        )
    scored = CLS.score_logreg(fv, w, out_col="__p")
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("y").cast("bigint")).cast("bigint").alias("n_pos"),
        F.avg(
            ((F.col("__p") >= 0.5).cast("int") == F.col("y").cast("int"))
            .cast("double")
        ).alias("__acc"),
        F.avg(F.when(F.col("y") == 1.0, F.col("__p"))).alias("__p1"),
        F.avg(F.when(F.col("y") == 0.0, F.col("__p"))).alias("__p0"),
    )
    # coalesce(…, False): an empty class makes its mean NULL, and a
    # NULL band predicate would slide through _band_checked's when()
    # as TRUE — the degenerate corpus must fail loud, not silently
    # skip the separation check
    return agg.select(
        "n_docs",
        "n_pos",
        _band_checked(
            F.col("__acc") >= 0.95, "classifier train accuracy under 0.95"
        ).alias("train_acc_ok"),
        _band_checked(
            F.coalesce(
                F.col("__p1") - F.col("__p0") >= 0.3, F.lit(False)
            ),
            "classifier class-mean probabilities not separated "
            "(or a class is empty)",
        ).alias("probs_separated"),
        F.lit(True).alias("weights_finite"),
    )


# --------------------------------------------------------------------
# Selection-signal quality measured by ROC AUC. Composes two
# oracle-proven pieces — the dsir_weights importance arithmetic and the
# mid-rank AUC formula (ties get the analytic ½ credit, so no id
# tie-break is needed and the value is engine-independent) — into one
# hash-grade row: "how well does the DSIR signal retrieve its own
# quality seed".
SELECTION_AUC_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id, unnest(tk) AS g FROM t
    UNION ALL
    SELECT doc_id,
           unnest([array_to_string(tk[i:i+1], ' ')
                   FOR i IN range(1, greatest(len(tk), 1))]) AS g
    FROM t
  ) WHERE g <> '' GROUP BY 1, 2
), rm AS (
  SELECT g, sum(cnt) AS c FROM grams GROUP BY g
), rs AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS space
  FROM rm
), tm AS (
  SELECT g, sum(cnt) AS c FROM grams WHERE doc_id % 13 = 0 GROUP BY g
), ts AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS space
  FROM tm
), scored AS (
  SELECT d.doc_id,
         round(sum(d.cnt * (
           ln((coalesce(tm.c, 0) + 1e-4) / (ts.total + 1e-4 * ts.space))
           - ln((rm.c + 1e-4) / (rs.total + 1e-4 * rs.space))
         )), 6) AS s
  FROM grams d
  LEFT JOIN tm ON d.g = tm.g
  JOIN rm ON d.g = rm.g
  CROSS JOIN ts CROSS JOIN rs
  GROUP BY d.doc_id
), lab AS (
  SELECT round(s, 6) AS s,
         CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS y
  FROM scored
), per AS (
  SELECT s, CAST(sum(y) AS DOUBLE) AS np,
         CAST(sum(1 - y) AS DOUBLE) AS nn
  FROM lab GROUP BY s
), cum AS (
  SELECT np, nn,
         sum(nn) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS below
  FROM per
)
SELECT CAST(sum(np) + sum(nn) AS BIGINT) AS n_docs,
       CAST(sum(np) AS BIGINT) AS n_pos,
       round(sum(np * (coalesce(below, 0) + 0.5 * nn))
             / (sum(np) * sum(nn)), 6) AS auc
FROM cum
"""


# --------------------------------------------------------------------
# The reliability diagram of the squashed DSIR signal — exercises
# classifier.calibration_bins in a hash-grade driver row. The bin key is
# computed on the 6dp-ROUNDED probability (the banding rule: a last-ulp
# cross-engine difference at a bin boundary must not flip a bin), and
# the sigmoid argument is the 6dp dsir_weights value the oracle already
# reproduces bit-for-bit.
DSIR_CALIBRATION_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id, unnest(tk) AS g FROM t
    UNION ALL
    SELECT doc_id,
           unnest([array_to_string(tk[i:i+1], ' ')
                   FOR i IN range(1, greatest(len(tk), 1))]) AS g
    FROM t
  ) WHERE g <> '' GROUP BY 1, 2
), rm AS (
  SELECT g, sum(cnt) AS c FROM grams GROUP BY g
), rs AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS space
  FROM rm
), tm AS (
  SELECT g, sum(cnt) AS c FROM grams WHERE doc_id % 13 = 0 GROUP BY g
), ts AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS space
  FROM tm
), scored AS (
  SELECT d.doc_id,
         round(sum(d.cnt * (
           ln((coalesce(tm.c, 0) + 1e-4) / (ts.total + 1e-4 * ts.space))
           - ln((rm.c + 1e-4) / (rs.total + 1e-4 * rs.space))
         )), 6) AS s
  FROM grams d
  LEFT JOIN tm ON d.g = tm.g
  JOIN rm ON d.g = rm.g
  CROSS JOIN ts CROSS JOIN rs
  GROUP BY d.doc_id
), p AS (
  SELECT round(1.0 / (1.0 + exp(-s / 10.0)), 6) AS p,
         CASE WHEN doc_id % 13 = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM scored
)
SELECT CAST(least(CAST(floor(p * 10) AS INT), 9) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       -- integer-sum mean (the operator's exact_decimals=6 mode):
       -- 10^6-scaled scores are integer-valued and sum exactly; ONE
       -- IEEE division of identical operands is bit-identical across
       -- engines, and NO re-round (Spark HALF_UP vs DuckDB half-even
       -- diverged on an exact .5 tie in pre-flight)
       sum(round(p * 1000000)) / (1000000.0 * count(*)) AS mean_score,
       round(avg(y), 6) AS frac_pos
FROM p GROUP BY 1
"""


@query("dsir_calibration", oracle=DSIR_CALIBRATION_ORACLE)
def q_dsir_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the squashed DSIR signal
    (functions/classifier.py::calibration_bins over
    sigmoid(log_weight/10)): per probability decile, how often a doc
    really is the quality seed (every 13th doc) — the monotone
    frac_pos-vs-mean_score table that tells a pipeline whether a
    selection signal's magnitudes can be thresholded as
    probabilities or only ranked (the AUC row's complement: AUC
    ignores magnitudes, calibration is ONLY magnitudes). Hash-grade:
    the sigmoid argument is the 6dp dsir_weights value, the bin key
    is computed on the 6dp-ROUNDED probability (the banding rule),
    and the bin table adds one ≤10-key agg to the dsir plan."""
    from .functions.classifier import calibration_bins

    w = q_dsir_weights(spark, sf_dir)
    p = w.select(
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_weight") / 10.0)), 6
        ).alias("p"),
        (F.col("doc_id") % 13 == 0).cast("double").alias("y"),
    )
    return calibration_bins(
        p, n_bins=10, score_col="p", label_col="y", exact_decimals=6
    )


@query("selection_auc", oracle=SELECTION_AUC_ORACLE)
def q_selection_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-signal quality as ROC AUC (functions/classifier.py::
    roc_auc over functions/selection.py importance weights): how well
    the DSIR log-weight ranks the quality seed (every 13th doc — the
    signal's own target sample) above the rest of the corpus — the
    evaluation loop every learned/statistical quality signal needs
    before it gates a 100 TB corpus. Mid-rank tie treatment (½ credit
    per cross-class tie) makes the value analytic — no id tie-break,
    no engine dependence; the score is the 6dp dsir_weights value the
    oracle already reproduces bit-for-bit, so the whole row is
    hash-grade. Plan: the dsir_weights plan + one (score → class
    counts) partial agg + a running sum over the DISTINCT-SCORE frame
    (bounded by 6dp score cardinality, never the corpus)."""
    from .functions.classifier import roc_auc

    w = q_dsir_weights(spark, sf_dir)
    labeled = w.select(
        "log_weight",
        (F.col("doc_id") % 13 == 0).cast("int").alias("y"),
    )
    return roc_auc(labeled, score_col="log_weight", label_col="y")


# --------------------------------------------------------------------
# Per-document conditional perplexity under a corpus-trained sequential
# bigram LM (functions/lm.py — the CCNet / KenLM quality signal, Wenzek
# et al. 2020 §3.3; distinct from perplexity_bands' bag-of-grams
# cross-entropy: this conditions every token on its predecessor, so word
# ORDER matters). Fully SQL-expressible (counts, joins, one log-sum per
# doc) — hash-grade at 6dp, the dsir_weights rounding discipline.
LM_PERPLEXITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
), ti AS (
  SELECT doc_id, tk, unnest(range(0, len(tk) + 1)) AS i FROM t
), tr AS (
  SELECT doc_id,
         CASE WHEN i = 0 THEN '<s>' ELSE tk[i] END AS w1,
         CASE WHEN i = CAST(len(tk) AS BIGINT) THEN '</s>'
              ELSE tk[i + 1] END AS w2
  FROM ti
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2
), ctx AS (
  SELECT w1, sum(c12) AS c_ctx FROM big GROUP BY 1
), tgt AS (
  SELECT w2, sum(c12) AS c_tgt FROM big GROUP BY 1
), tot AS (
  SELECT CAST(sum(c12) AS DOUBLE) AS T,
         CAST(count(DISTINCT w2) AS DOUBLE) AS V
  FROM big
), sc AS (
  SELECT d.doc_id,
         -- (1 - 0.8), NOT the literal 0.2: _jm_plan derives the
         -- backoff weight as 1.0 - lam_, and the two differ by 1 ulp
         -- in IEEE doubles — both engines must spell the subtraction
         ln(0.8 * coalesce(CAST(b.c12 AS DOUBLE) / c.c_ctx, 0.0)
            + (1 - 0.8) * ((coalesce(g.c_tgt, 0) + 1e-4)
                     / (tot.T + 1e-4 * (tot.V + 1.0)))) AS lp
  FROM tr d
  LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN ctx c ON d.w1 = c.w1
  LEFT JOIN tgt g ON d.w2 = g.w2
  CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
       round(exp(-sum(lp) / count(*)), 6) AS ppl
FROM sc GROUP BY 1
"""


@query("lm_perplexity", oracle=LM_PERPLEXITY_ORACLE)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document conditional perplexity under the corpus's own
    sequential bigram LM (functions/lm.py::bigram_lm_train +
    bigram_perplexity, λ=0.8 Jelinek-Mercer interpolation, α=1e-4
    unigram floor): the CCNet quality signal — LOW ppl = corpus-like
    text, HIGH = outlier — self-scored (train on the corpus, score
    the corpus: the dsir_weights convention; production trains on a
    TARGET corpus and scores the raw crawl, same plan). Every doc is
    bracketed by <s>/</s>, so even an empty doc carries the boundary
    transition and gets a row. Plan: one (w1,w2) training shuffle +
    vocabulary-sized margin joins, then one transition explode + one
    broadcast-gated model join + a per-doc partial agg; 6dp before
    the cross-engine hash (the sum-order discipline)."""
    from .functions.lm import bigram_lm_train, bigram_perplexity

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    model = bigram_lm_train(docs)
    return bigram_perplexity(docs, model).select(
        "doc_id", "n_transitions", F.round(F.col("ppl"), 6).alias("ppl")
    )


# --------------------------------------------------------------------
# Interpolated Kneser-Ney perplexity over the same bigram model frame —
# the smoothing KenLM actually ships (Chen & Goodman 1999), so with this
# row the LM family covers both the teaching form (Jelinek-Mercer) and
# the production form. Type-count continuation probabilities + the
# counts-of-counts discount estimate, all SQL-expressible — hash-grade
# at 6dp.
KN_PERPLEXITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
), ti AS (
  SELECT doc_id, tk, unnest(range(0, len(tk) + 1)) AS i FROM t
), tr AS (
  SELECT doc_id,
         CASE WHEN i = 0 THEN '<s>' ELSE tk[i] END AS w1,
         CASE WHEN i = CAST(len(tk) AS BIGINT) THEN '</s>'
              ELSE tk[i + 1] END AS w2
  FROM ti
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2
), st AS (
  SELECT CAST(count(*) AS DOUBLE) AS NT,
         CAST(count(DISTINCT w2) AS DOUBLE) AS V,
         CAST(count(*) FILTER (WHERE c12 = 1) AS DOUBLE) AS n1,
         CAST(count(*) FILTER (WHERE c12 = 2) AS DOUBLE) AS n2
  FROM big
), d AS (
  SELECT NT, V,
         CASE WHEN n1 + 2.0 * n2 > 0 THEN n1 / (n1 + 2.0 * n2)
              ELSE 0.5 END AS D
  FROM st
), ctxa AS (
  SELECT w1, sum(c12) AS c_ctx, CAST(count(*) AS DOUBLE) AS types
  FROM big GROUP BY 1
), lamt AS (
  SELECT w1, d.D * types / c_ctx AS lam FROM ctxa CROSS JOIN d
), pct AS (
  SELECT w2,
         (CAST(count(*) AS DOUBLE) + 1e-4)
         / (any_value(d.NT) + 1e-4 * (any_value(d.V) + 1.0)) AS pcont
  FROM big CROSS JOIN d GROUP BY w2
), obs AS (
  SELECT b.w1, b.w2,
         ln(greatest(CAST(b.c12 AS DOUBLE) - d.D, 0.0) / c.c_ctx
            + l.lam * p.pcont) AS lp
  FROM big b
  JOIN ctxa c ON b.w1 = c.w1
  JOIN lamt l ON b.w1 = l.w1
  JOIN pct p ON b.w2 = p.w2
  CROSS JOIN d
), sc AS (
  SELECT tr.doc_id,
         coalesce(o.lp,
                  ln(coalesce(l.lam, 1.0)
                     * coalesce(p.pcont,
                                1e-4 / (d.NT + 1e-4 * (d.V + 1.0))))) AS lp
  FROM tr
  LEFT JOIN obs o ON tr.w1 = o.w1 AND tr.w2 = o.w2
  LEFT JOIN lamt l ON tr.w1 = l.w1
  LEFT JOIN pct p ON tr.w2 = p.w2
  CROSS JOIN d
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
       round(exp(-sum(lp) / count(*)), 6) AS ppl
FROM sc GROUP BY 1
"""


@query("kn_perplexity", oracle=KN_PERPLEXITY_ORACLE)
def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated Kneser-Ney perplexity under the
    corpus's own bigram model (functions/lm.py::kn_bigram_perplexity
    over the bigram_lm_train frame — the smoothing KenLM ships, so
    this is the production form of the CCNet signal next to
    lm_perplexity's Jelinek-Mercer teaching form): discount
    D = n1/(n1+2·n2) from the counts-of-counts, type-count
    continuation probabilities (the "san francisco" insight —
    continuation mass by context DIVERSITY, not raw frequency),
    α-floored for unseen targets, λ→1 backoff for unseen contexts.
    Self-scored (train on the corpus, score the corpus — the
    dsir_weights convention). Plan: the bigram training shuffle +
    vocabulary-sized KN statistics on the pinned model, then one
    transition explode + three broadcast-gated joins + a per-doc
    agg; 6dp before the cross-engine hash."""
    from .functions.lm import bigram_lm_train, kn_bigram_perplexity

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    model = bigram_lm_train(docs)
    return kn_bigram_perplexity(docs, model).select(
        "doc_id", "n_transitions", F.round(F.col("ppl"), 6).alias("ppl")
    )


# --------------------------------------------------------------------
# Line-level boilerplate stripping (RefinedWeb §3.1.3 / C4 line rules —
# the navigation/menu/counter screen). The synthetic corpus has no
# newlines, so the row uses the planted-construction convention: 5-doc
# "pages" assembled in-query (deterministic doc_id order) with four
# planted boilerplate lines — caps-nav, bullet, digit counter, short —
# which the operator must strip while keeping every real line. Full-text
# hash-grade (the normalize_docs precedent).
BOILERPLATE_STRIP_ORACLE = r"""
WITH pages AS (
  SELECT CAST(floor(doc_id / 5) AS BIGINT) AS page_id,
         string_agg(text, chr(10) ORDER BY doc_id) AS body
  FROM documents GROUP BY 1
), full_ AS (
  SELECT page_id,
         body || chr(10) || 'HOME | ABOUT | CONTACT'
              || chr(10) || '- nav bullet item'
              || chr(10) || '128 256 512 1024 2048'
              || chr(10) || 'too short line' AS page
  FROM pages
), split_ AS (
  SELECT page_id, string_split(page, chr(10)) AS lines FROM full_
), kept AS (
  SELECT page_id, lines,
         list_filter(lines, l ->
           len(list_filter(string_split_regex(trim(l), '\s+'),
                           x -> x <> '')) >= 4
           AND CAST(length(regexp_replace(l, '[^A-Z]', '', 'g'))
                    AS DOUBLE)
               / greatest(length(regexp_replace(l, '[^A-Za-z]', '',
                                                'g')), 1) <= 0.6
           AND CAST(length(regexp_replace(l, '[^0-9]', '', 'g'))
                    AS DOUBLE)
               / greatest(length(l), 1) <= 0.5
           AND NOT regexp_matches(l, '^\s*([-*•]|[0-9]+[.)])\s')
         ) AS keptl
  FROM split_
)
SELECT page_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(keptl) AS BIGINT) AS n_kept,
       array_to_string(keptl, chr(10)) AS text
FROM kept
"""


@query("boilerplate_strip", oracle=BOILERPLATE_STRIP_ORACLE)
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate stripping (functions/corpus.py::
    strip_boilerplate — the RefinedWeb/C4 line screen: short lines,
    caps navigation, digit counters, bullets) proven on planted
    multi-line pages: the corpus's docs assemble 5-per-page in
    deterministic doc_id order, four boilerplate lines are planted
    per page, and the operator must return exactly the real lines
    re-joined — full-text hash-grade, n_lines/n_kept exact. The
    operator itself is one map-only Column expression (line array
    lambda-bound, split once per row — zero shuffle at any scale);
    the page assembly exists only to give the proof multi-line
    input."""
    from .functions.corpus import strip_boilerplate

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    pages = docs.groupBy(
        F.floor(F.col("doc_id") / 5).cast("bigint").alias("page_id")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("body")
    )
    planted = pages.select(
        "page_id",
        F.concat_ws(
            "\n",
            F.col("body"),
            F.lit("HOME | ABOUT | CONTACT"),
            F.lit("- nav bullet item"),
            F.lit("128 256 512 1024 2048"),
            F.lit("too short line"),
        ).alias("page"),
    )
    return planted.select(
        "page_id", strip_boilerplate(F.col("page")).alias("__s")
    ).select(
        "page_id",
        F.col("__s.n_lines").cast("bigint").alias("n_lines"),
        F.col("__s.n_kept").cast("bigint").alias("n_kept"),
        F.col("__s.text").alias("text"),
    )


# --------------------------------------------------------------------
# The TRUE CCNet deployment shape. lm_perplexity / kn_perplexity
# self-score (train on the corpus, score the corpus — the dsir_weights
# convention); CCNet's production signal trains the LM on a TARGET
# domain (Wikipedia) and scores the raw crawl against it (Wenzek et al.
# 2020 §3.3). Here the target is the repo's standing quality-seed
# convention — every 13th doc, the selection_auc / dsir label — and the
# scored side is everything else, pushed through ``make_bigram_scorer``
# (the FROZEN-model path: model + vocab-sized logp tables pinned ONCE at
# construction — the per-micro-batch deployment shape the one-shot rows
# never exercise in a driver row). Kneser-Ney smoothing, i.e. what KenLM
# ships and CCNet's wiki LM actually uses. Fully SQL-expressible —
# hash-grade at 6dp.
#
# 100 TB shape: in production the target is a SEPARATE small corpus,
# so "train" never touches the crawl; in this self-contained row the
# two branches filter the same documents table, costing one extra
# corpus scan that the deployment shape does not have (documented,
# not hidden — the target filter cannot push a modulo into parquet).
# Training is target-scale; the frozen tables are vocabulary-sized;
# scoring is the audited kn plan (explode + 3 broadcast-gated joins
# + per-doc agg).
CCNET_PERPLEXITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
), ti AS (
  SELECT doc_id, tk, unnest(range(0, len(tk) + 1)) AS i FROM t
), tr AS (
  SELECT doc_id,
         CASE WHEN i = 0 THEN '<s>' ELSE tk[i] END AS w1,
         CASE WHEN i = CAST(len(tk) AS BIGINT) THEN '</s>'
              ELSE tk[i + 1] END AS w2
  FROM ti
), big AS (
  -- the model trains ONLY on the target sample (every 13th doc)
  SELECT w1, w2, count(*) AS c12 FROM tr
  WHERE doc_id % 13 = 0 GROUP BY 1, 2
), st AS (
  SELECT CAST(count(*) AS DOUBLE) AS NT,
         CAST(count(DISTINCT w2) AS DOUBLE) AS V,
         CAST(count(*) FILTER (WHERE c12 = 1) AS DOUBLE) AS n1,
         CAST(count(*) FILTER (WHERE c12 = 2) AS DOUBLE) AS n2
  FROM big
), d AS (
  SELECT NT, V,
         CASE WHEN n1 + 2.0 * n2 > 0 THEN n1 / (n1 + 2.0 * n2)
              ELSE 0.5 END AS D
  FROM st
), ctxa AS (
  SELECT w1, sum(c12) AS c_ctx, CAST(count(*) AS DOUBLE) AS types
  FROM big GROUP BY 1
), lamt AS (
  SELECT w1, d.D * types / c_ctx AS lam FROM ctxa CROSS JOIN d
), pct AS (
  SELECT w2,
         (CAST(count(*) AS DOUBLE) + 1e-4)
         / (any_value(d.NT) + 1e-4 * (any_value(d.V) + 1.0)) AS pcont
  FROM big CROSS JOIN d GROUP BY w2
), obs AS (
  SELECT b.w1, b.w2,
         ln(greatest(CAST(b.c12 AS DOUBLE) - d.D, 0.0) / c.c_ctx
            + l.lam * p.pcont) AS lp
  FROM big b
  JOIN ctxa c ON b.w1 = c.w1
  JOIN lamt l ON b.w1 = l.w1
  JOIN pct p ON b.w2 = p.w2
  CROSS JOIN d
), sc AS (
  -- the crawl (every doc NOT in the target) scores under the frozen
  -- target model
  SELECT tr.doc_id,
         coalesce(o.lp,
                  ln(coalesce(l.lam, 1.0)
                     * coalesce(p.pcont,
                                1e-4 / (d.NT + 1e-4 * (d.V + 1.0))))) AS lp
  FROM tr
  LEFT JOIN obs o ON tr.w1 = o.w1 AND tr.w2 = o.w2
  LEFT JOIN lamt l ON tr.w1 = l.w1
  LEFT JOIN pct p ON tr.w2 = p.w2
  CROSS JOIN d
  WHERE tr.doc_id % 13 <> 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
       round(exp(-sum(lp) / count(*)), 6) AS ppl
FROM sc GROUP BY 1
"""


@query("ccnet_perplexity", CCNET_PERPLEXITY_ORACLE)
def q_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Kneser-Ney perplexity of the CRAWL (every doc
    outside the target sample) under a bigram LM trained ONLY on the
    TARGET domain (every 13th doc — the selection_auc quality-seed
    convention): the true CCNet production signal (Wenzek 2020 §3.3
    — train on Wikipedia, score Common Crawl, bucket by perplexity),
    where lm_perplexity / kn_perplexity are the self-scored teaching
    rows. Deliberately routed through ``make_bigram_scorer`` (lm.py)
    — the FROZEN-model deployment path: the model frame and the
    vocab-sized logp/λ/P_cont tables pin ONCE at construction (the
    per-micro-batch shape streaming uses), so this driver row is the
    only gate exercise of that path. LOW ppl = target-like text —
    CCNet keeps the head. 6dp before the cross-engine hash (the
    sum-order discipline)."""
    from .functions.lm import bigram_lm_train, make_bigram_scorer

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 13 == 0)
    crawl = docs.filter(F.col("doc_id") % 13 != 0)
    score = make_bigram_scorer(bigram_lm_train(target), scorer="kn")
    return score(crawl).select(
        "doc_id", "n_transitions", F.round(F.col("ppl"), 6).alias("ppl")
    )


# --------------------------------------------------------------------
# One DoReMi Group-DRO mixture-reweighting step (Xie et al. 2023) over
# the per-domain (lang) token-weighted cross-entropy under the corpus's
# own bigram LM — the LOSS-side mixture signal beside kl_profile's
# distribution-side monitor. weight_g ∝ share_g · exp(η·(ce_g −
# ce_corpus)), Σ = 1, η = 1. The per-domain agg keys on ~5 langs, so
# everything after the one corpus transition explode is
# domain-cardinality-sized. Fully SQL-expressible — hash-grade at 6dp.
DOMAIN_MIXTURE_ORACLE = r"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
), ti AS (
  SELECT doc_id, lang, tk, unnest(range(0, len(tk) + 1)) AS i FROM t
), tr AS (
  SELECT doc_id, lang,
         CASE WHEN i = 0 THEN '<s>' ELSE tk[i] END AS w1,
         CASE WHEN i = CAST(len(tk) AS BIGINT) THEN '</s>'
              ELSE tk[i + 1] END AS w2
  FROM ti
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2
), ctx AS (
  SELECT w1, sum(c12) AS c_ctx FROM big GROUP BY 1
), tgt AS (
  SELECT w2, sum(c12) AS c_tgt FROM big GROUP BY 1
), tot AS (
  SELECT CAST(sum(c12) AS DOUBLE) AS T,
         CAST(count(DISTINCT w2) AS DOUBLE) AS V
  FROM big
), sc AS (
  -- (1 - 0.8), NOT 0.2 — the _jm_plan ulp discipline
  SELECT d.doc_id, d.lang,
         ln(0.8 * coalesce(CAST(b.c12 AS DOUBLE) / c.c_ctx, 0.0)
            + (1 - 0.8) * ((coalesce(g.c_tgt, 0) + 1e-4)
                     / (tot.T + 1e-4 * (tot.V + 1.0)))) AS lp
  FROM tr d
  LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN ctx c ON d.w1 = c.w1
  LEFT JOIN tgt g ON d.w2 = g.w2
  CROSS JOIN tot
), per AS (
  SELECT lang,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_transitions,
         -sum(lp) / count(*) AS ce
  FROM sc GROUP BY 1
), allt AS (
  -- ce_all derives from the DOMAIN frame with the same operand
  -- order as the Spark plan (Σ ce_g·n_g / Σ n_g), never a second
  -- transition pass
  SELECT CAST(sum(n_transitions) AS DOUBLE) AS N,
         sum(ce * n_transitions) / sum(n_transitions) AS ce_all
  FROM per
), raw AS (
  SELECT lang, n_docs, n_transitions,
         n_transitions / allt.N AS share, ce,
         (n_transitions / allt.N) * exp(1.0 * (ce - allt.ce_all)) AS w_raw
  FROM per CROSS JOIN allt
)
SELECT lang, n_docs, n_transitions,
       round(share, 6) AS share,
       round(ce, 6) AS ce,
       round(w_raw / (SELECT sum(w_raw) FROM raw), 6) AS weight
FROM raw
"""


@query("domain_mixture_weights", DOMAIN_MIXTURE_ORACLE)
def q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi Group-DRO step over the corpus per language:
    (lang, n_docs, n_transitions, share, ce, weight) — each domain's
    next-mixture weight is its transition share tilted by
    exp(η·excess-ce) under the corpus's own Jelinek-Mercer bigram LM
    (selection.domain_mixture_weights, η=1 — the self-scored driver
    convention; production passes a reference model trained on the
    baseline mix). HARD domains (high excess loss) get upweighted —
    the published mixture-optimization move the kl_profile row
    monitors from the distribution side. Plan: the lm_perplexity
    corpus shape with the per-DOC agg replaced by a ~5-row per-LANG
    agg; every later frame is domain-cardinality-sized. 6dp before
    the cross-engine hash (the sum-order discipline)."""
    from .functions.selection import domain_mixture_weights

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "lang", "text")
    return domain_mixture_weights(docs, group_col="lang", eta=1.0)


# --------------------------------------------------------------------
# The BOUNDED DoReMi fixed-point trajectory. domain_mixture_weights
# samples ONE Group-DRO update; the published loop ITERATES it, and with
# the reference model + per-domain losses frozen the iteration is the
# exponentiated-gradient dynamics on the mixture simplex, whose
# convergence arithmetic (mass drifting monotonically toward the hardest
# domain, the mixture loss ce_mix re-derived from the TILTED weights
# each step) this row pins under an oracle, 6 unrolled steps. ce_mix is
# emitted per step so the oracle checks the inner scalar, not just the
# normalized weights. The corpus pays exactly the one-step row's audited
# plan (one transition explode + broadcast-gated vocab joins + one
# salted per-group agg); the iteration is domain-cardinality driver
# arithmetic over a bounded collect (the quality-classifier epoch-loop
# discipline — K tiny Spark jobs per step would buy scheduler overhead,
# nothing else, at any corpus scale). Fully SQL-expressible — the oracle
# unrolls the K steps as CTEs generated by _traj_oracle (ONE spelling of
# the IEEE arithmetic, never K hand-copies).
def _traj_oracle(steps: int, eta: float = 1.0) -> str:
    """Unroll the trajectory's K steps as DuckDB CTEs on top of the
    DOMAIN_MIXTURE_ORACLE's per-domain frame. The tilt spells
    exp(eta * (ce - ce_mix)) exactly as the Spark/driver side does
    (subtraction INSIDE the exp, eta as a literal multiplier) — the
    lm-family ulp discipline."""
    head = r"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
), ti AS (
  SELECT doc_id, lang, tk, unnest(range(0, len(tk) + 1)) AS i FROM t
), tr AS (
  SELECT doc_id, lang,
         CASE WHEN i = 0 THEN '<s>' ELSE tk[i] END AS w1,
         CASE WHEN i = CAST(len(tk) AS BIGINT) THEN '</s>'
              ELSE tk[i + 1] END AS w2
  FROM ti
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2
), ctx AS (
  SELECT w1, sum(c12) AS c_ctx FROM big GROUP BY 1
), tgt AS (
  SELECT w2, sum(c12) AS c_tgt FROM big GROUP BY 1
), tot AS (
  SELECT CAST(sum(c12) AS DOUBLE) AS T,
         CAST(count(DISTINCT w2) AS DOUBLE) AS V
  FROM big
), sc AS (
  -- (1 - 0.8), NOT 0.2 — the _jm_plan ulp discipline
  SELECT d.lang,
         ln(0.8 * coalesce(CAST(b.c12 AS DOUBLE) / c.c_ctx, 0.0)
            + (1 - 0.8) * ((coalesce(g.c_tgt, 0) + 1e-4)
                     / (tot.T + 1e-4 * (tot.V + 1.0)))) AS lp
  FROM tr d
  LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN ctx c ON d.w1 = c.w1
  LEFT JOIN tgt g ON d.w2 = g.w2
  CROSS JOIN tot
), per AS MATERIALIZED (
  -- MATERIALIZED: the step chain below references each frame 2-3x;
  -- DuckDB's default CTE inlining would expand that exponentially
  -- (4^K copies of the corpus pipeline — observed as a
  -- too-many-open-files explosion on the base parquet at K=6)
  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
         -sum(lp) / count(*) AS ce
  FROM sc GROUP BY 1
), nn AS (
  SELECT CAST(sum(n) AS DOUBLE) AS ntot FROM per
), w0 AS MATERIALIZED (
  SELECT lang, ce, n / nn.ntot AS w FROM per CROSS JOIN nn
)"""
    parts, selects = [head], []
    for k in range(1, steps + 1):
        prev = f"w{k - 1}"
        parts.append(
            f""", m{k} AS MATERIALIZED (
  SELECT sum(w * ce) AS ce_mix FROM {prev}
), r{k} AS MATERIALIZED (
  SELECT lang, ce, w * exp({eta} * (ce - m{k}.ce_mix)) AS raw
  FROM {prev} CROSS JOIN m{k}
), w{k} AS MATERIALIZED (
  SELECT lang, ce, raw / (SELECT sum(raw) FROM r{k}) AS w FROM r{k}
)"""
        )
        selects.append(
            f"SELECT {k} AS step, lang,\n"
            f"       round((SELECT ce_mix FROM m{k}), 6) AS ce_mix,\n"
            f"       round(w, 6) AS weight FROM w{k}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


DOMAIN_MIXTURE_TRAJ_ORACLE = _traj_oracle(steps=6, eta=1.0)


@query("domain_mixture_trajectory", DOMAIN_MIXTURE_TRAJ_ORACLE)
def q_domain_mixture_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Six unrolled Group-DRO steps over the corpus per language:
    (step, lang, ce_mix, weight), w_0 = the baseline transition
    shares, each step re-deriving the mixture loss from the previous
    TILTED weights (selection.domain_mixture_trajectory, η=1, the
    self-scored driver convention). Step 1 coincides with the
    registered domain_mixture_weights row at the 6dp contract
    (pytest-pinned); later steps pin the loop's convergence
    arithmetic — mass drifts monotonically toward the hardest
    domain. 6dp before the cross-engine hash (the sum-order
    discipline)."""
    from .functions.selection import domain_mixture_trajectory

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "lang", "text")
    return domain_mixture_trajectory(
        docs, group_col="lang", eta=1.0, steps=6
    )


# --------------------------------------------------------------------
# The ORACLE-CHECKED CCNet-style admission composition (its
# corpus_curation_batch face, which composes the NON-SQL-expressible
# minhash dedup, is pytest-pinned end-to-end by
# test_ccnet_end_to_end_composition; this row chains the SQL-expressible
# production stages so the whole admission is hash-grade): Gopher
# quality screen → PII redaction → exact dedup (min-id survivor per md5
# fingerprint of the CLEAN text) → frozen target-trained KN scoring of
# the clean text → admit ppl ≤ the cut. Every stage is the SAME
# expression its standalone row verifies (gopher_quality_filter /
# pii_redaction / training_data_prep's dedup / ccnet_perplexity's
# model+scoring), so a drift in any stage breaks this query's hash — the
# training_data_prep composition discipline applied to the CCNet
# production path. The admission compares the 6dp-ROUNDED ppl on BOTH
# engines (raw doubles at the threshold boundary could differ in ulps —
# the training_data_prep lesson).
#
# Plan/scale shape: one crawl scan through the map-only screens +
# redaction chain, ONE fingerprint exchange (the min-id window), then
# the audited frozen-KN scoring plan (transition explode +
# broadcast-gated vocab joins + per-(doc, lang) agg — `lang` rides
# the agg KEYS via make_bigram_scorer's carry_cols, exact because it
# is functionally dependent on the id; no doc-cardinality re-join).
# The target branch re-scans documents (the ccnet_perplexity
# documented cost — production trains on a separate small corpus).
CCNET_PPL_CUT = 41.0  # the fixed admission threshold; oracle inlines it


CCNET_CURATION_ORACLE = rf"""
WITH crawl AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 13 <> 0
), g AS (
  SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM crawl
), kept AS (
  SELECT doc_id, lang, text FROM g
  WHERE len(toks) BETWEEN 30 AND 100000
    AND round(coalesce(list_sum(list_transform(toks, s -> length(s))), 0)
              * 1.0 / greatest(len(toks), 1), 4) BETWEEN 3.0 AND 10.0
    AND round(len(list_filter(toks, s -> regexp_matches(s, '[a-z]')))
              * 1.0 / greatest(len(toks), 1), 4) >= 0.80
    AND round((length(text) - length(replace(text, '#', ''))
               + len(regexp_extract_all(text, '\.\.\.')))
              * 1.0 / greatest(len(toks), 1), 4) <= 0.10
    AND len(list_filter(list_distinct(toks),
                        s -> s IN ({_GOPHER_SW_SQL}))) >= 2
), red AS (
  SELECT doc_id, lang,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{CURATION.PII_EMAIL}', '<EMAIL>', 'g'),
             '{CURATION.PII_IPV4}', '<IP>', 'g'),
           '{CURATION.PII_PHONE}', '<PHONE>', 'g') AS text_clean
  FROM kept
), ded AS (
  SELECT doc_id, lang, text_clean FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text_clean)),
                                      '\s+', ' ', 'g'))
      ORDER BY doc_id) AS rn
    FROM red) WHERE rn = 1
), tt AS (
  -- the frozen KN model trains ONLY on the RAW target sample (the
  -- ccnet_perplexity convention — every 13th doc)
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id % 13 = 0
), ti AS (
  SELECT doc_id, tk, unnest(range(0, len(tk) + 1)) AS i FROM tt
), tr AS (
  SELECT doc_id,
         CASE WHEN i = 0 THEN '<s>' ELSE tk[i] END AS w1,
         CASE WHEN i = CAST(len(tk) AS BIGINT) THEN '</s>'
              ELSE tk[i + 1] END AS w2
  FROM ti
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2
), st AS (
  SELECT CAST(count(*) AS DOUBLE) AS NT,
         CAST(count(DISTINCT w2) AS DOUBLE) AS V,
         CAST(count(*) FILTER (WHERE c12 = 1) AS DOUBLE) AS n1,
         CAST(count(*) FILTER (WHERE c12 = 2) AS DOUBLE) AS n2
  FROM big
), d AS (
  SELECT NT, V,
         CASE WHEN n1 + 2.0 * n2 > 0 THEN n1 / (n1 + 2.0 * n2)
              ELSE 0.5 END AS D
  FROM st
), ctxa AS (
  SELECT w1, sum(c12) AS c_ctx, CAST(count(*) AS DOUBLE) AS types
  FROM big GROUP BY 1
), lamt AS (
  SELECT w1, d.D * types / c_ctx AS lam FROM ctxa CROSS JOIN d
), pct AS (
  SELECT w2,
         (CAST(count(*) AS DOUBLE) + 1e-4)
         / (any_value(d.NT) + 1e-4 * (any_value(d.V) + 1.0)) AS pcont
  FROM big CROSS JOIN d GROUP BY w2
), obs AS (
  SELECT b.w1, b.w2,
         ln(greatest(CAST(b.c12 AS DOUBLE) - d.D, 0.0) / c.c_ctx
            + l.lam * p.pcont) AS lp
  FROM big b
  JOIN ctxa c ON b.w1 = c.w1
  JOIN lamt l ON b.w1 = l.w1
  JOIN pct p ON b.w2 = p.w2
  CROSS JOIN d
), ct AS (
  -- the curated CLEAN text scores under the frozen model
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text_clean)), '\s+'),
                     x -> x <> '') AS tk
  FROM ded
), ci AS (
  SELECT doc_id, lang, tk, unnest(range(0, len(tk) + 1)) AS i FROM ct
), ctr AS (
  SELECT doc_id, lang,
         CASE WHEN i = 0 THEN '<s>' ELSE tk[i] END AS w1,
         CASE WHEN i = CAST(len(tk) AS BIGINT) THEN '</s>'
              ELSE tk[i + 1] END AS w2
  FROM ci
), sc AS (
  SELECT ctr.doc_id, ctr.lang,
         coalesce(o.lp,
                  ln(coalesce(l.lam, 1.0)
                     * coalesce(p.pcont,
                                1e-4 / (d.NT + 1e-4 * (d.V + 1.0))))) AS lp
  FROM ctr
  LEFT JOIN obs o ON ctr.w1 = o.w1 AND ctr.w2 = o.w2
  LEFT JOIN lamt l ON ctr.w1 = l.w1
  LEFT JOIN pct p ON ctr.w2 = p.w2
  CROSS JOIN d
), ppl AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_transitions,
         round(exp(-sum(lp) / count(*)), 6) AS ppl
  FROM sc GROUP BY 1, 2
)
SELECT doc_id, lang, n_transitions, ppl
FROM ppl WHERE ppl <= {CCNET_PPL_CUT}
"""


@query("ccnet_curation", CCNET_CURATION_ORACLE)
def q_ccnet_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_transitions, ppl) of the ADMITTED crawl — the
    SQL-expressible CCNet-style curation chain, hash-grade end to
    end: Gopher screen on the raw text, PII redaction, exact min-id
    dedup over the clean-text fingerprint, frozen target-trained KN
    scoring of the CLEAN text (`make_bigram_scorer`, lang carried
    through the agg keys), admission at the 6dp-rounded
    ``ppl ≤ CCNET_PPL_CUT``. Each stage is the standalone row's exact
    expression (gopher_quality_filter / pii_redaction /
    training_data_prep dedup / ccnet_perplexity scoring) — the
    composition the pipeline pytest pins with minhash dedup, here in
    its oracle-checkable form."""
    from pyspark.sql import Window as W

    from .functions import corpus as C
    from .functions.lm import bigram_lm_train, make_bigram_scorer

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "lang", "text")
    target = docs.filter(F.col("doc_id") % 13 == 0)
    crawl = docs.filter(F.col("doc_id") % 13 != 0)
    kept = (
        crawl.select(
            "doc_id", "lang", "text",
            C.gopher_metrics(F.col("text")).alias("__m"),
        )
        .filter(F.col("__m.kept"))
        .select("doc_id", "lang", "text")
    )
    red = CURATION.pii_redact(kept, keep_cols=("lang",))
    w = W.partitionBy(TXT.fingerprint(F.col("text_clean"))).orderBy("doc_id")
    ded = (
        red.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "text_clean")
    )
    score = make_bigram_scorer(
        bigram_lm_train(target.select("doc_id", "text")),
        scorer="kn",
        text_col="text_clean",
        carry_cols=("lang",),
    )
    out = score(ded).select(
        "doc_id", "lang", "n_transitions", F.round("ppl", 6).alias("ppl")
    )
    return out.filter(F.col("ppl") <= CCNET_PPL_CUT)


# --------------------------------------------------------------------
# Not registered: the LEARNED-FILTER admission composition, parity-
# pinned by its own oracle test
# (tests/test_classifier.py::test_classifier_curation_oracle_parity) —
# the GPT-3-style trained-quality-classifier twin of ccnet_curation's
# LM-perplexity admission. Production shape: gopher screen → exact
# min-id dedup on the raw-text fingerprint → train the
# logistic-regression quality filter on the LABELED SEED third of the
# survivors → score the CRAWL complement under the frozen weights →
# admit quality_prob ≥ 0.5. Every stage is an audited standalone
# expression (gopher_quality_filter / training_data_prep's dedup /
# quality_classifier_bands' feature-build + preconditioned-train +
# map-only score); doc_feature_vectors' carry_cols= (the
# make_bigram_scorer convention) rides (lang, n_chars) through the
# feature build, so the admission NEVER re-joins the doc-cardinality
# corpus to recover output columns.
#
# Oracle strategy: the trainer is iterative (not SQL-expressible),
# but the planted-marker convention (quality_classifier_bands) makes
# the FIT exact — every 7th survivor carries three marker tokens, the
# support-preconditioned fit separates the classes completely at
# every test SF, and an IN-PLAN guard raises loud on any crawl score
# inside the (0.3, 0.7) ambiguity band — so the admitted set is
# EXACTLY the planted positives of the crawl complement, which IS
# SQL-expressible, and the row is hash-grade end to end. A training
# or scoring drift that moves any score toward the boundary turns the
# row loud-red (the guard) or hash-red (membership) — never silently
# green.
#
# Plan/scale shape: one corpus scan through the screen, ONE
# fingerprint exchange (the min-id window), ONE (doc, feature)
# exchange into the pinned feature frame; each epoch is one map-side
# error pass over the SEED THIRD against broadcast literal weights +
# one ≤1025-key partial agg + one bounded collect; scoring is
# map-only; the output is a projection. No new shuffle shapes.
CLASSIFIER_CURATION_ORACLE = rf"""
WITH g AS (
  SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents
), kept AS (
  SELECT doc_id, lang, text FROM g
  WHERE len(toks) BETWEEN 30 AND 100000
    AND round(coalesce(list_sum(list_transform(toks, s -> length(s))), 0)
              * 1.0 / greatest(len(toks), 1), 4) BETWEEN 3.0 AND 10.0
    AND round(len(list_filter(toks, s -> regexp_matches(s, '[a-z]')))
              * 1.0 / greatest(len(toks), 1), 4) >= 0.80
    AND round((length(text) - length(replace(text, '#', ''))
               + len(regexp_extract_all(text, '\.\.\.')))
              * 1.0 / greatest(len(toks), 1), 4) <= 0.10
    AND len(list_filter(list_distinct(toks),
                        s -> s IN ({_GOPHER_SW_SQL}))) >= 2
), ded AS (
  SELECT doc_id, lang, text FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1
)
SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
FROM ded WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
"""


def q_classifier_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_chars) of the ADMITTED crawl — the learned
    quality-filter curation chain, hash-grade end to end: Gopher
    screen, exact min-id dedup over the raw-text fingerprint, train
    the hashed-unigram logistic filter on the seed third of the
    survivors (``doc_id % 3 == 0``, labels planted per the
    quality_classifier_bands marker convention), score the crawl
    complement under the frozen weights map-only, admit at
    ``quality_prob >= 0.5``. An in-plan guard raises loud on any
    crawl score in (0.3, 0.7) — the separation contract that makes
    the admitted set the oracle's SQL-expressible planted-positive
    set. n_chars is measured on the ORIGINAL text (pre-marker), so
    the oracle recomputes it directly."""
    import math as _math

    from pyspark.sql import Window as W

    from .functions import classifier as CLS
    from .functions import corpus as C

    docs = read_docs_spread(spark, sf_dir).select("doc_id", "lang", "text")
    kept = (
        docs.select(
            "doc_id", "lang", "text",
            C.gopher_metrics(F.col("text")).alias("__m"),
        )
        .filter(F.col("__m.kept"))
        .select("doc_id", "lang", "text")
    )
    w = W.partitionBy(TXT.fingerprint(F.col("text"))).orderBy("doc_id")
    ded = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "text")
    )
    labeled = ded.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        (F.col("doc_id") % 7 == 0).cast("int").alias("label"),
        # SIX planted markers (the bands row plants three): the tuned
        # separation contract — measured held-out margins at all
        # three SFs under the 256-bucket / 4-epoch config below: min
        # positive score ≥ 0.82, max negative ≤ 0.13 (three markers
        # left sf0.001's thinnest held-out positive at 0.69, inside
        # the guard band)
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(
                    "qmarkeralpha qmarkerbeta qmarkergamma "
                    "qmarkerdelta qmarkerepsilon qmarkerzeta "
                ),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # pin the screened+deduped frame: doc_feature_vectors consumes
    # its input TWICE (the label/carry base side and the gram-explode
    # side of its internal join), and an unpinned input re-derives
    # the whole screen+dedup chain on both arms — cost-neutral at
    # proof scale, a full second corpus scan at 100 TB (the
    # multi-consumer pin rule)
    labeled = pin(labeled)
    # num_buckets=256 / epochs=4 (the bands row trains 1024/6): the
    # tuned proof price — the per-epoch cost here is plan-compile of
    # the weight-literal array, so 256 buckets roughly halves the
    # train stage; measured held-out margins stay comfortable at all
    # three SFs (min positive 0.82, max negative 0.12)
    fv = pin(CLS.doc_feature_vectors(
        labeled,
        num_buckets=256,
        ns=(1,),
        label_col="label",
        binary=True,
        carry_cols=("lang", "n_chars"),
    ))
    wts = CLS.train_logreg(
        fv.filter(F.col("id") % 3 == 0), num_buckets=256, epochs=4, lr=0.5
    )
    if not all(_math.isfinite(x) for x in wts):
        raise ValueError(
            "classifier_curation: non-finite trained weight — the fit "
            "diverged"
        )
    scored = CLS.score_logreg(
        fv.filter(F.col("id") % 3 != 0), wts, out_col="__p"
    )
    guarded = scored.select(
        "id",
        "lang",
        "n_chars",
        F.when(
            (F.col("__p") > 0.3) & (F.col("__p") < 0.7),
            F.raise_error(
                F.concat(
                    F.lit(
                        "classifier_curation: crawl score inside the "
                        "(0.3, 0.7) ambiguity band — the separation "
                        "contract behind the oracle's planted-set "
                        "admission no longer holds; id="
                    ),
                    F.col("id").cast("string"),
                )
            ).cast("double"),
        )
        .otherwise(F.col("__p"))
        .alias("__p"),
    )
    return guarded.filter(F.col("__p") >= 0.5).select(
        F.col("id").alias("doc_id"), "lang", "n_chars"
    )


# Every rows-only registered name (no DuckDB oracle — xxhash64/LSH
# internals a SQL twin cannot reproduce) and the oracle-bearing FAMILY
# TWINS that prove it (recall_* and/or precision_* rows over the same
# planted corpus). The TWIN CONSTRAINT — a rows-only name may sit in
# the driver gate only when at least ONE of its twins is in the same
# gate — is asserted by tests/test_rotation.py from this map, so an
# edit of DRIVER_GATE can never strand a rows-only row without its
# proof.
ROWS_ONLY_TWINS: dict[str, tuple[str, ...]] = {
    "minhash_near_dups": ("recall_minhash",),
    "simhash_near_dups": ("recall_simhash", "precision_simhash"),
    "winnow_overlap_pairs": ("recall_winnow", "precision_winnow"),
    "image_phash_dups": ("recall_image_phash", "precision_image_phash"),
    "video_fingerprint_dups": ("recall_video_fp", "precision_video_fp"),
    "audio_segment_dups": ("recall_audio_seg", "precision_audio_seg"),
    "audio_fingerprint_dups": ("recall_audio_fp", "precision_audio_fp"),
    "ann_lsh_topk": ("recall_ann_lsh", "precision_ann_lsh"),
    "ann_ivf_topk": ("recall_ann_ivf",),
}

# The driver records oracle rows for at most 50 queries, so
# ``__spark_entry__.queries()`` returns this fixed gate. The 19
# ``run_topology`` rows come first: they are the paper's engine. The
# other 31 are one oracle-bearing row per operator family. Where a
# family has a recall and a precision row, the gate keeps the recall
# row, which proves the detector finds every planted copy. The
# precision rows and the nine rows-only detectors stay outside, so
# every gate row gets a hash-grade oracle check and the twin
# constraint holds trivially. kn_perplexity stays out because
# ccnet_curation scores with Kneser-Ney smoothing too;
# pq_recall_bands because ivfpq_recall_bands trains, encodes and
# probes PQ codes as well (on IVF residuals); dsir_calibration
# because selection_auc evaluates the same DSIR signal.
# tests/test_curation.py::test_omitted_relational_parity pins every
# oracle-bearing row outside the gate, and the engine rows, at sf0.001.
DRIVER_GATE = frozenset(
    {
        # -- the engine: every row that runs through run_topology
        "filter_map",
        "fanout_flatmap",
        "merge_streams",
        "running_sum_changelog",
        "interval_join",
        "asof_enrich",
        "broadcast_enrich",
        "table_table_asof",
        "windowed_left_join",
        "windowed_outer_join",
        "nary_join_fold",
        "group_by_fn_agg",
        "suppressed_window_final",
        "regrouped_retraction",
        "with_dedupe_first",
        "rekey_fanout",
        "value_only_rekey",
        "rekey_transform",
        "changelog_filter",
        # -- one oracle-bearing row per operator family
        "training_data_prep",
        "near_dup_clusters",
        "embedding_topk",
        "embedding_near_dups",
        "recall_minhash",
        "recall_simhash",
        "recall_winnow",
        "recall_ann_lsh",
        "recall_ann_ivf",
        "recall_image_phash",
        "recall_audio_fp",
        "recall_video_fp",
        "recall_audio_seg",
        "multimodal_decode",
        "corpus_profile",
        "corpus_keep_by_source",
        "bm25_topk",
        "hybrid_rrf_topk",
        "packed_shard_roundtrip",
        "mixing_repeat_epochs",
        "dsir_weights",
        "selection_auc",
        "perplexity_bands",
        "lm_perplexity",
        "ivfpq_recall_bands",
        "bpe_consistency_bands",
        "decontaminate_semantic",
        "quality_classifier_bands",
        "boilerplate_strip",
        "domain_mixture_trajectory",
        "ccnet_curation",
    }
)
DRIVER_OMIT = frozenset(QUERIES) - DRIVER_GATE


def driver_queries():
    """The ≤50-entry gate the driver's oracle check sees, in
    registration order."""
    return {k: v for k, v in QUERIES.items() if k in DRIVER_GATE}


def driver_oracles():
    return {k: v for k, v in ORACLE_SQL.items() if k in DRIVER_GATE}
