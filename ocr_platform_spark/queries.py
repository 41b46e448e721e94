"""Driver-contract query catalog: every SURVEY.md §2 operator family as a
named (Spark query, DuckDB oracle SQL) pair over the /root/testdata tables.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names/types line up with the oracle SQL (the driver sorts columns by
name and value-hashes — see /root/repo/__spark_entry__.py docstring), so
every aggregate/computed column is aliased identically on both sides.

Oracle discipline: the SQL is a *genuine reimplementation* of the semantics
in DuckDB (not a table of expected constants), and cross-engine value
stability is engineered, not hoped for:

- sums are computed on DECIMAL or quantized BIGINT (exact, order-independent)
  — never on raw doubles, whose partial-aggregation order differs between
  engines;
- derived doubles come from a *single deterministic op sequence* on exact
  inputs (e.g. ``round(cast(dec as double) / n, 4)``), identical per IEEE-754
  in both engines;
- window ranks always carry a deterministic tie-break key.

Queries whose operators have no SQL equivalent (xxhash64-based MinHash/
SimHash LSH, the difflib fuzzy mapper, the Arrow extraction kernel) are
registered without an oracle → the driver records a rows-only check
(weaker, by design; the strong checks for those live in tests/).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ocr_platform_spark.functions import conversions as C
from ocr_platform_spark.functions import textfns as TX
from ocr_platform_spark.operators import dedup
from ocr_platform_spark.operators.select_mapping import (
    map_select_single_vocab,
    score_select_column,
)
from ocr_platform_spark.operators.partitioning import HOST_SQL, host_of
from ocr_platform_spark.operators.sampling import oracle_bucket_sql
from ocr_platform_spark.staging import stage, staged_glob


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


CATALOG: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # the driver may pass a session built without our factory —
            # executors then lack the package unless we ship it here
            from ocr_platform_spark.session import ensure_shipped

            ensure_shipped(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        CATALOG[name] = QuerySpec(wrapped, oracle)
        return fn

    return deco


# =========================================================================
# Relational core (SURVEY §2.2-§2.7) over the TPC-H-ish tables
# =========================================================================


@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)        AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE)      AS sum_disc_price,
           COUNT(*)                                                      AS n_rows,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 4)                                          AS avg_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1/A3 aggregates + P-filters). Decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("n_rows"),
            F.round(F.sum(price).cast("double") / F.count("*"), 4).alias("avg_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "top_customers",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*)                                   AS n_orders
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 10
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-style dim join + aggregate + deterministic global top-k (O2)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


@q(
    "regional_balance",
    """
    SELECT r.r_name,
           COUNT(*)                                 AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def regional_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two broadcast hash joins (J1/J7: tiny dims) + hash aggregate."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_balance"),
        )
        .orderBy("r_name")
    )


@q(
    "customers_without_orders",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J8 — the ensure-exists / resume primitive)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@q(
    "customers_with_open_orders",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    ORDER BY c_custkey
    """,
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J2/J9 existence check) with pushed-down predicate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@q(
    "orders_topk_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
           CAST(rk AS INT) AS rank
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
                                         o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def orders_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: per-group top-k with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    w = Window.partitionBy("o_custkey").orderBy(price.desc(), "o_orderkey")
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            price.cast("double").alias("totalprice"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@q(
    "lineitem_row_index",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber) - 1 AS INT) AS row_index
    FROM lineitem WHERE l_orderkey <= 800
    """,
)
def lineitem_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: the reference's row_index enumeration per (doc, table-field)
    (``ocr_backend/app/api/ocr_routes.py:625-631``) on relational data."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 800)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.row_number().over(w) - 1).cast("int").alias("row_index"),
    )


@q(
    "order_status_pivot",
    """
    SELECT o_custkey,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
    FROM orders GROUP BY o_custkey
    """,
)
def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 pivot (EAV→wide): explicit value list → single hash aggregate,
    no pivot-values discovery pass."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_custkey")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_custkey",
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_pending"),
    )


@q(
    "part_attrs_unpivot",
    """
    SELECT p_partkey, 'brand' AS attr, p_brand AS value FROM part WHERE p_partkey <= 500
    UNION ALL
    SELECT p_partkey, 'type'  AS attr, p_type  AS value FROM part WHERE p_partkey <= 500
    """,
)
def part_attrs_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 unpivot (wide→EAV) via stack — the reference's wide-dict→EAV-row
    persistence shape (``ocr_routes.py:549-596``)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.expr("stack(2, 'brand', p_brand, 'type', p_type) AS (attr, value)"),
    )


@q(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 DISTINCT."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")


@q(
    "priority_union",
    """
    SELECT o_orderkey, 'urgent' AS priority_class FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, 'high'   AS priority_class FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def priority_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 union of tagged partitions (the reference's text/table field
    re-union, ``ocr_routes.py:521-524,717-727``)."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("priority_class")
    )
    high = o.where(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", F.lit("high").alias("priority_class")
    )
    return urgent.unionByName(high)


@q(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS total_value_micros
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate. Quantized-exact sum."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias(
                "total_value_micros"
            ),
        )
        .orderBy("hour_start", "event_type")
    )


@q(
    "events_props_json",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 JSON parsing (``gemini_ocr.py:209-258``'s from_json face):
    extract a typed value from the JSON ``props`` column and aggregate —
    exact integer sums, cross-engine."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.where(k.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@q(
    "event_type_spans",
    """
    SELECT event_type,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def event_type_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 min/max timestamp + distinct-count aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@q(
    "voucher_totals",
    """
    SELECT o.o_orderkey AS voucher_id,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS subtotal,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(l.l_tax AS DECIMAL(18,4))) AS DOUBLE) AS tax_amount,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS discount_amount,
           CAST((SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                 + SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_tax AS DECIMAL(18,4)))
                 - SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_discount AS DECIMAL(18,4))))
                * CASE WHEN o.o_orderstatus = 'O' THEN -1 ELSE 1 END AS DOUBLE) AS voucher_total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey <= 3000
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def voucher_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's voucher aggregation (A3/A4: per-voucher SUM(amount),
    SUM(qty), SUM(tax), SUM(discount); total = sub + tax − disc,
    ``ocr_backend/app/tally/utils.py:149-186``) with the sales-side sign
    flip (F16, ``app/tally/session.py:474-476``) keyed on order status."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 3000)
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    sub = F.sum(price)
    tax = F.sum(price * F.col("l_tax").cast("decimal(18,4)"))
    disc = F.sum(price * F.col("l_discount").cast("decimal(18,4)"))
    sign = F.when(F.col("o_orderstatus") == "O", -1).otherwise(1)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
            sub.cast("double").alias("subtotal"),
            tax.cast("double").alias("tax_amount"),
            disc.cast("double").alias("discount_amount"),
            ((sub + tax - disc) * sign).cast("double").alias("voucher_total"),
        )
        .select(
            F.col("o_orderkey").alias("voucher_id"),
            "total_qty", "subtotal", "tax_amount", "discount_amount", "voucher_total",
        )
    )


@q(
    "party_name_normalization",
    r"""
    WITH fx AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN 'M/s.  ' || c_name || '  Pvt Ltd'
                  WHEN c_custkey % 3 = 1 THEN 'm/s ' || c_name || ' PRIVATE LIMITED'
                  ELSE c_name || '   Ltd.' END AS raw
      FROM customer
    )
    SELECT c_custkey, raw,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(lower(raw), '^m/s\.?\s+', '', 'g'),
               '\s+(pvt\.?\s+ltd\.?|private\s+limited|ltd\.?)\s*$', '', 'g'),
             '\s+', ' ', 'g')) AS normalized
    FROM fx
    """,
)
def party_name_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 ``normalize_party_name`` (``app/tally/utils.py:114-146``): strip
    M/s prefixes and Pvt-Ltd-style suffixes, collapse whitespace — the
    anchored regexp_replace chain, lowercased canonical form."""
    c = _t(spark, sf_dir, "customer")
    raw = (
        F.when(
            F.pmod("c_custkey", F.lit(3)) == 0,
            F.concat(F.lit("M/s.  "), F.col("c_name"), F.lit("  Pvt Ltd")),
        )
        .when(
            F.pmod("c_custkey", F.lit(3)) == 1,
            F.concat(F.lit("m/s "), F.col("c_name"), F.lit(" PRIVATE LIMITED")),
        )
        .otherwise(F.concat(F.col("c_name"), F.lit("   Ltd.")))
    )
    fx = c.select("c_custkey", raw.alias("raw"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower("raw"), r"^m/s\.?\s+", ""),
                r"\s+(pvt\.?\s+ltd\.?|private\s+limited|ltd\.?)\s*$",
                "",
            ),
            r"\s+",
            " ",
        )
    )
    return fx.select("c_custkey", "raw", norm.alias("normalized"))


@q(
    "first_order_per_customer",
    """
    SELECT o_custkey,
           arg_min(o_orderkey, epoch(o_orderdate) * 100000 + o_orderkey) AS first_orderkey
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 first-match semantics (``document_routes.py:516`` ``.first()``)
    as ``min_by`` on a unique (date, key) scalar — no window, one agg."""
    o = _t(spark, sf_dir, "orders")
    order_key = F.unix_timestamp("o_orderdate") * 100000 + F.col("o_orderkey")
    return (
        o.groupBy("o_custkey")
        .agg(F.min_by("o_orderkey", order_key).alias("first_orderkey"))
        .orderBy("o_custkey")
    )


@q(
    "order_rollup",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals (engine capability beyond the reference's
    flat GROUP BYs — SURVEY §2.4 notes the reference has none)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
        .orderBy("status", "priority")
    )


@q("host_cardinality")
def host_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct over hosts + HLL-style scale story (sketch
    results are engine-specific → rows-only driver check; exactness is
    asserted against countDistinct in tests at small scale, and the
    sketch's target value is pinned cross-engine by the
    ``host_cardinality_exact`` companion query below)."""
    docs = _synth_docs(spark)
    return docs.select(host_of("url").alias("host")).agg(
        F.approx_count_distinct("host", 0.01).alias("approx_hosts"),
        F.countDistinct("host").alias("exact_hosts"),
    )


@q(
    "host_cardinality_exact",
    f"""
    SELECT CAST(COUNT(DISTINCT {HOST_SQL.format(url='url')}) AS BIGINT)
             AS exact_hosts,
           CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM read_parquet('{staged_glob("host_urls")}')
    """,
)
def host_cardinality_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact companion of ``host_cardinality``: the url column is staged,
    and BOTH engines independently derive the host (the ONE shared regex,
    partitioning.HOST_RE ≡ partitioning.HOST_SQL) and count distinct —
    pinning the exact value the HLL sketch approximates."""
    urls = stage(_synth_docs(spark).select("url"), "host_urls", partitions=2)
    return urls.agg(
        F.countDistinct(host_of("url")).alias("exact_hosts"),
        F.count("*").alias("n_urls"),
    )


# =========================================================================
# Typed conversion layer (SURVEY §1.2, §2.8) — fixtures derived on the fly
# from the relational tables; both engines run the same conversion logic.
# =========================================================================

_DATE_RENDER_SPARK = [
    "yyyy-MM-dd",
    "dd/MM/yyyy",
    "dd-MMM-yyyy",
    "MMMM d, yyyy",
    "dd.MM.yyyy",
]
_DATE_RENDER_DUCK = ["%Y-%m-%d", "%d/%m/%Y", "%d-%b-%Y", "%B %-d, %Y", "%d.%m.%Y"]

_DUCK_TRY_FORMATS = [
    "%Y-%m-%d",
    "%d/%m/%Y",
    "%m/%d/%Y",
    "%d-%m-%Y",
    "%m-%d-%Y",
    "%d-%b-%Y",
    "%d-%B-%Y",
    "%d.%m.%Y",
    "%Y/%m/%d",
    "%B %-d, %Y",
    "%b %-d, %Y",
    "%-d %B %Y",
    "%-d %b %Y",
    "%Y-%m-%d %H:%M:%S",
    "%d/%m/%Y %H:%M",
]
_DUCK_PARSE = "COALESCE(" + ", ".join(
    f"try_strptime(raw, '{f}')" for f in _DUCK_TRY_FORMATS
) + ")"


@q(
    "convert_date_multiformat",
    f"""
    WITH fx AS (
      SELECT o_orderkey,
             CASE o_orderkey % 5
               {' '.join(f"WHEN {i} THEN strftime(o_orderdate, '{f}')" for i, f in enumerate(_DATE_RENDER_DUCK))}
             END AS raw
      FROM orders WHERE o_orderkey <= 5000
    )
    SELECT o_orderkey, raw,
           strftime({_DUCK_PARSE}, '%d/%m/%Y') AS converted
    FROM fx
    """,
)
def convert_date_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9: the 15-format date parser round-trip. Each order date is
    rendered in one of 5 formats (keyed by orderkey), then re-parsed by the
    full multi-format chain and re-rendered DD/MM/YYYY (the reference's
    canonical date string, ``data_conversion.py:73,141``)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 5000)
    raw = F.lit(None).cast("string")
    branch = None
    for i, fmt in enumerate(_DATE_RENDER_SPARK):
        cond = F.pmod(F.col("o_orderkey"), F.lit(5)) == i
        rendered = F.date_format("o_orderdate", fmt)
        branch = F.when(cond, rendered) if branch is None else branch.when(cond, rendered)
    raw = branch
    fx = o.select("o_orderkey", raw.alias("raw"))
    return fx.select(
        "o_orderkey", "raw", C.convert_date("raw").getField("value").alias("converted")
    )


@q(
    "convert_currency_cases",
    r"""
    WITH fx AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderkey % 3 = 0 THEN '$'
                  WHEN o_orderkey % 3 = 1 THEN '₹'
                  ELSE 'EUR ' END AS sym
      FROM orders WHERE o_orderkey <= 5000
    ), built AS (
      SELECT o_orderkey,
             sym || format('{:,}', cents // 100) || '.' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS raw
      FROM fx
    ), cleaned AS (
      SELECT o_orderkey, raw,
             replace(regexp_replace(trim(raw), '[^0-9,.\-]', '', 'g'), ',', '') AS c
      FROM built
    )
    SELECT o_orderkey, raw,
           CASE WHEN regexp_matches(c, '^-?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$')
                THEN regexp_replace(c, '^(-?)0+([0-9])', '\1\2')
                ELSE NULL END AS converted,
           CASE WHEN regexp_matches(c, '^-?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$')
                THEN NULL ELSE 'err' END AS has_error
    FROM cleaned
    """,
)
def convert_currency_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: currency symbol strip + de-comma + Decimal parse
    (``data_conversion.py:209-232``). Strings built exactly (integer math)
    in both engines: '$1,234.56' / '₹…' / 'EUR …'."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 5000)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    sym = (
        F.when(F.pmod("o_orderkey", F.lit(3)) == 0, "$")
        .when(F.pmod("o_orderkey", F.lit(3)) == 1, "₹")
        .otherwise("EUR ")
    )
    raw = F.concat(
        sym,
        F.format_number((cents / 100).cast("long"), 0),
        F.lit("."),
        F.lpad((F.pmod(cents, F.lit(100))).cast("string"), 2, "0"),
    )
    fx = o.select("o_orderkey", raw.alias("raw"))
    conv = C.convert_currency("raw")
    return fx.select(
        "o_orderkey",
        "raw",
        conv.getField("value").alias("converted"),
        F.when(conv.getField("error").isNotNull(), "err").alias("has_error"),
    )


@q(
    "convert_number_cases",
    r"""
    WITH fx AS (
      SELECT l_orderkey * 10 + l_linenumber AS fx_id,
             CASE WHEN l_orderkey % 4 = 0
                  THEN format('{:,}', CAST(round(l_extendedprice) AS BIGINT))
                  WHEN l_orderkey % 4 = 1
                  THEN CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
                  WHEN l_orderkey % 4 = 2
                  THEN CAST(round(l_extendedprice) AS BIGINT) || '.' ||
                       lpad(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) % 100 AS VARCHAR), 2, '0')
                  ELSE 'not-a-number' END AS raw
      FROM lineitem WHERE l_orderkey <= 2000
    ), cleaned AS (
      SELECT fx_id, raw, replace(trim(raw), ',', '') AS c FROM fx
    )
    SELECT fx_id, raw,
           CASE WHEN regexp_matches(c, '[.eE]')
                THEN CASE WHEN try_cast(c AS DOUBLE) IS NOT NULL
                          THEN CAST(try_cast(c AS DOUBLE) AS VARCHAR) ELSE raw END
                ELSE CASE WHEN regexp_matches(c, '^-?[0-9]+$')
                          THEN CAST(try_cast(c AS BIGINT) AS VARCHAR) ELSE raw END
           END AS converted,
           CASE WHEN (CASE WHEN regexp_matches(c, '[.eE]')
                           THEN try_cast(c AS DOUBLE) IS NULL
                           ELSE NOT regexp_matches(c, '^-?[0-9]+$') END)
                THEN 'err' END AS has_error
    FROM cleaned
    """,
)
def convert_number_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: NUMBER conversion (comma strip; int unless '.'/'e';
    ``data_conversion.py:61-66``) incl. the error-as-data contract."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 2000)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    whole = F.round(F.col("l_extendedprice"), 0).cast("long")
    raw = (
        F.when(F.pmod("l_orderkey", F.lit(4)) == 0, F.format_number(whole, 0))
        .when(F.pmod("l_orderkey", F.lit(4)) == 1, cents.cast("string"))
        .when(
            F.pmod("l_orderkey", F.lit(4)) == 2,
            F.concat(
                whole.cast("string"),
                F.lit("."),
                F.lpad(F.pmod(cents, F.lit(100)).cast("string"), 2, "0"),
            ),
        )
        .otherwise("not-a-number")
    )
    fx = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("fx_id"),
        raw.alias("raw"),
    )
    conv = C.convert_number("raw")
    return fx.select(
        "fx_id",
        "raw",
        conv.getField("value").alias("converted"),
        F.when(conv.getField("error").isNotNull(), "err").alias("has_error"),
    )


_BOOL_TOKENS = [
    "true", "YES", " on ", "Enabled", "1", "active", "y", "ENABLE",
    "false", "No", " off ", "Disabled", "0", "inactive", "n", "DISABLE",
    "maybe", "2", "", "truthy",
]
_BOOL_SQL_ARRAY = "[" + ", ".join(f"'{t}'" for t in _BOOL_TOKENS) + "]"


@q(
    "convert_boolean_cases",
    f"""
    WITH fx AS (
      SELECT event_id, ({_BOOL_SQL_ARRAY})[CAST(event_id % 20 AS INT) + 1] AS raw
      FROM events
    )
    SELECT event_id, raw,
      CASE WHEN raw IS NULL OR trim(raw) = '' THEN NULL
           WHEN lower(trim(raw)) IN ('true','1','yes','y','on','enable','enabled','active') THEN 'true'
           WHEN lower(trim(raw)) IN ('false','0','no','n','off','disable','disabled','inactive') THEN 'false'
           ELSE raw END AS converted,
      CASE WHEN raw IS NOT NULL AND trim(raw) <> ''
            AND lower(trim(raw)) NOT IN
              ('true','1','yes','y','on','enable','enabled','active',
               'false','0','no','n','off','disable','disabled','inactive')
           THEN 'err' END AS has_error
    FROM fx
    """,
)
def convert_boolean_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: the 8+8 boolean token sets (``data_conversion.py:235-258``);
    failures keep the original value and carry an error."""
    e = _t(spark, sf_dir, "events")
    tokens = F.array(*[F.lit(t) for t in _BOOL_TOKENS])
    fx = e.select(
        "event_id",
        F.element_at(tokens, (F.pmod("event_id", F.lit(20)) + 1).cast("int")).alias("raw"),
    )
    conv = C.convert_boolean("raw")
    return fx.select(
        "event_id",
        "raw",
        conv.getField("value").alias("converted"),
        F.when(conv.getField("error").isNotNull(), "err").alias("has_error"),
    )


@q(
    "convert_email_cases",
    """
    WITH fx AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN replace(c_name, '#', '-') || '.example.com'
                  ELSE replace(c_name, '#', '.') || '@Example.COM' END AS raw
      FROM customer
    )
    SELECT c_custkey, raw,
           CASE WHEN contains(trim(raw), '@') AND contains(trim(raw), '.')
                THEN lower(trim(raw)) ELSE raw END AS converted,
           CASE WHEN NOT (contains(trim(raw), '@') AND contains(trim(raw), '.'))
                THEN 'err' END AS has_error
    FROM fx
    """,
)
def convert_email_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: email shape check + lowercase (``data_conversion.py:76-80``);
    every 7th synthesized address lacks '@' → error carried, original kept."""
    c = _t(spark, sf_dir, "customer")
    raw = F.when(
        F.pmod("c_custkey", F.lit(7)) == 0,
        F.concat(F.regexp_replace("c_name", "#", "-"), F.lit(".example.com")),
    ).otherwise(F.concat(F.regexp_replace("c_name", "#", "."), F.lit("@Example.COM")))
    fx = c.select("c_custkey", raw.alias("raw"))
    conv = C.convert_email("raw")
    return fx.select(
        "c_custkey",
        "raw",
        conv.getField("value").alias("converted"),
        F.when(conv.getField("error").isNotNull(), "err").alias("has_error"),
    )


# =========================================================================
# Text analysis / curation (documents table: doc_id, text, lang, source,
# n_chars)
# =========================================================================

_STOP_RE = {lang: TX.stopword_regex(words) for lang, words in TX.LANG_PROFILES}

#: SQL faces of the script-level language gate — generated from the same
#: textfns constants the Spark expressions use, so the two engines cannot
#: drift (column class, threshold, precedence order all shared).
_SCRIPT_COUNTS_SQL = ", ".join(
    f"length(text) - length(regexp_replace(text, '[{rng}]', '', 'g')) AS c_{lang}"
    for lang, rng in TX.SCRIPT_RANGES
) + (
    f", length(text) - length(regexp_replace(text, '[{TX.LATIN_RANGE}]', '', 'g'))"
    " AS c_lat"
)
_SCRIPT_WHENS_SQL = " ".join(
    f"WHEN c_{lang} >= {TX.SCRIPT_MIN_CHARS} AND c_{lang} * 2 >= c_lat THEN '{lang}'"
    for lang, _ in TX.SCRIPT_RANGES
)

#: deterministic non-Latin fixture pages appended to the doc_lang_id
#: oracle pair (the testdata corpus is Latin-only; a real crawl is not) —
#: identical literals on both engines. The mixed row pins the dominance
#: rule: a Latin page quoting two ideographs stays English.
_LANG_FIXTURES: list[tuple[int, str]] = [
    (900001, "这是一个中文测试文档 包含足够的汉字字符 用于脚本检测"),
    (900002, "これは日本語のテスト文書です ひらがなとカタカナを含みます"),
    (900003, "이것은 한국어 테스트 문서입니다 한글 문자가 충분합니다"),
    (900004, "Это русский тестовый документ с достаточным количеством букв"),
    (900005, "هذه وثيقة اختبار باللغة العربية تحتوي على حروف كافية"),
    (900006, "the quick brown fox jumps over the lazy dog and that is that"),
    (900007, "English text quoting 日本 briefly stays English in the mix"),
]
_LANG_FIXTURES_SQL = ", ".join(f"({i}, '{t}')" for i, t in _LANG_FIXTURES)


@q(
    "doc_token_stats",
    r"""
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           length(text) - length(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS n_punct
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation counting (JVM-side regex only)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.punct_count("text").alias("n_punct"),
    )


@q(
    "doc_lang_id",
    f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT CAST(doc_id AS BIGINT), text
      FROM (VALUES {_LANG_FIXTURES_SQL}) AS fx(doc_id, text)
    ),
    scores AS (
      SELECT doc_id,
        {', '.join(f"len(regexp_extract_all(lower(text), '{_STOP_RE[lang]}')) AS s_{lang}" for lang, _ in TX.LANG_PROFILES)},
        {_SCRIPT_COUNTS_SQL}
      FROM docs
    )
    SELECT doc_id,
      CASE {_SCRIPT_WHENS_SQL}
           WHEN greatest(s_en, s_de, s_es, s_fr, s_hi) = 0 THEN 'und'
           {' '.join(f"WHEN s_{lang} = greatest(s_en, s_de, s_es, s_fr, s_hi) THEN '{lang}'" for lang, _ in TX.LANG_PROFILES)}
      END AS pred_lang
    FROM scores
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier language ID (functions/textfns.lang_id): Unicode-block
    script gate first (ja/ko/zh/ru/ar by integer character thresholds
    with a Latin-dominance guard — the first thing a real Common-Crawl
    corpus needs), stopword-profile argmax within Latin script (ties →
    first profile). The testdata corpus is Latin-only, so deterministic
    non-Latin fixture pages (identical literals in both engines,
    including a mixed Latin-quoting-CJK row) extend the oracle surface."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fx = spark.createDataFrame(_LANG_FIXTURES, "doc_id long, text string")
    return d.unionByName(fx).select(
        "doc_id", TX.lang_id("text").alias("pred_lang")
    )


@q(
    "doc_quality",
    r"""
    WITH c AS (
      SELECT doc_id,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS toks,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|that|with)\b')) AS DOUBLE) AS stops,
        CAST(length(text) - length(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) AS punct
      FROM documents
    )
    SELECT doc_id,
      round(
        least(toks / 100.0, 1.0) * 0.4
        + least((CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END) * 5.0, 1.0) * 0.3
        + (1.0 - least((CASE WHEN toks > 0 THEN punct / toks ELSE 1.0 END) * 2.0, 1.0)) * 0.3,
        4) AS quality
    FROM c
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length band + stopword density − punctuation noise."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score("text").alias("quality"))


@q(
    "doc_gopher_rules",
    r"""
    WITH c AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g')) AS norm,
             string_split(COALESCE(text, ''), chr(10)) AS lines
      FROM documents
    ),
    s AS (
      SELECT doc_id,
        CAST(CASE WHEN norm = '' THEN 0
             ELSE len(string_split(norm, ' ')) END AS INT) AS n_words,
        CAST(CASE WHEN norm = '' THEN 0
             ELSE length(norm) - (len(string_split(norm, ' ')) - 1) END AS INT)
          AS n_word_chars,
        CAST(length(text) - length(replace(text, '#', '')) AS INT) AS n_hash,
        CAST((length(text) - length(replace(text, '...', ''))) // 3 AS INT)
          AS n_ellipsis,
        CAST(len(lines) AS INT) AS n_lines,
        CAST(len(list_filter(lines,
             l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS INT)
          AS n_bullet_lines,
        CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...')) AS INT)
          AS n_ellipsis_lines,
        CAST(len(list_filter(string_split(norm, ' '),
             w -> regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha_words,
        CAST((CASE WHEN list_contains(string_split(norm, ' '), 'the') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(string_split(norm, ' '), 'be') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(string_split(norm, ' '), 'to') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(string_split(norm, ' '), 'of') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(string_split(norm, ' '), 'and') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(string_split(norm, ' '), 'that') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(string_split(norm, ' '), 'have') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(string_split(norm, ' '), 'with') THEN 1 ELSE 0 END)
          AS INT) AS n_stopwords
      FROM c
    )
    SELECT *,
      (n_words BETWEEN 50 AND 100000
       AND 3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words
       AND 10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words
       AND 10 * n_bullet_lines < 9 * n_lines
       AND 10 * n_ellipsis_lines < 3 * n_lines
       AND 5 * n_alpha_words >= 4 * n_words
       AND n_stopwords >= 2) AS gopher_keep
    FROM s ORDER BY doc_id
    """,
)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher quality-filter rule set (Rae et al. 2021, App.
    A1.1) as one fused scan of exact-integer column expressions
    (functions/textfns.gopher_stats): word-count band 50..100k, mean word
    length 3..10 (integer cross-multiplied, no float ratio), '#'/'...'
    symbol-to-word ratios ≤0.1, <90% bullet-started lines, <30%
    ellipsis-ended lines, ≥80% alphabetic words, ≥2 of the paper's 8 stop
    words. Every count and every gate recomputes directly in the DuckDB
    oracle over the raw parquet — no staging. At scale this is one
    map-side projection fused into the corpus scan, the same shape as the
    curation funnel's gates."""
    d = _t(spark, sf_dir, "documents")
    s = d.select("doc_id", TX.gopher_stats("text").alias("g")).select(
        "doc_id", "g.*"
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & (3 * F.col("n_words") <= F.col("n_word_chars"))
        & (F.col("n_word_chars") <= 10 * F.col("n_words"))
        & (10 * F.col("n_hash") <= F.col("n_words"))
        & (10 * F.col("n_ellipsis") <= F.col("n_words"))
        & (10 * F.col("n_bullet_lines") < 9 * F.col("n_lines"))
        & (10 * F.col("n_ellipsis_lines") < 3 * F.col("n_lines"))
        & (5 * F.col("n_alpha_words") >= 4 * F.col("n_words"))
        & (F.col("n_stopwords") >= 2)
    )
    return s.withColumn("gopher_keep", keep).orderBy("doc_id")


@q(
    "doc_case_stats",
    r"""
    SELECT doc_id,
           round(CASE WHEN length(text) > 0
                 THEN CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                      / length(text)
                 ELSE 0.0 END, 4) AS upper_ratio,
           length(text) - length(replace(text, ' ', '')) AS n_spaces
    FROM documents
    """,
)
def doc_case_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uppercase-ratio + space-count text features (quality signals)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(TX.uppercase_ratio("text"), 4).alias("upper_ratio"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).cast("long").alias(
            "n_spaces"
        ),
    )


@q(
    "doc_exact_dups",
    r"""
    WITH fp AS (
      SELECT doc_id AS id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    )
    SELECT fp, MIN(id) AS keep_id, COUNT(*) AS n_dups
    FROM fp GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on the normalized-text md5 fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d, "doc_id", "text")


@q(
    "doc_dedup_survivors",
    r"""
    SELECT doc_id FROM (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1 ORDER BY doc_id
    """,
)
def doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the min-id representative per fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return (
        dedup.drop_exact_duplicates(d, "doc_id", "text").select("doc_id").orderBy("doc_id")
    )


@q(
    "doc_decontam",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
            FROM t WHERE len(ts) >= 8)
    ),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
    tot AS (SELECT doc_id, COUNT(DISTINCT g) AS n_grams
            FROM g WHERE doc_id % 7 <> 0 GROUP BY 1),
    hit AS (SELECT gg.doc_id, COUNT(DISTINCT gg.g) AS n_hits
            FROM g gg JOIN ev USING (g) WHERE gg.doc_id % 7 <> 0 GROUP BY 1)
    SELECT t.doc_id,
           COALESCE(tot.n_grams, 0) AS n_grams,
           COALESCE(hit.n_hits, 0) AS n_hits,
           COALESCE(hit.n_hits, 0) >= 1 AS contaminated
    FROM t LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
    WHERE t.doc_id % 7 <> 0 ORDER BY t.doc_id
    """,
)
def doc_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Llama 13-gram rule, n=8 here for the
    short synthetic docs): docs with ``doc_id % 7 = 0`` play the eval set,
    the rest are the training corpus; any train doc sharing an exact word
    8-gram with the eval set is flagged. The eval gram set broadcasts and
    the corpus is never shuffled (see operators/decontam.py for the 100 TB
    plan shape). The oracle is staging-free: DuckDB recomputes gram
    construction, set membership, and per-doc tallies from the raw parquet."""
    from ocr_platform_spark.operators.decontam import (
        eval_ngram_set,
        mark_contaminated,
    )

    d = _t(spark, sf_dir, "documents")
    ev = eval_ngram_set(d.where(F.col("doc_id") % 7 == 0), "text", n=8)
    train = d.where(F.col("doc_id") % 7 != 0)
    return mark_contaminated(train, ev, "doc_id", "text", n=8).orderBy("doc_id")


@q(
    "doc_decontam_by_suite",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
            FROM t WHERE len(ts) >= 8)
    ),
    ev AS (
      SELECT DISTINCT
             CASE WHEN doc_id % 14 = 0 THEN 'suite_a' ELSE 'suite_b' END AS suite,
             g
      FROM g WHERE doc_id % 7 = 0
    ),
    tg AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 7 <> 0)
    SELECT tg.doc_id, ev.suite,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           COUNT(*) >= 1 AS contaminated
    FROM tg JOIN ev USING (g)
    GROUP BY 1, 2
    ORDER BY doc_id, suite
    """,
)
def doc_decontam_by_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark contamination audit (operators/decontam.
    contamination_by_suite): the eval pool (``doc_id % 7 = 0``) is split
    into two suites (``% 14`` → suite_a, the rest suite_b) and every
    training doc reports, PER SUITE, how many of its distinct 8-grams
    leak — the audit a real decontamination run publishes alongside the
    corpus-wide drop set (which benchmark leaked, how hard, into which
    documents). Clean (doc, suite) pairs emit no row. The multi-suite gram
    table stays benchmark-sized and broadcasts; the corpus explodes its
    grams exactly once regardless of suite count. Staging-free oracle:
    DuckDB recomputes gram construction, suite assignment, and the
    per-(doc, suite) tallies from the raw parquet."""
    from ocr_platform_spark.operators.decontam import (
        contamination_by_suite,
        eval_ngram_set_by_suite,
    )

    d = _t(spark, sf_dir, "documents")
    ev_docs = d.where(F.col("doc_id") % 7 == 0).select(
        F.when(F.col("doc_id") % 14 == 0, F.lit("suite_a"))
        .otherwise(F.lit("suite_b"))
        .alias("suite"),
        "text",
    )
    sg = eval_ngram_set_by_suite(ev_docs, "suite", "text", n=8)
    train = d.where(F.col("doc_id") % 7 != 0)
    return contamination_by_suite(train, sg, "doc_id", "text", n=8).orderBy(
        "doc_id", "suite"
    )


@q(
    "doc_decontam_strip",
    f"""
    WITH po AS (SELECT * FROM read_parquet('{staged_glob("dstrip_posts")}')),
    eh AS (SELECT * FROM read_parquet('{staged_glob("dstrip_eval_hs")}')),
    m AS (SELECT po.id, po.pos FROM po JOIN eh USING (h)),
    pe AS (
      SELECT id, pos,
             MAX(pos + 30) OVER (
               PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM m
    ),
    i AS (
      SELECT id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pe
    ),
    spans AS (
      SELECT id, MIN(pos) AS span_start, MAX(pos) + 30 AS span_end
      FROM i GROUP BY id, island
    ),
    docs AS (
      SELECT d.doc_id AS id, d.text FROM documents d
      JOIN (SELECT DISTINCT id FROM spans) s ON s.id = d.doc_id
    ),
    segs AS (
      SELECT id,
             COALESCE(LAG(span_end) OVER (PARTITION BY id ORDER BY span_start), 0)
               AS seg_start,
             span_start AS seg_end
      FROM spans
      UNION ALL
      SELECT s.id, MAX(s.span_end), length(d.text)
      FROM spans s JOIN docs d ON s.id = d.id
      GROUP BY s.id, length(d.text)
    ),
    stats AS (
      SELECT id, COUNT(*) AS n_spans_cut,
             SUM(span_end - span_start) AS n_chars_cut
      FROM spans GROUP BY id
    ),
    rebuilt AS (
      SELECT segs.id,
             string_agg(
               substr(d.text, seg_start + 1, greatest(seg_end - seg_start, 0)),
               '' ORDER BY seg_start) AS cut
      FROM segs JOIN docs d ON segs.id = d.id
      GROUP BY segs.id
    )
    SELECT d.id AS doc_id, r.cut AS text,
           st.n_spans_cut,
           CAST(st.n_chars_cut AS BIGINT) AS n_chars_cut
    FROM docs d
    JOIN rebuilt r ON d.id = r.id
    JOIN stats st ON d.id = st.id
    ORDER BY doc_id
    """,
)
def doc_decontam_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL decontamination (operators/decontam.strip_eval_spans):
    training docs flagged by the exact 8-gram rule are REWRITTEN — the
    character spans whose 30-grams occur anywhere in the eval set
    (``doc_id % 7 = 0``) are cut out, the doc's own prose survives —
    instead of dropping whole documents (``doc_decontam``'s verdict).
    The flag restriction runs FIRST, so char-gram postings exist only for
    contaminated docs (contamination-sized, not corpus-sized); the eval
    side stages its distinct gram hashes (benchmark-sized, broadcast).
    BOTH engines replay the semi-join marking, the gaps-and-islands span
    merge, and the byte-exact complement-segment surgery from the staged
    frames."""
    from ocr_platform_spark.operators.decontam import (
        eval_ngram_set,
        mark_contaminated,
        strip_eval_spans,
    )

    d = _t(spark, sf_dir, "documents")
    ev_docs = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    ev = eval_ngram_set(ev_docs, "text", n=8)
    flagged = (
        mark_contaminated(train, ev, "doc_id", "text", n=8)
        .where(F.col("contaminated"))
        .select("doc_id")
    )
    hit = train.join(flagged, "doc_id", "left_semi")
    names = {"corpus_posts": ("dstrip_posts", 4), "eval_hs": ("dstrip_eval_hs", 1)}
    return strip_eval_spans(
        hit,
        ev_docs,
        "doc_id",
        "text",
        k=30,
        persist_stage=lambda df, name: stage(
            df, names[name][0], partitions=names[name][1]
        ),
    ).orderBy("doc_id")


@q(
    "doc_decontam_fuzzy",
    f"""
    WITH hs AS (SELECT * FROM read_parquet('{staged_glob("fdecon_hs_train")}')),
    ev AS (SELECT * FROM read_parquet('{staged_glob("fdecon_hs_eval")}')),
    c AS (SELECT * FROM read_parquet('{staged_glob("fdecon_cands")}')),
    j AS (
      SELECT c.id, c.eval_id,
             len(list_intersect(h.hs, e.hs)) AS n_common,
             len(h.hs) + len(e.hs) - len(list_intersect(h.hs, e.hs)) AS n_union
      FROM c JOIN hs h ON h.id = c.id JOIN ev e ON e.eval_id = c.eval_id
    ),
    s AS (
      SELECT id, eval_id,
             CAST(n_common AS DOUBLE) / n_union AS jaccard,
             COUNT(*) OVER (PARTITION BY id) AS n_candidates,
             row_number() OVER (PARTITION BY id
                                ORDER BY CAST(n_common AS DOUBLE) / n_union DESC,
                                         eval_id) AS rk
      FROM j WHERE n_union > 0
    )
    SELECT h.id AS doc_id,
           CAST(COALESCE(s.n_candidates, 0) AS INT) AS n_candidates,
           s.eval_id AS best_eval_id,
           s.jaccard AS best_jaccard,
           COALESCE(s.jaccard >= 0.5, FALSE) AS contaminated
    FROM hs h LEFT JOIN s ON s.id = h.id AND s.rk = 1
    ORDER BY h.id
    """,
)
def doc_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-match decontamination (operators/decontam.mark_contaminated_
    fuzzy): docs with ``doc_id % 7 = 0`` play the benchmark, the rest the
    training corpus; any train doc whose shingle Jaccard against some eval
    doc reaches 0.5 is flagged — the fuzzy sibling of ``doc_decontam``
    that catches paraphrased eval leakage the exact 8-gram rule misses.
    The xxhash64 MinHash banding has no DuckDB equivalent, so the query
    splits at the staged boundary exactly like ``minhash_near_dups``: the
    hashed shingle sets (both sides) and the band-collision candidates are
    materialized, and BOTH engines replay the exact-Jaccard verification,
    the per-doc best-match selection (jaccard DESC, eval_id ASC — a total
    order), and the threshold gate. The eval side is benchmark-sized →
    broadcast; zero corpus-sized shuffles (plan shape in decontam.py)."""
    from ocr_platform_spark.operators.decontam import mark_contaminated_fuzzy

    d = _t(spark, sf_dir, "documents")
    ev_docs = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    names = {"hs_train": ("fdecon_hs_train", 4), "hs_eval": ("fdecon_hs_eval", 1),
             "cands": ("fdecon_cands", 1)}
    return mark_contaminated_fuzzy(
        train,
        ev_docs,
        "doc_id",
        "text",
        threshold=0.5,
        persist_stage=lambda df, name: stage(df, names[name][0], partitions=names[name][1]),
    ).orderBy("doc_id")


@q(
    "decontam_lsh_recall",
    f"""
    WITH hs AS (SELECT * FROM read_parquet('{staged_glob("drecall_hs_train")}')),
    ev AS (SELECT * FROM read_parquet('{staged_glob("drecall_hs_eval")}')),
    c AS (SELECT * FROM read_parquet('{staged_glob("drecall_cands")}')),
    tr AS (SELECT id, unnest(hs) AS h FROM hs),
    eg AS (SELECT eval_id, unnest(hs) AS h FROM ev),
    inter AS (
      SELECT tr.id, eg.eval_id, COUNT(*) AS n_common
      FROM tr JOIN eg USING (h) GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.id, i.eval_id
      FROM inter i JOIN hs ON hs.id = i.id JOIN ev ON ev.eval_id = i.eval_id
      WHERE CAST(i.n_common AS DOUBLE)
            / (len(hs.hs) + len(ev.hs) - i.n_common) >= 0.5
    ),
    cfg(rows_per_band, n_bands) AS (VALUES (1, 16), (2, 8), (4, 4), (8, 2)),
    caught AS (
      SELECT c.rows_per_band, COUNT(*) AS n_caught
      FROM c JOIN truth USING (id, eval_id) GROUP BY 1
    ),
    tc AS (SELECT COUNT(*) AS n_true FROM truth)
    SELECT CAST(cfg.rows_per_band AS INT) AS rows_per_band,
           CAST(cfg.n_bands AS INT) AS n_bands,
           tc.n_true,
           COALESCE(ca.n_caught, 0) AS n_caught,
           CASE WHEN tc.n_true > 0
                THEN round(CAST(COALESCE(ca.n_caught, 0) AS DOUBLE) / tc.n_true, 4)
           END AS recall
    FROM cfg CROSS JOIN tc
    LEFT JOIN caught ca ON ca.rows_per_band = cfg.rows_per_band
    ORDER BY rows_per_band
    """,
)
def decontam_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-recall report for fuzzy decontamination (operators/decontam.
    banding_recall_report): of the (train, eval) pairs whose EXACT shingle
    Jaccard reaches the 0.5 contamination threshold, what fraction does each
    MinHash banding configuration (k=16; 16×1 / 8×2 / 4×4 / 2×8 bands)
    surface as a candidate? The sizing table a user reads before picking
    ``decontam_fuzzy_rows_per_band`` — the same justify-the-approximation
    discipline as ``dedup_lsh_recall``. Ground truth is sparse (explode +
    equi-join on the shingle hash — exhaustive for thresholds > 0, never
    all-pairs); the eval side broadcasts. The hashed shingle sets and the
    multi-config candidates are staged; BOTH engines replay truth, catch
    counts, and recall."""
    from ocr_platform_spark.operators.decontam import (
        banding_candidates_multi,
        banding_recall_report,
    )
    from ocr_platform_spark.operators.dedup import hashed_shingle_sets

    d = _t(spark, sf_dir, "documents")
    hs_c = stage(
        hashed_shingle_sets(d.where(F.col("doc_id") % 7 != 0), "doc_id", "text"),
        "drecall_hs_train",
        partitions=4,
    )
    hs_e = stage(
        hashed_shingle_sets(
            d.where(F.col("doc_id") % 7 == 0), "doc_id", "text"
        ).withColumnRenamed("id", "eval_id"),
        "drecall_hs_eval",
        partitions=1,
    )
    cands = stage(banding_candidates_multi(hs_c, hs_e), "drecall_cands", partitions=1)
    return banding_recall_report(hs_c, hs_e, cands, threshold=0.5).orderBy(
        "rows_per_band"
    )


@q(
    "doc_split_assign",
    f"""
    WITH b AS (
      SELECT doc_id, {oracle_bucket_sql("doc_id", 1000)} AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id
    """,
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from an md5 bucket
    of the document key — a pure column expression (no shuffle, no rand()),
    so the same doc lands in the same split on every run, cluster size, and
    engine. The oracle recomputes the bucket arithmetic from raw parquet
    via the dialect-mirrored `oracle_bucket_sql`."""
    from ocr_platform_spark.operators.sampling import assign_split

    d = _t(spark, sf_dir, "documents")
    return (
        assign_split(d, "doc_id")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    )


@q(
    "doc_split_by_source",
    f"""
    WITH b AS (
      SELECT source, {oracle_bucket_sql("source", 1000)} AS bucket,
             COUNT(*) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT source, bucket,
           CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END AS split,
           n_docs
    FROM b ORDER BY source
    """,
)
def doc_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split — the leakage guard ``doc_split_
    assign`` lacks: bucketing on the SOURCE (host) key puts every page of
    a host in the same split, so near-duplicate pages from one site can
    never straddle train and test (the standard eval-contamination trap
    of web corpora). One row per source in the output IS the disjointness
    audit: a source appears with exactly one split. Same md5 bucket
    arithmetic as the per-doc split, dialect-mirrored in the oracle."""
    from ocr_platform_spark.operators.sampling import assign_split

    d = _t(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        assign_split(per_source, "source")
        .select("source", "bucket", "split", "n_docs")
        .orderBy("source")
    )


@q(
    "host_downsample",
    f"""
    WITH u AS (SELECT * FROM read_parquet('{staged_glob("host_downsample")}')),
    r AS (
      SELECT host,
             row_number() OVER (PARTITION BY host ORDER BY md5(url), url) AS rk
      FROM u
    )
    SELECT host, COUNT(*) AS n_docs,
           COUNT(CASE WHEN rk <= 5 THEN 1 END) AS n_kept
    FROM r GROUP BY host ORDER BY host
    """,
)
def host_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level downsampling over the crawl corpus: at most 5 docs per
    host, drawn by md5(url) order (an unbiased deterministic subsample —
    the stage that stops mega-hosts from dominating the training mix; the
    zipf-distributed synth hosts make it bite). The (url, host) projection
    is staged; BOTH engines rank within host and tally kept-vs-total, so
    the draw order and the cap are verified cross-engine."""
    from ocr_platform_spark.operators.sampling import group_rank

    docs = _synth_docs(spark)
    staged = stage(
        docs.select("url", host_of("url").alias("host")), "host_downsample", partitions=4
    )
    return (
        group_rank(staged, "host", "url")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("_rank") <= 5, 1)).alias("n_kept"),
        )
        .orderBy("host")
    )


_MIX_WEIGHTS = {"en": 400, "zh": 150, "es": 150, "de": 150, "fr": 150}
_MIX_TOTAL_TOKENS = 8000


def _mixture_oracle() -> str:
    values = ", ".join(f"('{g}', {w})" for g, w in _MIX_WEIGHTS.items())
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents
    ),
    avail AS (SELECT lang, SUM(n_tokens) AS avail FROM toks GROUP BY lang),
    w(lang, w) AS (VALUES {values}),
    thr AS (
      SELECT a.lang,
        least(CAST(1000 AS BIGINT),
              (((CAST({_MIX_TOTAL_TOKENS} AS BIGINT) * w.w) // 1000) * 1000)
                // a.avail)
          AS thr
      FROM avail a JOIN w ON a.lang = w.lang
    )
    SELECT t.doc_id, t.lang, CAST(t.n_tokens AS INT) AS n_tokens
    FROM toks t JOIN thr ON t.lang = thr.lang
    WHERE {oracle_bucket_sql("t.doc_id", 1000, "mix")} < thr.thr
    ORDER BY t.doc_id
    """


@q("corpus_mixture_sample", _mixture_oracle())
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing stage (operators/sampling.mixture_sample): sample each
    language at the rate that steers the corpus toward a target token
    mixture (en 40%, the rest 15% each, 8k-token budget). Thresholds are
    all-integer — ``(T·w·buckets) div (1000·avail)`` — and the md5 bucket
    is the cross-engine primitive, so DuckDB recomputes availability,
    thresholds, and membership exactly. At sf0.001 the budget oversupplies
    every group (take-all cap); at sf0.01 every group samples
    proportionally — both branches of the threshold exercise under the
    driver's two scales. Engine-side training-data surface (no counterpart
    in the reference)."""
    from ocr_platform_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", TX.token_count("text").cast("long").alias("n_tokens")
    )
    return (
        mixture_sample(
            toks,
            "lang",
            "doc_id",
            "n_tokens",
            _MIX_WEIGHTS,
            _MIX_TOTAL_TOKENS,
            salt="mix",
        )
        .select("doc_id", "lang", F.col("n_tokens").cast("int").alias("n_tokens"))
        .orderBy("doc_id")
    )


_EPOCH_WEIGHTS = {"en": 250, "zh": 300, "es": 150, "de": 150, "fr": 150}
_EPOCH_TOTAL_TOKENS = 30_000
_EPOCH_BUCKETS = 16


def _epoch_plan_ctes() -> str:
    """Shared WITH-body computing the epoch plan rows (``plan``):
    the selection chain of ``corpus_epoch_plan``, reused verbatim by the
    training-order oracle so the two can never drift apart."""
    values = ", ".join(f"('{g}', {w})" for g, w in _EPOCH_WEIGHTS.items())
    return f"""toks AS (
      SELECT doc_id, lang,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents
    ),
    w(lang, w) AS (VALUES {values}),
    avail AS (SELECT lang, SUM(n_tokens) AS avail FROM toks GROUP BY lang),
    need AS (
      SELECT a.lang,
             ((CAST({_EPOCH_TOTAL_TOKENS} AS BIGINT) * w.w) // 1000) // a.avail
               AS fullep,
             ((CAST({_EPOCH_TOTAL_TOKENS} AS BIGINT) * w.w) // 1000) % a.avail
               AS rem
      FROM avail a JOIN w ON a.lang = w.lang WHERE a.avail > 0
    ),
    ord AS (
      SELECT t.*, {oracle_bucket_sql("t.doc_id", _EPOCH_BUCKETS, "ep")} AS b,
             md5(CAST(doc_id AS VARCHAR) || 'ep') AS h
      FROM toks t
    ),
    cum AS (
      SELECT *, COALESCE(SUM(n_tokens) OVER (
          PARTITION BY lang ORDER BY b, h, CAST(doc_id AS VARCHAR)
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumpre
      FROM ord
    ),
    plan AS (
      SELECT c.doc_id, c.lang, CAST(c.n_tokens AS INT) AS n_tokens,
             CAST(n.fullep + CASE WHEN c.cumpre < n.rem THEN 1 ELSE 0 END AS INT)
               AS n_epochs,
             CAST(c.n_tokens
                  * (n.fullep + CASE WHEN c.cumpre < n.rem THEN 1 ELSE 0 END)
                 AS BIGINT) AS planned_tokens
      FROM cum c JOIN need n ON c.lang = n.lang
      WHERE n.fullep + CASE WHEN c.cumpre < n.rem THEN 1 ELSE 0 END > 0
    )"""


def _epoch_oracle() -> str:
    return f"""
    WITH {_epoch_plan_ctes()}
    SELECT doc_id, lang, n_tokens, n_epochs, planned_tokens
    FROM plan ORDER BY doc_id
    """


@q("corpus_epoch_plan", _epoch_oracle())
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planner (operators/sampling.epoch_plan) — the
    step that turns the curated corpus plus a target mixture into the
    actual training plan, INCLUDING upsampling: a group whose target share
    exceeds its available tokens gets whole repeat epochs plus a
    deterministic partial epoch filled in md5 draw order until the running
    token sum covers the remainder (``mixture_sample`` can only cap at
    take-all). All-integer arithmetic; the weights here make zh plan ×2
    epochs + partial, es/de whole-epoch + partial, en partial-only — and
    fr flips between partial-only and epoch+partial across the driver's
    two scales, so every branch is driver-exercised. The Spark side runs
    the scale shape (two-level prefix sum: per-bucket rollup + window over
    the tiny bucket table + intra-bucket window on the single boundary
    bucket per group); the oracle replays the selection as one flat window
    over the same (bucket, md5, key) total order — equivalent by
    prefix-sum associativity — and hash-checks every per-doc epoch count.
    Engine-side training-data surface (no counterpart in the reference)."""
    from ocr_platform_spark.operators.sampling import epoch_plan

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", TX.token_count("text").cast("long").alias("n_tokens")
    )
    return (
        epoch_plan(
            toks,
            "lang",
            "doc_id",
            "n_tokens",
            _EPOCH_WEIGHTS,
            _EPOCH_TOTAL_TOKENS,
            n_buckets=_EPOCH_BUCKETS,
            salt="ep",
        )
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            "n_epochs",
            "planned_tokens",
        )
        .orderBy("doc_id")
    )


_TEMP_SCALE = 1_000_000


@q(
    "corpus_temperature_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents
    ),
    avail AS (
      SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
      FROM toks GROUP BY lang HAVING SUM(n_tokens) > 0
    ),
    raw AS (
      SELECT lang, avail_tokens,
             CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * {float(_TEMP_SCALE)}) AS BIGINT) AS rw
      FROM avail
    ),
    tot AS (
      SELECT *, CAST(SUM(rw) OVER () AS BIGINT) AS rsum FROM raw
    ),
    quota AS (
      SELECT lang, avail_tokens,
             (1000 * rw) // rsum AS q, (1000 * rw) % rsum AS rem
      FROM tot
    ),
    seats AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY rem DESC, lang)
                  <= 1000 - CAST(SUM(q) OVER () AS BIGINT) AS BIGINT) AS extra
      FROM quota
    )
    SELECT lang, avail_tokens, CAST(q + extra AS INT) AS weight_per_mille
    FROM seats WHERE q + extra > 0 ORDER BY lang
    """,
)
def corpus_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights (operators/sampling.
    temperature_weights — the UniMax / multilingual-LM recipe: sample each
    language proportional to ``share^(1/T)``, flattening the head). T=2 via
    one correctly-rounded sqrt — the ONLY float op; IEEE 754 requires sqrt
    (unlike pow) to be exactly rounded, so ``floor(sqrt(avail)·10^6)`` is
    bit-identical in Spark and DuckDB — after which the largest-remainder
    seat assignment is pure integer arithmetic, hash-checked end to end.
    Weights sum to exactly 1000 and feed epoch_plan/mixture_sample.
    Engine-side training-data surface (no counterpart in the reference)."""
    from ocr_platform_spark.operators.sampling import temperature_weights

    d = _t(spark, sf_dir, "documents")
    toks = d.select("lang", TX.token_count("text").cast("long").alias("n_tokens"))
    return (
        temperature_weights(toks, "lang", "n_tokens", sqrt_iters=1, scale=_TEMP_SCALE)
        .orderBy("lang")
    )


_ORDER_SHARDS = 8


def _training_order_oracle() -> str:
    return f"""
    WITH {_epoch_plan_ctes()},
    rep AS (
      SELECT doc_id, CAST(unnest(generate_series(1, n_epochs)) AS INT) AS epoch
      FROM plan
    ),
    keyed AS (
      SELECT doc_id, epoch,
             md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR) || 'to') AS h
      FROM rep
    ),
    sharded AS (
      SELECT doc_id, epoch, h,
             CAST(CAST(('0x' || substr(h, 1, 6)) AS BIGINT) % {_ORDER_SHARDS} AS INT) AS shard
      FROM keyed
    )
    SELECT doc_id, epoch, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY h, CAST(doc_id AS VARCHAR), epoch
           ) AS INT) AS pos
    FROM sharded
    ORDER BY shard, pos
    """


@q("corpus_training_order", _training_order_oracle())
def corpus_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch plan materialized into the trainer's feed order
    (operators/sampling.training_order): one row per (document, epoch
    replica), md5-assigned to a shard with a deterministic position inside
    it — readers stream shards and interleave, so no global total order is
    ever materialized (a global row_number would serialize the corpus
    through one task). Replica keys are ``doc#epoch``, so repeat epochs of
    an upsampled doc scatter independently. The explode is map-side
    (``sequence``); the one shuffle is the per-shard rank window. Oracle
    replays plan → explode → shard → rank and hash-checks every position.
    Engine-side training-data surface (no counterpart in the reference)."""
    from ocr_platform_spark.operators.sampling import epoch_plan, training_order

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", TX.token_count("text").cast("long").alias("n_tokens")
    )
    plan = epoch_plan(
        toks,
        "lang",
        "doc_id",
        "n_tokens",
        _EPOCH_WEIGHTS,
        _EPOCH_TOTAL_TOKENS,
        n_buckets=_EPOCH_BUCKETS,
        salt="ep",
    )
    return (
        training_order(plan, "doc_id", _ORDER_SHARDS, salt="to")
        .select("doc_id", "epoch", "shard", "pos")
        .orderBy("shard", "pos")
    )


def _pii_oracle() -> str:
    from ocr_platform_spark.functions.piifns import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IPV4_RE,
        IPV4_TOKEN,
        PHONE_RE,
        PHONE_TOKEN,
    )

    return f"""
    WITH raw AS (
      SELECT doc_id,
        'Contact ' || substr(text, 1, 20)
        || CASE WHEN doc_id % 3 = 0
             THEN ' at user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        || CASE WHEN doc_id % 4 = 0
             THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE '' END
        || CASE WHEN doc_id % 5 = 0
             THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
        || ' end' AS body
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(body, '{EMAIL_RE}')) AS INT) AS n_email,
        regexp_replace(body, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g') AS b1
      FROM raw
    ),
    s2 AS (
      SELECT doc_id, n_email,
        CAST(len(regexp_extract_all(b1, '{IPV4_RE}')) AS INT) AS n_ipv4,
        regexp_replace(b1, '{IPV4_RE}', '{IPV4_TOKEN}', 'g') AS b2
      FROM s1
    )
    SELECT doc_id,
      regexp_replace(b2, '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS clean,
      n_email, n_ipv4,
      CAST(len(regexp_extract_all(b2, '{PHONE_RE}')) AS INT) AS n_phone
    FROM s2 ORDER BY doc_id
    """


@q("doc_pii_scrub", _pii_oracle())
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (engine-side training-data surface; the reference has
    no scrubbing pass — extracted values are stored verbatim,
    ``ocr_backend/app/services/extraction_service.py``): the chained
    email → IPv4 → phone ``regexp_replace`` pass from functions/piifns.py
    plus per-rule counts, over a deterministically constructed body that
    plants each PII kind on a different doc_id residue (and none on
    residue-free rows). The oracle replays the identical chain in DuckDB —
    every pattern is written in the Java∩RE2 regex subset so the redacted
    bytes hash-match exactly."""
    from ocr_platform_spark.functions.piifns import pii_counts, scrub_pii

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    body = F.concat(
        F.lit("Contact "),
        F.substring("text", 1, 20),
        F.when(did % 3 == 0, F.concat(F.lit(" at user"), s, F.lit("@example.com"))).otherwise(
            F.lit("")
        ),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(" call 415-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" ip 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" end"),
    )
    counts = pii_counts("body")
    return (
        d.select("doc_id", body.alias("body"))
        .select(
            "doc_id",
            scrub_pii("body").alias("clean"),
            *[c.alias(f"n_{name}") for name, c in counts],
        )
        .orderBy("doc_id")
    )


def _pii_cards_oracle() -> str:
    from ocr_platform_spark.functions.piifns import (
        CC_RE,
        card_counts_sql,
        scrub_cards_sql,
    )

    n_shaped, n_valid = card_counts_sql("wire")
    return f"""
    WITH w AS (
      SELECT doc_id,
             COALESCE(text, '')
             || CASE WHEN doc_id % 5 = 0
                     THEN ' card 4111 1111 1111 1111 please' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' ref 4111-1111-1111-1112 thanks' ELSE '' END AS wire
      FROM documents
    ),
    s AS (
      SELECT doc_id, wire,
             {n_shaped} AS n_card_shaped,
             {n_valid} AS n_luhn_valid,
             {scrub_cards_sql("wire")} AS clean
      FROM w
    )
    SELECT doc_id, n_card_shaped, n_luhn_valid,
           NOT regexp_matches(clean, '{CC_RE}') AS fully_redacted,
           CAST(length(wire) - length(clean) AS BIGINT) AS n_chars_delta
    FROM s ORDER BY doc_id
    """


@q("doc_pii_cards", _pii_cards_oracle())
def doc_pii_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card redaction with Luhn verification (functions/piifns.py
    card family). Card-shaped digit runs are planted deterministically —
    one Luhn-VALID number on the doc_id%5 residue, one shaped-but-invalid
    on %7 — then both engines replay shape detection (13-19 digits with
    optional separators), the Luhn checksum as pure integer column
    arithmetic over a generate_series digit walk (the Spark lambda and
    the generated DuckDB twin come from the same module, one single
    source), and the conservative shape-based scrub. ``n_luhn_valid
    < n_card_shaped`` on the %7 rows is the observable false-positive rate
    the policy note documents; ``fully_redacted`` asserts the scrub left
    nothing card-shaped behind. Map-only pass, no UDF, no shuffle."""
    from ocr_platform_spark.functions.piifns import (
        CC_RE,
        card_counts,
        scrub_cards,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    wire = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(did % 5 == 0, F.lit(" card 4111 1111 1111 1111 please")).otherwise(
            F.lit("")
        ),
        F.when(did % 7 == 0, F.lit(" ref 4111-1111-1111-1112 thanks")).otherwise(
            F.lit("")
        ),
    )
    base = d.select("doc_id", wire.alias("wire"))
    n_shaped, n_valid = card_counts("wire")
    s = base.select(
        "doc_id",
        "wire",
        n_shaped.alias("n_card_shaped"),
        n_valid.alias("n_luhn_valid"),
        scrub_cards("wire").alias("clean"),
    )
    return s.select(
        "doc_id",
        "n_card_shaped",
        "n_luhn_valid",
        (~F.col("clean").rlike(CC_RE)).alias("fully_redacted"),
        (F.length("wire") - F.length("clean")).cast("long").alias("n_chars_delta"),
    ).orderBy("doc_id")


@q(
    "jaccard_adjacent_docs",
    r"""
    WITH sh AS (
      SELECT doc_id AS id, list_distinct(sh0) AS sh FROM (
        SELECT doc_id,
          list_transform(
            generate_series(1, greatest(len(words) - 2, 1)),
            i -> array_to_string(words[i:i+2], ' ')) AS sh0
        FROM (
          SELECT doc_id,
                 regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
          FROM documents
        )
      )
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b ON b.id = a.id + 1
    """,
)
def jaccard_adjacent_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard on consecutive-id pairs — oracle-checkable slice
    of the shingle+Jaccard machinery the MinHash pipeline verifies with."""
    d = _t(spark, sf_dir, "documents")
    from ocr_platform_spark.operators.dedup import _spread

    sets_df = _spread(d, "doc_id").select(
        F.col("doc_id").alias("id"),
        F.array_distinct(TX.word_shingles("text", 3)).alias("sh"),
    )
    a = sets_df.alias("a")
    b = sets_df.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        a.join(b, F.col("b.id") == F.col("a.id") + 1)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )


@q(
    "corpus_rollup",
    """
    SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation rollup per (lang, source) — exact integer sums."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang", "source")
    )


# --- no-oracle text ops (engine-specific hashes) --------------------------


@q(
    "minhash_near_dups",
    f"""
    WITH hs AS (SELECT * FROM read_parquet('{staged_glob("minhash_hs")}')),
    c AS (SELECT * FROM read_parquet('{staged_glob("minhash_cands")}')),
    j AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(a.hs, b.hs)) AS n_common,
             len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS n_union
      FROM c JOIN hs a ON c.id_a = a.id JOIN hs b ON c.id_b = b.id
    )
    SELECT id_a, id_b, CAST(n_common AS INT) AS n_common,
           CAST(n_union AS INT) AS n_union,
           CAST(n_common AS DOUBLE) / n_union AS jaccard
    FROM j
    WHERE n_union > 0 AND CAST(n_common AS DOUBLE) / n_union >= 0.5
    ORDER BY id_a, id_b
    """,
)
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verification stage oracle-checked.

    The xxhash64 shingle/signature kernel has no DuckDB equivalent, so the
    query is split at the staged-parquet boundary (staging.py): the hashed
    shingle sets and the LSH candidate pairs are materialized, and BOTH
    engines compute the exact-Jaccard verification + threshold from those
    same files (DuckDB via list_intersect). Candidate *generation* stays
    pinned by tests/test_dedup.py recall goldens. Jaccard is an unrounded
    division of the exact integer intersection/union sizes — bit-identical
    in any engine."""
    d = _t(spark, sf_dir, "documents")
    hs = stage(
        dedup.hashed_shingle_sets(d, "doc_id", "text"), "minhash_hs", partitions=8
    )
    sig = hs.select("id", dedup.minhash_signature_from_hashes("hs", 16).alias("sig"))
    banded = sig.select(
        "id", F.posexplode(dedup.minhash_bands("sig", 16, 2)).alias("band_id", "band_hash")
    )
    cands = stage(dedup._bucket_pairs(banded, "id", 64), "minhash_cands")
    sets_df = hs.withColumnRenamed("hs", "sh")
    j = (
        cands.join(sets_df.withColumnRenamed("sh", "sh_a"), cands.id_a == sets_df.id)
        .drop("id")
        .join(
            sets_df.withColumnRenamed("sh", "sh_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
        .drop("id2")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        j.select(
            "id_a",
            "id_b",
            inter.alias("n_common"),
            union.alias("n_union"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where((F.col("n_union") > 0) & (F.col("jaccard") >= 0.5))
        .orderBy("id_a", "id_b")
    )


@q(
    "dedup_lsh_recall",
    f"""
    WITH hs AS (SELECT * FROM read_parquet('{staged_glob("ddrecall_hs")}')),
    c AS (SELECT * FROM read_parquet('{staged_glob("ddrecall_cands")}')),
    tr AS (SELECT id, unnest(hs) AS h FROM hs),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM tr a JOIN tr b ON a.h = b.h AND a.id < b.id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN hs ha ON ha.id = i.id_a JOIN hs hb ON hb.id = i.id_b
      WHERE CAST(i.n_common AS DOUBLE)
            / (len(ha.hs) + len(hb.hs) - i.n_common) >= 0.5
    ),
    cfg(rows_per_band, n_bands) AS (VALUES (1, 16), (2, 8), (4, 4), (8, 2)),
    caught AS (
      SELECT c.rows_per_band, COUNT(*) AS n_caught
      FROM c JOIN truth USING (id_a, id_b) GROUP BY 1
    ),
    tc AS (SELECT COUNT(*) AS n_true FROM truth)
    SELECT CAST(cfg.rows_per_band AS INT) AS rows_per_band,
           CAST(cfg.n_bands AS INT) AS n_bands,
           tc.n_true,
           COALESCE(ca.n_caught, 0) AS n_caught,
           CASE WHEN tc.n_true > 0
                THEN round(CAST(COALESCE(ca.n_caught, 0) AS DOUBLE) / tc.n_true, 4)
           END AS recall
    FROM cfg CROSS JOIN tc
    LEFT JOIN caught ca ON ca.rows_per_band = cfg.rows_per_band
    ORDER BY rows_per_band
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-recall report for MinHash near-dup dedup (operators/dedup.
    dedup_banding_recall_report): of the (a, b) pairs whose EXACT shingle
    Jaccard reaches the 0.5 dedup threshold, what fraction does each
    banding configuration (k=16; 16×1 / 8×2 / 4×4 / 2×8 bands, production
    max_bucket=64 applied) surface as a candidate? The sizing table a user
    reads before picking ``minhash_candidate_pairs``' (k, rows_per_band) —
    the dedup twin of ``decontam_lsh_recall``. Ground truth is sparse
    (explode + self-equi-join on the shingle hash with id_a < id_b —
    exhaustive for thresholds > 0, never all-pairs) and, as the operator
    docstring prescribes, the report runs on a BOUNDED CALIBRATION SAMPLE
    (a deterministic third of the corpus here — Σ df(h)² over the sample's
    shingles, never corpus-scale), while the production path stays the
    banded operator. The sampled shingle sets and the multi-config
    candidates are staged; BOTH engines replay truth, catch counts, and
    recall from the same bytes."""
    from ocr_platform_spark.operators.dedup import (
        banding_candidates_multi_self,
        dedup_banding_recall_report,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    hs = stage(
        dedup.hashed_shingle_sets(d, "doc_id", "text"), "ddrecall_hs", partitions=4
    )
    cands = stage(
        banding_candidates_multi_self(hs), "ddrecall_cands", partitions=1
    )
    return dedup_banding_recall_report(hs, cands, threshold=0.5).orderBy(
        "rows_per_band"
    )


@q(
    "doc_repeated_spans",
    f"""
    WITH p AS (SELECT * FROM read_parquet('{staged_glob("span_postings")}')),
    rep AS (
      SELECT h FROM (SELECT h, id FROM p GROUP BY h, id)
      GROUP BY h HAVING COUNT(*) >= 2
    ),
    m AS (SELECT p.id, p.pos FROM p JOIN rep USING (h)),
    pe AS (
      SELECT id, pos,
             MAX(pos + 30) OVER (
               PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM m
    ),
    i AS (
      SELECT id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pe
    )
    SELECT id AS doc_id, MIN(pos) AS span_start, MAX(pos) + 30 AS span_end
    FROM i GROUP BY id, island
    ORDER BY doc_id, span_start
    """,
)
def doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span marking (Lee et al. 2022, the
    finer-grained sibling of paragraph dedup): every maximal span whose
    30-char substrings all occur in ≥2 distinct documents. The xxhash64
    positional postings are staged; BOTH engines run the identical
    integer pipeline from there — distinct-doc hash filter, then
    gaps-and-islands span merging with two window functions. See
    operators/dedup.repeated_spans for the 10^12-row shape notes."""
    d = _t(spark, sf_dir, "documents")
    posts = stage(
        dedup.char_gram_postings(d, "doc_id", "text", k=30),
        "span_postings",
        partitions=8,
    )
    return (
        dedup.repeated_spans(posts, k=30, min_df=2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")
    )


@q(
    "doc_repeated_spans_strided",
    f"""
    WITH p AS (SELECT * FROM read_parquet('{staged_glob("span_postings_w")}')),
    rep AS (
      SELECT h FROM (SELECT h, id FROM p GROUP BY h, id)
      GROUP BY h HAVING COUNT(*) >= 2
    ),
    m AS (SELECT p.id, p.pos FROM p JOIN rep USING (h)),
    pe AS (
      SELECT id, pos,
             MAX(pos + 30) OVER (
               PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM m
    ),
    i AS (
      SELECT id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pe
    )
    SELECT id AS doc_id, MIN(pos) AS span_start, MAX(pos) + 30 AS span_end
    FROM i GROUP BY id, island
    ORDER BY doc_id, span_start
    """,
)
def doc_repeated_spans_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr repeated-span marking over SAMPLED postings — the
    100-TB shape of doc_repeated_spans. The per-character posting table
    (30-60× the corpus text through a corpus-wide shuffle) is replaced by
    winnowing-sampled postings (~2/(w+1) of the grams, selected map-side
    BEFORE the explode, so the reduction happens ahead of the shuffle);
    any cross-doc shared substring of length ≥ w+k−1 = 37 still marks.
    Content-defined (window-min) sampling, NOT a position stride — stride
    phases don't survive offset misalignment between documents (see
    operators/dedup.winnowed_gram_postings). Downstream span merging is
    the identical integer pipeline, replayed by the oracle from the
    staged sampled postings; the sampling itself is differentially pinned
    against the exact operator in tests/test_dedup.py."""
    d = _t(spark, sf_dir, "documents")
    posts = stage(
        dedup.winnowed_gram_postings(d, "doc_id", "text", k=30, w=8),
        "span_postings_w",
        partitions=8,
    )
    return (
        dedup.repeated_spans(posts, k=30, min_df=2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")
    )


@q(
    "doc_strip_spans",
    f"""
    WITH p AS (SELECT * FROM read_parquet('{staged_glob("cut_postings")}')),
    rep AS (
      SELECT h FROM (SELECT h, id FROM p GROUP BY h, id)
      GROUP BY h HAVING COUNT(*) >= 2
    ),
    m AS (SELECT p.id, p.pos FROM p JOIN rep USING (h)),
    pe AS (
      SELECT id, pos,
             MAX(pos + 30) OVER (
               PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM m
    ),
    i AS (
      SELECT id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pe
    ),
    spans AS (
      SELECT id, MIN(pos) AS span_start, MAX(pos) + 30 AS span_end
      FROM i GROUP BY id, island
    ),
    segs AS (
      SELECT id,
             COALESCE(LAG(span_end) OVER (PARTITION BY id ORDER BY span_start), 0)
               AS seg_start,
             span_start AS seg_end
      FROM spans
      UNION ALL
      SELECT s.id, MAX(s.span_end), length(d.text)
      FROM spans s JOIN documents d ON s.id = d.doc_id
      GROUP BY s.id, length(d.text)
    ),
    stats AS (
      SELECT id, COUNT(*) AS n_spans_cut,
             SUM(span_end - span_start) AS n_chars_cut
      FROM spans GROUP BY id
    ),
    rebuilt AS (
      SELECT segs.id,
             string_agg(
               substr(d.text, seg_start + 1, greatest(seg_end - seg_start, 0)),
               '' ORDER BY seg_start) AS cut
      FROM segs JOIN documents d ON segs.id = d.doc_id
      GROUP BY segs.id
    )
    SELECT d.doc_id, COALESCE(r.cut, d.text) AS text,
           COALESCE(st.n_spans_cut, 0) AS n_spans_cut,
           CAST(COALESCE(st.n_chars_cut, 0) AS BIGINT) AS n_chars_cut
    FROM documents d
    LEFT JOIN rebuilt r ON d.doc_id = r.id
    LEFT JOIN stats st ON d.doc_id = st.id
    ORDER BY d.doc_id
    """,
)
def doc_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT phase of ExactSubstr dedup: documents rebuilt with their
    cross-doc repeated 30-char spans removed. Byte-exact cross-engine text
    surgery at arbitrary character offsets — both engines derive the spans
    from the same staged postings, take the complement segments via one
    window ``lag`` + a tail row, slice with the SAME clamped substring
    semantics (DuckDB's negative-length substr reaches backward; both
    sides clamp at 0), and concatenate in offset order."""
    d = _t(spark, sf_dir, "documents")
    posts = stage(
        dedup.char_gram_postings(d, "doc_id", "text", k=30),
        "cut_postings",
        partitions=8,
    )
    return dedup.strip_repeated_spans(
        d, "doc_id", "text", k=30, min_df=2, postings=posts
    ).orderBy("doc_id")


@q(
    "simhash_near_dups",
    f"""
    WITH s AS (SELECT * FROM read_parquet('{staged_glob("simhash_sig")}')),
    c AS (SELECT * FROM read_parquet('{staged_glob("simhash_cands")}'))
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM c JOIN s a ON c.id_a = a.id JOIN s b ON c.id_b = b.id
    WHERE bit_count(xor(a.sh, b.sh)) <= 7
    ORDER BY c.id_a, c.id_b
    """,
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs, Hamming verification oracle-checked
    over the staged signature + candidate tables (DuckDB bit_count(xor)).

    max_hamming=7 is the exact recall guarantee of the 8×8-bit banding
    (pigeonhole: any pair within distance n_bands-1 shares a band) — asking
    for a larger radius than the banding guarantees would silently drop
    pairs found 'only by luck'. The numpy sign-sum kernel itself is pinned
    against the pure-expression twin in tests/test_dedup.py."""
    d = _t(spark, sf_dir, "documents")
    sim = stage(dedup._simhash_df(d, "doc_id", "text"), "simhash_sig", partitions=8)
    bands = sim.select(
        "id", F.posexplode(dedup.simhash_bands("sh", 8)).alias("band_id", "band_hash")
    )
    cands = stage(dedup._bucket_pairs(bands, "id", 64), "simhash_cands")
    j = (
        cands.join(sim.withColumnRenamed("sh", "sh_a"), cands.id_a == sim.id)
        .drop("id")
        .join(
            sim.withColumnRenamed("sh", "sh_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
        .drop("id2")
    )
    return (
        j.select(
            "id_a",
            "id_b",
            dedup.hamming64(F.col("sh_a"), F.col("sh_b")).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= 7)
        .orderBy("id_a", "id_b")
    )


# =========================================================================
# Fuzzy SELECT mapping (J6) — vocabulary from the supplier dimension
# =========================================================================


@q(
    "fuzzy_exact_roundtrip",
    """
    SELECT s_suppkey, s_name AS raw_name, s_name AS mapped_name
    FROM supplier ORDER BY s_suppkey
    """,
)
def fuzzy_exact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable invariant of the similarity join: a value exactly
    equal to an option label maps to that option's value (score 100 beats
    every non-identical candidate; vocabulary labels here are unique).
    The fuzzy band (75-89) is pinned by the pytest corpus instead."""
    s = _t(spark, sf_dir, "supplier")
    vocab = [(r["s_name"], r["s_name"]) for r in s.select("s_name").collect()]
    return (
        map_select_single_vocab(
            s.select("s_suppkey", F.col("s_name").alias("raw_name")),
            "raw_name",
            vocab,
            "mapped_name",
        )
        .orderBy("s_suppkey")
    )


@q(
    "fuzzy_supplier_mapping",
    f"""
    WITH pick AS (
      SELECT s_suppkey, option_value,
             row_number() OVER (
               PARTITION BY s_suppkey ORDER BY score DESC, option_value
             ) AS rn
      FROM read_parquet('{staged_glob("fuzzy_scores")}')
      WHERE score >= 75
    )
    SELECT st.s_suppkey, st.raw_name,
           CASE WHEN st.s_suppkey % 3 = 2 THEN p.option_value ELSE s.s_name END
             AS mapped_name
    FROM read_parquet('{staged_glob("fuzzy_supplier_mapping")}') st
    JOIN supplier s ON st.s_suppkey = s.s_suppkey
    LEFT JOIN (SELECT s_suppkey, option_value FROM pick WHERE rn = 1) p
      ON p.s_suppkey = st.s_suppkey
    ORDER BY st.s_suppkey
    """,
)
def fuzzy_supplier_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity join: customer-entered supplier strings (deterministic
    typo synthesis from s_name) mapped onto the supplier vocabulary.

    Two of the three probe partitions have an analytically-known answer the
    oracle recomputes *independently*: ``UPPER(s_name)`` is exact after the
    scorer's lowercase preprocessing (score 100), and ``'  name inc. '`` is
    a token-superset whose token-set ratio is 1.0 → 0.95 weight → score 95 ≥
    auto-accept, with no competing label able to tie — both MUST map back to
    ``s_name``. The genuinely fuzzy truncated-prefix partition (suppkey%3=2)
    stages its FULL per-option score matrix (score_select_column — every
    (value, option) wratio_like score, no cutoff), and the oracle re-derives
    the mapping from those numbers alone: cutoff ≥ 75, argmax with the
    vocabulary-order tie-break, NULL when nothing clears the cutoff. The
    selection logic is therefore cross-engine verified end-to-end; the raw
    pair scores themselves stay pinned by the pytest golden corpus
    (tests/test_select_mapping.py)."""
    s = _t(spark, sf_dir, "supplier")
    vocab = [(r["s_name"], r["s_name"]) for r in s.select("s_name").collect()]
    noisy = s.select(
        "s_suppkey",
        F.when(
            F.pmod("s_suppkey", F.lit(3)) == 0, F.upper(F.col("s_name"))
        )
        .when(
            F.pmod("s_suppkey", F.lit(3)) == 1,
            F.concat(F.lit("  "), F.col("s_name"), F.lit(" inc. ")),
        )
        .otherwise(F.substring(F.col("s_name"), 1, 12))
        .alias("raw_name"),
    )
    # full score matrix for the fuzzy partition (vocabulary order == the
    # sorted order both score_all and the mapper's tie-break use)
    opt_values = F.array(*[F.lit(v) for v, _l in sorted(vocab)])
    scored = score_select_column(
        noisy.where(F.pmod("s_suppkey", F.lit(3)) == 2), "raw_name", vocab
    )
    stage(
        scored.select(
            "s_suppkey", F.posexplode("scores").alias("idx", "score")
        ).select(
            "s_suppkey",
            F.element_at(opt_values, F.col("idx") + 1).alias("option_value"),
            "score",
        ),
        "fuzzy_scores",
    )
    mapped = map_select_single_vocab(noisy, "raw_name", vocab, "mapped_name")
    return stage(mapped, "fuzzy_supplier_mapping").orderBy("s_suppkey")


# =========================================================================
# Extraction world (synthetic Common-Crawl-style corpus; independent of
# sf_dir — the BASELINE.json input shape). The mapInArrow kernels are
# pinned byte-identically by tests/test_extraction.py goldens; the driver
# check is made a full rows+schema+hash gate by staging the kernel output
# to parquet and letting DuckDB aggregate the same files (staging.py).
# =========================================================================


def _synth_docs(spark: SparkSession, n: int = 400) -> DataFrame:
    from ocr_platform_spark.operators.corpus_spark import documents_df

    return documents_df(spark, n)


@q(
    "extract_corpus_stats",
    f"""
    SELECT payload_kind, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_text_chars,
           CAST(SUM(n_spans) AS BIGINT) AS total_spans,
           COUNT(error) AS n_errors
    FROM read_parquet('{staged_glob("extract_corpus_stats")}')
    GROUP BY payload_kind ORDER BY payload_kind
    """,
)
def extract_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship kernel rollup: synth corpus → mapInArrow extraction →
    per-payload-kind stats (SURVEY §7.1). Per-doc kernel output is staged;
    both engines aggregate the same files."""
    from ocr_platform_spark.operators.extract import extract_documents

    ext = extract_documents(_synth_docs(spark)).select(
        "url",
        "payload_kind",
        F.length("text").alias("n_chars"),
        F.size(F.coalesce("spans", F.array())).alias("n_spans"),
        "error",
    )
    staged = stage(ext, "extract_corpus_stats")
    return (
        staged.groupBy("payload_kind")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_text_chars"),
            F.sum("n_spans").cast("long").alias("total_spans"),
            F.count("error").alias("n_errors"),
        )
        .orderBy("payload_kind")
    )


@q(
    "extract_feed_blocks",
    f"""
    SELECT url,
           CAST(COUNT(*) AS INT) AS n_blocks,
           CAST(COUNT(CASE WHEN field = 'title' THEN 1 END) AS INT) AS n_items,
           CAST(SUM(length(value)) AS BIGINT) AS block_chars,
           CAST(MAX("end") AS INT) AS text_len
    FROM read_parquet('{staged_glob("feed_spans")}')
    GROUP BY url ORDER BY url
    """,
)
def extract_feed_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feed extraction branch (kernels/feed_extract.py) end to end:
    synth corpus → dispatch routes RSS/Atom payloads to the feed kernel →
    per-block spans exploded and staged → per-feed rollup (block count,
    item count, block chars, text length from the max span end) aggregated
    by BOTH engines over the same staged bytes. Block values and offsets
    are hash-checked transitively: any kernel drift changes block_chars/
    text_len. Byte-identity of the full text is pinned corpus-wide by the
    golden drive (tests/test_extraction.py, tests/test_feed.py)."""
    from ocr_platform_spark.operators.extract import extract_documents

    ext = extract_documents(_synth_docs(spark)).where(
        F.col("payload_kind") == "feed"
    )
    spans = ext.select("url", F.explode("spans").alias("s")).select(
        "url", "s.field", "s.start", "s.end", "s.value"
    )
    staged = stage(spans, "feed_spans")
    return (
        staged.groupBy("url")
        .agg(
            F.count("*").cast("int").alias("n_blocks"),
            F.count_if(F.col("field") == "title").cast("int").alias("n_items"),
            F.sum(F.length("value")).cast("long").alias("block_chars"),
            F.max("end").cast("int").alias("text_len"),
        )
        .orderBy("url")
    )


@q(
    "extract_sitemap_entries",
    f"""
    SELECT url,
           CAST(COUNT(CASE WHEN field = 'loc' THEN 1 END) AS INT) AS n_locs,
           CAST(COUNT(CASE WHEN field = 'lastmod' THEN 1 END) AS INT) AS n_lastmod,
           CAST(COUNT(CASE WHEN field = 'changefreq' THEN 1 END) AS INT) AS n_changefreq,
           CAST(SUM(CASE WHEN field = 'loc' THEN length(value) END) AS BIGINT) AS loc_chars,
           CAST(MAX("end") AS INT) AS text_len,
           MIN(CASE WHEN field = 'lastmod' THEN value END) AS earliest_lastmod
    FROM read_parquet('{staged_glob("sitemap_spans")}')
    GROUP BY url ORDER BY url
    """,
)
def extract_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sitemap extraction branch (kernels/sitemap_extract.py) end to
    end: synth corpus → dispatch routes <urlset>/<sitemapindex> payloads
    to the sitemap kernel → per-entry spans (loc + freshness metadata)
    exploded and staged → per-sitemap rollup (loc count, metadata
    coverage, loc chars, text length, earliest lastmod) aggregated by
    BOTH engines over the same staged bytes. Loc values and offsets are
    hash-checked transitively via loc_chars/text_len; byte-identity of
    the full text is pinned by the golden drive (tests/test_sitemap.py)."""
    from ocr_platform_spark.operators.extract import extract_documents

    ext = extract_documents(_synth_docs(spark)).where(
        F.col("payload_kind") == "sitemap"
    )
    spans = ext.select("url", F.explode("spans").alias("s")).select(
        "url", "s.field", "s.start", "s.end", "s.value"
    )
    staged = stage(spans, "sitemap_spans")
    return (
        staged.groupBy("url")
        .agg(
            F.count_if(F.col("field") == "loc").cast("int").alias("n_locs"),
            F.count_if(F.col("field") == "lastmod").cast("int").alias("n_lastmod"),
            F.count_if(F.col("field") == "changefreq").cast("int").alias("n_changefreq"),
            F.sum(F.when(F.col("field") == "loc", F.length("value")))
            .cast("long")
            .alias("loc_chars"),
            F.max("end").cast("int").alias("text_len"),
            F.min(F.when(F.col("field") == "lastmod", F.col("value"))).alias(
                "earliest_lastmod"
            ),
        )
        .orderBy("url")
    )


@q(
    "doc_para_dedup",
    f"""
    WITH corpus AS (SELECT url, text FROM read_parquet('{staged_glob("para_corpus")}')),
    split AS (SELECT url, string_split_regex(text, '\\n{{2,}}') AS ps FROM corpus),
    paras AS (
      SELECT url, CAST(i - 1 AS INT) AS idx, ps[i] AS para
      FROM (SELECT url, ps, unnest(generate_series(1, len(ps))) AS i FROM split)
      WHERE length(ps[i]) >= 1
    ),
    freq AS (
      SELECT md5(para) AS h FROM paras GROUP BY 1 HAVING COUNT(DISTINCT url) >= 3
    ),
    marked AS (
      SELECT p.url, p.idx, p.para, (f.h IS NOT NULL) AS rep
      FROM paras p LEFT JOIN freq f ON md5(p.para) = f.h
    )
    SELECT url,
           COALESCE(string_agg(CASE WHEN NOT rep THEN para END, chr(10) || chr(10)
                               ORDER BY idx), '') AS text,
           COUNT(CASE WHEN NOT rep THEN 1 END) AS n_kept,
           COUNT(CASE WHEN rep THEN 1 END) AS n_dropped
    FROM marked GROUP BY url ORDER BY url
    """,
)
def doc_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level repeated-span removal (RefinedWeb/Gopher line dedup)
    over the EXTRACTED corpus: site-wide license blurbs survive DOM
    boilerplate stripping because they are plain in-content text, so the
    curation layer removes any paragraph appearing verbatim in ≥3 distinct
    documents and rebuilds every doc's text in original order. The whole
    pipeline — split, md5 per paragraph, distinct-doc frequency, rebuild —
    is recomputed by the oracle from the staged extracted text, so the
    rebuilt corpus is verified byte-for-byte cross-engine."""
    from ocr_platform_spark.operators.extract import extract_documents

    ext = extract_documents(_synth_docs(spark)).select("url", "text").where(
        F.col("text").isNotNull()
    )
    staged = stage(ext, "para_corpus", partitions=2)
    return (
        dedup.strip_repeated_paragraphs(staged, "url", "text", min_df=3)
        .select("url", "text", "n_kept", "n_dropped")
        .orderBy("url")
    )


@q(
    "host_boilerplate_strip",
    r"""
    WITH raw AS (
      SELECT doc_id, source AS host,
        concat_ws(chr(10) || chr(10),
          'Home | About | Contact — ' || source,
          'Article ' || CAST(doc_id AS VARCHAR) || ': ' ||
            regexp_replace(substr(text, 1, 80), '\s+', ' ', 'g'),
          CASE WHEN doc_id % 2 = 0
               THEN 'Subscribe to the ' || source || ' newsletter.' END,
          CASE WHEN doc_id % 125 = 0
               THEN 'Creative Commons Attribution applies to this page.' END
        ) AS body
      FROM documents
    ),
    paras AS (
      SELECT host, doc_id, CAST(i - 1 AS INT) AS idx, ps[i] AS para
      FROM (SELECT host, doc_id, ps, unnest(generate_series(1, len(ps))) AS i
            FROM (SELECT host, doc_id, string_split_regex(body, '\n{2,}') AS ps
                  FROM raw))
      WHERE length(ps[i]) >= 1
    ),
    rep AS (
      SELECT host, md5(para) AS h
      FROM paras GROUP BY host, md5(para) HAVING COUNT(DISTINCT doc_id) >= 3
    ),
    marked AS (
      SELECT p.host, p.doc_id, p.idx, p.para, (r.h IS NOT NULL) AS is_rep
      FROM paras p LEFT JOIN rep r ON p.host = r.host AND md5(p.para) = r.h
    )
    SELECT host, doc_id,
           COALESCE(string_agg(CASE WHEN NOT is_rep THEN para END,
                               chr(10) || chr(10) ORDER BY idx), '') AS text,
           COUNT(CASE WHEN NOT is_rep THEN 1 END) AS n_kept,
           COUNT(CASE WHEN is_rep THEN 1 END) AS n_dropped
    FROM marked GROUP BY host, doc_id ORDER BY doc_id
    """,
)
def host_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOST-scoped boilerplate removal (operators/dedup.strip_host_
    boilerplate; the CCNet/trafilatura convention, vs doc_para_dedup's
    corpus-GLOBAL rule): a paragraph on ≥3 distinct pages of the SAME
    host is site furniture and is cut from that host's pages only. The
    deterministic bodies exercise all three regimes — a nav line on
    every page of its host (stripped), a newsletter line on every page
    of even hosts only (stripped there, absent elsewhere), and a
    license line on exactly one page of four different hosts: globally
    repeated (4×, which the global min_df=3 rule would strip) yet
    per-host unique, so the host rule KEEPS it. The oracle replays the
    split, per-(host, md5) distinct-page frequency and the in-order
    rebuild, verifying the surviving bytes exactly."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    body = F.concat_ws(
        "\n\n",
        F.concat(F.lit("Home | About | Contact — "), F.col("source")),
        F.concat(
            F.lit("Article "),
            did.cast("string"),
            F.lit(": "),
            F.regexp_replace(F.substring("text", 1, 80), r"\s+", " "),
        ),
        F.when(
            did % 2 == 0,
            F.concat(F.lit("Subscribe to the "), F.col("source"), F.lit(" newsletter.")),
        ),
        F.when(
            did % 125 == 0,
            F.lit("Creative Commons Attribution applies to this page."),
        ),
    )
    docs = d.select(F.col("source").alias("host"), "doc_id", body.alias("body"))
    return (
        dedup.strip_host_boilerplate(docs, "doc_id", "body", "host", min_df=3)
        .select("host", "doc_id", "text", "n_kept", "n_dropped")
        .orderBy("doc_id")
    )


@q(
    "extract_per_host",
    f"""
    SELECT host, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
    FROM read_parquet('{staged_glob("extract_per_host")}')
    GROUP BY host ORDER BY n_docs DESC, host
    """,
)
def extract_per_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware per-host rollup. The (url, host, n_bytes) projection is
    staged; Spark then runs the hot-host-salted two-phase aggregation while
    the oracle runs a plain GROUP BY over the same rows — a genuine
    cross-engine proof that salting + re-aggregation preserves exact
    per-key totals."""
    from ocr_platform_spark.operators.partitioning import (
        detect_hot_hosts,
        host_of,
        per_host_stats,
    )

    docs = _synth_docs(spark)
    base = docs.select(
        "url",
        host_of("url").alias("host"),
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("n_bytes"),
    )
    staged = stage(base, "extract_per_host", partitions=4)
    hot = detect_hot_hosts(staged, threshold_fraction=0.05)
    return per_host_stats(staged, hot, size=F.col("n_bytes"))


#: Sitemap metadata spans carry the owning <loc> line's OFFSETS and their
#: own value (the typed view the flat text cannot hold —
#: kernels/sitemap_extract.py module docstring); every other field is a
#: byte-exact substring pointer.
_TYPED_SPAN_FIELDS = ("lastmod", "changefreq", "priority")


@q(
    "extract_span_audit",
    f"""
    WITH s AS (SELECT * FROM read_parquet('{staged_glob("span_rows")}')),
    t AS (SELECT * FROM read_parquet('{staged_glob("span_texts")}')),
    ptr AS (
      SELECT url, span_idx, field, start, "end", value FROM s
      WHERE field NOT IN {_TYPED_SPAN_FIELDS!r}
    ),
    pj AS (
      SELECT p.field,
             (substr(t.text, p.start + 1, p."end" - p.start) = p.value
              AND p.start >= COALESCE(
                LAG(p."end") OVER (PARTITION BY p.url ORDER BY p.span_idx), 0))
               AS ok
      FROM ptr p JOIN t USING (url)
    ),
    tj AS (
      SELECT ty.field, (l.url IS NOT NULL) AS ok
      FROM (SELECT url, field, start, "end" FROM s
            WHERE field IN {_TYPED_SPAN_FIELDS!r}) ty
      LEFT JOIN (SELECT DISTINCT url, start, "end" FROM s WHERE field = 'loc') l
        ON ty.url = l.url AND ty.start = l.start AND ty."end" = l."end"
    )
    SELECT field, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
    FROM (SELECT * FROM pj UNION ALL SELECT * FROM tj)
    GROUP BY field ORDER BY field
    """,
)
def extract_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-span CONTRACT audit — the north rule emits (text, spans)
    per url; this query proves the whole contract in both engines.
    Pointer spans (html blocks, pdf lines, feed entries, sitemap locs):
    ``substr(text, start+1, end-start) = value`` AND ascending
    non-overlapping offsets per document. Typed sitemap metadata spans
    (lastmod/changefreq/priority) deliberately alias their owning loc
    line's offsets (the kernel's documented typed-view rule), so their
    check is that the offsets match a loc span of the same document
    exactly. The exploded span rows and per-doc texts are staged; the
    per-field rollup must show n_ok = n_spans everywhere (pinned by
    tests/test_extraction.py::test_span_audit_all_ok). Scale shape:
    extraction's mapInArrow pass + one field-keyed aggregation; the
    window runs per document over its handful of spans."""
    from ocr_platform_spark.operators.extract import extract_documents

    ext = extract_documents(_synth_docs(spark)).where(F.size("spans") > 0)
    spans = stage(
        ext.select(
            "url", F.posexplode("spans").alias("span_idx", "sp")
        ).select(
            "url",
            "span_idx",
            F.col("sp.field").alias("field"),
            F.col("sp.start").alias("start"),
            F.col("sp.end").alias("end"),
            F.col("sp.value").alias("value"),
        ),
        "span_rows",
        partitions=4,
    )
    texts = stage(ext.select("url", "text"), "span_texts", partitions=2)
    typed = F.col("field").isin(*_TYPED_SPAN_FIELDS)
    w = Window.partitionBy("url").orderBy("span_idx")
    pj = (
        spans.where(~typed)
        .withColumn("prev_end", F.coalesce(F.lag("end").over(w), F.lit(0)))
        .join(texts, "url")
        .select(
            "field",
            (
                (F.expr("substr(text, start + 1, end - start)") == F.col("value"))
                & (F.col("start") >= F.col("prev_end"))
            ).alias("ok"),
        )
    )
    locs = (
        spans.where(F.col("field") == "loc")
        .select(
            F.col("url").alias("_lu"),
            F.col("start").alias("_ls"),
            F.col("end").alias("_le"),
        )
        .distinct()
    )
    tj = (
        spans.where(typed)
        .select("url", "field", "start", "end")
        .join(
            locs,
            (F.col("url") == F.col("_lu"))
            & (F.col("start") == F.col("_ls"))
            & (F.col("end") == F.col("_le")),
            "left",
        )
        .select("field", F.col("_lu").isNotNull().alias("ok"))
    )
    return (
        pj.unionByName(tj)
        .groupBy("field")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_ok"),
        )
        .orderBy("field")
    )


@q(
    "extract_lineage_audit",
    f"""
    WITH s AS (SELECT * FROM read_parquet('{staged_glob("lineage_docs")}'))
    SELECT partition_id, CAST(COUNT(*) AS BIGINT) AS input_count,
           CAST(SUM(input_bytes) AS BIGINT) AS input_bytes
    FROM s GROUP BY partition_id
    UNION ALL
    SELECT -1, CAST(COUNT(*) AS BIGINT), CAST(SUM(input_bytes) AS BIGINT) FROM s
    ORDER BY partition_id
    """,
)
def extract_lineage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition LINEAGE rollup, oracle-replayed — the north rule's
    resumability bookkeeping (partition id, input count, bytes) recomputed
    by an independent engine from the staged per-document rows, with a
    grand-total row (partition_id = -1) making the "lineage sums to the
    corpus" invariant visible in the data itself. The Spark side is the
    same one hash aggregate ``lineage_from_extracted`` runs (map-side
    combinable, partition-count-sized result)."""
    from ocr_platform_spark.operators.extract import extract_documents
    from ocr_platform_spark.operators.partitioning import (
        repartition_for_extraction,
    )

    ext = extract_documents(
        repartition_for_extraction(_synth_docs(spark), 8)
    )
    docs = stage(
        ext.select("url", "partition_id", "input_bytes"), "lineage_docs", partitions=4
    )
    per_part = docs.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("input_count"),
        F.sum("input_bytes").cast("long").alias("input_bytes"),
    )
    total = docs.agg(
        F.lit(-1).cast("int").alias("partition_id"),
        F.count("*").cast("long").alias("input_count"),
        F.sum("input_bytes").cast("long").alias("input_bytes"),
    )
    return per_part.unionByName(total).orderBy("partition_id")


@q(
    "process_template_fields",
    f"""
    SELECT field_name, COUNT(*) AS n_rows, COUNT(conversion_error) AS n_errors
    FROM read_parquet('{staged_glob("process_template_fields")}')
    GROUP BY field_name ORDER BY field_name
    """,
)
def process_template_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship flow end-to-end: extract → template join →
    convert_by_type → SELECT mapping → per-field result tallies. Result rows
    staged; tallies oracle-checked (full metadata contract pinned in
    tests/test_process_documents.py)."""
    from ocr_platform_spark.operators.extract import extract_documents
    from ocr_platform_spark.plans.process_documents import (
        TEMPLATE_FIELDS_DDL,
        process_extracted,
    )

    template = spark.createDataFrame(
        [
            ("PAGE_TITLE", "h1", 0, "text", 1),
            ("FIRST_PARAGRAPH", "p", 0, "text", 2),
            ("TITLE_AS_NUMBER", "h1", 0, "number", 3),
            ("BULLET_POINTS", "li", 0, "table", 4),
        ],
        TEMPLATE_FIELDS_DDL,
    )
    rows = process_extracted(extract_documents(_synth_docs(spark)), template)
    staged = stage(
        rows.select("url", "field_name", "value", "conversion_error"),
        "process_template_fields",
    )
    return (
        staged.groupBy("field_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("conversion_error").alias("n_errors"),
        )
        .orderBy("field_name")
    )


@q(
    "extract_eav_view",
    f"""
    SELECT field_name, COUNT(*) AS n_values
    FROM read_parquet('{staged_glob("extract_eav_view")}')
    GROUP BY field_name ORDER BY field_name
    """,
)
def extract_eav_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide nested extraction → EAV view (V1 unpivot, staged) → field tally
    aggregated by both engines."""
    from ocr_platform_spark.operators.eav import unpivot_extracted
    from ocr_platform_spark.operators.extract import extract_documents

    eav = stage(
        unpivot_extracted(extract_documents(_synth_docs(spark))).select(
            "url", "field_name", "row_index", "predicted_value"
        ),
        "extract_eav_view",
    )
    return (
        eav.groupBy("field_name")
        .agg(F.count("*").alias("n_values"))
        .orderBy("field_name")
    )


# =========================================================================
# Correction overlay (J5 MERGE-on-read), OR-key lookup (J7), keyword
# dispatch (P10), blocklist (P11) — the reference's write/lookup lifecycle
# =========================================================================


@q(
    "corrected_field_values",
    """
    WITH eav AS (
      SELECT CAST(doc_id AS VARCHAR) AS url, 'LANG' AS field_name,
             lang AS predicted_value FROM documents
      UNION ALL
      SELECT CAST(doc_id AS VARCHAR), 'SOURCE', source FROM documents
    ),
    corr AS (
      SELECT CAST(doc_id AS VARCHAR) AS url, 'LANG' AS field_name,
             UPPER(lang) AS corrected_value,
             TIMESTAMP '2024-01-01' AS corrected_at
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT CAST(doc_id AS VARCHAR), 'LANG', 'xx',
             TIMESTAMP '2024-02-01'
      FROM documents WHERE doc_id % 40 = 0
    ),
    latest AS (
      SELECT url, field_name, corrected_value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY url, field_name
          ORDER BY corrected_at DESC, corrected_value DESC) AS rn
        FROM corr) t WHERE rn = 1
    )
    SELECT e.url, e.field_name,
           COALESCE(l.corrected_value, e.predicted_value) AS value
    FROM eav e LEFT JOIN latest l USING (url, field_name)
    ORDER BY url, field_name
    """,
)
def corrected_field_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 correction lifecycle, oracle-checked end-to-end: EAV rows +
    an append-only correction log → latest-wins overlay → canonical value
    (``apply_corrections`` + ``canonical_value``; reference
    document_routes.py:487-533 write, :416-446 read)."""
    from ocr_platform_spark.operators.corrections import apply_corrections
    from ocr_platform_spark.operators.eav import canonical_value

    d = _t(spark, sf_dir, "documents")
    url = F.col("doc_id").cast("string").alias("url")
    eav = (
        d.select(url, F.lit("LANG").alias("field_name"), F.col("lang").alias("predicted_value"))
        .unionByName(
            d.select(url, F.lit("SOURCE").alias("field_name"), F.col("source").alias("predicted_value"))
        )
        .withColumn("row_index", F.lit(None).cast("int"))
        .withColumn("column_name", F.lit(None).cast("string"))
        .withColumn("actual_value", F.lit(None).cast("string"))
    )
    corr = (
        d.where(F.col("doc_id") % 20 == 0)
        .select(
            url,
            F.lit("LANG").alias("field_name"),
            F.lit(None).cast("int").alias("row_index"),
            F.lit(None).cast("string").alias("column_name"),
            F.upper("lang").alias("corrected_value"),
            F.lit("2024-01-01").cast("timestamp").alias("corrected_at"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 40 == 0).select(
                url,
                F.lit("LANG").alias("field_name"),
                F.lit(None).cast("int").alias("row_index"),
                F.lit(None).cast("string").alias("column_name"),
                F.lit("xx").alias("corrected_value"),
                F.lit("2024-02-01").cast("timestamp").alias("corrected_at"),
            )
        )
    )
    return (
        apply_corrections(eav, corr)
        .select("url", "field_name", canonical_value().alias("value"))
        .orderBy("url", "field_name")
    )


@q(
    "ledger_or_alias_lookup",
    """
    WITH dim AS (
      SELECT c_custkey AS ledger_key, c_name AS name,
             'AL-' || CAST(c_custkey AS VARCHAR) AS alias
      FROM customer
    ),
    probes AS (
      SELECT c_custkey AS probe_id,
             CASE CAST(c_custkey % 3 AS INT)
               WHEN 0 THEN UPPER(c_name)
               WHEN 1 THEN '  al-' || CAST(c_custkey AS VARCHAR) || ' '
               ELSE 'no-such-ledger-' || CAST(c_custkey AS VARCHAR)
             END AS probe
      FROM customer
    )
    SELECT p.probe_id, p.probe, d.ledger_key, d.name
    FROM probes p LEFT JOIN dim d
      ON LOWER(TRIM(p.probe)) = LOWER(TRIM(d.name))
      OR LOWER(TRIM(p.probe)) = LOWER(TRIM(d.alias))
    ORDER BY p.probe_id
    """,
)
def ledger_or_alias_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: case-insensitive name-OR-alias dimension lookup (the reference's
    ledger search, ``app/tally/data_retrieval.py:184-217``). The OR-of-two-
    equalities predicate has no hash-join form — with a broadcast dimension
    it executes as BroadcastNestedLoopJoin, the correct plan for a tiny dim
    at any fact scale."""
    c = _t(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("ledger_key"),
        F.col("c_name").alias("name"),
        F.concat(F.lit("AL-"), F.col("c_custkey").cast("string")).alias("alias"),
    )
    probes = c.select(
        F.col("c_custkey").alias("probe_id"),
        F.when(F.pmod("c_custkey", F.lit(3)) == 0, F.upper("c_name"))
        .when(
            F.pmod("c_custkey", F.lit(3)) == 1,
            F.concat(F.lit("  al-"), F.col("c_custkey").cast("string"), F.lit(" ")),
        )
        .otherwise(F.concat(F.lit("no-such-ledger-"), F.col("c_custkey").cast("string")))
        .alias("probe"),
    )
    norm = lambda col: F.lower(F.trim(col))  # noqa: E731
    return (
        probes.join(
            F.broadcast(dim),
            (norm(F.col("probe")) == norm(F.col("name")))
            | (norm(F.col("probe")) == norm(F.col("alias"))),
            "left",
        )
        .select("probe_id", "probe", "ledger_key", "name")
        .orderBy("probe_id")
    )


#: P11 — the reference's document-specific fields that must never auto-load
#: dimension options (``app/tally/tally_field_options.py:371-407``).
NON_TALLY_FIELDS = [
    "invoice_number", "po_number", "challan_number", "eway_bill_number",
    "voucher_reference", "lr_number", "vehicle_number", "invoice_date",
    "due_date", "challan_date", "eway_bill_date", "quantity", "unit_price",
    "line_total", "total_amount", "subtotal", "gst_rate", "cgst_rate",
    "sgst_rate", "igst_rate", "taxable_value", "cgst_amount", "sgst_amount",
    "igst_amount", "hsn_code", "sac_code", "vendor_gstin", "customer_gstin",
    "vendor_pan", "customer_pan", "ifsc_code", "upi_id",
]

_FIELD_NAME_CYCLE = [
    "vendor_name", "customer_name", "item_description", "unit_of_measure",
    "company_name", "invoice_number", "total_amount", "supplier_name",
    "stock_item_name", "uom", "place_of_supply", "quantity",
]


def _synth_field_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic field-name probe set derived from the part table."""
    p = _t(spark, sf_dir, "part")
    cyc = F.element_at(
        F.array(*[F.lit(s) for s in _FIELD_NAME_CYCLE]),
        (F.pmod("p_partkey", F.lit(len(_FIELD_NAME_CYCLE))) + 1).cast("int"),
    )
    return p.select(F.col("p_partkey").alias("field_id"), cyc.alias("field_name_str"))


def _field_cycle_sql() -> str:
    whens = "\n".join(
        f"        WHEN {i} THEN '{s}'" for i, s in enumerate(_FIELD_NAME_CYCLE)
    )
    return (
        "SELECT p_partkey AS field_id,\n"
        "       CASE CAST(p_partkey % 12 AS INT)\n"
        f"{whens}\n"
        "       END AS field_name_str\n"
        "FROM part"
    )


@q(
    "field_option_dispatch",
    f"""
    WITH fields AS ({_field_cycle_sql()})
    SELECT
      CASE
        WHEN (field_name_str LIKE '%vendor%' OR field_name_str LIKE '%supplier%'
              OR field_name_str LIKE '%creditor%')
             AND field_name_str LIKE '%name%' THEN 'ledgers:Sundry Creditors'
        WHEN (field_name_str LIKE '%customer%' OR field_name_str LIKE '%client%'
              OR field_name_str LIKE '%debtor%')
             AND field_name_str LIKE '%name%' THEN 'ledgers:Sundry Debtors'
        WHEN (field_name_str LIKE '%item%' OR field_name_str LIKE '%product%'
              OR field_name_str LIKE '%stock%')
             AND (field_name_str LIKE '%description%' OR field_name_str LIKE '%name%')
          THEN 'stock_items'
        WHEN field_name_str LIKE '%unit%' OR field_name_str LIKE '%uom%'
             OR field_name_str LIKE '%measure%' THEN 'units'
        WHEN field_name_str LIKE '%company%' AND field_name_str LIKE '%name%'
          THEN 'companies'
        ELSE 'skip:no_mapping_defined'
      END AS route,
      COUNT(*) AS n_fields
    FROM fields
    GROUP BY route
    ORDER BY route
    """,
)
def field_option_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: the keyword-dispatch CASE routing field names to option loaders
    (``app/tally/tally_field_options.py:473-496``) — ordered keyword checks,
    first match wins, default = skip."""
    fields = _synth_field_names(spark, sf_dir)
    s = F.col("field_name_str")
    has = lambda *kws: F.greatest(*[s.contains(k) for k in kws]) if len(kws) > 1 else s.contains(kws[0])  # noqa: E731
    route = (
        F.when(has("vendor", "supplier", "creditor") & s.contains("name"), "ledgers:Sundry Creditors")
        .when(has("customer", "client", "debtor") & s.contains("name"), "ledgers:Sundry Debtors")
        .when(has("item", "product", "stock") & (s.contains("description") | s.contains("name")), "stock_items")
        .when(has("unit", "uom", "measure"), "units")
        .when(s.contains("company") & s.contains("name"), "companies")
        .otherwise("skip:no_mapping_defined")
    )
    return (
        fields.select(route.alias("route"))
        .groupBy("route")
        .agg(F.count("*").alias("n_fields"))
        .orderBy("route")
    )


@q(
    "blocklist_filter",
    f"""
    WITH fields AS ({_field_cycle_sql()})
    SELECT field_id, field_name_str
    FROM fields
    WHERE field_name_str NOT IN ({", ".join(f"'{s}'" for s in NON_TALLY_FIELDS)})
    ORDER BY field_id
    """,
)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: the non-Tally-field blocklist (~isin over the 32 document-
    specific names, ``tally_field_options.py:371-407``) — fields allowed to
    auto-load dimension options."""
    fields = _synth_field_names(spark, sf_dir)
    return (
        fields.where(~F.col("field_name_str").isin(NON_TALLY_FIELDS))
        .orderBy("field_id")
    )


@q(
    "dimension_as_of_lookup",
    """
    WITH v1 AS (SELECT n_nationkey AS dim_key, n_name AS name FROM nation),
    v2 AS (SELECT n_nationkey AS dim_key,
                  CASE WHEN n_nationkey % 2 = 0 THEN n_name || ' LTD' ELSE n_name END AS name
           FROM nation)
    SELECT c.c_custkey, a.name AS name_asof, l.name AS name_latest
    FROM customer c
    JOIN v1 a ON c.c_nationkey = a.dim_key
    JOIN v2 l ON c.c_nationkey = l.dim_key
    ORDER BY c.c_custkey
    """,
)
def dimension_as_of_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 ERP dimension source end-to-end: two full dimension pulls synced
    into a DimensionStore (v1 effective Jan, v2 — with renamed even-keyed
    rows — effective Jun), then a fact join against BOTH ``as_of(March)``
    (must resolve to v1) and ``latest()`` (must resolve to v2). The oracle
    recomputes both versions analytically, so a wrong version pick (union,
    off-by-one on the effective-ts cut, stale latest) hash-mismatches."""
    import tempfile
    from datetime import datetime, timezone

    from ocr_platform_spark.sources.dimensions import DimensionStore

    n = _t(spark, sf_dir, "nation")
    v1 = n.select(F.col("n_nationkey").alias("dim_key"), F.col("n_name").alias("name"))
    v2 = n.select(
        F.col("n_nationkey").alias("dim_key"),
        F.when(
            F.pmod("n_nationkey", F.lit(2)) == 0, F.concat("n_name", F.lit(" LTD"))
        )
        .otherwise(F.col("n_name"))
        .alias("name"),
    )
    store = DimensionStore(tempfile.mkdtemp(prefix="dimstore-"))
    store.sync(v1, "v1", effective_ts=datetime(2024, 1, 1, tzinfo=timezone.utc))
    store.sync(v2, "v2", effective_ts=datetime(2024, 6, 1, tzinfo=timezone.utc))
    asof = store.as_of(spark, datetime(2024, 3, 1, tzinfo=timezone.utc))
    latest = store.latest(spark)
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(
            F.broadcast(asof.select("dim_key", F.col("name").alias("name_asof"))),
            c.c_nationkey == F.col("dim_key"),
        )
        .drop("dim_key")
        .join(
            F.broadcast(latest.select("dim_key", F.col("name").alias("name_latest"))),
            c.c_nationkey == F.col("dim_key"),
        )
        .select("c_custkey", "name_asof", "name_latest")
        .orderBy("c_custkey")
    )


@q(
    "doc_containment_pairs",
    f"""
    WITH p AS (SELECT * FROM read_parquet('{staged_glob("contain_postings")}')),
    capped AS (
      SELECT id, fp FROM (
        SELECT id, fp, COUNT(*) OVER (PARTITION BY fp) AS _df FROM p
      ) WHERE _df <= 64
    ),
    sized AS (
      SELECT id, fp, COUNT(*) OVER (PARTITION BY id) AS n_fp FROM capped
    ),
    agg AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_fp AS n_fp_a, b.n_fp AS n_fp_b,
             COUNT(*) AS n_shared
      FROM sized a JOIN sized b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2, 3, 4
      HAVING COUNT(*) >= 2
    ),
    directed AS (
      SELECT id_a AS id_in, id_b AS id_out, n_shared, n_fp_a AS n_fp_in,
             n_fp_b AS n_fp_out FROM agg
      UNION ALL
      SELECT id_b, id_a, n_shared, n_fp_b, n_fp_a FROM agg
    )
    SELECT id_in, id_out, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_fp_in AS BIGINT) AS n_fp_in,
           CAST(n_fp_out AS BIGINT) AS n_fp_out,
           round(CAST(n_shared AS DOUBLE) / n_fp_in, 6) AS containment
    FROM directed
    WHERE round(CAST(n_shared AS DOUBLE) / n_fp_in, 6) >= 0.8
    ORDER BY id_in, id_out
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-CONTAINMENT detection (operators/dedup.winnow_
    containment_pairs): documents whose winnowing fingerprints are ≥ 80%
    a subset of another document's — the syndication/quote-inclusion/
    page-wraps-article signal that symmetric Jaccard dilutes away. The
    xxhash64 fingerprint postings are staged; BOTH engines replay the
    frequency cap (pure aggregate predicate — no row_number truncation),
    the unordered-pair aggregate, the two directed projections, and the
    containment threshold."""
    d = _t(spark, sf_dir, "documents")
    posts = stage(
        dedup.winnow_fp_postings(d, "doc_id", "text"), "contain_postings", partitions=4
    )
    return dedup.winnow_containment_pairs(
        posts, min_shared=2, max_df=64, min_containment=0.8
    ).orderBy("id_in", "id_out")


@q(
    "doc_containment_strip",
    f"""
    WITH pr AS (SELECT * FROM read_parquet('{staged_glob("cstrip_pairs")}')),
    op AS (SELECT * FROM read_parquet('{staged_glob("cstrip_outer_posts")}')),
    ih AS (SELECT * FROM read_parquet('{staged_glob("cstrip_inner_hs")}')),
    m AS (
      SELECT DISTINCT op.id, op.pos
      FROM op JOIN pr ON pr.id_out = op.id
              JOIN ih ON ih.id_in = pr.id_in AND ih.h = op.h
    ),
    pe AS (
      SELECT id, pos,
             MAX(pos + 30) OVER (
               PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM m
    ),
    i AS (
      SELECT id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pe
    ),
    spans AS (
      SELECT id, MIN(pos) AS span_start, MAX(pos) + 30 AS span_end
      FROM i GROUP BY id, island
    ),
    docs AS (
      SELECT d.doc_id AS id, d.text FROM documents d
      JOIN (SELECT DISTINCT id_out FROM pr) o ON o.id_out = d.doc_id
    ),
    segs AS (
      SELECT id,
             COALESCE(LAG(span_end) OVER (PARTITION BY id ORDER BY span_start), 0)
               AS seg_start,
             span_start AS seg_end
      FROM spans
      UNION ALL
      SELECT s.id, MAX(s.span_end), length(d.text)
      FROM spans s JOIN docs d ON s.id = d.id
      GROUP BY s.id, length(d.text)
    ),
    stats AS (
      SELECT id, COUNT(*) AS n_spans_cut,
             SUM(span_end - span_start) AS n_chars_cut
      FROM spans GROUP BY id
    ),
    rebuilt AS (
      SELECT segs.id,
             string_agg(
               substr(d.text, seg_start + 1, greatest(seg_end - seg_start, 0)),
               '' ORDER BY seg_start) AS cut
      FROM segs JOIN docs d ON segs.id = d.id
      GROUP BY segs.id
    )
    SELECT d.id AS doc_id, COALESCE(r.cut, d.text) AS text,
           COALESCE(st.n_spans_cut, 0) AS n_spans_cut,
           CAST(COALESCE(st.n_chars_cut, 0) AS BIGINT) AS n_chars_cut
    FROM docs d
    LEFT JOIN rebuilt r ON d.id = r.id
    LEFT JOIN stats st ON d.id = st.id
    ORDER BY doc_id
    """,
)
def doc_containment_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-driven CURATION CUT (operators/dedup.strip_contained_
    spans): instead of dropping a document that near-contains another
    (``doc_containment_pairs``' verdict), keep it and cut out the spans it
    shares with its paired inner doc(s) — syndication chrome and list-page
    commentary survive, the duplicated article body leaves the corpus
    exactly once. The directed pairs, the outer docs' positional char-gram
    postings, and the inner docs' distinct gram hashes are staged; BOTH
    engines replay the pair-scoped semi-join marking, the gaps-and-islands
    span merge, and the byte-exact complement-segment surgery. Postings
    exist only for pair participants — volume scales with the containment
    set, not the corpus."""
    d = _t(spark, sf_dir, "documents")
    posts = dedup.winnow_fp_postings(d, "doc_id", "text")
    pairs = dedup.winnow_containment_pairs(
        posts, min_shared=2, max_df=64, min_containment=0.8
    )
    names = {
        "pairs": ("cstrip_pairs", 1),
        "outer_posts": ("cstrip_outer_posts", 4),
        "inner_hs": ("cstrip_inner_hs", 2),
    }
    return dedup.strip_contained_spans(
        d,
        pairs,
        "doc_id",
        "text",
        k=30,
        persist_stage=lambda df, name: stage(
            df, names[name][0], partitions=names[name][1]
        ),
    ).orderBy("doc_id")


@q(
    "doc_winnow_fingerprints",
    f"""
    WITH g AS (SELECT * FROM read_parquet('{staged_glob("winnow_grams")}')),
    win AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
             MAX(pos) OVER (PARTITION BY doc_id) AS n_grams
      FROM g
    )
    SELECT doc_id, COUNT(DISTINCT win_min) AS n_fingerprints,
           MIN(win_min) AS min_fp, MAX(win_min) AS max_fp
    FROM win
    WHERE pos <= GREATEST(n_grams - 3, 1)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints over the documents
    table. The positional k-gram hash table is staged; BOTH engines then run
    the winnowing selection itself — window-of-4 minima over valid window
    starts, distinct per document — so the fingerprint-selection logic is
    oracle-checked end-to-end (the single-pass array formulation
    ``winnow_fingerprints`` is pinned equivalent in tests/test_textfns.py)."""
    from ocr_platform_spark.functions.textfns import char_kgram_hashes, normalized_text

    d = _t(spark, sf_dir, "documents")
    # Stage the normalized text FIRST (projection barrier): without it
    # CollapseProject inlines the regex normalize into the per-gram lambda
    # and re-runs it once per gram — measured ~25× the runtime at sf0.1.
    # The bounded prefix keeps per-doc fingerprint cost constant at any
    # corpus scale (near-dup docs share prefixes — standard curation trade).
    norm = stage(
        d.select(
            "doc_id", normalized_text(F.substring("text", 1, 2000)).alias("norm")
        ),
        "winnow_norm",
        partitions=8,
    )
    grams = stage(
        norm.select(
            "doc_id",
            F.posexplode(char_kgram_hashes("norm", 8, normalized=True)).alias(
                "pos0", "h"
            ),
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h"),
        "winnow_grams",
        partitions=8,
    )
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    wdoc = Window.partitionBy("doc_id")
    win = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(wmin).alias("win_min"),
        F.max("pos").over(wdoc).alias("n_grams"),
    )
    return (
        win.where(F.col("pos") <= F.greatest(F.col("n_grams") - 3, F.lit(1)))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("win_min").alias("n_fingerprints"),
            F.min("win_min").alias("min_fp"),
            F.max("win_min").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


@q(
    "export_pdf_roundtrip",
    f"""
    WITH i AS (SELECT * FROM read_parquet('{staged_glob("export_input")}')),
    e AS (SELECT * FROM read_parquet('{staged_glob("export_extracted")}')),
    exp AS (
      SELECT url,
             string_agg(field_name || ': ' || value, chr(10)
                        ORDER BY field_name, value) AS expected
      FROM i GROUP BY url
    )
    SELECT e.url, CAST(e.extracted_text = exp.expected AS BOOLEAN) AS roundtrip_ok
    FROM e JOIN exp ON e.url = exp.url
    ORDER BY e.url
    """,
)
def export_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 rendered-export sink proven end-to-end: EAV result rows →
    ``render_exports`` PDF archive → re-extraction with the engine's OWN
    pdf kernel. The staged input and the staged re-extracted text are
    compared against an *independently computed* expected rendering
    (DuckDB: string_agg ordered by field; Spark: sort_array+concat_ws), so
    a bug in either the renderer or the extractor flips roundtrip_ok."""
    from ocr_platform_spark.sources.export import render_exports

    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    url = F.col("p_partkey").cast("string").alias("url")
    inp = stage(
        p.select(url, F.lit("NAME").alias("field_name"), F.col("p_name").alias("value"))
        .unionByName(
            p.select(url, F.lit("TYPE").alias("field_name"), F.col("p_type").alias("value"))
        ),
        "export_input",
    )
    arch = render_exports(inp, "pdf")

    def _reextract_fn(contents):
        import pandas as pd

        from ocr_platform_spark.kernels.pdf_extract import extract_pdf

        return pd.Series([extract_pdf(bytes(c))[0] for c in contents])

    _reextract = F.pandas_udf(_reextract_fn, "string")

    extracted = stage(
        arch.select("url", _reextract(F.col("content")).alias("extracted_text")),
        "export_extracted",
    )
    expected = inp.groupBy("url").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("field_name", "value"))),
                lambda s: F.concat(s["field_name"], F.lit(": "), s["value"]),
            ),
        ).alias("expected")
    )
    return (
        extracted.join(expected, "url")
        .select(
            "url", (F.col("extracted_text") == F.col("expected")).alias("roundtrip_ok")
        )
        .orderBy("url")
    )


@q(
    "corrected_table_cells",
    """
    WITH cells AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS url, 'LINE_ITEMS' AS field_name,
             CAST(l_linenumber AS INT) AS row_index, 'QTY' AS column_name,
             CAST(CAST(l_quantity AS INT) AS VARCHAR) AS predicted_value
      FROM lineitem WHERE l_orderkey <= 800
    ),
    corr AS (
      -- the synthetic lineitem carries duplicate (orderkey, linenumber)
      -- pairs; the overlay's latest-wins rule (equal timestamps → value
      -- DESC tie-break) collapses them to MAX(corrected_value) per key
      SELECT url, field_name, row_index, column_name,
             MAX(predicted_value || '-fixed') AS corrected_value
      FROM cells WHERE row_index = 1 AND CAST(url AS BIGINT) % 3 = 0
      GROUP BY url, field_name, row_index, column_name
    )
    SELECT c.url, c.field_name, c.row_index, c.column_name,
           COALESCE(k.corrected_value, c.predicted_value) AS value,
           k.corrected_value IS NOT NULL AS was_corrected
    FROM cells c LEFT JOIN corr k
      ON c.url = k.url AND c.field_name = k.field_name
     AND c.row_index = k.row_index AND c.column_name = k.column_name
    ORDER BY c.url, c.row_index
    """,
)
def corrected_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 at TABLE-cell granularity: corrections addressed to the full
    (url, field_name, row_index, column_name) EAV key — only the addressed
    row_index/column changes, null-safe key semantics exercised with
    non-null cell keys (reference ocr_line_item_value.py:4-14,
    document_routes.py:577-590)."""
    from ocr_platform_spark.operators.corrections import apply_corrections
    from ocr_platform_spark.operators.eav import canonical_value

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 800)
    cells = li.select(
        F.col("l_orderkey").cast("string").alias("url"),
        F.lit("LINE_ITEMS").alias("field_name"),
        F.col("l_linenumber").cast("int").alias("row_index"),
        F.lit("QTY").alias("column_name"),
        F.col("l_quantity").cast("int").cast("string").alias("predicted_value"),
        F.lit(None).cast("string").alias("actual_value"),
    )
    corr = cells.where(
        (F.col("row_index") == 1) & (F.col("url").cast("long") % 3 == 0)
    ).select(
        "url",
        "field_name",
        "row_index",
        "column_name",
        F.concat("predicted_value", F.lit("-fixed")).alias("corrected_value"),
        F.lit("2024-01-01").cast("timestamp").alias("corrected_at"),
    )
    return (
        apply_corrections(cells, corr)
        .select(
            "url",
            "field_name",
            "row_index",
            "column_name",
            canonical_value().alias("value"),
            F.col("actual_value").isNotNull().alias("was_corrected"),
        )
        .orderBy("url", "row_index")
    )


#: SQL faces of the curation gates — textually identical to the proven
#: doc_quality / doc_lang_id oracles so the funnel reuses verified math.
_QUALITY_SQL = r"""
      SELECT doc_id,
        round(
          least(toks / 100.0, 1.0) * 0.4
          + least((CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END) * 5.0, 1.0) * 0.3
          + (1.0 - least((CASE WHEN toks > 0 THEN punct / toks ELSE 1.0 END) * 2.0, 1.0)) * 0.3,
          4) AS quality
      FROM (
        SELECT doc_id,
          CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS toks,
          CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|that|with)\b')) AS DOUBLE) AS stops,
          CAST(length(text) - length(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) AS punct
        FROM documents
      )
"""


def _lang_sql() -> str:
    scores = ", ".join(
        f"len(regexp_extract_all(lower(text), '{_STOP_RE[lang]}')) AS s_{lang}"
        for lang, _ in TX.LANG_PROFILES
    )
    whens = " ".join(
        f"WHEN s_{lang} = greatest(s_en, s_de, s_es, s_fr, s_hi) THEN '{lang}'"
        for lang, _ in TX.LANG_PROFILES
    )
    return f"""
      SELECT doc_id,
        CASE {_SCRIPT_WHENS_SQL}
             WHEN greatest(s_en, s_de, s_es, s_fr, s_hi) = 0 THEN 'und'
             {whens}
        END AS pred_lang
      FROM (SELECT doc_id, {scores}, {_SCRIPT_COUNTS_SQL} FROM documents)
"""


@q(
    "curation_funnel",
    f"""
    WITH q AS ({_QUALITY_SQL}),
    l AS ({_lang_sql()}),
    s1 AS (
      SELECT d.doc_id, d.text FROM documents d JOIN q USING (doc_id)
      WHERE q.quality >= 0.3
    ),
    s2 AS (
      SELECT s1.* FROM s1 JOIN l USING (doc_id) WHERE l.pred_lang = 'en'
    ),
    rep AS (
      SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS frac FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, greatest(len(words) - 1, 1)),
                   i -> array_to_string(words[i:i+1], ' '))) AS g
          FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
            FROM s2
          )
        ) GROUP BY doc_id, g
      ) GROUP BY doc_id
    ),
    s3 AS (
      SELECT s2.* FROM s2 JOIN rep USING (doc_id) WHERE rep.frac <= 0.11
    ),
    s4 AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM s3
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT doc_id FROM read_parquet('{staged_glob("curation_dropped")}')
    ),
    s5 AS (SELECT doc_id FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
    fps AS (SELECT id, fp FROM read_parquet('{staged_glob("curation_winnow_fps")}')),
    good AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 64),
    gp AS (SELECT fps.id, fps.fp FROM fps JOIN good USING (fp)),
    sizes AS (SELECT id, COUNT(*) AS n_fp FROM gp GROUP BY id),
    wpairs AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
      FROM gp a JOIN gp b ON a.fp = b.fp AND a.id < b.id
      GROUP BY a.id, b.id HAVING COUNT(*) >= 2
    ),
    wdrop AS (
      SELECT DISTINCT w.id_b FROM wpairs w
      JOIN sizes sa ON sa.id = w.id_a
      JOIN sizes sb ON sb.id = w.id_b
      WHERE round(CAST(w.n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp), 6) >= 0.35
    ),
    s6 AS (SELECT doc_id FROM s5 WHERE doc_id NOT IN (SELECT id_b FROM wdrop))
    SELECT CAST(stage_no AS INT) AS stage_no, stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
      VALUES (0, 'input',         (SELECT COUNT(*) FROM documents)),
             (1, 'quality',       (SELECT COUNT(*) FROM s1)),
             (2, 'lang',          (SELECT COUNT(*) FROM s2)),
             (3, 'repetition',    (SELECT COUNT(*) FROM s3)),
             (4, 'exact_dedup',   (SELECT COUNT(*) FROM s4)),
             (5, 'near_dup_drop', (SELECT COUNT(*) FROM s5)),
             (6, 'winnow_drop',   (SELECT COUNT(*) FROM s6))
    ) AS t(stage_no, stage, n_docs)
    ORDER BY stage_no
    """,
)
def curation_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composed curation pipeline (plans/curation.py
    run_curation_funnel): quality >= 0.3 -> lang = en -> repetition
    (top-bigram share <= 0.11) -> exact dedup -> MinHash near-dup drop ->
    winnowing near-dup drop, as a per-stage funnel. The Spark side runs the
    SINGLE-PASS shape: all three gates are pure column expressions fused
    into one corpus scan whose counts come from ``df.observe`` metrics (no
    per-gate rescans); the dedup tail runs over the staged survivor table.
    The oracle recomputes stages 0-4 entirely in SQL (the same verified
    quality/lang/repetition/fingerprint math), applies the staged LSH drop
    set for stage 5, and re-derives the winnowing drop set from the staged
    fingerprint postings (frequency cap + overlap, pure aggregates) — every
    count cross-engine hash-checked."""
    from ocr_platform_spark.plans.curation import run_curation_funnel

    d = _t(spark, sf_dir, "documents")
    report, _details = run_curation_funnel(
        d,
        min_quality=0.3,
        langs=("en",),
        max_top_bigram_frac=0.11,
        near_dup_threshold=0.5,
        winnow_min_shared=2,
        winnow_max_df=64,
        winnow_min_overlap=0.35,
    )
    return report.orderBy("stage_no")


@q(
    "corpus_build_report",
    rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
            FROM t WHERE len(ts) >= 8)
    ),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
    contaminated AS (
      SELECT DISTINCT gg.doc_id FROM g gg JOIN ev USING (g)
      WHERE gg.doc_id % 7 <> 0
    ),
    s1 AS (
      SELECT d.doc_id, d.text FROM documents d
      WHERE d.doc_id % 7 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    fzhs AS (SELECT * FROM read_parquet('{staged_glob("cbr_fz_hs")}')),
    fzev AS (SELECT * FROM read_parquet('{staged_glob("cbr_fz_ev")}')),
    fzc AS (SELECT * FROM read_parquet('{staged_glob("cbr_fz_cands")}')),
    fzj AS (
      SELECT c.id,
             len(list_intersect(h.hs, e.hs)) AS n_common,
             len(h.hs) + len(e.hs) - len(list_intersect(h.hs, e.hs)) AS n_union
      FROM fzc c JOIN fzhs h ON h.id = c.id JOIN fzev e ON e.eval_id = c.eval_id
    ),
    fzbad AS (
      SELECT DISTINCT id FROM fzj
      WHERE n_union > 0 AND CAST(n_common AS DOUBLE) / n_union >= 0.5
    ),
    s1b AS (SELECT doc_id, text FROM s1
            WHERE doc_id NOT IN (SELECT id FROM fzbad))
    SELECT CAST(stage_no AS INT) AS stage_no, stage, CAST(n AS BIGINT) AS n_docs
    FROM (
      VALUES (0, 'input',           (SELECT COUNT(*) FROM documents)),
             (1, 'train_split',     (SELECT COUNT(*) FROM documents WHERE doc_id % 7 <> 0)),
             (2, 'decontam',        (SELECT COUNT(*) FROM s1)),
             (3, 'decontam_fuzzy',  (SELECT COUNT(*) FROM s1b))
    ) AS v(stage_no, stage, n)
    ORDER BY stage_no
    """,
)
def corpus_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-build job's post-curation refinement tail
    (plans/corpus_build.corpus_refine_stages) as an oracle-verified funnel:
    eval split (doc_id % 7 = 0) → benchmark DECONTAMINATION (exact word
    8-gram overlap, left-anti) → FUZZY decontamination (MinHash-banded
    near-match against the same eval set, Jaccard ≥ 0.5; the banded
    shingle sets and candidates staged). The oracle recomputes gram
    overlap and the fuzzy Jaccard verdicts — each stage count
    cross-engine hash-checked."""
    from ocr_platform_spark.plans.corpus_build import corpus_refine_stages

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    fz_names = {"hs_train": "cbr_fz_hs", "hs_eval": "cbr_fz_ev", "cands": "cbr_fz_cands"}
    _, metrics = corpus_refine_stages(
        train,
        decontam_eval=ev,
        decontam_n=8,
        decontam_fuzzy_threshold=0.5,
        persist_fuzzy=lambda df, name: stage(df, fz_names[name]),
    )
    n0 = d.count()
    n_train = train.count()
    n1 = n_train - metrics["decontam_dropped"]
    n1b = n1 - metrics["decontam_fuzzy_dropped"]
    rows = [
        (0, "input", n0),
        (1, "train_split", n_train),
        (2, "decontam", n1),
        (3, "decontam_fuzzy", n1b),
    ]
    return spark.createDataFrame(rows, "stage_no int, stage string, n_docs bigint")


@q(
    "url_prefix_rollup",
    r"""
    WITH u AS (
      SELECT DISTINCT
        'site-' || CAST(doc_id % 8 AS VARCHAR) || '.example.org' AS host,
        CASE doc_id % 4
          WHEN 0 THEN '/blog/c' || CAST(doc_id % 3 AS VARCHAR)
                   || '/post-' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN '/blog/c' || CAST(doc_id % 3 AS VARCHAR)
                   || '/media/img-' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN '/shop/item-' || CAST(doc_id AS VARCHAR)
          ELSE '/help/faq-' || CAST(doc_id AS VARCHAR)
        END AS path
      FROM documents
    ),
    segs AS (
      SELECT host, path, list_filter(str_split(path, '/'), x -> x <> '') AS ss
      FROM u
    ),
    pref AS (
      SELECT host, path, CAST(i AS INT) AS depth,
             '/' || array_to_string(ss[1:i], '/') AS prefix
      FROM (SELECT host, path, ss, unnest(generate_series(1, len(ss) - 1)) AS i
            FROM segs)
    ),
    tot AS (SELECT host, COUNT(*) AS n_host_urls FROM u GROUP BY host),
    roll AS (
      SELECT host, prefix, depth, COUNT(*) AS n_urls
      FROM pref GROUP BY host, prefix, depth
    )
    SELECT r.host, r.prefix, r.depth,
           CAST(r.n_urls AS BIGINT) AS n_urls,
           CAST(t.n_host_urls AS BIGINT) AS n_host_urls,
           r.n_urls * 2 >= t.n_host_urls AS dominant
    FROM roll r JOIN tot t USING (host)
    WHERE r.n_urls >= 4
    ORDER BY host, prefix
    """,
)
def url_prefix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-PREFIX subtree rollup per host — the crawl-analytics readout
    behind section-level budgeting and trap triage: every directory
    prefix of every url aggregates its page count, so '/blog' dominating
    half a host's urls (``dominant``) is visible at any depth without
    knowing the site's layout in advance. The prefix explode is
    map-side and bounded by path depth; the rollup is one shuffle keyed
    (host, prefix) — far finer than host, so a mega-host's subtrees
    spread across reducers. Counts are exact integers; the oracle
    replays the prefix expansion and both aggregates."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")
    path = (
        F.when(
            did % 4 == 0,
            F.concat(F.lit("/blog/c"), (did % 3).cast("string"), F.lit("/post-"), ds),
        )
        .when(
            did % 4 == 1,
            F.concat(F.lit("/blog/c"), (did % 3).cast("string"), F.lit("/media/img-"), ds),
        )
        .when(did % 4 == 2, F.concat(F.lit("/shop/item-"), ds))
        .otherwise(F.concat(F.lit("/help/faq-"), ds))
    )
    u = d.select(
        F.concat(F.lit("site-"), (did % 8).cast("string"), F.lit(".example.org")).alias(
            "host"
        ),
        path.alias("path"),
    ).distinct()
    segs = u.select(
        "host", "path", F.filter(F.split("path", "/", -1), lambda x: x != F.lit("")).alias("ss")
    )
    # Spark sequence(1, 0) is DESCENDING [1, 0] while DuckDB
    # generate_series(1, 0) is empty — guard single-segment paths
    depths = F.when(F.size("ss") >= 2, F.sequence(F.lit(1), F.size("ss") - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pref = segs.select(
        "host",
        "path",
        "ss",
        F.explode(depths).alias("depth"),
    ).select(
        "host",
        "path",
        F.col("depth").cast("int").alias("depth"),
        F.concat(F.lit("/"), F.array_join(F.slice("ss", 1, F.col("depth")), "/")).alias(
            "prefix"
        ),
    )
    tot = u.groupBy("host").agg(F.count("*").alias("n_host_urls"))
    roll = pref.groupBy("host", "prefix", "depth").agg(F.count("*").alias("n_urls"))
    return (
        roll.join(F.broadcast(tot), "host")
        .where(F.col("n_urls") >= 4)
        .select(
            "host",
            "prefix",
            "depth",
            F.col("n_urls").cast("long").alias("n_urls"),
            F.col("n_host_urls").cast("long").alias("n_host_urls"),
            (F.col("n_urls") * 2 >= F.col("n_host_urls")).alias("dominant"),
        )
        .orderBy("host", "prefix")
    )


def _trap_oracle_sql() -> str:
    from ocr_platform_spark.functions.urlfns import trap_flags_sql

    flags = trap_flags_sql("url")
    flag_exprs = ",\n           ".join(f"{v} AS {k}" for k, v in flags.items())
    any_trap = " OR ".join(f"({v})" for v in flags.values())
    return f"""
    WITH u AS (
      SELECT doc_id,
        'https://site-' || CAST(doc_id % 8 AS VARCHAR) || '.example.org' ||
        CASE doc_id % 5
          WHEN 0 THEN '/archive/' || CAST(2000 + doc_id % 40 AS VARCHAR)
                   || '/' || CAST(doc_id % 12 + 1 AS VARCHAR) || '/page'
          WHEN 1 THEN '/d1/d2/d3/d4/d5/d6/d7/d8/x-' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN '/tag/tag/tag/item-' || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN '/p?a=1&b=2&c=3&d=4&e=' || CAST(doc_id AS VARCHAR) || '&f=6'
          ELSE '/p/' || CAST(doc_id AS VARCHAR)
        END AS url
      FROM documents
    )
    SELECT doc_id, url,
           {flag_exprs},
           ({any_trap}) AS is_trap
    FROM u ORDER BY doc_id
    """


@q("crawl_trap_detection", _trap_oracle_sql())
def crawl_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap gating (functions/urlfns.trap_*; the Heritrix
    pathological-URL family): self-similar repeated path segments,
    excessive path depth, parameter explosions and year/month calendar
    spaces each flag BEFORE a url is enqueued, since traps generate
    unbounded URL spaces under a single host and politeness alone never
    drains them. All four rules are map-side string/array expressions
    (no shuffle, no UDF); the oracle SQL twins are generated next to the
    Column functions and their equality is additionally pinned on
    adversarial urls in tests/test_urlfns.py."""
    from ocr_platform_spark.functions.urlfns import (
        trap_calendar_like,
        trap_param_heavy,
        trap_segment_repeat,
        trap_too_deep,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")
    path = (
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("/archive/"),
                (did % 40 + 2000).cast("string"),
                F.lit("/"),
                (did % 12 + 1).cast("string"),
                F.lit("/page"),
            ),
        )
        .when(did % 5 == 1, F.concat(F.lit("/d1/d2/d3/d4/d5/d6/d7/d8/x-"), ds))
        .when(did % 5 == 2, F.concat(F.lit("/tag/tag/tag/item-"), ds))
        .when(did % 5 == 3, F.concat(F.lit("/p?a=1&b=2&c=3&d=4&e="), ds, F.lit("&f=6")))
        .otherwise(F.concat(F.lit("/p/"), ds))
    )
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://site-"), (did % 8).cast("string"), F.lit(".example.org"), path
        ).alias("url"),
    )
    flags = {
        "seg_repeat": trap_segment_repeat("url"),
        "too_deep": trap_too_deep("url"),
        "param_heavy": trap_param_heavy("url"),
        "calendar_like": trap_calendar_like("url"),
    }
    is_trap = None
    for c in flags.values():
        is_trap = c if is_trap is None else (is_trap | c)
    return u.select(
        "doc_id",
        "url",
        *[c.alias(k) for k, c in flags.items()],
        is_trap.alias("is_trap"),
    ).orderBy("doc_id")


@q(
    "doc_robots_rollup",
    f"""
    SELECT noindex, nofollow, COUNT(*) AS n_docs
    FROM read_parquet('{staged_glob("robots_flags")}')
    GROUP BY noindex, nofollow
    ORDER BY noindex, nofollow
    """,
)
def doc_robots_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots meta-directive census (kernels/robots.py): a deterministic
    third of the synth pages get a ``<meta name=robots>`` tag injected
    (rotating noindex / nofollow,noindex / none variants, single- and
    double-quoted), the Arrow kernel parses flags per url, and the staged
    flag table is rolled up by both engines. Parser edge cases (quote
    styles, attribute order, bot-specific metas ignored, multiple tags
    OR-ing) are pinned in tests/test_robots.py."""
    from ocr_platform_spark.operators.robots import meta_robots_flags

    docs = _synth_docs(spark)
    variant = F.pmod(F.xxhash64("url"), F.lit(9))
    tag = (
        F.when(variant == 0, F.lit(b'<meta name="robots" content="noindex">'))
        .when(variant == 1, F.lit(b"<meta content='nofollow, noindex' name='robots'>"))
        .when(variant == 2, F.lit(b'<meta name="ROBOTS" content="none">'))
        .otherwise(F.lit(b""))
    )
    tagged = docs.withColumn("html", F.concat(tag, F.col("html")))
    flags = stage(meta_robots_flags(tagged), "robots_flags", partitions=4)
    return (
        flags.groupBy("noindex", "nofollow")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("noindex", "nofollow")
    )


def _noisy_url_sql() -> str:
    base = "'//Site-' || CAST(doc_id % 40 AS VARCHAR) || '.Example.org'"
    return f"""
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'HTTPS:' || {base} || ':443/Page/' || CAST(doc_id AS VARCHAR)
                      || '/?utm_source=feed&q=' || CAST(doc_id AS VARCHAR) || '#top'
          WHEN 1 THEN 'http:' || lower({base}) || ':80/page/' || CAST(doc_id AS VARCHAR) || '/'
          WHEN 2 THEN 'https:' || lower({base}) || '/page/' || CAST(doc_id AS VARCHAR)
                      || '?gclid=abc&q=' || CAST(doc_id AS VARCHAR) || '&fbclid=z'
          ELSE 'https:' || lower({base}) || '/page/' || CAST(doc_id AS VARCHAR)
        END AS raw_url
      FROM documents
"""


@q(
    "url_canonicalization",
    (
        lambda: f"""
    WITH u AS ({_noisy_url_sql()})
    SELECT doc_id, raw_url,
           {__import__("ocr_platform_spark.functions.urlfns", fromlist=["canonical_sql"]).canonical_sql("raw_url")} AS canon_url
    FROM u ORDER BY doc_id
    """
    )(),
)
def url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (the dedup key BEFORE content dedup): both
    engines synthesize the same noisy variants (case, default ports,
    tracking params, fragments, trailing slashes) and run the SAME
    canonicalization chain — Spark as column expressions, DuckDB via the
    dialect-translated mirror (functions/urlfns.py) — hash-compared
    per row."""
    from ocr_platform_spark.functions.urlfns import canonical_url

    d = _t(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("//Site-"), F.pmod("doc_id", F.lit(40)).cast("string"), F.lit(".Example.org")
    )
    did = F.col("doc_id").cast("string")
    raw = (
        F.when(
            F.pmod("doc_id", F.lit(4)) == 0,
            F.concat(F.lit("HTTPS:"), base, F.lit(":443/Page/"), did,
                     F.lit("/?utm_source=feed&q="), did, F.lit("#top")),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 1,
            F.concat(F.lit("http:"), F.lower(base), F.lit(":80/page/"), did, F.lit("/")),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 2,
            F.concat(F.lit("https:"), F.lower(base), F.lit("/page/"), did,
                     F.lit("?gclid=abc&q="), did, F.lit("&fbclid=z")),
        )
        .otherwise(F.concat(F.lit("https:"), F.lower(base), F.lit("/page/"), did))
    )
    return (
        d.select("doc_id", raw.alias("raw_url"))
        .withColumn("canon_url", canonical_url("raw_url"))
        .orderBy("doc_id")
    )


#: GPT-2-family pretokenizer shape (contractions, letter runs, digit runs,
#: punctuation runs, whitespace), restricted to the RE2 ∩ Java common
#: subset — identical counts in both engines.
_BPE_PAT = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


@q(
    "doc_bpe_tokens",
    f"""
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_PAT.replace(chr(39), chr(39) * 2)}')) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both faces the prompt asks for: whitespace tokens
    and a BPE-ish pretokenizer count (GPT-2 pattern family) — the unit a
    training-data budget is denominated in. Same regex in both engines."""
    from ocr_platform_spark.functions.textfns import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@q(
    "doc_repetition",
    r"""
    WITH lines AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                         x -> x <> '') AS ls
      FROM documents
    ),
    line_stats AS (
      SELECT doc_id, len(ls) AS n_lines,
             CASE WHEN len(ls) > 0
                  THEN round(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls), 4)
                  ELSE 0.0 END AS dup_line_frac
      FROM lines
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(words) - 1, 1)),
               i -> array_to_string(words[i:i+1], ' '))) AS g
      FROM (
        SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents
      )
    ),
    gram_counts AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    ),
    gram_stats AS (
      SELECT doc_id,
             round(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top_bigram_frac
      FROM gram_counts GROUP BY doc_id
    )
    SELECT l.doc_id, l.n_lines, l.dup_line_frac,
           COALESCE(g.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM line_stats l LEFT JOIN gram_stats g ON l.doc_id = g.doc_id
    ORDER BY l.doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition gates (the Gopher-family curation signals): fraction of
    duplicated non-empty lines, and the most-frequent word-bigram's share
    of all bigrams — the two signals that catch boilerplate loops and
    machine-generated spam that length/stopword scores miss. Pure column
    expressions + one explode/agg; identical math in the oracle."""
    from ocr_platform_spark.functions.textfns import word_shingles

    d = _t(spark, sf_dir, "documents")
    lines = F.filter(
        F.transform(F.split("text", "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    line_stats = d.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.when(
            F.size(lines) > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(lines)).cast("double") / F.size(lines),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
    )
    grams = d.select("doc_id", F.explode(word_shingles("text", 2)).alias("g"))
    gram_stats = (
        grams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c").cast("double") / F.sum("c"), 4).alias("top_bigram_frac"))
    )
    return (
        line_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@q(
    "corpus_length_deciles",
    r"""
    WITH h AS (SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY n_chars),
    cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
             (SELECT SUM(c) FROM h) AS n
      FROM h
    ),
    d AS (SELECT unnest(generate_series(1, 10)) AS decile)
    SELECT d.decile, CAST(MIN(cum.v) AS BIGINT) AS value
    FROM d JOIN cum ON cum.cum * 10 >= cum.n * d.decile
    GROUP BY d.decile ORDER BY d.decile
    """,
)
def corpus_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT document-length deciles at corpus scale — without the global
    sort that makes naive exact quantiles a single-partition job. The trick
    is the integer domain: aggregate counts BY VALUE (the histogram — one
    map-side-combinable shuffle of distinct-value size, not corpus size),
    cumulative-sum over that tiny value table, and decile k is the smallest
    value whose running count reaches rank ceil(n·k/10) — expressed as the
    all-integer ``cum*10 ≥ n*k``. Distributed where it's big, exact where
    approx_percentile would hand back engine-specific sketch values (the
    same exact-twin discipline as host_cardinality_exact)."""
    d = _t(spark, sf_dir, "documents")
    h = d.groupBy(F.col("n_chars").alias("v")).agg(F.count("*").alias("c"))
    # the window runs over the distinct-VALUE table (tiny), never the corpus
    cum = h.select(
        "v", F.sum("c").over(Window.orderBy("v")).alias("cum")
    ).crossJoin(F.broadcast(h.agg(F.sum("c").alias("n"))))
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    return (
        F.broadcast(deciles)
        .join(cum, cum.cum * 10 >= F.col("n") * F.col("decile"))
        .groupBy("decile")
        .agg(F.min("v").alias("value"))
        .orderBy("decile")
    )


@q(
    "corpus_vocab_growth",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(
        list_transform(
          generate_series(1, greatest(len(words) - 2, 1)),
          i -> array_to_string(words[i:i+2], ' '))) AS term
      FROM (
        SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents
      )
    ),
    firsts AS (SELECT term, MIN(doc_id) AS first_seen FROM toks GROUP BY term),
    mx AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    b AS (
      SELECT CAST(first_seen * 10 // n AS INT) AS decile
      FROM firsts, mx
    ),
    g AS (SELECT decile, COUNT(*) AS n_new_terms FROM b GROUP BY decile)
    SELECT decile, CAST(n_new_terms AS BIGINT) AS n_new_terms,
           CAST(SUM(n_new_terms) OVER (ORDER BY decile) AS BIGINT) AS vocab_size
    FROM g ORDER BY decile
    """,
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve — the corpus-analytics readout
    behind tokenizer sizing and dedup health checks (a flattening type
    curve on a growing crawl usually means near-duplicate flooding). The
    vocabulary unit is the 3-word shingle (the same convention as the
    Jaccard/MinHash family — single words saturate instantly on any
    corpus with a bounded lexicon); each shingle is attributed to the
    decile of the corpus where it FIRST appears (min(doc_id)), and the
    running sum of new-term counts is the vocabulary size after each
    tenth of the corpus. Scale shape: one vocabulary-keyed shuffle with
    map-side combine (explode → min(doc_id) per term); the cumulative
    window runs over 10 rows, never the corpus. Deciles are exact
    integer arithmetic (`* 10 div n`) in both engines — no float
    boundary drift."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(TX.word_shingles("text", 3)).alias("term")
    )
    firsts = toks.groupBy("term").agg(F.min("doc_id").alias("first_seen"))
    n = d.agg((F.max("doc_id") + 1).alias("n"))
    g = (
        firsts.crossJoin(F.broadcast(n))
        .select(F.expr("CAST(first_seen * 10 div n AS INT)").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("n_new_terms"))
    )
    # the window runs over at most 10 decile rows, never the corpus
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "decile",
        F.col("n_new_terms").cast("long").alias("n_new_terms"),
        F.sum("n_new_terms").over(w).cast("long").alias("vocab_size"),
    ).orderBy("decile")


@q(
    "snapshot_expiry_plan",
    """
    WITH snaps AS (SELECT doc_id AS sid FROM documents WHERE doc_id < 10),
    refs AS (
      SELECT sid, unnest(generate_series(greatest(sid - 2, 0) * 10, sid * 10 + 9))
               AS file_id
      FROM snaps
    ),
    files AS (
      SELECT file_id,
             MAX(sid) AS last_ref,
             file_id // 10 AS owner,
             (file_id % 50 + 1) * 1024 AS bytes
      FROM refs GROUP BY file_id
    )
    SELECT owner AS snapshot_id,
           owner >= 7 AS retained,
           CAST(COUNT(*) AS BIGINT) AS n_files_owned,
           CAST(COUNT(CASE WHEN last_ref < 7 THEN 1 END) AS BIGINT)
             AS n_reclaimable,
           CAST(COALESCE(SUM(CASE WHEN last_ref < 7 THEN bytes END), 0) AS BIGINT)
             AS reclaimable_bytes
    FROM files GROUP BY owner ORDER BY snapshot_id
    """,
)
def snapshot_expiry_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot EXPIRY / garbage-collection planning — the table-
    maintenance sibling of storage_compaction_plan (Iceberg's
    expire_snapshots): under a keep-last-3 retention policy, a data file
    is reclaimable only when NO retained snapshot references it, so the
    plan computes each file's latest referencing snapshot over the
    reference explode (snapshots re-reference the previous two
    snapshots' files, modelling rewrite-on-compact) and rolls
    reclaimable counts/bytes up by owning snapshot. One explode + two
    keyed aggregates; at real scale the reference table is manifest
    metadata — millions of rows, not data — and the whole plan never
    touches payloads."""
    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("sid")).where(
        F.col("sid") < 10
    )
    refs = d.select(
        "sid",
        F.explode(
            F.sequence(F.greatest(F.col("sid") - 2, F.lit(0)) * 10, F.col("sid") * 10 + 9)
        ).alias("file_id"),
    )
    files = refs.groupBy("file_id").agg(F.max("sid").alias("last_ref")).select(
        "file_id",
        "last_ref",
        F.expr("file_id div 10").alias("owner"),
        ((F.col("file_id") % 50 + 1) * 1024).alias("bytes"),
    )
    rec = F.col("last_ref") < 7
    return (
        files.groupBy("owner")
        .agg(
            F.count("*").cast("long").alias("n_files_owned"),
            F.count(F.when(rec, 1)).cast("long").alias("n_reclaimable"),
            F.coalesce(F.sum(F.when(rec, F.col("bytes"))), F.lit(0))
            .cast("long")
            .alias("reclaimable_bytes"),
        )
        .select(
            F.col("owner").alias("snapshot_id"),
            (F.col("owner") >= 7).alias("retained"),
            "n_files_owned",
            "n_reclaimable",
            "reclaimable_bytes",
        )
        .orderBy("snapshot_id")
    )


@q(
    "split_leakage_audit",
    f"""
    WITH leaders AS (SELECT doc_id, text FROM documents),
    docs AS (
      SELECT d.doc_id, md5(l.text) AS fp
      FROM documents d JOIN leaders l ON l.doc_id = d.doc_id - d.doc_id % 3
    ),
    assigned AS (
      SELECT doc_id, fp,
             CASE WHEN {oracle_bucket_sql("doc_id", 1000)} < 800 THEN 'train'
                  WHEN {oracle_bucket_sql("doc_id", 1000)} < 900 THEN 'val'
                  ELSE 'test' END AS split
      FROM docs
    ),
    per AS (
      SELECT fp,
             COUNT(CASE WHEN split = 'train' THEN 1 END) AS c_tr,
             COUNT(CASE WHEN split = 'val' THEN 1 END) AS c_va,
             COUNT(CASE WHEN split = 'test' THEN 1 END) AS c_te
      FROM assigned GROUP BY fp
    )
    SELECT split_a, split_b,
           CAST(SUM(np) AS BIGINT) AS n_pairs,
           CAST(COUNT(CASE WHEN np > 0 THEN 1 END) AS BIGINT) AS n_groups
    FROM (
      SELECT 'train' AS split_a, 'val' AS split_b, c_tr * c_va AS np FROM per
      UNION ALL
      SELECT 'train', 'test', c_tr * c_te FROM per
      UNION ALL
      SELECT 'test', 'val', c_te * c_va FROM per
    ) GROUP BY split_a, split_b ORDER BY split_a, split_b
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE audit — duplicate content straddling split
    boundaries silently inflates eval scores, so every release needs
    this count: documents sharing a content fingerprint (each 3-group
    shares its leader's text by construction) roll up to per-(fp, split)
    counts, and cross-split pair totals come from count PRODUCTS per
    group — the audit never materializes a pair explode, so a
    pathological million-copy group costs one row of integer arithmetic
    instead of 10^12 pairs. Split assignment is the engine's own
    deterministic md5 bucketing (operators/sampling.assign_split), the
    same rule doc_split_assign oracles."""
    from ocr_platform_spark.operators.sampling import assign_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    leaders = d.select(F.col("doc_id").alias("lid"), F.col("text").alias("ltext"))
    docs = (
        d.withColumn("lid", F.col("doc_id") - F.col("doc_id") % 3)
        .join(F.broadcast(leaders), "lid")
        .select("doc_id", F.md5("ltext").alias("fp"))
    )
    assigned = assign_split(docs, "doc_id").select("doc_id", "fp", "split")
    per = assigned.groupBy("fp").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("c_tr"),
        F.count(F.when(F.col("split") == "val", 1)).alias("c_va"),
        F.count(F.when(F.col("split") == "test", 1)).alias("c_te"),
    )
    pairs = per.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("train").alias("split_a"),
                    F.lit("val").alias("split_b"),
                    (F.col("c_tr") * F.col("c_va")).alias("np"),
                ),
                F.struct(
                    F.lit("train").alias("split_a"),
                    F.lit("test").alias("split_b"),
                    (F.col("c_tr") * F.col("c_te")).alias("np"),
                ),
                F.struct(
                    F.lit("test").alias("split_a"),
                    F.lit("val").alias("split_b"),
                    (F.col("c_te") * F.col("c_va")).alias("np"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return (
        pairs.groupBy("split_a", "split_b")
        .agg(
            F.sum("np").cast("long").alias("n_pairs"),
            F.count(F.when(F.col("np") > 0, 1)).cast("long").alias("n_groups"),
        )
        .orderBy("split_a", "split_b")
    )


@q(
    "host_mirror_detection",
    """
    WITH src AS (
      SELECT doc_id, 'site-' || CAST(doc_id % 12 AS VARCHAR) AS host, text
      FROM documents
    ),
    pages AS (
      SELECT s.doc_id, s.host,
             md5(CASE WHEN s.doc_id % 12 = 11 THEN m.text
                      WHEN s.doc_id % 12 = 5 AND s.doc_id % 24 = 5 THEN m.text
                      ELSE s.text END) AS h
      FROM src s LEFT JOIN src m ON m.doc_id = s.doc_id - 1
    ),
    hs AS (SELECT DISTINCT host, h FROM pages),
    sizes AS (SELECT host, COUNT(*) AS n FROM hs GROUP BY host),
    inter AS (
      SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS n_shared
      FROM hs a JOIN hs b ON a.h = b.h AND a.host < b.host
      GROUP BY a.host, b.host
    )
    SELECT i.host_a, i.host_b,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST((1000 * i.n_shared) // (sa.n + sb.n - i.n_shared) AS BIGINT)
             AS jaccard_x1000,
           (1000 * i.n_shared) // (sa.n + sb.n - i.n_shared) >= 500 AS is_mirror
    FROM inter i
    JOIN sizes sa ON sa.host = i.host_a
    JOIN sizes sb ON sb.host = i.host_b
    ORDER BY host_a, host_b
    """,
)
def host_mirror_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIRROR-site detection by content-hash set overlap — the crawl-side
    dedup that catches whole hosts serving the same corpus under
    different names (CDNs, scrapers, country mirrors) before any
    document-level dedup runs: per-host distinct content-hash sets join
    on the hash, and host pairs with Jaccard ≥ 0.5 flag as mirrors (one
    synthetic full mirror and one partial-overlap pair exercise both
    sides of the gate). The hash join keys by CONTENT — a mega-host's
    pages spread across reducers — and the pair aggregate is
    host-pair-sized; nothing collects a per-host set into one row.
    Integer Jaccard (×1000, floor div) hashes identically
    cross-engine."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = d.select(
        "doc_id",
        F.concat(F.lit("site-"), (F.col("doc_id") % 12).cast("string")).alias("host"),
        "text",
    )
    prev = src.select((F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("ptext"))
    pages = (
        src.join(prev, "doc_id", "left")
        .select(
            "host",
            F.md5(
                F.when(F.col("doc_id") % 12 == 11, F.col("ptext"))
                .when(
                    (F.col("doc_id") % 12 == 5) & (F.col("doc_id") % 24 == 5),
                    F.col("ptext"),
                )
                .otherwise(F.col("text"))
            ).alias("h"),
        )
    )
    hs = pages.select("host", "h").distinct()
    sizes = hs.groupBy("host").agg(F.count("*").alias("n"))
    a = hs.select(F.col("host").alias("host_a"), "h")
    b = hs.select(F.col("host").alias("host_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.expr("(1000 * n_shared) div (n_a + n_b - n_shared)")
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("host").alias("host_a"), F.col("n").alias("n_a"))),
            "host_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("host").alias("host_b"), F.col("n").alias("n_b"))),
            "host_b",
        )
        .select(
            "host_a",
            "host_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            jac.alias("jaccard_x1000"),
            (jac >= 500).alias("is_mirror"),
        )
        .orderBy("host_a", "host_b")
    )


@q(
    "corpus_release_diff",
    """
    WITH a AS (
      SELECT doc_id, lang, md5(text) AS h
      FROM documents WHERE doc_id % 17 <> 0
    ),
    b AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 23 = 0 THEN md5(text || 'v2') ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 19 <> 0
    ),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             COALESCE(a.lang, b.lang) AS lang,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT lang, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j GROUP BY lang, status ORDER BY lang, status
    """,
)
def corpus_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-manifest diff between two curation runs — the audit a
    dataset release ships with: per (lang, status) counts of docs added,
    removed, changed (same url, different content hash) and unchanged
    between release A and release B, from a single full-outer join on
    the doc key with hash comparison. At 10^12 docs the manifests are
    (id, lang, hash) projections — tiny beside the corpus — and the
    join keys by doc_id, so the diff costs one co-partitioned shuffle
    regardless of payload size. Both releases derive deterministically
    from the documents table; the oracle replays join and
    categorization."""
    d = _t(spark, sf_dir, "documents")
    a = d.where(F.col("doc_id") % 17 != 0).select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    b = d.where(F.col("doc_id") % 19 != 0).select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 23 == 0, F.md5(F.concat("text", F.lit("v2"))))
        .otherwise(F.md5("text"))
        .alias("h"),
    )
    j = (
        a.withColumnRenamed("lang", "lang_a").withColumnRenamed("h", "h_a")
        .join(
            b.withColumnRenamed("doc_id", "doc_id_b")
            .withColumnRenamed("lang", "lang_b")
            .withColumnRenamed("h", "h_b"),
            F.col("doc_id") == F.col("doc_id_b"),
            "full_outer",
        )
        .select(
            F.coalesce("lang_a", "lang_b").alias("lang"),
            F.when(F.col("doc_id").isNull(), F.lit("added"))
            .when(F.col("doc_id_b").isNull(), F.lit("removed"))
            .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
    )
    return (
        j.groupBy("lang", "status")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("lang", "status")
    )


@q(
    "events_hourly_incremental",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS total_value_micros
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_hourly_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate MAINTENANCE: the hourly rollup is kept as
    mergeable state — counts and integer-micros sums are commutative
    monoids — so a snapshot's aggregate plus a delta batch's aggregate
    FULL-OUTER-merge into the new total without touching old events
    (the materialized-view maintenance mechanic behind every streaming
    rollup; the Spark side literally stages the t0 state, aggregates
    only the t1 delta, and merges). The oracle is the strongest form of
    the check: it recomputes the rollup from ALL events in one pass, so
    the merged-state path must equal the full recompute bit-for-bit."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "event_type",
        F.floor(F.col("value") * 1000000).cast("long").alias("v_micros"),
    )
    split = ev.agg(F.expr("(max(event_id) + 1) div 2").alias("s"))
    ev2 = ev.crossJoin(F.broadcast(split))

    def rollup(df):
        return df.groupBy("hour_start", "event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("v_micros").cast("long").alias("total_value_micros"),
        )

    t0_state = stage(
        rollup(ev2.where(F.col("event_id") < F.col("s"))), "hourly_state_t0"
    )
    delta = rollup(ev2.where(F.col("event_id") >= F.col("s"))).select(
        "hour_start",
        "event_type",
        F.col("n_events").alias("d_n"),
        F.col("total_value_micros").alias("d_v"),
    )
    merged = (
        t0_state.join(delta, ["hour_start", "event_type"], "full_outer")
        .select(
            "hour_start",
            "event_type",
            (F.coalesce("n_events", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("long")
            .alias("n_events"),
            (F.coalesce("total_value_micros", F.lit(0)) + F.coalesce("d_v", F.lit(0)))
            .cast("long")
            .alias("total_value_micros"),
        )
    )
    return merged.orderBy("hour_start", "event_type")


@q(
    "shard_zonemap_skipping",
    """
    WITH ev AS (SELECT event_id, user_id FROM events),
    mx AS (
      SELECT MAX(event_id) + 1 AS n_ev, MAX(user_id) AS mu FROM ev
    ),
    shards AS (
      SELECT 'arrival' AS layout, (event_id * 8) // n_ev AS shard, user_id
      FROM ev, mx
      UNION ALL
      SELECT 'clustered' AS layout, (user_id * 8) // (mu + 1) AS shard, user_id
      FROM ev, mx
    ),
    zones AS (
      SELECT layout, shard, MIN(user_id) AS min_u, MAX(user_id) AS max_u,
             COUNT(*) AS n_rows
      FROM shards GROUP BY layout, shard
    ),
    probes AS (
      SELECT 'low' AS probe, 0 AS lo, mu // 10 AS hi FROM mx
      UNION ALL
      SELECT 'mid', mu // 2, mu // 2 + mu // 10 FROM mx
      UNION ALL
      SELECT 'high', mu - mu // 10, mu FROM mx
    )
    SELECT z.layout, p.probe,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(COUNT(CASE WHEN z.max_u < p.lo OR z.min_u > p.hi THEN 1 END)
                AS BIGINT) AS n_skipped,
           CAST(COALESCE(SUM(CASE WHEN NOT (z.max_u < p.lo OR z.min_u > p.hi)
                                  THEN z.n_rows END), 0) AS BIGINT)
             AS rows_scanned
    FROM zones z CROSS JOIN probes p
    GROUP BY z.layout, p.probe ORDER BY layout, probe
    """,
)
def shard_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping report — the Iceberg/Parquet row-group
    pruning mechanic measured end to end: per-shard (min, max) of the
    probe column under an ARRIVAL-ORDER layout vs a value-CLUSTERED
    layout (a repartitionByRange write on the probe column),
    against three range probes derived from the data's own extent.
    Arrival shards each span the full value range (zero skips — every
    probe scans everything); clustered shards are disjoint ranges, so a
    10%-selectivity probe skips ~7 of 8 shards. This is the quantified
    WHY behind sort-on-write: the report prices the layout decision in
    rows scanned. Pure integer bucketing/aggregation — no global sort
    is needed for the report itself."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    mx = ev.agg(
        (F.max("event_id") + 1).alias("n_ev"), F.max("user_id").alias("mu")
    )
    base = ev.crossJoin(F.broadcast(mx))
    shards = base.select(
        F.lit("arrival").alias("layout"),
        F.expr("(event_id * 8) div n_ev").alias("shard"),
        "user_id",
    ).unionAll(
        base.select(
            F.lit("clustered").alias("layout"),
            F.expr("(user_id * 8) div (mu + 1)").alias("shard"),
            "user_id",
        )
    )
    zones = shards.groupBy("layout", "shard").agg(
        F.min("user_id").alias("min_u"),
        F.max("user_id").alias("max_u"),
        F.count("*").alias("n_rows"),
    )
    probes = (
        mx.select(F.lit("low").alias("probe"), F.lit(0).cast("long").alias("lo"),
                  F.expr("mu div 10").alias("hi"))
        .unionAll(
            mx.select(F.lit("mid").alias("probe"), F.expr("mu div 2").alias("lo"),
                      F.expr("mu div 2 + mu div 10").alias("hi"))
        )
        .unionAll(
            mx.select(F.lit("high").alias("probe"), F.expr("mu - mu div 10").alias("lo"),
                      F.col("mu").cast("long").alias("hi"))
        )
    )
    skipped = (F.col("max_u") < F.col("lo")) | (F.col("min_u") > F.col("hi"))
    return (
        zones.crossJoin(F.broadcast(probes))
        .groupBy("layout", "probe")
        .agg(
            F.count("*").cast("long").alias("n_shards"),
            F.count(F.when(skipped, 1)).cast("long").alias("n_skipped"),
            F.coalesce(F.sum(F.when(~skipped, F.col("n_rows"))), F.lit(0))
            .cast("long")
            .alias("rows_scanned"),
        )
        .orderBy("layout", "probe")
    )


@q(
    "corpus_negative_sampling_table",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    freq AS (SELECT word, COUNT(*) AS n FROM toks GROUP BY word),
    top AS (
      SELECT word, n FROM freq ORDER BY n DESC, word LIMIT 64
    ),
    wt AS (
      SELECT word, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE))
                        * sqrt(sqrt(CAST(n AS DOUBLE))) * 1e6) AS BIGINT)
               AS weight_x1e6
      FROM top
    ),
    t AS (SELECT CAST(SUM(weight_x1e6) AS BIGINT) AS total FROM wt),
    b AS (
      SELECT word, n, weight_x1e6,
             (1000000 * weight_x1e6) // total AS base,
             (1000000 * weight_x1e6) % total AS rem
      FROM wt, t
    ),
    l AS (SELECT CAST(1000000 - SUM(base) AS BIGINT) AS leftover FROM b),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, word) AS rk FROM b)
    SELECT word, CAST(n AS BIGINT) AS n, weight_x1e6,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS slots,
           CAST(SUM(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                  OVER (ORDER BY word) AS BIGINT) AS cum_end
    FROM r, l ORDER BY word
    """,
)
def corpus_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram^0.75 NEGATIVE-SAMPLING table (the word2vec/contrastive
    convention: damping the unigram distribution keeps frequent words
    from dominating the negatives) as an integer slot table a sampler
    binary-searches by ``cum_end``. The 3/4 power is computed as
    sqrt·sqrt∘sqrt — both correctly rounded per IEEE, the same
    cross-engine float discipline as the temperature mixtures — then
    floored to integer micro-weights, and exactly 1,000,000 slots are
    apportioned largest-remainder (rem DESC, word tie-break). Vocab is
    bounded to the top-64 (orderBy+limit → per-partition top-k); every
    window after that runs on ≤64 rows."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+", -1), lambda x: x != F.lit(""))
        ).alias("word")
    )
    freq = words.groupBy("word").agg(F.count("*").alias("n"))
    top = freq.orderBy(F.desc("n"), F.asc("word")).limit(64)
    nd = F.col("n").cast("double")
    wt = top.select(
        "word",
        "n",
        F.floor(F.sqrt(nd) * F.sqrt(F.sqrt(nd)) * F.lit(1e6)).cast("long").alias(
            "weight_x1e6"
        ),
    )
    tot = wt.agg(F.sum("weight_x1e6").cast("long").alias("total"))
    b = wt.crossJoin(tot).select(
        "word",
        "n",
        "weight_x1e6",
        F.expr("(1000000 * weight_x1e6) div total").alias("base"),
        (F.lit(1000000) * F.col("weight_x1e6") % F.col("total")).alias("rem"),
    )
    leftover = b.agg((F.lit(1000000) - F.sum("base")).cast("long").alias("leftover"))
    r = b.crossJoin(leftover).withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("word")))
    )
    slots = F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return r.select(
        "word",
        F.col("n").cast("long").alias("n"),
        "weight_x1e6",
        slots.cast("long").alias("slots"),
        F.sum(slots)
        .over(Window.orderBy("word").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_end"),
    ).orderBy("word")


@q(
    "corpus_oov_curve",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
    ranked AS (
      SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
      FROM freq
    ),
    tot AS (SELECT COUNT(*) AS total FROM toks),
    ks AS (SELECT unnest([256, 1024, 4096, 16384]) AS vocab_size)
    SELECT k.vocab_size,
           CAST(COALESCE(SUM(r.cnt), 0) AS BIGINT) AS covered,
           CAST(t.total AS BIGINT) AS total,
           CAST(t.total - COALESCE(SUM(r.cnt), 0) AS BIGINT) AS oov
    FROM ks k CROSS JOIN tot t
    LEFT JOIN ranked r ON r.rnk <= k.vocab_size
    GROUP BY k.vocab_size, t.total
    ORDER BY k.vocab_size
    """,
)
def corpus_oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-budget OOV curve — the tokenizer-sizing readout that
    complements corpus_vocab_growth's Heaps law: for each candidate
    word-vocabulary size K (top-K terms by corpus frequency, ties broken
    by term), how many running tokens are covered and how many fall out
    of vocabulary. Pure integer counts so the curve hashes identically
    cross-engine. Scale shape: the term aggregate gets map-side combine;
    the global rank is bounded to the top max(K) rows by an orderBy+limit
    (TakeOrderedAndProject — per-partition top-k, no full sort) before a
    single-partition row_number over ≤16384 rows; the K table is four
    broadcast rows. Tie order (cnt DESC, term) is a total order, so both
    engines rank identically."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+", -1), lambda x: x != F.lit(""))
        ).alias("term")
    )
    freq = words.groupBy("term").agg(F.count("*").alias("cnt"))
    top = freq.orderBy(F.desc("cnt"), F.asc("term")).limit(16384)
    ranked = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("term")))
    )
    total = words.agg(F.count("*").alias("total"))
    ks = spark.createDataFrame([(k,) for k in (256, 1024, 4096, 16384)], "vocab_size int")
    return (
        ks.join(ranked, F.col("rnk") <= F.col("vocab_size"), "left")
        .groupBy("vocab_size")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("covered"))
        .crossJoin(total)
        .select(
            "vocab_size",
            "covered",
            F.col("total").cast("long").alias("total"),
            (F.col("total") - F.col("covered")).cast("long").alias("oov"),
        )
        .orderBy("vocab_size")
    )


@q(
    "host_quality_rollup",
    r"""
    WITH c AS (
      SELECT doc_id, lang,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS toks,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|that|with)\b')) AS DOUBLE) AS stops,
        CAST(length(text) - length(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) AS punct
      FROM documents
    ),
    d AS (
      SELECT 'site-' || CAST(doc_id % 40 AS VARCHAR) AS host, lang,
        CAST(round(round(
          least(toks / 100.0, 1.0) * 0.4
          + least((CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END) * 5.0, 1.0) * 0.3
          + (1.0 - least((CASE WHEN toks > 0 THEN punct / toks ELSE 1.0 END) * 2.0, 1.0)) * 0.3,
          4) * 1000) AS BIGINT) AS q_x1000
      FROM c
    )
    SELECT host,
           COUNT(*) AS n_docs,
           CAST(SUM(q_x1000) AS BIGINT) // COUNT(*) AS mean_quality_x1000,
           COUNT(CASE WHEN q_x1000 < 300 THEN 1 END) AS n_low_quality,
           COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
           (COUNT(CASE WHEN q_x1000 < 300 THEN 1 END) * 3 >= COUNT(*))
             OR (COUNT(CASE WHEN lang = 'en' THEN 1 END) * 2 < COUNT(*))
             AS host_flagged
    FROM d GROUP BY host ORDER BY host
    """,
)
def host_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level quality profile — the aggregation behind derived domain
    blocklists (UT1/RefinedWeb curate at the DOMAIN, not just the page):
    per-host doc count, mean quality (quality quantized to integer
    milli-units BEFORE summing, so the rollup is order-independent and
    cross-engine exact), low-quality share, language mix, and an
    all-integer spam flag (≥⅓ low-quality docs, or minority-English).
    Hosts here are the deterministic doc_id%40 assignment (the documents
    table carries no url). One hash aggregate on host — the 10^8-host
    scale shape."""
    d = _t(spark, sf_dir, "documents")
    q1000 = F.round(TX.quality_score("text") * 1000).cast("long")
    per_doc = d.select(
        F.concat(F.lit("site-"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        "lang",
        q1000.alias("q_x1000"),
    )
    n_low = F.count(F.when(F.col("q_x1000") < 300, 1))
    n_en = F.count(F.when(F.col("lang") == "en", 1))
    return (
        per_doc.groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("sum(q_x1000) div count(*)").alias("mean_quality_x1000"),
            n_low.alias("n_low_quality"),
            n_en.alias("n_en"),
            ((n_low * 3 >= F.count("*")) | (n_en * 2 < F.count("*"))).alias(
                "host_flagged"
            ),
        )
        .orderBy("host")
    )


@q(
    "doc_compression_signal",
    f"""
    WITH s AS (SELECT * FROM read_parquet('{staged_glob("compress_sig")}')),
    v AS (
      SELECT id, n_bytes, z_bytes,
             CASE WHEN n_bytes > 0 THEN z_bytes * 1000 // n_bytes
                  ELSE 0 END AS ratio_x1000
      FROM s
    )
    SELECT id AS doc_id, n_bytes, z_bytes, ratio_x1000,
           ratio_x1000 < 430 AS too_repetitive,
           ratio_x1000 > 750 AS too_random,
           ratio_x1000 >= 430 AND ratio_x1000 <= 750 AS compression_keep
    FROM v ORDER BY doc_id
    """,
)
def doc_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate-ratio quality gate (functions/compressfns.py): the Arrow-
    batched zlib kernel stages per-doc (uncompressed, compressed) byte
    counts; BOTH engines derive the integer ratio and the keep band from
    those same integers (floor division — no floats anywhere). The zlib
    kernel itself is pinned by tests/test_compressfns.py against direct
    zlib calls in the same interpreter."""
    from ocr_platform_spark.functions.compressfns import (
        compression_signal,
        compression_verdict,
    )

    d = _t(spark, sf_dir, "documents")
    sig = stage(compression_signal(d, "doc_id", "text"), "compress_sig", partitions=8)
    return (
        compression_verdict(sig, min_ratio_x1000=430, max_ratio_x1000=750)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@q(
    "corpus_shard_manifest",
    f"""
    WITH b AS (
      SELECT doc_id, n_chars,
             {oracle_bucket_sql('doc_id', 16)} AS shard_id
      FROM documents
    )
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
    FROM b GROUP BY shard_id ORDER BY shard_id
    """,
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-sink write audit (sources/shards.py): the documents table is
    physically written as 16 md5-bucketed shard directories, and the
    manifest the sink computes FROM THE WRITTEN FILES is compared against
    DuckDB recomputing the assignment from the raw table — proving every
    row landed exactly once in its deterministic shard. The oracle is the
    sink check, not just the bucket math (the bucket expression itself is
    the already-oracled sampling dialect pair)."""
    import os as _os

    from ocr_platform_spark.sources.shards import write_sharded
    from ocr_platform_spark.staging import STAGE_ROOT

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return write_sharded(
        d, _os.path.join(STAGE_ROOT, "shard_sink"), "doc_id", 16
    )


@q(
    "doc_lm_score",
    r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(words) - 1, 1)),
               i -> array_to_string(words[i:i+1], ' '))) AS bigram
      FROM t
    ),
    ref AS (
      SELECT bigram, COUNT(*) AS c FROM g WHERE doc_id % 5 = 0
      GROUP BY bigram HAVING COUNT(*) >= 2
    )
    SELECT g.doc_id,
           COUNT(*) AS n_bigrams,
           COUNT(CASE WHEN ref.c IS NULL THEN 1 END) AS n_oov,
           CAST(COALESCE(SUM(CASE WHEN ref.c IS NOT NULL
                                  THEN length(bin(ref.c)) END), 0) AS BIGINT)
             AS bits_total,
           CAST(COALESCE(SUM(CASE WHEN ref.c IS NOT NULL
                                  THEN length(bin(ref.c)) END), 0) AS DOUBLE)
             / COUNT(*) AS bits_per_gram,
           (COALESCE(SUM(CASE WHEN ref.c IS NOT NULL
                               THEN length(bin(ref.c)) END), 0) * 1 >= COUNT(*) * 3)
             AND (COUNT(CASE WHEN ref.c IS NULL THEN 1 END) * 100 <= COUNT(*) * 10)
             AS lm_keep
    FROM g LEFT JOIN ref USING (bigram)
    WHERE g.doc_id % 5 <> 0
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate (operators/lmscore.py): bigram counts
    trained on the reference slice (``doc_id % 5 = 0`` plays the clean
    corpus), every other document scored by the integer bit-length
    surrogate of its grams' reference counts, head-bucket keep decided by
    all-integer threshold comparisons. The oracle retrains the count table
    and rescores from the raw parquet — no staging, fully cross-engine
    exact (the only double is one final exact-int division per row)."""
    from ocr_platform_spark.operators.lmscore import lm_score, reference_bigram_counts

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 5 == 0)
    counts = reference_bigram_counts(ref, "doc_id", "text", min_count=2)
    return lm_score(
        d.where(F.col("doc_id") % 5 != 0), counts, "doc_id", "text"
    ).orderBy("doc_id")


@q(
    "doc_tfidf_terms",
    r"""
    WITH w AS (
      SELECT doc_id, unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      FROM documents WHERE trim(COALESCE(text, '')) <> ''
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf FROM w GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS INT) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf * length(bin((2 * n.n) // df.df)) AS INT) AS w
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, w, CAST(rn AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY w DESC, term) AS rn
      FROM scored) WHERE rn <= 3
    ORDER BY doc_id, rank
    """,
)
def doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by exact-integer
    tf-idf — ``tf × bits(2N // df)``, the same bit-length idf surrogate as
    the BM25 search ranking (monotone in log(N/df), zero float logs) — the
    document-tagging face of the inverted index. One explode, two hash
    aggregates (term df is vocabulary-sized and broadcast back), one
    per-doc window. Direct SQL oracle over raw parquet, no staging."""
    from ocr_platform_spark.functions.textfns import normalized_text

    d = _t(spark, sf_dir, "documents").where(
        F.trim(F.coalesce("text", F.lit(""))) != ""
    )
    words = d.select(
        "doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").cast("int").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").cast("int").alias("df"))
    n = tf.select("doc_id").distinct().count()
    scored = tf.join(F.broadcast(df_t), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.length(F.bin(F.floor(F.lit(2 * n) / F.col("df")))))
        .cast("int")
        .alias("w"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("w"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("int"))
        .where(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


_CLF_VOCAB = [
    "ablation", "basalt", "cobalt", "delta", "ember", "fjord",
    "garnet", "harbor", "isotope", "jasper", "kelvin", "lumen",
    "meridian", "nickel", "obsidian", "pylon", "quartz", "rivet",
    "sextant", "tungsten", "umbra", "vertex", "wharf", "xenon",
]


@q(
    "doc_topic_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, label,
             list_distinct(regexp_split_to_array(text, ' ')) AS toks
      FROM read_parquet('{staged_glob("clf_corpus")}')
    ),
    tok AS (SELECT doc_id, label, unnest(toks) AS token FROM t),
    w AS (
      SELECT label, token, CAST(length(bin(COUNT(*))) AS INT) AS w
      FROM tok WHERE doc_id % 5 <> 0
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    scored AS (
      SELECT tok.doc_id, tok.label AS actual, w.label AS cand, SUM(w.w) AS score
      FROM tok JOIN w ON tok.token = w.token
      WHERE tok.doc_id % 5 = 0
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT doc_id, actual, cand AS predicted FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT actual, predicted, COUNT(*) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY actual, predicted
    """,
)
def doc_topic_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained document classifier — the fastText-classifier slot of a
    corpus pipeline (operators/classify.py): integer Naive-Bayes over
    distinct-token presence. The labeled corpus is synthesized
    deterministically in-query (three topics drawing 40 tokens each from
    overlapping 12-token slices of a 24-token vocabulary — neighbor
    topics share half their vocabulary, so classification requires the
    learned weights, not a lookup) and STAGED; both engines then train on
    the ``doc_id % 5 != 0`` split and score the held-out fifth from the
    same bytes. Training and inference are exact-integer (bit-length
    weights, integer sums, lexicographic tie-break), so the oracle
    retrains the entire model and reproduces every prediction — a
    cross-engine-exact supervised learner. Map-side deployment twin
    pinned equal in tests/test_classify.py."""
    from ocr_platform_spark.operators.classify import (
        classify_documents,
        confusion_matrix,
        train_class_token_weights,
    )

    vocab = F.array(*[F.lit(t) for t in _CLF_VOCAB])
    labels = F.array(F.lit("alpha"), F.lit("beta"), F.lit("gamma"))
    base = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.element_at(labels, (F.pmod("id", F.lit(3)) + 1).cast("int")).alias("label"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(39)),
                lambda j: F.element_at(
                    vocab,
                    (
                        F.pmod("id", F.lit(3)) * 6
                        + F.pmod(F.xxhash64(F.col("id"), j), F.lit(12))
                        + 1
                    ).cast("int"),
                ),
            ),
        ).alias("text"),
    )
    corpus = stage(base, "clf_corpus")
    train = corpus.where(F.col("doc_id") % 5 != 0)
    test = corpus.where(F.col("doc_id") % 5 == 0)
    weights = train_class_token_weights(train, "label", "doc_id", "text", min_count=2)
    pred = classify_documents(test, weights, "doc_id", "text")
    return confusion_matrix(pred, test, "doc_id", "label")


@q(
    "doc_topic_classifier_tf",
    f"""
    WITH t AS (
      SELECT doc_id, label, regexp_split_to_array(text, ' ') AS toks
      FROM read_parquet('{staged_glob("clf_tf_corpus")}')
    ),
    tok AS (SELECT doc_id, label, unnest(toks) AS token FROM t),
    counts AS (
      SELECT label, token, COUNT(*) AS c
      FROM tok WHERE doc_id % 5 <> 0 GROUP BY 1, 2
    ),
    totals AS (SELECT label, SUM(c) AS class_total FROM counts GROUP BY 1),
    w AS (
      SELECT counts.label, token,
             CAST(length(bin((c * 16384) // class_total)) AS INT) AS w
      FROM counts JOIN totals ON counts.label = totals.label
      WHERE c >= 2
    ),
    scored AS (
      SELECT tok.doc_id, tok.label AS actual, w.label AS cand, SUM(w.w) AS score
      FROM tok JOIN w ON tok.token = w.token
      WHERE tok.doc_id % 5 = 0
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT doc_id, actual, cand AS predicted FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT actual, predicted, COUNT(*) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY actual, predicted
    """,
)
def doc_topic_classifier_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial twin of ``doc_topic_classifier`` — the
    frequency-signal corpus case (operators/classify.py
    ``mode="multinomial"`` + ``per_occurrence=True``). Every class shares
    the SAME 12-token vocabulary, so token PRESENCE carries zero signal
    (the Bernoulli model is structurally blind here); each class instead
    over-samples its own 4-token block (~2× frequency). Weights are the
    bit length of a 2^14-scaled integer P(token|class) — exact in both
    engines — and scoring sums weights per OCCURRENCE. The oracle retrains
    the whole model from the staged corpus and reproduces every held-out
    prediction, like its presence-mode sibling."""
    from ocr_platform_spark.operators.classify import (
        classify_documents,
        confusion_matrix,
        train_class_token_weights,
    )

    vocab = F.array(*[F.lit(t) for t in _CLF_VOCAB[:12]])
    labels = F.array(F.lit("alpha"), F.lit("beta"), F.lit("gamma"))
    cls = F.pmod("id", F.lit(3))
    # token draw: r ∈ [0, 18); r < 12 → uniform over the shared vocab,
    # r ≥ 12 → the class's own 4-token block (the frequency skew)
    def _tok(j):
        r = F.pmod(F.xxhash64(F.col("id"), j), F.lit(18))
        idx = F.when(r < 12, r).otherwise(cls * 4 + F.pmod(r, F.lit(4)))
        return F.element_at(vocab, (idx + 1).cast("int"))

    base = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.element_at(labels, (cls + 1).cast("int")).alias("label"),
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(0), F.lit(39)), _tok)
        ).alias("text"),
    )
    corpus = stage(base, "clf_tf_corpus")
    train = corpus.where(F.col("doc_id") % 5 != 0)
    test = corpus.where(F.col("doc_id") % 5 == 0)
    weights = train_class_token_weights(
        train, "label", "doc_id", "text", min_count=2, mode="multinomial"
    )
    pred = classify_documents(test, weights, "doc_id", "text", per_occurrence=True)
    return confusion_matrix(pred, test, "doc_id", "label")


@q(
    "quality_threshold_sweep",
    f"""
    WITH t AS (
      SELECT doc_id, label,
             list_distinct(regexp_split_to_array(text, ' ')) AS toks
      FROM read_parquet('{staged_glob("qsweep_corpus")}')
    ),
    tok AS (SELECT doc_id, label, unnest(toks) AS token FROM t),
    w AS (
      SELECT label, token, CAST(length(bin(COUNT(*))) AS INT) AS w
      FROM tok WHERE doc_id % 5 <> 0
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    m AS (
      SELECT tok.doc_id,
             CAST(SUM(CASE WHEN w.label = 'quality' THEN w.w ELSE 0 END)
                  AS BIGINT) AS pos_score,
             CAST(SUM(CASE WHEN w.label = 'spam' THEN w.w ELSE 0 END)
                  AS BIGINT) AS neg_score
      FROM tok JOIN w ON tok.token = w.token
      WHERE tok.doc_id % 5 = 0
      GROUP BY 1
    ),
    j AS (
      SELECT m.doc_id, m.pos_score - m.neg_score AS margin, t.label AS actual
      FROM m JOIN (SELECT DISTINCT doc_id, label
                   FROM read_parquet('{staged_glob("qsweep_corpus")}')) t
           USING (doc_id)
    ),
    cfg(threshold) AS (VALUES (-6), (-4), (-2), (0), (2), (4), (6)),
    kept AS (
      SELECT cfg.threshold, COUNT(*) AS n_kept,
             CAST(SUM(CASE WHEN actual = 'quality' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pos_kept
      FROM cfg JOIN j ON j.margin >= cfg.threshold GROUP BY 1
    ),
    tot AS (
      SELECT COUNT(*) AS n_scored,
             CAST(SUM(CASE WHEN actual = 'quality' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pos_total
      FROM j
    )
    SELECT CAST(cfg.threshold AS INT) AS threshold,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.n_pos_kept, 0) AS n_pos_kept,
           tot.n_pos_total, tot.n_scored,
           CASE WHEN COALESCE(k.n_kept, 0) > 0
                THEN round(CAST(COALESCE(k.n_pos_kept, 0) AS DOUBLE)
                           / k.n_kept, 4)
           END AS "precision",
           CASE WHEN tot.n_pos_total > 0
                THEN round(CAST(COALESCE(k.n_pos_kept, 0) AS DOUBLE)
                           / tot.n_pos_total, 4)
           END AS recall,
           CASE WHEN tot.n_scored > 0
                THEN round(CAST(COALESCE(k.n_kept, 0) AS DOUBLE)
                           / tot.n_scored, 4)
           END AS keep_rate
    FROM cfg CROSS JOIN tot
    LEFT JOIN kept k ON k.threshold = cfg.threshold
    ORDER BY threshold
    """,
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier threshold calibration (operators/classify.
    class_margin_scores + threshold_sweep) — the FineWeb-Edu / DCLM recipe:
    train a binary quality-vs-spam model, score held-out labeled docs with
    the integer margin (quality evidence minus spam evidence), and sweep
    the keep threshold, reporting precision / recall / keep-rate per cut so
    a user picks the threshold by target precision or token budget instead
    of defaulting to argmax. The labeled corpus is synthesized
    deterministically in-query (two classes drawing 40 tokens each from
    overlapping 15-token slices of a 24-token vocabulary — 6 shared tokens
    make margins spread instead of saturating) and STAGED; both engines
    retrain the presence model on the ``doc_id % 5 != 0`` split, recompute
    every margin, and replay the whole sweep. All-integer until the final
    correctly-rounded ratio columns."""
    from ocr_platform_spark.operators.classify import (
        class_margin_scores,
        threshold_sweep,
        train_class_token_weights,
    )

    vocab = F.array(*[F.lit(t) for t in _CLF_VOCAB])
    labels = F.array(F.lit("quality"), F.lit("spam"))
    cls = F.pmod("id", F.lit(2))
    base = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.element_at(labels, (cls + 1).cast("int")).alias("label"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(39)),
                lambda j: F.element_at(
                    vocab,
                    (
                        cls * 9
                        + F.pmod(F.xxhash64(F.col("id"), j), F.lit(15))
                        + 1
                    ).cast("int"),
                ),
            ),
        ).alias("text"),
    )
    corpus = stage(base, "qsweep_corpus")
    train = corpus.where(F.col("doc_id") % 5 != 0)
    test = corpus.where(F.col("doc_id") % 5 == 0)
    weights = train_class_token_weights(train, "label", "doc_id", "text", min_count=2)
    margins = class_margin_scores(
        test, weights, "doc_id", "text", pos_label="quality", neg_label="spam"
    )
    return threshold_sweep(
        margins, corpus, "doc_id", "label", pos_label="quality"
    ).orderBy("threshold")


@q(
    "url_revisit_diff",
    f"""
    WITH d AS (
      SELECT doc_id, text,
             {oracle_bucket_sql("doc_id", 3, "rv")} AS b3,
             {oracle_bucket_sql("doc_id", 2, "rvc")} = 0 AS c1,
             {oracle_bucket_sql("doc_id", 2, "rvd")} = 0 AS c2
      FROM documents
    ),
    snaps AS (
      SELECT doc_id, 0 AS cycle, text AS snap_text FROM d
      UNION ALL
      SELECT doc_id, 1, CASE WHEN c1 THEN text || ' rev1' ELSE text END
      FROM d WHERE b3 < 2
      UNION ALL
      SELECT doc_id, 2,
             CASE WHEN c2 THEN (CASE WHEN c1 THEN text || ' rev1' ELSE text END) || ' rev2'
                  ELSE (CASE WHEN c1 THEN text || ' rev1' ELSE text END) END
      FROM d WHERE b3 = 0
    ),
    dig AS (
      SELECT doc_id, cycle, md5(snap_text) AS digest,
             lag(md5(snap_text)) OVER (PARTITION BY doc_id ORDER BY cycle) AS prev
      FROM snaps
    ),
    flags AS (
      SELECT doc_id, cycle,
             CASE WHEN prev IS NULL THEN FALSE ELSE digest <> prev END AS changed
      FROM dig
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_snapshots,
           CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
           CAST(MAX(cycle) AS INT) AS latest_cycle,
           arg_max(changed, cycle) AS latest_changed,
           CAST(CASE WHEN COUNT(*) > 1
                THEN (SUM(CASE WHEN changed THEN 1 ELSE 0 END) * 1000) // (COUNT(*) - 1)
                ELSE 0 END AS BIGINT) AS change_rate_pm
    FROM flags GROUP BY doc_id ORDER BY doc_id
    """,
)
def url_revisit_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl change detection — the CDX/WARC-revisit shape: a crawler
    refetches pages across cycles, and only content whose digest CHANGED
    should re-enter extraction (unchanged snapshots become 'revisit'
    records, the other half of the anti-join resume story). The
    corpus has one snapshot per doc, so revisit cycles are synthesized
    deterministically (md5-bucketed: 2/3 of docs get a second fetch, 1/3 a
    third; a bucketed subset mutates per cycle). Per page: digest lag
    comparison per cycle → change count, latest-cycle changed flag (the
    reprocess gate), and an integer per-mille change rate — the adaptive
    revisit-frequency signal (change-rate-proportional scheduling).
    One window + one aggregate, both partitioned on doc_id — at 10^12
    snapshots this shuffles each url's handful of rows once."""
    from ocr_platform_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b3 = hash_bucket("doc_id", 3, "rv")
    c1 = hash_bucket("doc_id", 2, "rvc") == 0
    c2 = hash_bucket("doc_id", 2, "rvd") == 0
    t1 = F.when(c1, F.concat(F.col("text"), F.lit(" rev1"))).otherwise(F.col("text"))
    t2 = F.when(c2, F.concat(t1, F.lit(" rev2"))).otherwise(t1)
    snaps = (
        d.select("doc_id", F.lit(0).alias("cycle"), F.col("text").alias("snap_text"))
        .unionByName(
            d.where(b3 < 2).select("doc_id", F.lit(1).alias("cycle"), t1.alias("snap_text"))
        )
        .unionByName(
            d.where(b3 == 0).select("doc_id", F.lit(2).alias("cycle"), t2.alias("snap_text"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy("cycle")
    flags = snaps.select(
        "doc_id",
        "cycle",
        F.md5("snap_text").alias("digest"),
        F.lag(F.md5("snap_text")).over(w).alias("prev"),
    ).select(
        "doc_id",
        "cycle",
        F.when(F.col("prev").isNull(), F.lit(False))
        .otherwise(F.col("digest") != F.col("prev"))
        .alias("changed"),
    )
    n_changes = F.sum(F.when(F.col("changed"), 1).otherwise(0)).cast("long")
    return (
        flags.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_snapshots"),
            n_changes.alias("n_changes"),
            F.max("cycle").cast("int").alias("latest_cycle"),
            F.max_by("changed", "cycle").alias("latest_changed"),
        )
        .withColumn(
            "change_rate_pm",
            F.when(
                F.col("n_snapshots") > 1,
                F.expr("(n_changes * 1000) div (n_snapshots - 1)"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .orderBy("doc_id")
    )


_SEARCH_TERMS = ("window", "merge", "customer")


@q(
    "corpus_keyword_search",
    rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(toks) AS token FROM t
    ),
    q AS (SELECT unnest({list(_SEARCH_TERMS)}) AS token),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok JOIN q USING (token) GROUP BY 1, 2
    ),
    idf AS (
      SELECT token,
             CAST(length(bin((2 * (SELECT COUNT(*) FROM t)) // COUNT(DISTINCT doc_id))) AS INT) AS w
      FROM tok JOIN q USING (token) GROUP BY token
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score, CAST(rk AS INT) AS rank FROM (
      SELECT tf.doc_id, SUM(LEAST(tf.tf, 3) * idf.w) AS score,
             row_number() OVER (ORDER BY SUM(LEAST(tf.tf, 3) * idf.w) DESC, tf.doc_id) AS rk
      FROM tf JOIN idf USING (token)
      GROUP BY tf.doc_id
    ) WHERE rk <= 20
    ORDER BY rank
    """,
)
def corpus_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-family keyword retrieval over the corpus — the audit/search
    tool a dataset build uses to inspect what made it in ("find eval-set
    lookalikes", "show me the spammiest docs for term X"). Exact-integer
    ranking: tf saturated at 3 (BM25's k1 saturation, integerized), idf =
    bit length of 2N // df (the log(N/df) surrogate in the repo's integer
    family) — every score an integer SUM, replayed by DuckDB from raw
    parquet with no staging. Map-side: the idf table is term-count-sized
    and broadcast; the only corpus shuffle is the per-doc tf aggregate."""
    d = _t(spark, sf_dir, "documents")
    from ocr_platform_spark.functions.textfns import normalized_text

    toks = d.select(
        "doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("token")
    ).where(F.col("token").isin(list(_SEARCH_TERMS)))
    n_docs = d.count()
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    idf = (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "token",
            F.length(F.bin(F.expr(f"CAST({2 * n_docs} AS BIGINT) div df")))
            .cast("int")
            .alias("w"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "token")
        .groupBy("doc_id")
        .agg(F.sum(F.least("tf", F.lit(3)) * F.col("w")).cast("long").alias("score"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject (distributed top-k
    # merge); the ranking window then runs over 20 rows only
    top = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.select(
        "doc_id", "score", F.row_number().over(w).cast("int").alias("rank")
    ).orderBy("rank")


@q(
    "ccnet_bucket_sample",
    rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(words) - 1, 1)),
               i -> array_to_string(words[i:i+1], ' '))) AS bigram
      FROM t
    ),
    ref AS (
      SELECT bigram, COUNT(*) AS c FROM g WHERE doc_id % 5 = 0
      GROUP BY bigram HAVING COUNT(*) >= 2
    ),
    sc AS (
      SELECT g.doc_id,
             (CAST(COALESCE(SUM(CASE WHEN ref.c IS NOT NULL
                                     THEN length(bin(ref.c)) END), 0) AS BIGINT)
              * 1000) // COUNT(*) AS mb
      FROM g LEFT JOIN ref USING (bigram)
      WHERE g.doc_id % 5 <> 0
      GROUP BY g.doc_id
    ),
    hist AS (SELECT mb, COUNT(*) AS c FROM sc GROUP BY mb),
    cum AS (
      SELECT mb, SUM(c) OVER (ORDER BY mb) AS cum,
             (SELECT COUNT(*) FROM sc) AS n
      FROM hist
    ),
    cuts AS (
      SELECT MIN(CASE WHEN cum * 3 >= n THEN mb END) AS t1,
             MIN(CASE WHEN cum * 3 >= 2 * n THEN mb END) AS t2
      FROM cum
    ),
    b AS (
      SELECT sc.doc_id,
             CASE WHEN mb >= t2 THEN 'head'
                  WHEN mb >= t1 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             CASE WHEN mb >= t2 THEN TRUE
                  WHEN mb >= t1 THEN {oracle_bucket_sql('sc.doc_id', 2, 'ccnet')} = 0
                  ELSE {oracle_bucket_sql('sc.doc_id', 4, 'ccnet')} = 0
             END AS keep
      FROM sc, cuts
    )
    SELECT bucket, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def ccnet_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's closing move end-to-end: LM-score every document (integer
    milli-bits-per-gram against the reference slice), cut EXACT terciles
    into head/middle/tail (distinct-value cumulative histogram — the
    corpus_length_deciles technique, bounded by the score range), and
    sample proportionally (head kept whole, middle 1/2, tail 1/4 via the
    dialect-mirrored md5 bucket). Every quantity an integer, staging-free:
    the oracle retrains the LM, re-derives the tercile cuts, and replays
    the sampling decision per document."""
    from ocr_platform_spark.operators.lmscore import lm_score, reference_bigram_counts
    from ocr_platform_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 5 == 0)
    counts = reference_bigram_counts(ref, "doc_id", "text", min_count=2)
    sc = lm_score(d.where(F.col("doc_id") % 5 != 0), counts, "doc_id", "text").select(
        "doc_id", F.expr("bits_total * 1000 div n_bigrams").alias("mb")
    )
    hist = sc.groupBy("mb").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("mb").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("mb", F.sum("c").over(wcum).alias("cum")).crossJoin(
        F.broadcast(sc.agg(F.count("*").alias("n")))
    )
    cuts = cum.agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("mb"))).alias("t1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("mb"))).alias("t2"),
    ).first()
    t1, t2 = int(cuts["t1"]), int(cuts["t2"])
    bucket = (
        F.when(F.col("mb") >= t2, F.lit("head"))
        .when(F.col("mb") >= t1, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    keep = (
        F.when(F.col("mb") >= t2, F.lit(True))
        .when(F.col("mb") >= t1, hash_bucket("doc_id", 2, "ccnet") == 0)
        .otherwise(hash_bucket("doc_id", 4, "ccnet") == 0)
    )
    return (
        sc.select(bucket.alias("bucket"), keep.alias("keep"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_sampled"),
        )
        .orderBy("bucket")
    )


_PHRASE = ("fast", "table")


@q(
    "corpus_phrase_search",
    rf"""
    WITH tok AS (
      SELECT doc_id, i AS pos, words[i] AS token
      FROM (
        SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents
      ), unnest(generate_series(1, len(words))) AS g(i)
    )
    SELECT a.doc_id AS doc_id, COUNT(*) AS n_hits
    FROM tok a JOIN tok b
      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.token = '{_PHRASE[0]}' AND b.token = '{_PHRASE[1]}'
    GROUP BY a.doc_id
    ORDER BY n_hits DESC, a.doc_id
    """,
)
def corpus_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional token index — the
    inverted-index construction shape (one posexplode builds (doc, pos,
    token) postings; a phrase is an adjacency self-join on positions,
    pre-filtered to the phrase's terms so the join input is postings-list
    sized, never the corpus). Counts per doc are exact integers; the
    oracle rebuilds the same index and join from raw parquet."""
    from ocr_platform_spark.functions.textfns import normalized_text

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(normalized_text("text"), " ")).alias("pos", "token"),
    )
    a = tok.where(F.col("token") == _PHRASE[0]).select(
        "doc_id", (F.col("pos") + 1).alias("next_pos")
    )
    b = tok.where(F.col("token") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("next_pos")
    )
    return (
        a.join(b, ["doc_id", "next_pos"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .orderBy(F.desc("n_hits"), "doc_id")
    )


@q(
    "corpus_top_bigrams",
    r"""
    WITH grams AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(words) - 1, 1)),
               i -> array_to_string(words[i:i+1], ' '))) AS g
      FROM (
        SELECT regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents
      )
    )
    SELECT g AS bigram, COUNT(*) AS n FROM grams
    GROUP BY g
    QUALIFY row_number() OVER (ORDER BY n DESC, g) <= 50
    ORDER BY n DESC, bigram
    """,
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram frequency (the vocabulary/boilerplate census a
    dataset build runs before choosing filters): global bigram counts,
    deterministic top-50. Map-side partial aggregation makes the global
    count one shuffle of the distinct-gram dimension, not the corpus."""
    from ocr_platform_spark.functions.textfns import word_shingles

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(word_shingles("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject — a distributed
    # per-partition top-k merge, not a single-partition global window
    return counts.orderBy(F.desc("n"), "bigram").limit(50)


# =========================================================================
# Round-4 tail: URL hygiene, readability, code routing, quality-aware dedup
# =========================================================================


@q(
    "url_param_stats",
    rf"""
    WITH u AS (SELECT url FROM read_parquet('{staged_glob("url_param_urls")}')),
    kv AS (
      SELECT regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
             url,
             unnest(str_split(regexp_extract(url, '\?([^#]*)', 1), '&')) AS pair
      FROM u
    ),
    p AS (
      SELECT host, url, split_part(pair, '=', 1) AS param,
             split_part(pair, '=', 2) AS val
      FROM kv WHERE pair <> ''
    )
    SELECT host, param,
           COUNT(DISTINCT url) AS n_urls,
           COUNT(DISTINCT val) AS n_vals,
           (COUNT(DISTINCT val) = COUNT(DISTINCT url)
            AND COUNT(DISTINCT url) >= 4) AS per_visit
    FROM p GROUP BY host, param ORDER BY host, param
    """,
)
def url_param_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracking/session query-parameter mining — the evidence table behind a
    URL-canonicalization strip list (`url_canonicalization` hard-codes the
    utm/gclid list; this DISCOVERS per-visit params from the crawl itself):
    a (host, param) whose distinct-value count equals its url count is a
    per-visit identifier (session ids, cache busters) and safe to strip
    before URL-level dedup. Fully relational — one explode + one groupBy on
    (host, param), so at 10^12 urls it is a single shuffle keyed far finer
    than host. Both engines parse the SAME staged url table with the same
    regex/split chain; counts are exact integers."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    host = F.concat(
        F.lit("site-"), F.pmod("doc_id", F.lit(8)).cast("string"), F.lit(".example.org")
    )
    qstr = F.concat(
        F.lit("q="), F.pmod("doc_id", F.lit(10)).cast("string"),
        F.when(F.pmod("doc_id", F.lit(2)) == 0, F.concat(F.lit("&sid=s"), did))
        .otherwise(F.lit("")),
        F.when(
            F.pmod("doc_id", F.lit(3)) == 0,
            F.concat(F.lit("&page="), F.pmod("doc_id", F.lit(5)).cast("string")),
        ).otherwise(F.lit("")),
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit("&utm_source=feed"))
        .otherwise(F.lit("")),
    )
    urls = d.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), did, F.lit("?"), qstr).alias("url")
    )
    staged = stage(urls, "url_param_urls", partitions=2)
    kv = staged.select(
        F.regexp_extract("url", r"^[a-z]+://([^/?#]+)", 1).alias("host"),
        "url",
        F.explode(F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&")).alias("pair"),
    ).where(F.col("pair") != "")
    p = kv.select(
        "host",
        "url",
        F.substring_index("pair", "=", 1).alias("param"),
        F.substring_index("pair", "=", -1).alias("val"),
    )
    return (
        p.groupBy("host", "param")
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("val").alias("n_vals"),
        )
        .withColumn(
            "per_visit",
            (F.col("n_vals") == F.col("n_urls")) & (F.col("n_urls") >= 4),
        )
        .orderBy("host", "param")
    )


_SOFTBLOCK_SLUGS = [
    "news", "travel", "casino-royale", "cooking", "poker-tips", "health",
    "free-bets", "science", "adult-stories", "history", "win-big-now",
    "sports", "essay", "webcam-chat", "nature", "free-library",
]


def _softblock_oracle_sql() -> str:
    from ocr_platform_spark.functions.urlfns import softblock_score_sql

    slug_list = ", ".join(f"'{s}'" for s in _SOFTBLOCK_SLUGS)
    score = softblock_score_sql("url")
    return f"""
    WITH u AS (
      SELECT doc_id,
        'https://site-' || CAST(doc_id % 8 AS VARCHAR) || '.example.org/' ||
        ([{slug_list}])[(doc_id % 16) + 1] ||
        '/item-' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    )
    SELECT doc_id, url, CAST({score} AS INT) AS score,
           {score} >= 40 AS blocked
    FROM u ORDER BY doc_id
    """


@q("url_softblock_score", _softblock_oracle_sql())
def url_softblock_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft URL blocklist scoring (functions/urlfns.url_softblock_score;
    the RefinedWeb recipe's weighted-fragment URL rule, complementing the
    exact-match blocklist_filter): each flagged fragment CONTAINED in the
    url adds its weight, and the page blocks above a threshold — so
    'free-bets' accumulates free+bet past the gate while a lone 'webcam'
    or 'free-library' hit stays under it. The weight table has ONE source
    of truth (urlfns.SOFTBLOCK_WEIGHTS) from which both the Column
    expression and the oracle SQL are generated, so engines cannot
    drift. Map-side only: the fragment list unrolls into the row
    expression (whole-stage codegen, no join, no shuffle)."""
    from ocr_platform_spark.functions.urlfns import url_softblock_score as score_fn

    d = _t(spark, sf_dir, "documents").select("doc_id")
    slug = F.element_at(
        F.array(*[F.lit(s) for s in _SOFTBLOCK_SLUGS]),
        (F.pmod("doc_id", F.lit(16)) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://site-"),
        F.pmod("doc_id", F.lit(8)).cast("string"),
        F.lit(".example.org/"),
        slug,
        F.lit("/item-"),
        F.col("doc_id").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    s = score_fn("url")
    return u.select(
        "doc_id", "url", s.cast("int").alias("score"), (s >= 40).alias("blocked")
    ).orderBy("doc_id")


@q(
    "doc_readability",
    """
    WITH c AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(coalesce(text,'')), '[a-z]+')) AS BIGINT) AS words,
        CAST(greatest(len(regexp_extract_all(coalesce(text,''), '[.!?]+')), 1) AS BIGINT) AS sents,
        CAST(len(regexp_extract_all(lower(coalesce(text,'')), '[aeiouy]+')) AS BIGINT) AS sylls
      FROM documents
    ),
    s AS (
      SELECT doc_id, words, sents, sylls,
        round(206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))
              - 84.6 * (CAST(sylls AS DOUBLE) / CAST(greatest(words, 1) AS DOUBLE)),
              4) AS flesch
      FROM c
    )
    SELECT doc_id, words, sents, sylls, flesch,
      CASE WHEN flesch >= 70 THEN 'easy' WHEN flesch >= 50 THEN 'standard'
           WHEN flesch >= 30 THEN 'difficult' ELSE 'very_difficult' END AS band
    FROM s ORDER BY doc_id
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — a standard curation quality axis
    alongside `doc_quality`/`doc_gopher_rules` (readability bands drive
    mixture weights for kid-safe / technical subsets). Deterministic
    syllable proxy: vowel groups ``[aeiouy]+`` in lowercased text (the usual
    cheap estimator); sentences = ``[.!?]+`` runs, floored at 1. The score
    is ONE double op sequence over exact integer counts, identical per
    IEEE-754 in both engines, rounded to 4 dp; the band is derived from the
    rounded value so the CASE sees identical inputs. Map-side only — no
    shuffle at any scale."""
    d = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    words = F.size(F.regexp_extract_all(F.lower(txt), F.lit("[a-z]+"), F.lit(0))).cast("long")
    sents = (
        F.greatest(F.size(F.regexp_extract_all(txt, F.lit("[.!?]+"), F.lit(0))), F.lit(1))
        .cast("long")
    )
    sylls = F.size(F.regexp_extract_all(F.lower(txt), F.lit("[aeiouy]+"), F.lit(0))).cast("long")
    c = d.select("doc_id", words.alias("words"), sents.alias("sents"), sylls.alias("sylls"))
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words").cast("double") / F.col("sents").cast("double"))
        - F.lit(84.6)
        * (
            F.col("sylls").cast("double")
            / F.greatest(F.col("words"), F.lit(1).cast("long")).cast("double")
        ),
        4,
    )
    return (
        c.withColumn("flesch", flesch)
        .withColumn(
            "band",
            F.when(F.col("flesch") >= 70, F.lit("easy"))
            .when(F.col("flesch") >= 50, F.lit("standard"))
            .when(F.col("flesch") >= 30, F.lit("difficult"))
            .otherwise(F.lit("very_difficult")),
        )
        .orderBy("doc_id")
    )


#: One source of truth for the code-line predicate lives in
#: functions/textfns.CODE_LINE_RE (shared with the pipeline's code_route
#: stage); the oracle SQL embeds it literally and the parity test catches
#: any drift.
_CODE_LINE_RE = TX.CODE_LINE_RE


def _mix_code_docs(d: DataFrame) -> DataFrame:
    """Deterministically rewrite every 5th doc as a synthetic code snippet
    (pure function of doc_id) so the prose/code router has both classes —
    shared by `doc_code_density` and `corpus_code_route_report`."""
    did = F.col("doc_id").cast("string")
    code = F.concat(
        F.lit("import os\ndef fn_"), did,
        F.lit("(x):\n    y = x + "), F.pmod("doc_id", F.lit(97)).cast("string"),
        F.lit(";\n    return y * 2\nclass C"), did,
        F.lit(":\n    pass\nwhile x:\n    x -= 1\nresult = fn_"), did,
        F.lit("(3);\n# done\n"),
    )
    return d.withColumn(
        "text", F.when(F.pmod("doc_id", F.lit(5)) == 0, code).otherwise(F.col("text"))
    )


@q(
    "doc_code_density",
    rf"""
    WITH l AS (
      SELECT doc_id, unnest(str_split(coalesce(text,''), chr(10))) AS line
      FROM read_parquet('{staged_glob("code_density_docs")}')
    ),
    nz AS (SELECT doc_id, line FROM l WHERE trim(line) <> ''),
    a AS (
      SELECT doc_id, COUNT(*) AS n_lines,
             CAST(SUM(CASE WHEN regexp_matches(line,
               '^(    |\t)|[;{{}}] *$|^(def |class |import |return |while |for )')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_code
      FROM nz GROUP BY doc_id
    )
    SELECT doc_id, n_lines, n_code,
           round(CAST(n_code AS DOUBLE) / CAST(n_lines AS DOUBLE), 4) AS code_ratio,
           n_code * 10 >= n_lines * 3 AS is_code
    FROM a ORDER BY doc_id
    """,
)
def doc_code_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prose/code routing gate (StarCoder-style corpus splitting): per-doc
    share of code-shaped lines (indent, ``;{{}}`` terminators, leading
    keyword), flag ``is_code`` decided by the EXACT integer comparison
    ``10·n_code ≥ 3·n_lines`` (no float threshold drift). Every 5th doc is
    deterministically rewritten as a synthetic code snippet so the gate has
    both classes to separate; the mixed text is staged and BOTH engines
    classify the same bytes with the same regex. Explode + groupBy(doc_id)
    keys the one shuffle on the finest key there is — scale-indifferent."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    staged = stage(_mix_code_docs(d), "code_density_docs", partitions=2)
    lines = staged.select(
        "doc_id",
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n")).alias("line"),
    ).where(F.trim("line") != "")
    agg = lines.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("line").rlike(_CODE_LINE_RE), 1).otherwise(0))
        .cast("long")
        .alias("n_code"),
    )
    return agg.select(
        "doc_id",
        "n_lines",
        "n_code",
        F.round(F.col("n_code").cast("double") / F.col("n_lines").cast("double"), 4)
        .alias("code_ratio"),
        (F.col("n_code") * 10 >= F.col("n_lines") * 3).alias("is_code"),
    ).orderBy("doc_id")


@q(
    "crawl_budget_allocation",
    r"""
    WITH c AS (
      SELECT doc_id,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS toks,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|that|with)\b')) AS DOUBLE) AS stops,
        CAST(length(text) - length(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) AS punct
      FROM documents
    ),
    d AS (
      SELECT 'site-' || CAST(doc_id % 40 AS VARCHAR) AS host,
        CAST(round(round(
          least(toks / 100.0, 1.0) * 0.4
          + least((CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END) * 5.0, 1.0) * 0.3
          + (1.0 - least((CASE WHEN toks > 0 THEN punct / toks ELSE 1.0 END) * 2.0, 1.0)) * 0.3,
          4) * 1000) AS BIGINT) AS q_x1000
      FROM c
    ),
    m AS (SELECT host, CAST(SUM(q_x1000) AS BIGINT) AS mass FROM d GROUP BY host),
    t AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM m),
    b AS (
      SELECT host, mass,
             (1000 * mass) // total AS base,
             (1000 * mass) % total AS rem
      FROM m, t
    ),
    l AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS leftover FROM b),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk FROM b
    )
    SELECT host, mass,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS slots,
           CAST(least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, 120)
                AS BIGINT) AS capped_slots
    FROM r, l ORDER BY host
    """,
)
def crawl_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-budget apportionment: split a 1000-slot fetch budget across
    hosts proportional to their quality MASS (sum of per-doc quality in
    integer milli-units — the host_quality_rollup substrate), by exact
    largest-remainder rounding: ``base = ⌊B·m/M⌋`` plus one extra slot to
    the top-remainder hosts until the budget is whole, then a politeness
    cap (120 slots/host, cap losses intentionally unredistributed). This is
    the planning step between `host_quality_rollup` (which hosts deserve
    crawl) and a fetch schedule (when to fetch) — the same integer
    apportionment recipe as `corpus_epoch_plan`, applied to the frontier.
    All arithmetic is BIGINT so both engines agree bit-for-bit; the two
    scalar aggregates (total mass, leftover) broadcast — at 10^8 hosts the
    only shuffle is the host rollup plus one global top-leftover rank over
    host-count-sized (not corpus-sized) data."""
    d = _t(spark, sf_dir, "documents")
    q1000 = F.round(TX.quality_score("text") * 1000).cast("long")
    mass = (
        d.select(
            F.concat(F.lit("site-"), (F.col("doc_id") % 40).cast("string")).alias("host"),
            q1000.alias("q_x1000"),
        )
        .groupBy("host")
        .agg(F.sum("q_x1000").cast("long").alias("mass"))
    )
    total = mass.agg(F.sum("mass").cast("long").alias("total"))
    b = mass.crossJoin(F.broadcast(total)).select(
        "host",
        "mass",
        F.expr("(1000 * mass) div total").alias("base"),
        F.pmod(F.lit(1000) * F.col("mass"), F.col("total")).alias("rem"),
    )
    leftover = b.agg((F.lit(1000) - F.sum("base")).cast("long").alias("leftover"))
    w = Window.orderBy(F.desc("rem"), F.asc("host"))
    slots = F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return (
        b.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            "host",
            "mass",
            slots.cast("long").alias("slots"),
            F.least(slots, F.lit(120)).cast("long").alias("capped_slots"),
        )
        .orderBy("host")
    )


#: genuinely script-mixed fixture pages for `doc_script_mix` (the synth
#: corpus is Latin-only; SEO spam and boilerplate-injected pages are not) —
#: identical literals on both engines.
_MIX_FIXTURES: list[tuple[int, str]] = [
    (910001, "english words mixed with 中文字符测试 and русские буквы here"),
    (910002, "这是一个纯中文文档 没有其他文字"),
    (910003, "plain english with وثيقة عربية مختلطة inside the page"),
    (910004, "entirely latin text with no other scripts at all"),
    (910005, "ひらがな文書 with trailing english tail words"),
]
_MIX_FIXTURES_SQL = ", ".join(f"({i}, '{t}')" for i, t in _MIX_FIXTURES)
_MIX_SCRIPTS = ["lat"] + [lang for lang, _ in TX.SCRIPT_RANGES]
_MIX_NS_SQL = " + ".join(
    f"(CASE WHEN c_{s} >= {TX.SCRIPT_MIN_CHARS} THEN 1 ELSE 0 END)"
    for s in _MIX_SCRIPTS
)


@q(
    "corpus_code_route_report",
    rf"""
    WITH ccr AS (SELECT doc_id, text FROM read_parquet('{staged_glob("croute_docs")}')),
    sc AS (SELECT doc_id, {_SCRIPT_COUNTS_SQL} FROM ccr),
    mixed AS (SELECT doc_id FROM sc WHERE {_MIX_NS_SQL} >= 2),
    gated AS (
      SELECT doc_id, text FROM ccr
      WHERE doc_id % 7 <> 0 AND doc_id NOT IN (SELECT doc_id FROM mixed)
    ),
    lines AS (
      SELECT doc_id, unnest(str_split(coalesce(text,''), chr(10))) AS line FROM gated
    ),
    nz AS (SELECT doc_id, line FROM lines WHERE trim(line) <> ''),
    lc AS (
      SELECT doc_id, COUNT(*) AS n_lines,
             SUM(CASE WHEN regexp_matches(line,
               '^(    |\t)|[;{{}}] *$|^(def |class |import |return |while |for )')
               THEN 1 ELSE 0 END) AS n_code
      FROM nz GROUP BY doc_id
    ),
    codes AS (SELECT doc_id FROM lc WHERE n_code * 10 >= n_lines * 3),
    routed AS (
      SELECT doc_id, text FROM gated
      WHERE doc_id NOT IN (SELECT doc_id FROM codes)
    ),
    t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM ccr
    ),
    g AS (
      SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
            FROM t WHERE len(ts) >= 8)
    ),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
    contaminated AS (
      SELECT DISTINCT gg.doc_id FROM g gg JOIN ev USING (g)
      WHERE gg.doc_id IN (SELECT doc_id FROM routed)
    ),
    s1 AS (
      SELECT doc_id, text FROM routed
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT CAST(stage_no AS INT) AS stage_no, stage, CAST(n AS BIGINT) AS n_docs
    FROM (
      VALUES (0, 'input',       (SELECT COUNT(*) FROM ccr)),
             (1, 'train_split', (SELECT COUNT(*) FROM ccr WHERE doc_id % 7 <> 0)),
             (2, 'script_gate', (SELECT COUNT(*) FROM gated)),
             (3, 'code_route',  (SELECT COUNT(*) FROM routed)),
             (4, 'decontam',    (SELECT COUNT(*) FROM s1))
    ) AS v(stage_no, stage, n)
    ORDER BY stage_no
    """,
)
def corpus_code_route_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refine tail's map-side GATES composed with their neighbors
    (plans/corpus_build.corpus_refine_stages ``script_gate=True,
    code_route='prose'``) and oracle-verified as a funnel: a mixed
    prose+code+non-Latin corpus (every 5th doc rewritten as a
    deterministic code snippet, the script-mixed fixture pages appended,
    staged) → eval split (doc_id % 7 = 0) → SCRIPT-MIXING gate (≥2
    scripts over the shared threshold, textfns.script_mix_count) → code
    routing by the integer line-share rule → benchmark decontamination
    (exact word 8-gram overlap vs the eval set). The oracle replays script
    counting, line classification and the gram overlap from the same
    staged bytes — each stage count cross-engine checked. Both gates
    are pure map-side expressions: composing them adds NO shuffle ahead
    of the decontam anti-join."""
    from ocr_platform_spark.plans.corpus_build import corpus_refine_stages

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fx = spark.createDataFrame(_MIX_FIXTURES, "doc_id long, text string")
    mixed = stage(_mix_code_docs(d).unionByName(fx), "croute_docs", partitions=2)
    ev = mixed.where(F.col("doc_id") % 7 == 0)
    train = mixed.where(F.col("doc_id") % 7 != 0)
    _, metrics = corpus_refine_stages(
        train,
        script_gate=True,
        code_route="prose",
        decontam_eval=ev,
        decontam_n=8,
    )
    n0 = mixed.count()
    nt = train.count()
    n_gate = nt - metrics["script_gate_dropped"]
    n_route = n_gate - metrics["code_route_dropped"]
    n_dec = n_route - metrics["decontam_dropped"]
    rows = [
        (0, "input", n0),
        (1, "train_split", nt),
        (2, "script_gate", n_gate),
        (3, "code_route", n_route),
        (4, "decontam", n_dec),
    ]
    return spark.createDataFrame(rows, "stage_no int, stage string, n_docs bigint")


@q(
    "url_revisit_policy",
    f"""
    WITH stats AS ({{revisit_sql}}),
    pol AS (
      SELECT doc_id,
             'site-' || CAST(doc_id % 40 AS VARCHAR) AS host,
             latest_cycle + (CASE WHEN change_rate_pm >= 500 THEN 1
                                  WHEN change_rate_pm >= 250 THEN 2
                                  WHEN change_rate_pm > 0 THEN 4
                                  ELSE 8 END) AS next_fetch
      FROM stats
    )
    SELECT host,
           COUNT(*) AS n_pages,
           CAST(SUM(CASE WHEN next_fetch <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_due,
           CAST(greatest(
             SUM(CASE WHEN next_fetch <= 3 THEN 1 ELSE 0 END) - 20, 0
           ) AS BIGINT) AS n_overflow
    FROM pol GROUP BY host ORDER BY host
    """.format(revisit_sql=CATALOG["url_revisit_diff"].oracle),
)
def url_revisit_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive revisit SCHEDULING on top of `url_revisit_diff`'s change
    detection (Cho & Garcia-Molina: refresh frequency ∝ observed change
    rate): each page's next-fetch cycle = latest cycle + an integer
    interval tier from its per-mille change rate (≥500‰ → every cycle,
    ≥250‰ → 2, any change → 4, static → 8), then a per-host load report
    for the upcoming cycle — pages due, and the overflow past a 20-page
    per-host-per-cycle politeness cap that must spill to later cycles.
    The oracle embeds url_revisit_diff's SQL verbatim as a CTE (one
    source of truth for the replay) and reapplies the same integer
    tiers. Scale shape unchanged from the diff query — one window + two
    aggregates, all keyed by doc_id then host."""
    stats = url_revisit_diff(spark, sf_dir)
    interval = (
        F.when(F.col("change_rate_pm") >= 500, 1)
        .when(F.col("change_rate_pm") >= 250, 2)
        .when(F.col("change_rate_pm") > 0, 4)
        .otherwise(8)
    )
    pol = stats.select(
        F.concat(F.lit("site-"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        (F.col("latest_cycle") + interval).alias("next_fetch"),
    )
    n_due = F.sum(F.when(F.col("next_fetch") <= 3, 1).otherwise(0)).cast("long")
    return (
        pol.groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            n_due.alias("n_due"),
        )
        .withColumn("n_overflow", F.greatest(F.col("n_due") - 20, F.lit(0).cast("long")))
        .orderBy("host")
    )


@q(
    "host_token_budget_cut",
    r"""
    WITH c AS (
      SELECT doc_id,
        'site-' || CAST(doc_id % 40 AS VARCHAR) AS host,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
             END AS BIGINT) AS tok,
        CAST(100 * len(regexp_extract_all(lower(coalesce(text,'')),
               '\b(the|and|of|to|in|that|with)\b'))
             + length(coalesce(text,'')) AS BIGINT) AS score
      FROM documents
    ),
    w AS (
      SELECT doc_id, host, tok, score,
             COALESCE(SUM(tok) OVER (PARTITION BY host
               ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM c
    )
    SELECT host,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN cum_before < 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN cum_before < 2000 THEN tok ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM w GROUP BY host ORDER BY host
    """,
)
def host_token_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host TOKEN budget (the unit training mixes are actually priced
    in — `host_downsample` caps doc COUNT by random draw; this caps token
    share, keeping each host's best docs first): within every host, docs
    ranked by the integer quality score (100·stopword_hits + n_chars)
    descending, kept while the running token total BEFORE the doc is
    under the 2000-token host budget — the same keep-iff-cum-before-under-budget rule as the composed job's
    global cut, applied per host. One window + one aggregate, both
    partitioned by host: at 10^8 hosts the shuffle key is host and no
    global sort exists. All arithmetic integer; both engines replay the
    identical (score DESC, doc_id) order."""
    d = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    stops = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|and|of|to|in|that|with)\b"), F.lit(0)
        )
    ).cast("long")
    c = d.select(
        "doc_id",
        F.concat(F.lit("site-"), (F.col("doc_id") % 40).cast("string")).alias("host"),
        TX.token_count("text").cast("long").alias("tok"),
        (F.lit(100).cast("long") * stops + F.length(txt).cast("long")).alias("score"),
    )
    w = (
        Window.partitionBy("host")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = F.col("cum_before") < 2000
    return (
        c.withColumn("cum_before", F.coalesce(F.sum("tok").over(w), F.lit(0).cast("long")))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum("tok").cast("long").alias("tokens_total"),
            F.sum(F.when(kept, F.col("tok")).otherwise(0)).cast("long").alias("tokens_kept"),
        )
        .orderBy("host")
    )


@q(
    "doc_script_mix",
    f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT CAST(doc_id AS BIGINT), text
      FROM (VALUES {_MIX_FIXTURES_SQL}) AS fx(doc_id, text)
    ),
    s AS (SELECT doc_id, {_SCRIPT_COUNTS_SQL} FROM docs)
    SELECT doc_id,
      {', '.join(f"CAST(c_{x} AS INT) AS c_{x}" for x in _MIX_SCRIPTS)},
      CAST({_MIX_NS_SQL} AS INT) AS n_scripts,
      ({_MIX_NS_SQL}) >= 2 AS mixed
    FROM s ORDER BY doc_id
    """,
)
def doc_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-MIXING detection — the spam/SEO signal `doc_lang_id`'s
    dominance rule deliberately ignores (it picks ONE language; keyword
    stuffers interleave scripts): per-doc character counts for Latin and
    each non-Latin block in textfns.SCRIPT_RANGES, the number of scripts
    present at the shared SCRIPT_MIN_CHARS threshold, and a ``mixed``
    flag at ≥2 scripts. Both engines derive their counting expressions
    from the SAME textfns constants (ranges, threshold), so the rule
    cannot drift; mixed fixture pages extend the Latin-only testdata.
    Pure map-side column expressions — no shuffle before the final sort."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fx = spark.createDataFrame(_MIX_FIXTURES, "doc_id long, text string")
    docs = d.unionByName(fx)

    def script_count(rng: str):
        return (
            F.length("text") - F.length(F.regexp_replace("text", f"[{rng}]", ""))
        ).cast("int")

    counts = [script_count(TX.LATIN_RANGE).alias("c_lat")] + [
        script_count(rng).alias(f"c_{lang}") for lang, rng in TX.SCRIPT_RANGES
    ]
    s = docs.select("doc_id", *counts)
    ns = sum(
        F.when(F.col(f"c_{x}") >= TX.SCRIPT_MIN_CHARS, 1).otherwise(0)
        for x in _MIX_SCRIPTS
    )
    return (
        s.withColumn("n_scripts", ns.cast("int"))
        .withColumn("mixed", F.col("n_scripts") >= 2)
        .orderBy("doc_id")
    )


@q(
    "doc_homoglyph_scan",
    r"""
    WITH raw AS (
      SELECT doc_id,
        substr(text, 1, 60)
        || CASE WHEN doc_id % 7 = 0 THEN ' pаypal-login now' ELSE '' END
        || CASE WHEN doc_id % 11 = 0 THEN ' сhase bank' ELSE '' END
        || CASE WHEN doc_id % 13 = 0 THEN ' Москва photos' ELSE '' END
        AS body
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             list_filter(string_split_regex(body, '\s+'), x -> x <> '') AS ws
      FROM raw
    ),
    m AS (
      SELECT doc_id, ws,
             list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')
                              AND regexp_matches(x, '[\x{0400}-\x{04ff}]')) AS mixed
      FROM w
    )
    SELECT doc_id,
           CAST(len(ws) AS INT) AS n_words,
           CAST(len(mixed) AS INT) AS n_mixed,
           COALESCE(list_min(mixed), '') AS example,
           len(mixed) >= 1 AS has_spoof
    FROM m ORDER BY doc_id
    """,
)
def doc_homoglyph_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level homoglyph spoofing scan (functions/textfns.
    mixed_script_words): a word straddling Latin AND Cyrillic letters
    ('pаypal' with а = U+0430) is the phishing/cloaking unit that
    doc-level script counting (doc_script_mix) cannot see — one spoofed
    word in a Latin page clears no per-script threshold, while a fully
    Cyrillic word in Russian text is normal and must NOT flag (the
    'Москва' control row). Map-side split+filter expressions, no
    shuffle; the oracle replays the word split, the two-script regex
    conjunction and the deterministic example pick."""
    from ocr_platform_spark.functions.textfns import mixed_script_words

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    body = F.concat(
        F.substring("text", 1, 60),
        F.when(did % 7 == 0, F.lit(" pаypal-login now")).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(" сhase bank")).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit(" Москва photos")).otherwise(
            F.lit("")
        ),
    )
    raw = d.select("doc_id", body.alias("body"))
    ws = F.filter(F.split("body", r"\s+", -1), lambda x: x != F.lit(""))
    m = raw.select(
        "doc_id", ws.alias("ws"), mixed_script_words("body").alias("mixed")
    )
    return m.select(
        "doc_id",
        F.size("ws").cast("int").alias("n_words"),
        F.size("mixed").cast("int").alias("n_mixed"),
        F.coalesce(F.array_min("mixed"), F.lit("")).alias("example"),
        (F.size("mixed") >= 1).alias("has_spoof"),
    ).orderBy("doc_id")


@q(
    "sitemap_coverage",
    rf"""
    WITH l AS (SELECT DISTINCT loc FROM read_parquet('{staged_glob("smcov_locs")}')),
    u AS (SELECT url FROM read_parquet('{staged_glob("smcov_urls")}')),
    h AS (
      SELECT loc,
             regexp_extract(loc, '^[a-z]+://([^/?#]+)', 1) AS host,
             loc IN (SELECT url FROM u) AS crawled
      FROM l
    )
    SELECT host,
           COUNT(*) AS n_declared,
           CAST(SUM(CASE WHEN crawled THEN 1 ELSE 0 END) AS BIGINT) AS n_crawled,
           CAST((SUM(CASE WHEN crawled THEN 1 ELSE 0 END) * 1000) // COUNT(*)
                AS BIGINT) AS coverage_pm
    FROM h GROUP BY host ORDER BY host
    """,
)
def sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-COVERAGE audit — the crawl-ops report joining what a host
    DECLARES (sitemap <loc> entries, via the sitemap kernel branch)
    against what the crawl actually HOLDS (the corpus url set): per
    declared host, declared count, crawled count, and an integer
    per-mille coverage — the gap report that drives frontier seeding
    (declared-but-uncrawled urls). Both engines read the same
    staged loc and url tables; membership is one distinct + one semi
    join keyed by url, then a host rollup — nothing corpus-wide beyond
    the url set itself at any scale."""
    from ocr_platform_spark.operators.extract import extract_documents

    docs = _synth_docs(spark)
    ext = extract_documents(docs).where(F.col("payload_kind") == "sitemap")
    locs = (
        ext.select(F.explode("spans").alias("s"))
        .where(F.col("s.field") == "loc")
        .select(F.col("s.value").alias("loc"))
    )
    # the kernel's sitemap locs are synthetic targets outside the corpus
    # (coverage 0 across the board); declare a deterministic slice of REAL
    # corpus urls too so the audit exercises both hit and miss
    declared_real = docs.orderBy("url").limit(12).select(F.col("url").alias("loc"))
    staged_locs = stage(locs.unionByName(declared_real), "smcov_locs")
    staged_urls = stage(docs.select("url"), "smcov_urls", partitions=2)
    crawled = staged_urls.select(F.col("url").alias("loc")).withColumn(
        "_hit", F.lit(1)
    )
    h = (
        staged_locs.distinct()
        .join(F.broadcast(crawled), "loc", "left")
        .select(
            F.regexp_extract("loc", r"^[a-z]+://([^/?#]+)", 1).alias("host"),
            F.col("_hit").isNotNull().alias("crawled"),
        )
    )
    n_crawled = F.sum(F.when(F.col("crawled"), 1).otherwise(0)).cast("long")
    return (
        h.groupBy("host")
        .agg(
            F.count("*").alias("n_declared"),
            n_crawled.alias("n_crawled"),
        )
        .withColumn("coverage_pm", F.expr("(n_crawled * 1000) div n_declared"))
        .orderBy("host")
    )


@q(
    "robots_sitemap_directives",
    rf"""
    WITH r AS (SELECT host, raw FROM read_parquet('{staged_glob("robots_sm_raw")}')),
    l AS (
      SELECT host, CAST(i AS INT) AS line_no,
             trim(regexp_replace(replace(ls[i], chr(13), ''), '#.*', '')) AS line
      FROM (SELECT host, str_split(raw, chr(10)) AS ls,
                   unnest(generate_series(1, len(str_split(raw, chr(10))))) AS i
            FROM r)
    ),
    sm AS (
      SELECT host, line_no,
             regexp_replace(regexp_extract(line, '^[^:]*:(.*)$', 1),
                            '^[ \t]+|[ \t]+$', '', 'g') AS sitemap_url
      FROM l
      WHERE regexp_matches(lower(line), '^[ \t]*sitemap[ \t]*:')
    )
    SELECT host,
           CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY line_no) AS INT)
             AS sm_idx,
           sitemap_url
    FROM sm ORDER BY host, sm_idx
    """,
)
def robots_sitemap_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Sitemap:`` directive mining from robots.txt — the missing link
    between the host-politeness face (robots.txt allow/disallow groups)
    and the sitemap kernel (`extract_sitemap_entries`
    parses the files those directives POINT AT): per RFC 9309 the field is
    group-independent and case-insensitive, so every matching line yields a
    (host, order, sitemap url) row — the seed list `sitemap_coverage`
    audits. Robots files are synthesized deterministically per host
    (declaring hosts carry 1-2 directives, mixed field case, comment and
    rule noise lines), staged once, and BOTH engines replay the same
    line-split → comment-strip → field-match → value-trim chain. Rules-
    table-sized end to end: one row per host file, no corpus-scale data."""
    d = _t(spark, sf_dir, "documents")
    hosts = d.select(F.pmod("doc_id", F.lit(40)).alias("h")).distinct()
    hs = F.col("h").cast("string")
    site = F.concat(F.lit("https://site-"), hs, F.lit(".example.org"))
    raw = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n# generated robots file\n"),
        F.when(
            F.pmod("h", F.lit(3)) != 0,
            F.when(
                F.pmod("h", F.lit(4)) == 0,
                F.concat(F.lit("sitemap: "), site, F.lit("/sitemap-0.xml\n")),
            ).otherwise(
                F.concat(F.lit("Sitemap: "), site, F.lit("/sitemap-0.xml\n"))
            ),
        ).otherwise(F.lit("")),
        F.when(
            (F.pmod("h", F.lit(3)) != 0) & (F.pmod("h", F.lit(2)) == 1),
            F.concat(F.lit("Sitemap:\t"), site, F.lit("/sitemap-1.xml  # extra\n")),
        ).otherwise(F.lit("")),
        F.lit("Crawl-delay: 2\n"),
    )
    staged = stage(
        hosts.select(
            F.concat(F.lit("site-"), hs, F.lit(".example.org")).alias("host"),
            raw.alias("raw"),
        ),
        "robots_sm_raw",
    )
    lines = staged.select(
        "host",
        F.posexplode(F.split("raw", "\n")).alias("p", "l0"),
    ).select(
        "host",
        (F.col("p") + 1).cast("int").alias("line_no"),
        F.trim(
            F.regexp_replace(F.replace(F.col("l0"), F.lit("\r"), F.lit("")), "#.*", "")
        ).alias("line"),
    )
    sm = lines.where(
        F.lower("line").rlike(r"^[ \t]*sitemap[ \t]*:")
    ).select(
        "host",
        "line_no",
        F.regexp_replace(
            F.regexp_extract("line", r"^[^:]*:(.*)$", 1), r"^[ \t]+|[ \t]+$", ""
        ).alias("sitemap_url"),
    )
    w = Window.partitionBy("host").orderBy("line_no")
    return (
        sm.withColumn("sm_idx", F.row_number().over(w).cast("int"))
        .select("host", "sm_idx", "sitemap_url")
        .orderBy("host", "sm_idx")
    )


@q(
    "storage_compaction_plan",
    r"""
    WITH files AS (
      SELECT CAST(doc_id % 64 AS BIGINT) AS file_id,
             CAST(doc_id % 8 AS BIGINT) AS bucket,
             CAST(SUM(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY doc_id % 64, doc_id % 8
    ),
    w AS (
      SELECT file_id, bucket, bytes,
             COALESCE(SUM(bytes) OVER (PARTITION BY bucket ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM files
    ),
    plan AS (
      SELECT bucket, file_id, bytes, cum_before // 6000 AS task_id FROM w
    )
    SELECT bucket, CAST(task_id AS BIGINT) AS task_id,
           COUNT(*) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(bytes) AS BIGINT) > 6000 AS overshoot
    FROM plan GROUP BY bucket, task_id ORDER BY bucket, task_id
    """,
)
def storage_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION planning — the table-maintenance job any
    Iceberg/parquet lake needs at 100 TB (thousands of tiny files per
    partition kill scan throughput; compaction rewrites them into
    target-size groups, cf. Spark's own maxPartitionBytes coalescing):
    per partition bucket, files in id order are assigned to rewrite
    tasks by the SAME keep-iff-cum-before-under-budget rule as the
    token-budget cut (integer ``cum_before div target``) — a task may
    overshoot only by its last file's tail, flagged exactly. The file
    inventory is derived deterministically from the documents table
    (doc_id%64 files, doc_id%8 partition buckets, decimal-exact byte
    sums); BOTH engines replay the identical window arithmetic. The
    window and the rollup are bucket-partitioned — inventory tables are
    file-count-sized and per-partition, never a global sort."""
    d = _t(spark, sf_dir, "documents")
    files = (
        d.groupBy(
            (F.col("doc_id") % 64).cast("long").alias("file_id"),
            (F.col("doc_id") % 8).cast("long").alias("bucket"),
        )
        .agg(F.sum("n_chars").cast("long").alias("bytes"))
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    plan = files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0).cast("long"))
    ).withColumn("task_id", F.expr("cum_before div 6000"))
    return (
        plan.groupBy("bucket", "task_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
        )
        .withColumn("overshoot", F.col("total_bytes") > 6000)
        .orderBy("bucket", "task_id")
    )


@q(
    "host_mirror_near_dups",
    f"""
    WITH sigs AS (SELECT * FROM read_parquet('{staged_glob("hostmirror_sigs")}')),
    cands AS (SELECT * FROM read_parquet('{staged_glob("hostmirror_cands")}')),
    hm AS (
      SELECT host, i, MIN(sig[i]) AS mv
      FROM (SELECT host, sig, unnest(generate_series(1, len(sig))) AS i FROM sigs)
      GROUP BY host, i
    ),
    nd AS (SELECT host, COUNT(*) AS n_docs FROM sigs GROUP BY host),
    mt AS (
      SELECT c.host_a, c.host_b,
             COUNT(CASE WHEN a.mv = b.mv THEN 1 END) AS n_match
      FROM cands c
      JOIN hm a ON a.host = c.host_a
      JOIN hm b ON b.host = c.host_b AND b.i = a.i
      GROUP BY c.host_a, c.host_b
    )
    SELECT mt.host_a, mt.host_b,
           CAST(na.n_docs AS BIGINT) AS n_a, CAST(nb.n_docs AS BIGINT) AS n_b,
           CAST(mt.n_match AS INT) AS n_match,
           CAST((1000 * mt.n_match) // 16 AS BIGINT) AS jaccard_est_x1000,
           (1000 * mt.n_match) // 16 >= 500 AS is_mirror
    FROM mt
    JOIN nd na ON na.host = mt.host_a
    JOIN nd nb ON nb.host = mt.host_b
    ORDER BY host_a, host_b
    """,
)
def host_mirror_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror detection at NEAR-dup grain (operators/dedup.py
    host_union_signatures + host_mirror_near_pairs): exact content-hash
    overlap (``host_mirror_detection``) goes blind the moment a mirror
    injects per-page banners — every page hash drifts. Here each host gets
    a MinHash signature of its shingle-set UNION, composed as the
    elementwise MIN of per-document signatures (min over A∪B = min of
    mins — a map-combinable k-column aggregate, so no per-host shingle set
    ever materializes), hosts band into LSH buckets like documents, and
    candidate pairs score by the MinHash estimate in integer per-mille.
    The synthetic corpus plants one full mirror and one partial mirror
    whose copied pages all carry page-unique banners: page-hash Jaccard is
    ZERO for those pairs, union-MinHash still flags them. Per-doc
    signatures and candidate host pairs are staged (xxhash64 boundary);
    the oracle replays the union-min composition, the component-match
    count, and the gate from the same bytes."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = d.select(
        "doc_id",
        F.concat(F.lit("site-"), (F.col("doc_id") % 12).cast("string")).alias("host"),
        "text",
    )
    prev = src.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("ptext")
    )
    banner = F.concat(
        F.lit(" mirrored by site eleven banner "), F.col("doc_id").cast("string")
    )
    pages = src.join(prev, "doc_id", "left").select(
        "doc_id",
        "host",
        F.when(F.col("doc_id") % 12 == 11, F.concat(F.col("ptext"), banner))
        .when(
            (F.col("doc_id") % 12 == 5) & (F.col("doc_id") % 24 == 5),
            F.concat(F.col("ptext"), banner),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hs = dedup.hashed_shingle_sets(pages, "doc_id", "text")
    doc_sigs = stage(
        hs.select("id", dedup.minhash_signature_from_hashes("hs", 16).alias("sig"))
        .join(src.select(F.col("doc_id").alias("id"), "host"), "id")
        .select("id", "host", "sig"),
        "hostmirror_sigs",
    )
    hosts = dedup.host_union_signatures(doc_sigs, "host", "sig", 16)
    banded = hosts.select(
        "host",
        F.posexplode(dedup.minhash_bands("sig", 16, 2)).alias("band_id", "band_hash"),
    )
    cands = stage(
        dedup._bucket_pairs(banded, "host", 64).select(
            F.col("id_a").alias("host_a"), F.col("id_b").alias("host_b")
        ),
        "hostmirror_cands",
    )
    a = hosts.select(
        F.col("host").alias("host_a"), F.col("sig").alias("sig_a"), F.col("n_docs").alias("n_a")
    )
    b = hosts.select(
        F.col("host").alias("host_b"), F.col("sig").alias("sig_b"), F.col("n_docs").alias("n_b")
    )
    n_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    return (
        cands.join(F.broadcast(a), "host_a")
        .join(F.broadcast(b), "host_b")
        .select(
            "host_a",
            "host_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            n_match.cast("int").alias("n_match"),
        )
        .withColumn("jaccard_est_x1000", F.expr("cast((1000 * n_match) div 16 as bigint)"))
        .withColumn("is_mirror", F.col("jaccard_est_x1000") >= 500)
        .orderBy("host_a", "host_b")
    )


@q(
    "doc_novelty_scores",
    f"""
    WITH hs AS (SELECT * FROM read_parquet('{staged_glob("novelty_hs")}')),
    tr AS (SELECT id, unnest(hs) AS h FROM hs),
    first AS (SELECT h, MIN(id) AS first_id FROM tr GROUP BY h),
    nov AS (
      SELECT tr.id, COUNT(*) AS n_novel
      FROM tr JOIN first f ON f.h = tr.h AND f.first_id = tr.id
      GROUP BY tr.id
    )
    SELECT hs.id AS doc_id,
           CAST(len(hs.hs) AS BIGINT) AS n_shingles,
           CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(CASE WHEN len(hs.hs) > 0
                THEN (1000 * COALESCE(nov.n_novel, 0)) // len(hs.hs)
                ELSE 0 END AS BIGINT) AS novelty_pm
    FROM hs LEFT JOIN nov ON nov.id = hs.id
    ORDER BY doc_id
    """,
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY under arrival order — the incremental-utility
    signal diversity-aware curation ranks by (a document contributes
    only what the corpus hasn't already seen; the marginal-value cousin
    of dedup's binary verdict): each doc's score is the per-mille of its
    distinct word shingles whose FIRST occurrence (minimum doc_id) is
    this document. One explode, one map-combinable MIN keyed by shingle
    hash (corpus-proportional key — parallelizes arbitrarily, no per-doc
    state), one count-back join. The staged shingle table is the xxhash
    boundary; the oracle replays first-occurrence assignment and every
    quotient. Templated/syndicated documents score low; fresh content
    scores near 1000 — thresholding this IS the quality-aware sampling
    knob for over-crawled hosts."""
    d = _t(spark, sf_dir, "documents")
    hs = stage(
        dedup.hashed_shingle_sets(d, "doc_id", "text"), "novelty_hs", partitions=8
    )
    tr = hs.select("id", F.explode("hs").alias("h"))
    first = tr.groupBy("h").agg(F.min("id").alias("first_id"))
    nov = (
        tr.join(first, (tr.h == first.h) & (tr.id == F.col("first_id")))
        .groupBy(tr.id)
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        hs.join(nov, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.size("hs").cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.size("hs") > 0,
                F.expr("cast((1000 * coalesce(n_novel, 0)) div size(hs) as bigint)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("novelty_pm"),
        )
        .orderBy("doc_id")
    )


def _cdx_oracle() -> str:
    from ocr_platform_spark.functions.urlfns import surt_sql
    from ocr_platform_spark.operators.sampling import oracle_bucket_sql

    return f"""
    WITH caps AS (
      SELECT doc_id, text, cap,
             CASE WHEN cap = 0
               THEN 'HTTPS://WWW.Site-' || CAST(doc_id % 24 AS VARCHAR)
                    || '.Example.org/Doc/' || CAST(doc_id AS VARCHAR)
                    || '?b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1'
               ELSE 'https://site-' || CAST(doc_id % 24 AS VARCHAR)
                    || '.example.org:443/doc/' || CAST(doc_id AS VARCHAR)
                    || '?a=1&b=' || CAST(doc_id % 3 AS VARCHAR)
             END AS url,
             '202401' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               || lpad(CAST((doc_id + cap * 7) % 24 AS VARCHAR), 2, '0') || '0000'
               AS ts
      FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS cap)
    ),
    rec AS (
      SELECT {surt_sql("url")} AS surt, ts,
             md5(text) AS digest, CAST(length(text) AS BIGINT) AS rec_len,
             doc_id, cap
      FROM caps
    ),
    sharded AS (
      SELECT *, CAST({oracle_bucket_sql("surt", 4)} AS BIGINT) AS shard FROM rec
    ),
    laid AS (
      SELECT surt, ts, digest, rec_len, shard,
             CAST(COALESCE(SUM(rec_len) OVER (
               PARTITION BY shard ORDER BY surt, ts, doc_id, cap
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS rec_offset
      FROM sharded
    )
    SELECT surt, ts, digest, rec_len, shard, rec_offset
    FROM laid ORDER BY shard, rec_offset, surt, ts
    """


@q("cdx_index", _cdx_oracle())
def cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture-index construction — the artifact every WARC archive
    ships beside its payloads (Common Crawl's cc-index): each capture
    keys by its SURT form (functions/urlfns.surt_key — host labels
    reversed so one host's, and one registered domain's, captures are
    CONTIGUOUS under plain lexicographic order, which is what makes
    binary-searchable shards and domain prefix-scans work), secondary-
    sorted by timestamp, md5-bucketed into shards, and laid out with
    exact per-record byte offsets via an exclusive running sum within
    the shard — the (filename, offset, length) triple a replay service
    seeks by. Two captures per url with scheme/case/port/param-order
    variants land on ONE surt key (the normalization is the point). The
    SURT rule set is a single source with a DuckDB twin (dialect parity
    pinned in tests/test_urlfns.py over adversarial urls); ts strings
    are pure lpad arithmetic; the whole index replays staging-free from
    raw parquet. The only wide operation is the per-shard window over
    key-sorted records — shard-partitioned, never a global sort."""
    from ocr_platform_spark.functions.urlfns import surt_key
    from ocr_platform_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    caps = d.crossJoin(
        spark.range(2).select(F.col("id").cast("int").alias("cap"))
    ).select(
        "doc_id",
        "text",
        "cap",
        F.when(
            F.col("cap") == 0,
            F.concat(
                F.lit("HTTPS://WWW.Site-"), (F.col("doc_id") % 24).cast("string"),
                F.lit(".Example.org/Doc/"), did,
                F.lit("?b="), (F.col("doc_id") % 3).cast("string"), F.lit("&a=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://site-"), (F.col("doc_id") % 24).cast("string"),
                F.lit(".example.org:443/doc/"), did,
                F.lit("?a=1&b="), (F.col("doc_id") % 3).cast("string"),
            )
        )
        .alias("url"),
        F.concat(
            F.lit("202401"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            F.lpad(((F.col("doc_id") + F.col("cap") * 7) % 24).cast("string"), 2, "0"),
            F.lit("0000"),
        ).alias("ts"),
    )
    rec = caps.select(
        surt_key("url").alias("surt"),
        "ts",
        F.md5("text").alias("digest"),
        F.length("text").cast("long").alias("rec_len"),
        "doc_id",
        "cap",
    ).withColumn("shard", hash_bucket(F.col("surt"), 4).cast("long"))
    w = (
        Window.partitionBy("shard")
        .orderBy("surt", "ts", "doc_id", "cap")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        rec.withColumn(
            "rec_offset", F.coalesce(F.sum("rec_len").over(w), F.lit(0)).cast("long")
        )
        .select("surt", "ts", "digest", "rec_len", "shard", "rec_offset")
        .orderBy("shard", "rec_offset", "surt", "ts")
    )


@q(
    "dedup_colocation_report",
    f"""
    WITH hs AS (SELECT * FROM read_parquet('{staged_glob("coloc_hs")}')),
    c AS (SELECT * FROM read_parquet('{staged_glob("coloc_cands")}')),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM c JOIN hs a ON c.id_a = a.id JOIN hs b ON c.id_b = b.id
      WHERE len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) > 0
        AND CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
            / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= 0.5
    ),
    marked AS (
      SELECT v.id_a, v.id_b, sa.shard = sb.shard AS same_shard
      FROM verified v
      JOIN hs sa ON sa.id = v.id_a
      JOIN hs sb ON sb.id = v.id_b
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(CASE WHEN same_shard THEN 1 END) AS BIGINT) AS n_intra
      FROM marked
    ),
    ns AS (SELECT COUNT(DISTINCT shard) AS n_shards FROM hs)
    SELECT n_pairs, n_intra,
           CAST(CASE WHEN n_pairs > 0 THEN (1000 * n_intra) // n_pairs
                ELSE 0 END AS BIGINT) AS colocation_pm,
           CAST(1000 // n_shards AS BIGINT) AS random_baseline_pm
    FROM agg, ns
    """,
)
def dedup_colocation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-AWARE shard assignment, measured: route each document to
    the shard of its FIRST MinHash band hash, and near-duplicate pairs
    land in one shard at (roughly) the band's collision rate instead of
    the 1/n_shards random baseline — which is what lets dedup run
    SHARD-LOCALLY at 100 TB (per-shard exact verification, no
    corpus-wide pair shuffle; stragglers handled by the later bands).
    The report: of the verified near-dup pairs (exact Jaccard ≥ 0.5 over
    staged shingle sets, the minhash_near_dups tail), the per-mille
    co-located under band-sharding next to the 1000/n_shards baseline.
    Shard assignment is xxhash-side and rides the staged table; the
    oracle replays verification, the co-location join and both
    quotients. Everything pair-scoped is candidate-bounded."""
    d = _t(spark, sf_dir, "documents")
    hs_raw = dedup.hashed_shingle_sets(d, "doc_id", "text")
    sig = hs_raw.select(
        "id", "hs", dedup.minhash_signature_from_hashes("hs", 16).alias("sig")
    )
    banded_all = sig.select(
        "id",
        "hs",
        "sig",
        F.posexplode(dedup.minhash_bands("sig", 16, 2)).alias("band_id", "band_hash"),
    )
    hs = stage(
        banded_all.where(F.col("band_id") == 0).select(
            "id", "hs", F.pmod("band_hash", F.lit(8)).cast("long").alias("shard")
        ),
        "coloc_hs",
        partitions=8,
    )
    cands = stage(
        dedup._bucket_pairs(
            banded_all.select("id", "band_id", "band_hash"), "id", 64
        ),
        "coloc_cands",
    )
    sets_a = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("shard").alias("shard_a"))
    sets_b = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("shard").alias("shard_b"))
    j = cands.join(sets_a, "id_a").join(sets_b, "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    verified = j.where(
        (union > 0) & (inter.cast("double") / union >= 0.5)
    ).select((F.col("shard_a") == F.col("shard_b")).alias("same_shard"))
    agg = verified.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.count(F.when(F.col("same_shard"), 1)).cast("long").alias("n_intra"),
    )
    ns = hs.agg(F.countDistinct("shard").alias("n_shards"))
    return agg.crossJoin(F.broadcast(ns)).select(
        "n_pairs",
        "n_intra",
        F.expr(
            "cast(case when n_pairs > 0 then (1000 * n_intra) div n_pairs else 0 end as bigint)"
        ).alias("colocation_pm"),
        F.expr("cast(1000 div n_shards as bigint)").alias("random_baseline_pm"),
    )


# The driver's correctness harness records the first 50 queries() entries:
# these names come first, in this order, and the rest of the catalog
# follows in registration order.
_PRIORITY = [
    # -- round-5 driver window: never-recorded --
    "dedup_lsh_recall", "quality_threshold_sweep",
    "doc_decontam_by_suite", "doc_decontam_strip", "corpus_vocab_growth",
    "doc_pii_cards", "extract_span_audit", "extract_lineage_audit",
    "url_param_stats", "doc_readability",
    "doc_code_density", "crawl_budget_allocation", "corpus_code_route_report",
    "url_revisit_policy", "host_token_budget_cut", "doc_script_mix",
    "sitemap_coverage", "robots_sitemap_directives",
    "storage_compaction_plan", "host_boilerplate_strip", "corpus_oov_curve",
    "url_softblock_score", "crawl_trap_detection", "url_prefix_rollup",
    # -- then: remaining never-recorded, then driver-green history --
    "doc_homoglyph_scan", "corpus_negative_sampling_table",
    "shard_zonemap_skipping", "events_hourly_incremental",
    "corpus_release_diff", "host_mirror_detection", "snapshot_expiry_plan",
    "split_leakage_audit", "host_mirror_near_dups", "doc_novelty_scores",
    "cdx_index", "dedup_colocation_report", "doc_decontam_fuzzy",
    "doc_containment_pairs", "decontam_lsh_recall", "doc_containment_strip",
    "doc_repeated_spans_strided", "corpus_build_report",
    "corpus_shard_manifest", "doc_decontam", "doc_split_assign",
    "doc_split_by_source", "host_downsample", "corpus_mixture_sample",
    "corpus_length_deciles", "doc_pii_scrub", "doc_tfidf_terms",
    "doc_topic_classifier_tf", "corpus_keyword_search", "corpus_phrase_search",
    "corpus_top_bigrams", "host_quality_rollup", "host_cardinality_exact",
    "doc_robots_rollup", "url_canonicalization", "url_revisit_diff",
    "field_option_dispatch", "blocklist_filter",
    "dimension_as_of_lookup", "export_pdf_roundtrip", "corrected_table_cells",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = [n for n in _PRIORITY if n in CATALOG]
    ordered += [n for n in CATALOG if n not in set(ordered)]
    return {name: CATALOG[name].fn for name in ordered}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in CATALOG.items() if spec.oracle}
