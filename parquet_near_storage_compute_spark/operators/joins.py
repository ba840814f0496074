"""Join operators: J1/J2 parity plus the join types the reference lacks.

The reference implements exactly two joins (SURVEY.md §2.3): an inner
equi-join of fact × aggregated-dim (``query_selectivity_distribution.sql:24-25``)
and a 1×1 comma cross join against a global total (``:56-58``). Spark's join
surface covers those and the rest (semi/anti/range/as-of) declaratively.

Scale design (100 TB):
- Dimension sides (supplier/nation/region/customer-agg) are orders of
  magnitude smaller than the fact table → ``F.broadcast`` pins a
  BroadcastHashJoin, so the lineitem scan never shuffles for the join.
- The multiway chain joins facts to dims in decreasing-size order; only
  orders×lineitem is a true big-big join, shuffled on the join key once and
  reused (co-partitioned) by the following group-by on the same key.
- The as-of join pre-aggregates the right side per (key, left-row) via a
  conditional max instead of exploding a between-join; at scale this is the
  classic "latest state per event" pattern with one shuffle per side.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.tables import load_table


def broadcast_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact × small-dim inner equi-join as BroadcastHashJoin."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey, "inner")
        .groupBy("s_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema 4-way join: lineitem ⋈ orders ⋈ customer ⋈ nation,
    revenue per nation (TPC-H Q5 shape; beyond-reference completeness)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi: orders having at least one high-value lineitem (EXISTS)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = li.filter(F.col("l_extendedprice") > 95000.0)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
    )


def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti: customers with no orders (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def cross_join_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: percentage-of-total via an explicit 1-row cross join, exactly the
    reference's comma-join pattern (query_selectivity_distribution.sql:56-58)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n",
            (F.col("n") * 100.0 / F.col("total")).alias("pct"),
        )
    )


def window_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idiomatic alternative to J2: same result via an empty-partition window
    (SURVEY.md §2.3 note) — avoids a second aggregation pass."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "event_type",
        "n",
        (F.col("n") * 100.0 / F.sum("n").over(Window.partitionBy())).alias("pct"),
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond reference): for each purchase event, the most recent
    signup by the same user at-or-before the purchase time.

    Implemented as equi-join on user + range predicate, reduced by max();
    time output formatted to string (timestamp_ntz vs DuckDB drift).
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"), F.col("ts").alias("s_ts")
    )
    joined = purchases.join(
        signups,
        (purchases.user_id == signups.s_user_id) & (signups.s_ts <= purchases.p_ts),
        "left",
    )
    return (
        joined.groupBy("purchase_id", "user_id")
        .agg(F.max("s_ts").alias("asof_ts"))
        .select(
            "purchase_id",
            "user_id",
            F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "asof_signup_time"
            ),
        )
    )


def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (beyond reference): lineitems shipped within 30 days after
    their order's date — equi key + range predicate on timestamps."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= F.timestamp_add("DAY", F.lit(30), orders.o_orderdate)),
        "inner",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_extendedprice").alias("sum_price"),
    )


def theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (band) join: customer/supplier pairs whose account balances are
    within 5.0 of each other — arbitrary inequality predicate, broadcast of
    the small side (suppliers), no equi key at all."""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    j = cust.join(
        F.broadcast(sup),
        F.abs(cust.c_acctbal - sup.s_acctbal) < 5.0,
        "inner",
    )
    return j.select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal").orderBy(
        "c_custkey", "s_suppkey"
    )


def self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: count of same-order lineitem pairs per returnflag combo
    (co-occurrence shape; shuffles once on the shared key)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln_a"),
        F.col("l_returnflag").alias("flag_a"),
    )
    b = li.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln_b"),
        F.col("l_returnflag").alias("flag_b"),
    )
    pairs = a.join(b, "k").filter(F.col("ln_a") < F.col("ln_b"))
    return pairs.groupBy("flag_a", "flag_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


#: Full-outer demo needs both unmatched sides non-empty: the customer side
#: is filtered to high-balance accounts so some orders lose their customer
#: row and some filtered customers have no orders.
OUTER_ACCTBAL_MIN = 5000.0


def full_outer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join + null-side accounting — the outer-join member of
    the join family (the reference has only inner joins, §2.3): per-custkey
    order rollups joined full-outer against high-balance customers, then
    collapsed to match/customer-only/orders-only categories.

    Scale shape: the fact side pre-aggregates per key BEFORE the join (the
    same fact-collapse-first rule as snowset/gap_fill), so the outer join
    runs key-vs-key (sort-merge on custkey), never row-level fact data.

    Engine exactness: ``total_spend`` is a TWO-level sum (per-custkey, then
    per-side after the join).  Double addition is order-dependent, so a
    double sum here drifts a few ulps between engines / partition orders
    (observed: ...8900027 vs ...8900006 at 1.6e9).  TPC-H prices are exact
    2-decimal values, so both levels sum as DECIMAL — exact and
    order-independent — and cast to DOUBLE only in the final projection."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > OUTER_ACCTBAL_MIN
    ).select("c_custkey")
    oagg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "total_spend"
            ),
        )
    )
    full = cust.join(
        oagg, cust["c_custkey"] == oagg["o_custkey"], "full_outer"
    )
    side = (
        F.when(
            F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull(),
            "matched",
        )
        .when(F.col("c_custkey").isNotNull(), "customer_only")
        .otherwise("orders_only")
    )
    return (
        full.select(
            side.alias("side"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(
                F.col("total_spend"), F.lit(0).cast("decimal(28,2)")
            ).alias("total_spend"),
        )
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_spend").cast("double").alias("total_spend"),
        )
        .orderBy("side")
    )


#: Bucket count for the co-located join demo (both sides must match for
#: Spark to elide the exchanges).
N_BUCKETS = 8


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the LAYOUT answer to the big-big join:
    ``orders`` and ``customer`` are written ``bucketBy(N, custkey)`` +
    ``sortBy``, so the join needs NO exchange on either side (each bucket
    pair is joined in place; the plan shows a SortMergeJoin whose subtree
    is exchange-free, pinned in tests/test_bucketed_join.py). At 100 TB
    this is the difference between shuffling the fact table per join and
    shuffling it once at WRITE time, amortized over every subsequent join
    on that key — the bucketing counterpart of the reference's fixed
    file/partition grid.

    Each bucketed side is a derived copy keyed on its source's listing
    (``tables.derived_copy``): a throwaway table writes the buckets to the
    copy's path and is dropped, which keeps the files. Each session
    registers the copy as an external bucketed table named after its path,
    so nothing is written to the warehouse and a rewritten source names
    a new table. Output sums are integer cents, so the contract is
    engine-exact."""
    import hashlib
    import uuid

    from parquet_near_storage_compute_spark.tables import (
        derived_copy,
        ensure_engine_confs,
        table_path,
    )

    ensure_engine_confs(spark)
    tables = []
    for side, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        df = load_table(spark, sf_dir, side)

        def build(path: str) -> None:
            scratch = f"pnsc_build_{uuid.uuid4().hex[:12]}"
            try:
                df.write.bucketBy(N_BUCKETS, key).sortBy(key).format(
                    "parquet"
                ).option("path", path).saveAsTable(scratch)
            finally:
                spark.sql(f"DROP TABLE IF EXISTS {scratch}")

        path = derived_copy(
            f"bucketed{N_BUCKETS}_{key}", (table_path(sf_dir, side),), build
        )
        name = f"pnsc_{side}_b_{hashlib.sha1(path.encode()).hexdigest()[:16]}"
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
            f"LOCATION '{path}'"
        )
        tables.append(spark.table(name))
    orders, cust = tables
    # hint("merge") pins SortMergeJoin: at driver SF the customer side
    # fits the broadcast threshold and Catalyst would (correctly) pick
    # BroadcastHashJoin, hiding the layout; at 100 TB both sides exceed
    # it and SMJ is the natural choice — the hint makes the sf-scale
    # plan match the at-scale plan so the exchange-free shape is testable
    return (
        orders.join(
            cust.hint("merge"),
            orders["o_custkey"] == cust["c_custkey"],
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


#: Salt width for the explicit skew-salted join. At 100 TB size this to
#: (rows of the hottest key) / (rows a reducer should hold).
SKEW_SALT = 8


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salt-replicate join on a pathologically skewed key.

    ``events``→``event_type`` is the textbook skew shape: a fact table
    joined on a key with a handful of distinct values, so a plain shuffle
    join lands the whole table on ≤ #keys reducers no matter how many
    executors exist. The salt-replicate fix: the fact side gets a free
    ``salt = pmod(event_id, S)`` column (no extra rows), the dimension side
    is replicated S× (tiny — dims are small by definition here), and the
    join key becomes (event_type, salt) — each hot key now spreads over S
    tasks. Exact: every fact row still meets exactly one dim copy.

    AQE's skew-join handles the same problem adaptively for sort-merge
    joins (splits oversized partitions at runtime, enabled in session.py);
    the explicit salt is the portable, deterministic form that also works
    where AQE cannot intervene — broadcast-ineligible dims under
    shuffled-hash join, skewed groupBy keys (see window_topk_per_group's
    salted top-k), and pre-Spark-3 engines. hint("merge") pins SMJ so the
    salted shuffle shape is what the plan test pins, as with the bucketed
    join above. Output sums integer cents (floor(value·100)) — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type").cast("long"))
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(SKEW_SALT - 1)))
        )
    )
    fact = ev.withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(SKEW_SALT)).cast("int")
    )
    return (
        fact.join(dim.hint("merge"), ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.max("type_weight").alias("type_weight"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
        )
        .orderBy("event_type")
    )


def runtime_bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join (Spark's InjectRuntimeFilter): the
    ROW-level counterpart of `source_dpp_star_join`'s partition-level
    pruning. When a shuffle join's small side carries a selective filter,
    Spark builds a Bloom filter of its join keys (``bloom_filter_agg``)
    and injects ``might_contain`` into the BIG side's scan — fact rows
    whose key cannot match are dropped BEFORE the shuffle, which at
    100 TB means shuffling the ~selectivity fraction of the fact table
    instead of all of it. Complements the explicit `sketch_bloom_*`
    operators: same filter, maintained by the optimizer per query.

    The injection rule skips joins it predicts will broadcast (a
    broadcast join needs no runtime filter) and gates on an
    application-side scan threshold sized for clusters, so the contract
    pins both knobs for the test-scale corpus, plans EAGERLY under them,
    and restores the session confs — the returned frame keeps its
    memoized bloom-filtered plan (asserted in tests). Integer-cents
    output; the oracle is the plain filtered join.
    """
    pins = {
        # thresholds are cluster-sized; test corpora never reach them
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # the rule skips probably-broadcast joins; force the shuffle-join
        # regime the filter exists for (at 100 TB both sides exceed any
        # broadcast threshold naturally)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    # session-wide confs are mutated during PLANNING only and restored in
    # finally; a CONCURRENTLY planned query in the same session would see
    # them (ADVICE r5) — callers planning in parallel must construct this
    # query on a SparkSession.newSession() of their own
    prev = {k: spark.conf.get(k) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        urgent = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            li.join(urgent, li["l_orderkey"] == urgent["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.floor(F.col("l_extendedprice") * 100)).alias(
                    "sum_price_cents"
                ),
            )
            .orderBy("l_returnflag")
        )
        # force analysis/optimization NOW so the memoized plan carries the
        # injected bloom filter even after the confs are restored
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "join_theta": theta_join,
    "join_self": self_join,
    "join_broadcast_inner": broadcast_inner,
    "join_multiway": multiway,
    "join_semi": semi_join,
    "join_anti": anti_join,
    "join_cross_pct": cross_join_pct,
    "join_window_pct": window_pct,
    "join_asof": asof_join,
    "join_range": range_join,
    "join_outer_full": full_outer_rollup,
    "join_bucketed_colocated": bucketed_colocated_join,
    "join_skew_salted": skew_salted_join,
    "join_runtime_bloom_filtered": runtime_bloom_filtered_join,
}

_PCT_ORACLE = """
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY event_type
    ), total AS (SELECT SUM(n) AS total FROM counts)
    SELECT c.event_type, c.n, CAST(c.n * 100.0 / t.total AS DOUBLE) AS pct
    FROM counts c, total t
"""

ORACLE_SQL: dict[str, str] = {
    "join_runtime_bloom_filtered": """
        SELECT l.l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_price_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
    "join_skew_salted": """
        SELECT event_type,
               CAST(length(event_type) AS BIGINT) AS type_weight,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "join_bucketed_colocated": """
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    "join_outer_full": f"""
        WITH cust AS (
          SELECT c_custkey FROM customer WHERE c_acctbal > {OUTER_ACCTBAL_MIN}
        ),
        oagg AS (
          SELECT o_custkey,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
          FROM orders GROUP BY o_custkey
        ),
        full_j AS (
          SELECT CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL
                      THEN 'matched'
                      WHEN c.c_custkey IS NOT NULL THEN 'customer_only'
                      ELSE 'orders_only' END AS side,
                 COALESCE(o.n_orders, 0) AS n_orders,
                 COALESCE(o.total_spend, CAST(0 AS DECIMAL(18,2))) AS total_spend
          FROM cust c FULL OUTER JOIN oagg o ON c.c_custkey = o.o_custkey
        )
        SELECT side,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n_orders) AS BIGINT) AS n_orders,
               CAST(SUM(total_spend) AS DOUBLE) AS total_spend
        FROM full_j GROUP BY side ORDER BY side
    """,
    "join_theta": """
        SELECT c.c_custkey, s.s_suppkey, c.c_acctbal, s.s_acctbal
        FROM customer c JOIN supplier s
          ON abs(c.c_acctbal - s.s_acctbal) < 5.0
        ORDER BY c.c_custkey, s.s_suppkey
    """,
    "join_self": """
        SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        GROUP BY 1, 2
    """,
    "join_broadcast_inner": """
        SELECT s.s_name,
               CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_name
    """,
    "join_multiway": """
        SELECT n.n_name,
               CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    "join_semi": """
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_extendedprice > 95000.0)
    """,
    "join_anti": """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "join_cross_pct": _PCT_ORACLE,
    "join_window_pct": _PCT_ORACLE,
    "join_asof": """
        SELECT p.event_id AS purchase_id,
               p.user_id,
               strftime(MAX(s.ts), '%Y-%m-%d %H:%M:%S.%f') AS asof_signup_time
        FROM events p
        LEFT JOIN events s
          ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY p.event_id, p.user_id
    """,
    "join_range": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(l.l_extendedprice) AS DOUBLE) AS sum_price
        FROM lineitem l JOIN orders o
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
    """,
}
