"""Join operators: FK enrich, star, anti/semi, fx, as-of, skew-resilient.

The reference pins join semantics through dbt `relationships` tests
(`/root/reference/models/schema.yml:30-73,86-90,108-117`) and generated FKs
(`/root/reference/data_gen/generate_and_load_script.py:83,117-119,131`).

Scale notes (100 TB):
- Hard `F.broadcast` hints are reserved for CONSTANT-size dims (nation=25,
  region=5, seeds) and provably-tiny derived sides. sf-scaled tables
  (customer, supplier, part) never carry one — a hard hint bypasses
  `autoBroadcastJoinThreshold` and fails at the 8 GB broadcast limit at
  100x scale. Facts pre-aggregate to the join-key grain below such joins
  where the final agg decomposes; otherwise AQE picks the strategy.
- The fact-fact join (lineitem x orders) shuffles both sides on the key;
  AQE skew-join splits oversized partitions (the reference's top-5%-orgs
  skew, pseudo_code_rules.txt:2-10). For repeated co-located joins, bucket
  both tables on the key at write time (plans/writers.py).
- The as-of join is implemented as union + window (sort-merge within key
  partitions), NOT as a range cross-join — the range join explodes at scale,
  the union-window is one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark import seeds
from saas_analytics_pipeline_spark.functions import money, money_sum
from saas_analytics_pipeline_spark.operators.lake import session_confs
from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.sources import load_table


@query(
    "q_join_fk_users_orgs",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_fk_users_orgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK equi-join child->parent dim (ref: relationships test
    models/schema.yml:30-35). Dim side broadcast: zero shuffle of the child."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            money_sum("c_acctbal", "total_acctbal"),
        )
    )


@query(
    "q_join_star_orders",
    oracle="""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_join_star_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join fact -> 3 dims (ref: relationships models/schema.yml:59-73).

    Scale: customer scales WITH the fact (TPC-H sf x 150k), so it must not
    carry a hard broadcast hint — at the 100 TB target it exceeds Spark's
    8 GB broadcast limit. Instead the fact pre-aggregates to custkey grain
    below the join (map-side combinable; the shuffle carries one partial
    per customer, not one row per order), then shuffle-joins customer on
    its key — AQE may still broadcast at small SF, but nothing forces it.
    nation (25 rows) and region (5 rows) are constant-size dims and keep
    explicit hints. The final agg decomposes over the partials (sum of
    counts, sum of exact decimal sums)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("part_orders"),
        F.sum(money("o_totalprice")).alias("part_rev"),
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("part_orders").alias("n_orders"),
            F.sum("part_rev").cast("double").alias("revenue"),
        )
    )


@query(
    "q_join_payments_orders",
    oracle="""
    WITH per AS (
        SELECT l_orderkey, COUNT(*) AS c,
               SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * (10000 - CAST(round(l_discount * 10000, 0) AS BIGINT)))
                   AS s6
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderstatus,
           CAST(SUM(per.c) AS BIGINT) AS n_lines,
           CAST(SUM(per.s6) AS DOUBLE) / 1000000 AS net_revenue
    FROM per JOIN orders o ON per.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_join_payments_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact 1:N join (ref: payments->orders models/schema.yml:86-90,
    sampled with replacement :131), with the partial-aggregation-below-join
    rewrite Catalyst does not apply on its own: the N side first reduces to
    one row per join key (map-side combinable), so the join shuffle carries
    |orders| rows instead of |lineitems| — a lines-per-order x reduction of
    the big-side shuffle at 100 TB. Safe because the final aggregate (by
    o_orderstatus) decomposes over the per-key partials (sum of sums, sum
    of counts). AQE balances residual partition skew at runtime.

    Money is EXACT INTEGER 1e-6 units: round(x*100)/round(x*10000) are
    exact on 2-dp/4-dp inputs, and the per-order BIGINT partial cannot
    overflow (lines-per-order is bounded ~7, per-line < 1.2e11). The
    final per-status combine sums the per-order partials as DECIMAL(38,0)
    — exact at any order count — and long-typed per-order accumulators
    measure ~1.6x faster than Int128 decimal sums at bench scale."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    d4 = F.round(F.col("l_discount") * 10000, 0).cast("bigint")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("c"), F.sum(pc * (10000 - d4)).alias("s6")
    )
    return (
        per_order.join(
            o.select("o_orderkey", "o_orderstatus"),
            per_order.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.sum("c").alias("n_lines"),
            (
                F.sum(F.col("s6").cast("decimal(38,0)")).cast("double")
                / 1000000
            ).alias("net_revenue"),
        )
    )


@query(
    "q_anti_orphans",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity anti-join: keys with no counterpart (ref:
    relationships test semantics, models/schema.yml:32-35). Here: customers
    who never ordered (the orphan direction that returns rows)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_semi_paid_orders",
    oracle="""
    SELECT o.o_orderstatus, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY o.o_orderstatus
    """,
)
def q_semi_paid_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi-join: orders having >=1 line/payment (ref: payment recon
    needs it, README.md:56). left_semi never duplicates the left side."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "q_fx_join",
    oracle=f"""
    SELECT r.r_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))
                    * CAST(fx.rate AS DECIMAL(8,4))) AS DOUBLE) AS revenue_usd,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN {seeds.oracle_read_csv("fx_rates")} AS fx
      ON r.r_name = fx.r_name
    GROUP BY r.r_name
    """,
)
def q_fx_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Currency normalization against a broadcast seed loaded from the
    checked-in fx_rates.csv (ref: fx_rates.csv seed README.md:23;
    dbt_project.yml:52-57; multi-currency
    data_gen/generate_and_load_script.py:122). The oracle reads the SAME
    file, so editing the seed keeps both sides in lockstep.

    Scale: customer is sf-scaled so it carries NO broadcast hint — the fact
    pre-aggregates to custkey grain (exact decimal partial sums) and
    shuffle-joins customer on its key; nation/region/fx keep hints (25/5/
    |regions| rows, constant). The rate multiply distributes exactly over
    the decimal partial sum (rate is constant within the final r_name
    group), so sum(price_i * rate) == sum_partial * rate bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    fx = seeds.load_seed(spark, "fx_rates").select(
        "r_name", F.col("rate").cast("decimal(8,4)").alias("rate")
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("part_rev"),
        F.count("*").alias("part_orders"),
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(fx), "r_name")
        .groupBy("r_name")
        .agg(
            F.sum(F.col("part_rev") * F.col("rate"))
            .cast("double")
            .alias("revenue_usd"),
            F.sum("part_orders").alias("n_orders"),
        )
    )


@query(
    "q_asof_payment",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind,
               CASE WHEN event_type = 'view' THEN event_id END AS view_id,
               CASE WHEN event_type = 'view' THEN ts END AS view_ts,
               event_type
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    matched AS (
        SELECT *,
               LAST_VALUE(view_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_id,
               LAST_VALUE(view_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_ts
        FROM tagged
    )
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
           asof_view_id, asof_view_ts,
           date_diff('second', asof_view_ts, ts) AS gap_seconds
    FROM matched WHERE event_type = 'purchase'
    """,
)
def q_asof_payment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase matched to the latest view at or
    before it, per user (ref: payment ts within 24h of order ts,
    data_gen/generate_and_load_script.py:142 — same backward-match shape).

    Implemented as union + last_value(ignoreNulls) window — ONE shuffle on
    user_id, no range cross-join — this is the form that survives 100 TB.
    Ties: a view at the same ts sorts before the purchase (kind 0 < 1)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("kind"),
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
        "event_type",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = tagged.withColumn(
        "asof_view_id", F.last("view_id", ignorenulls=True).over(w)
    ).withColumn("asof_view_ts", F.last("view_ts", ignorenulls=True).over(w))
    return matched.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "asof_view_id",
        "asof_view_ts",
        (F.unix_timestamp("ts") - F.unix_timestamp("asof_view_ts")).alias(
            "gap_seconds"
        ),
    )


@query(
    "q_skew_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient join (ref: top-5%-orgs-own-50%-of-orders,
    pseudo_code_rules.txt:2-10; README.md:7). Semantics are a plain equi-join;
    the resilience is physical: AQE skewJoin splits hot partitions at runtime
    (session.py) and operators/skew.py provides explicit salting when AQE
    can't apply (e.g. under bucketed joins)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice", "revenue"),
        )
    )


@query(
    "q_range_join",
    oracle="""
    WITH bands AS (
        SELECT * FROM (VALUES
            ('low',    0.0,  50000.0),
            ('mid',    50000.0, 150000.0),
            ('high',   150000.0, 1000000.0)
        ) AS t(band, lo, hi)
    )
    SELECT b.band, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: orders banded by price interval. With a tiny
    interval table Spark plans BroadcastNestedLoopJoin — each fact row
    tests 3 predicates scan-side, no shuffle. (For a LARGE interval table
    the play is binning both sides to an equi-join key first; a genuine
    theta join of two facts does not survive 100 TB.)"""
    o = load_table(spark, sf_dir, "orders")
    # pure-JVM VALUES relation (a Python-list createDataFrame executes as
    # a pickled-object RDD: Python worker launch per action + a 32-slice
    # local side that multiplies the nested-loop partition count)
    bands = spark.sql(
        """SELECT * FROM (VALUES
             ('low',  CAST(0.0 AS DOUBLE),      CAST(50000.0 AS DOUBLE)),
             ('mid',  CAST(50000.0 AS DOUBLE),  CAST(150000.0 AS DOUBLE)),
             ('high', CAST(150000.0 AS DOUBLE), CAST(1000000.0 AS DOUBLE))
           ) AS t(band, lo, hi)"""
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice", "total"),
        )
    )


@query(
    "q_null_safe_join",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderstatus END AS k,
               COUNT(*) AS n_a
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL
                    ELSE o_orderstatus END AS k,
               COUNT(*) AS n_b
        FROM orders GROUP BY 1
    )
    SELECT a.k, a.n_a, b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other — required when the join key legitimately carries "unknown"
    (dirty staging output) and dropping those rows would silently lose
    data. Still a hash join: null-safe equality remains an equi-key."""
    o = load_table(spark, sf_dir, "orders")
    k = F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(
        F.col("o_orderstatus")
    )
    k2 = F.when(F.col("o_orderkey") % 11 == 0, None).otherwise(
        F.col("o_orderstatus")
    )
    a = o.groupBy(k.alias("k")).agg(F.count("*").alias("n_a"))
    b = o.groupBy(k2.alias("k")).agg(F.count("*").alias("n_b"))
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_a", "n_b"
    )


INTERVAL_BUCKET_S = 7200  # 2-hour lookback == bucket width


@query(
    "q_interval_join_bucketed",
    oracle=f"""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id,
           CAST(COUNT(c.c_ts) AS BIGINT) AS n_clicks_2h
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.c_ts > p.ts - INTERVAL {INTERVAL_BUCKET_S} SECOND
     AND c.c_ts <= p.ts
    GROUP BY p.purchase_id, p.user_id
    """,
)
def q_interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact interval join at scale: clicks within the 2 hours before
    each purchase, by user. A naive time-range join of two FACT tables is
    a nested-loop (the q_range_join BNLJ only works because its interval
    side is tiny); the scalable form coarsens time into buckets the width
    of the lookback, explodes the probe side to its 2 candidate buckets,
    and equi-joins on (user_id, bucket) — hash-partitionable, AQE-
    balanceable — then applies the exact range predicate scan-side.

    Plan contract (tests/test_plans.py): NO BroadcastNestedLoopJoin, no
    CartesianProduct — the join is a plain shuffle equi-join whose key
    cardinality (users x buckets) grows with data, so partitions stay
    bounded at any scale. Probe amplification is exactly 2x."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / INTERVAL_BUCKET_S)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        bucket.alias("b"),
    )
    pb = p.withColumn(
        "bucket", F.explode(F.array(F.col("b"), F.col("b") - 1))
    ).drop("b")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.floor(F.unix_timestamp("ts") / INTERVAL_BUCKET_S).alias("bucket"),
    )
    hits = (
        pb.join(c, ["user_id", "bucket"])
        .where(
            (F.col("c_ts") > F.col("ts") - F.expr(f"interval {INTERVAL_BUCKET_S} second"))
            & (F.col("c_ts") <= F.col("ts"))
        )
        .groupBy("purchase_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        p.join(hits, "purchase_id", "left")
        .select(
            "purchase_id",
            "user_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_clicks_2h"),
        )
    )


@query(
    "q_fx_triangulate",
    oracle=f"""
    WITH fx AS (
        SELECT r_name, CAST(rate AS DECIMAL(8,4)) AS rate
        FROM {seeds.oracle_read_csv("fx_rates")}
    )
    SELECT a.r_name AS from_ccy, b.r_name AS to_ccy,
           round(CAST(a.rate AS DOUBLE) / CAST(b.rate AS DOUBLE), 6)
               AS cross_rate
    FROM fx a CROSS JOIN fx b
    ORDER BY from_ccy, to_ccy
    """,
)
def q_fx_triangulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FX cross-rate triangulation: every (from, to) currency pair derived
    through the seed's common quote currency (rate_from / rate_to) — the
    lookup a multi-currency revenue mart needs when the seed only quotes
    against one base (fx_rates seed, README.md:23).

    Scale: seed x seed — both sides are dim-sized by contract, so this is
    a broadcast nested-loop over |currencies|² rows, constant relative to
    fact volume; downstream marts broadcast-join the result. Rates stay
    exact DECIMAL until the single rounded double division."""
    fx = seeds.load_seed(spark, "fx_rates").select(
        "r_name", F.col("rate").cast("decimal(8,4)").alias("rate")
    )
    a = fx.select(
        F.col("r_name").alias("from_ccy"), F.col("rate").alias("ra")
    )
    b = fx.select(F.col("r_name").alias("to_ccy"), F.col("rate").alias("rb"))
    return (
        a.crossJoin(b)
        .select(
            "from_ccy",
            "to_ccy",
            F.round(
                F.col("ra").cast("double") / F.col("rb").cast("double"), 6
            ).alias("cross_rate"),
        )
        .orderBy("from_ccy", "to_ccy")
    )


# --------------------------------------------------------------------------
# runtime bloom-filter semi-join reduction, keyed (tools/bloom_probe.py's
# mechanism promoted to a hash-verified result-identity certificate)
# --------------------------------------------------------------------------
BLOOM_PRICE_FLOOR = 450_000  # ~10% of orders survive at test sf

_BLOOM_CONFS = {
    # the mechanism the 100 TB defaults enable on their own (see
    # tools/bloom_probe.py's two local-scale caveats): injection is gated
    # on a >= 10 GB application-side scan, and without CBO stats the
    # creation side's estimate busts the 10 MB creation threshold
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    # both fact sides "too big to broadcast" — the SMJ regime where the
    # runtime filter is the only thing keeping dead rows off the shuffle
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_prejoin_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join+rollup: selective orders (price floor) against all
    lineitems, rolled up per return flag. Built WITHOUT touching session
    confs — callers scope _BLOOM_CONFS around planning/execution."""
    li = load_table(spark, sf_dir, "lineitem")
    sel = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > BLOOM_PRICE_FLOOR
    )
    return (
        li.join(sel, li["l_orderkey"] == sel["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_ext_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_bloom_prejoin",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_ext_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > {BLOOM_PRICE_FLOOR}
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction as a KEYED result-identity
    certificate: the selective fact-fact SMJ executes with
    InjectRuntimeFilter active at tools/bloom_probe.py's thresholds — the
    big side's rows pass a might_contain(bloom(o_orderkey)) probe BELOW
    its Exchange, so ~90% die at the scan instead of riding the shuffle
    (measured 1.4-4x wall in the probe) — and the hash-green oracle row
    certifies the filter is semantically transparent: bit-identical
    totals to the plain SQL join. Plan injection is separately guarded in
    tests/test_plans.py.

    Conf scoping: bloom injection happens at physical planning, so the
    relaxed thresholds are set, the plan materialized EAGERLY (the
    |returnflags|-row rollup localCheckpoints — the lake-key eager
    pattern), and every conf restored before returning; later queries in
    the session see unchanged planning behavior (the write_zordered
    lesson, ADVICE r6)."""
    with session_confs(spark, _BLOOM_CONFS):
        return bloom_prejoin_frame(spark, sf_dir).localCheckpoint(eager=True)
