"""Family C — joins (SURVEY.md §2.2.C).

Grounding: broadcast fan-out to all peers (reference
neurons/validator.py:120-127 ≈ broadcast-hash join / TorrentBroadcast),
chunk gather by origin key (reference README.md:20 ≈ shuffle join),
N×B bipartite topology (reference README.md:18 ≈ cross join), allow/
deny-list membership (reference neurons/miner.py:113,116 ≈ semi/anti),
"latest state at-or-before" resync (reference neurons/validator.py:168
≈ as-of join).

Scale posture: dims are explicitly ``F.broadcast``-hinted (no shuffle
of the fact side); fact-fact joins shuffle on the join key and AQE
handles skew; the as-of join uses the union+window formulation — one
shuffle on (key), no candidate-pair blowup — which is the formulation
that survives 100 TB (a range self-join would not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_subnet_spark.functions.stable import (
    dsum,
    dsum_wide,
    sql_dsum,
    sql_dsum_wide,
)
from map_reduce_subnet_spark.operators.registry import query
from map_reduce_subnet_spark.plans.inspect import count_exchanges
from map_reduce_subnet_spark.sources.tables import load_table


@query(
    "join_broadcast",
    oracle=f"""
SELECT r_name, n_name,
       {sql_dsum_wide('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dims: the fan-out-to-all-peers topology. The
    three dim tables ship to every task; lineitem never shuffles.
    The revenue summand (an identical per-row double product on both
    engines) feeds the wide-domain sum (dsum_wide, r14 — clears the
    r13 EXTREME_DRIFT pin at raw ~1e20)."""
    li = load_table(spark, sf_dir, "lineitem")
    su = F.broadcast(load_table(spark, sf_dir, "supplier"))
    na = F.broadcast(load_table(spark, sf_dir, "nation"))
    re = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(na, su.s_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum_wide(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "join_shuffle_equi",
    oracle="""
SELECT l_orderkey, l_linenumber, o_orderstatus, o_totalprice
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
""",
)
def join_shuffle_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join: both sides shuffle on the key (sort-merge;
    AQE may convert to shuffled-hash / broadcast when a side is small)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_orderstatus", "o_totalprice"
    )


@query(
    "join_multiway_star",
    oracle=f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star (the N×B topology as a join DAG): dims broadcast,
    facts shuffle once on orderkey."""
    re = F.broadcast(load_table(spark, sf_dir, "region"))
    na = F.broadcast(load_table(spark, sf_dir, "nation"))
    cu = F.broadcast(load_table(spark, sf_dir, "customer"))
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        re.join(na, na.n_regionkey == re.r_regionkey)
        .join(cu, cu.c_nationkey == na.n_nationkey)
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("o_custkey") == cu.c_custkey,
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "join_left_outer",
    oracle="""
SELECT c_custkey,
       COUNT(o_orderkey) AS n_orders,
       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 0.0)
           AS total_spent
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping orderless customers (peers that never
    responded still get a row — scored 0, validator.py:134-141)."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        cu.join(o, o.o_custkey == cu.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: membership without duplication (allow-list)."""
    cu = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return cu.join(big, big.o_custkey == cu.c_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: the blacklist reject side."""
    cu = load_table(spark, sf_dir, "customer")
    f_orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    return cu.join(f_orders, f_orders.o_custkey == cu.c_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_theta_range",
    oracle="""
SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
""",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join (pairs of events within an hour, per user).
    The equi component (user_id) keys the shuffle; the range predicate
    filters within each co-partition — no cross-join blowup."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("a.event_id").alias("a_id"),
        F.col("b.event_id").alias("b_id"),
        F.col("a.user_id").alias("user_id"),
    )


@query(
    "join_asof",
    oracle="""
SELECT p.event_id,
       p.user_id,
       (SELECT c.event_id
        FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts <= p.ts
        ORDER BY c.ts DESC, c.event_id DESC
        LIMIT 1) AS last_click_id
FROM events p
WHERE p.event_type = 'purchase'
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase → latest click at-or-before it, per
    user ("latest state" resync semantics, validator.py:168).

    Scalable formulation: union both sides with a marker, one window
    pass per user ordered by ts carrying the last click forward
    (``last(..., ignorenulls)``) — a single shuffle on user_id and
    O(n log n) per partition, vs the O(n·m) range-join alternative.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("p_event_id"),
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("side"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_event_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("side"),
    )
    unioned = clicks.unionByName(purchases)
    # Click sorts before purchase at equal ts (side asc) so "<=" holds;
    # among equal-ts clicks, the highest click_id wins (matches the
    # oracle's ORDER BY ts DESC, event_id DESC).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "click_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn(
            "last_click_id", F.last("click_id", ignorenulls=True).over(w)
        )
        .where(F.col("side") == 1)
        .select(
            F.col("p_event_id").alias("event_id"), "user_id", "last_click_id"
        )
    )


@query(
    "join_cross_bipartite",
    oracle="""
SELECT s_suppkey, r_regionkey, s_name, r_name
FROM supplier CROSS JOIN region
""",
)
def join_cross_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N×B bipartite edge grid (README.md:18) as an explicit cross
    join — only ever used dim×dim; never fact×fact."""
    su = load_table(spark, sf_dir, "supplier")
    re = F.broadcast(load_table(spark, sf_dir, "region"))
    return su.crossJoin(re).select("s_suppkey", "r_regionkey", "s_name", "r_name")


@query(
    "join_bucketed",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_items, {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on co-located bucketed layout — the repeated-join
    answer at 100 TB (SURVEY §4.2) made driver-visible: both tables are
    written bucketed on the join key (8 buckets, sorted), so the join
    reads matching buckets side by side and needs ZERO shuffle
    exchanges; the result must hash-match the plain SQL join.

    The query self-lints: broadcast is disabled (a broadcast join
    would hide the bucketing) and it RAISES if the join plan contains
    any Exchange — the exact regression a layout change would cause.

    At deployment the bucketed tables are written ONCE and reused
    across every orderkey join — and the scratch layout here behaves
    the same way: it lives in a directory keyed like every fixture
    artifact (functions/cache.py: fixture + code), so repeated
    invocations (bench runs, driver sweeps) skip the rewrite. A fresh
    session that finds the files but not the catalog entries
    re-registers them as EXTERNAL bucketed tables (CREATE TABLE ...
    CLUSTERED BY ... LOCATION) without rewriting — bucket ids ride the
    file names, so the layout survives the session that wrote it. The
    tables carry a LOCATION, so they are written in place rather than
    published by rename.
    """
    import os

    from map_reduce_subnet_spark.functions.cache import (
        artifact_path,
        fixture_key,
    )
    from map_reduce_subnet_spark.plans import count_exchanges
    from map_reduce_subnet_spark.sources.layout import write_bucketed

    key = fixture_key(sf_dir)
    base = artifact_path(sf_dir, "bucketed_cache")
    tables = {
        "orders": (f"mrs_bc_orders_{key}", "o_orderkey"),
        "lineitem": (f"mrs_bc_lineitem_{key}", "l_orderkey"),
    }
    for name, (tbl, bucket_col) in tables.items():
        if spark.catalog.tableExists(tbl):
            continue
        path = os.path.join(base, name)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # files from a previous session: register, don't rewrite
            ddl = load_table(spark, sf_dir, name).schema.toDDL()
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) "
                f"INTO 8 BUCKETS LOCATION '{path}'"
            )
        else:
            write_bucketed(
                load_table(spark, sf_dir, name),
                tbl, bucket_col, 8, bucket_col, path=path,
            )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table(tables["orders"][0])
        bl = spark.table(tables["lineitem"][0])
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        n_ex = count_exchanges(joined.select("l_orderkey", "o_orderstatus"))
        if n_ex != 0:
            raise RuntimeError(
                f"join_bucketed: {n_ex} shuffle exchange(s) in a bucketed "
                "join on the bucket key — co-location was not used"
            )
        agg = joined.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_items"), dsum("l_extendedprice", "sum_price")
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return spark.createDataFrame(rows, schema)


@query(
    "join_asof_binned",
    oracle="""
SELECT p.event_id,
       p.user_id,
       (SELECT c.event_id
        FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts <= p.ts
        ORDER BY c.ts DESC, c.event_id DESC
        LIMIT 1) AS last_click_id
FROM events p
WHERE p.event_type = 'purchase'
""",
)
def join_asof_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, time-binned formulation — the scale alternative to
    join_asof's single per-user window (same oracle, hash-identical
    result). join_asof partitions by user alone, so one hot user's
    whole history lands in one window partition; here the window
    partitions by (user, day) — bounded by a day's traffic regardless
    of how hot the user is — and a per-user prefix over the tiny
    per-day aggregates carries the latest click across day boundaries:

      1. union clicks+purchases with day = date_trunc(ts), run the
         last-click-so-far window WITHIN (user, day) partitions;
      2. per (user, day): max struct(ts, click_id) of that day's
         clicks (partial-aggregated, day-granular = tiny), then an
         exclusive per-user running max over days (window over the
         aggregate rows only — the same two-level parallel-prefix
         shape as stream_watermark_late);
      3. each purchase's answer = its in-day running value, falling
         back to the previous days' carry.

    Struct max orders lexicographically (ts, then click_id), matching
    the oracle's ORDER BY ts DESC, event_id DESC tie-break exactly."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        day.alias("day"),
        F.lit(None).cast("long").alias("p_event_id"),
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("side"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        day.alias("day"),
        F.col("event_id").alias("p_event_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("side"),
    )
    unioned = clicks.unionByName(purchases)
    w_in_day = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "side", "click_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    in_day = unioned.withColumn(
        "day_click_id", F.last("click_id", ignorenulls=True).over(w_in_day)
    )
    # per-(user, day) last click, then the exclusive per-user carry
    w_days = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the prefix runs over a (user, day) spine covering BOTH sides:
    # a purchase on a click-less day still needs that day's carry row
    # (max over the window skips the null click-less days)
    day_spine = unioned.select("user_id", "day").distinct()
    day_clicks = clicks.groupBy("user_id", "day").agg(
        F.max(F.struct("ts", "click_id")).alias("last")
    )
    carry = (
        day_spine.join(day_clicks, ["user_id", "day"], "left")
        .withColumn("prev_last", F.max("last").over(w_days))
        .select("user_id", "day", F.col("prev_last.click_id").alias("carry_click_id"))
    )
    return (
        in_day.where(F.col("side") == 1)
        .join(carry, ["user_id", "day"], "left")
        .select(
            F.col("p_event_id").alias("event_id"),
            "user_id",
            F.coalesce("day_click_id", "carry_click_id").alias("last_click_id"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
SELECT c.user_id AS click_user, v.user_id AS view_user,
       c.n_clicks, v.n_views
FROM (SELECT user_id, COUNT(*) AS n_clicks FROM events
      WHERE event_type = 'click' GROUP BY user_id) c
FULL OUTER JOIN
     (SELECT user_id, COUNT(*) AS n_views FROM events
      WHERE event_type = 'view' GROUP BY user_id) v
  ON c.user_id = v.user_id
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — reconciling two feeds where either side may
    be missing (users who click but never view, view but never click,
    or both). Rows survive from BOTH sides with NULLs opposite the
    absent one; the pre-aggregation keeps the join sides key-unique so
    the reconciliation is row-per-user. Shuffles both sides on the
    key; a full outer join can never broadcast (either side's
    non-matches must survive)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"))
        .select(F.col("user_id").alias("click_user"), "n_clicks")
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_views"))
        .select(F.col("user_id").alias("view_user"), "n_views")
    )
    return clicks.join(
        views, clicks.click_user == views.view_user, "full_outer"
    ).select("click_user", "view_user", "n_clicks", "n_views")


@query(
    "join_skew_aqe",
    oracle="""
SELECT l_orderkey, l_linenumber, k, s_name
FROM (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity <= 45 THEN 1 ELSE l_suppkey END AS k
    FROM lineitem
    WHERE l_orderkey % 16 = 0
) l
JOIN supplier s ON l.k = s.s_suppkey
""",
)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join: the runtime complement to the MANUAL salting in
    agg_salted_hotkey. ~90% of lineitems collapse onto supplier key 1
    (the same hot-key shape as the reference's dominant-peer traffic,
    README.md:18), so a static sort-merge join puts ~90% of the fact
    table in one task. Instead of hand-salting, Spark's adaptive
    execution splits the oversized partition at runtime
    (spark.sql.adaptive.skewJoin) and replicates the matching right
    side — the declarative scale answer when the skew isn't known at
    write time.

    The query runs in an ISOLATED spark.newSession() so the
    skew-trigger thresholds (lowered to fire at test scale — the
    defaults are tuned for 256 MB partitions) and the disabled
    broadcast threshold (needed to keep the tiny fixture supplier on
    the sort-merge path) cannot leak into other queries sharing the
    driver session. The fact side is round-robin repartitioned
    first: AQE splits a skewed reduce partition along MAP-output
    boundaries, and the single-row-group fixture files scan as ONE
    map task, which makes the hot partition unsplittable — the
    repartition restores the multi-mapper layout every real
    multi-file 100 TB scan has (where it should simply be dropped).
    The plan lint (tests/test_plans.py) executes the join at sf0.01
    and asserts the final adaptive plan really split the hot
    partition (skew=true on the SMJ node)."""
    s2 = spark.newSession()
    for key, val in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        # skew split must not be vetoed because splitting adds a
        # shuffle elsewhere
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }.items():
        s2.conf.set(key, val)
    li = (
        load_table(s2, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 16 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_quantity") <= 45, F.lit(1).cast("long"))
            .otherwise(F.col("l_suppkey"))
            .alias("k"),
        )
        .repartition(16)
    )
    su = load_table(s2, sf_dir, "supplier").select("s_suppkey", "s_name")
    return li.join(su, li.k == su.s_suppkey).select(
        "l_orderkey", "l_linenumber", "k", "s_name"
    )


@query(
    "join_interval_overlap",
    oracle="""
SELECT a.event_id AS err_id,
       b.event_id AS buy_id,
       LEAST(epoch_us(a.ts) + 120000000, epoch_us(b.ts) + 120000000)
         - GREATEST(epoch_us(a.ts), epoch_us(b.ts) - 120000000)
         AS overlap_us
FROM events a
JOIN events b
  ON a.event_type = 'error'
 AND b.event_type = 'purchase'
 AND epoch_us(a.ts) <= epoch_us(b.ts) + 120000000
 AND epoch_us(b.ts) - 120000000 <= epoch_us(a.ts) + 120000000
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with NO equi key, made shuffle-joinable by
    time-binning: error windows [ts, ts+2m] x purchase windows
    [ts-2m, ts+2m], pairs whose closed intervals overlap (the staleness
    overlap test of reference neurons/validator.py:166-170 generalized
    to interval x interval).

    The naive form is a cross join with a theta predicate — quadratic
    at 100 TB. The scale plan: explode each interval into the 5-minute
    buckets it covers (an interval of length <= 4m spans <= 2 buckets,
    so the explode is a bounded x2, not a blow-up), equi-join on the
    bucket, and keep a pair only in the ONE bucket containing
    GREATEST(start_a, start_b) — that instant lies inside any overlap,
    so each overlapping pair survives exactly once and needs no
    distinct. All arithmetic on BIGINT epoch micros (exact for all
    longs). Spark plans a plain hash shuffle on the bucket key; bucket
    width tunes fan-out vs bucket occupancy like the LSH band caps."""
    from map_reduce_subnet_spark.functions.intervals import overlap_join

    us = 1_000_000
    ev = load_table(spark, sf_dir, "events")

    def side(etype: str, lo_off: int, hi_off: int, idc: str):
        return ev.where(F.col("event_type") == etype).select(
            F.col("event_id").alias(idc),
            (F.unix_micros(F.col("ts")) + lo_off).alias(f"{idc}_s"),
            (F.unix_micros(F.col("ts")) + hi_off).alias(f"{idc}_e"),
        )

    a = side("error", 0, 120 * us, "err_id")
    b = side("purchase", -120 * us, 120 * us, "buy_id")
    return overlap_join(
        a,
        b,
        width=300 * us,
        a_cols=("err_id", "err_id_s", "err_id_e"),
        b_cols=("buy_id", "buy_id_s", "buy_id_e"),
    ).withColumnRenamed("overlap", "overlap_us")


@query(
    "join_bloom_runtime",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
""",
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER pushdown (Spark's row-level runtime
    filter): the selective dimension-side predicate
    (o_orderpriority = '1-URGENT') is turned into a bloom filter at
    runtime and injected into the FACT scan as might_contain — most
    non-qualifying lineitems die at the scan instead of riding the
    shuffle to the join. At 100 TB this is the difference between
    shuffling the full fact table and shuffling the ~20% that can
    match: the declarative cousin of manually semi-joining first
    (and the row-level complement of partition-level DPP,
    join_partition_prune_dynamic).

    Runs in an ISOLATED spark.newSession() (join_skew_aqe
    discipline): the injection thresholds are tuned for real table
    sizes (10 GB application-side scans), so firing at fixture scale
    needs them floored — and broadcast disabled to keep the join on
    the shuffle path the filter exists for. The plan self-lints that
    might_contain really reached the lineitem side."""
    s2 = spark.newSession()
    for key, val in {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # fixture-scale trigger: the default thresholds are sized for
        # multi-GB scans
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "32",
    }.items():
        s2.conf.set(key, val)
    li = load_table(s2, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = load_table(s2, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice", "sum_price"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "might_contain" not in plan:
        raise RuntimeError(
            "join_bloom_runtime: no might_contain in the executed plan "
            "— the runtime bloom filter was not injected into the fact "
            "scan"
        )
    return out


@query(
    "join_asof_nearest",
    oracle="""
SELECT p.event_id, p.user_id, c.event_id AS nearest_click_id,
       CAST(epoch_us(c.ts) - epoch_us(p.ts) AS BIGINT) AS delta_us
FROM events p
LEFT JOIN LATERAL (
    SELECT c.event_id, c.ts
    FROM events c
    WHERE c.event_type = 'click' AND c.user_id = p.user_id
    ORDER BY ABS(epoch_us(c.ts) - epoch_us(p.ts)),
             (c.ts > p.ts),
             CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END
    LIMIT 1
) c ON TRUE
WHERE p.event_type = 'purchase'
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-in-time as-of join: each purchase → the click whose
    timestamp is closest in EITHER direction, per user — the
    sensor-alignment variant of the backward as-of (join_asof), used
    when the matching observation may legitimately land just after
    the probe. Deterministic tie rules: exact-distance ties prefer
    the BEFORE side; same-timestamp ties pick the highest click id
    backward (the join_asof convention) and the lowest forward.

    Scalable formulation: union both sides with a marker and run TWO
    frame passes over the SAME (user_id, ts, side, click_id) sort —
    a backward carry (last click at-or-before, unbounded-preceding
    frame) and a forward carry (first click after, unbounded-
    following frame). Catalyst plans ONE Exchange+Sort feeding both
    Window operators, so the nearest join costs exactly what the
    one-sided as-of costs: a single user_id shuffle and O(n log n)
    per partition — never the O(n·m) range join. The final pick is a
    per-row comparison of the two carried deltas."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("p_event_id"),
        F.col("event_id").alias("click_id"),
        F.unix_micros(F.col("ts")).alias("click_us"),
        F.lit(0).alias("side"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_event_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("long").alias("click_us"),
        F.lit(1).alias("side"),
    )
    unioned = clicks.unionByName(purchases)
    order = ["ts", "side", "click_id"]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    picked = (
        unioned.withColumn(
            "b_id", F.last("click_id", ignorenulls=True).over(wb)
        )
        .withColumn("b_us", F.last("click_us", ignorenulls=True).over(wb))
        .withColumn("f_id", F.first("click_id", ignorenulls=True).over(wf))
        .withColumn("f_us", F.first("click_us", ignorenulls=True).over(wf))
        .where(F.col("side") == 1)
    )
    p_us = F.unix_micros(F.col("ts"))
    b_delta = p_us - F.col("b_us")  # >= 0
    f_delta = F.col("f_us") - p_us  # > 0
    take_b = F.col("b_id").isNotNull() & (
        F.col("f_id").isNull() | (b_delta <= f_delta)
    )
    out = picked.select(
        F.col("p_event_id").alias("event_id"),
        "user_id",
        F.when(take_b, F.col("b_id"))
        .otherwise(F.col("f_id"))
        .alias("nearest_click_id"),
        F.when(take_b, F.col("b_us") - p_us)
        .otherwise(f_delta)
        .cast("long")
        .alias("delta_us"),
    )
    # Catalyst fuses all four carries into ONE Window operator over a
    # single Exchange+Sort (same partitioning AND ordering) — pin it.
    n_ex = count_exchanges(out)
    if n_ex != 1:
        raise RuntimeError(
            f"join_asof_nearest: expected 1 exchange (shared user_id "
            f"window shuffle), plan has {n_ex} — the backward/forward "
            "frames stopped sharing the sort"
        )
    return out


PIT_ORACLE = """
WITH hist AS (
    SELECT user_id, event_id AS state_event_id, value AS state_value,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           LEAD(CAST(epoch_us(ts) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS valid_to_us
    FROM events WHERE event_type <> 'purchase'
), probes AS (
    SELECT user_id, event_id AS probe_event_id,
           CAST(epoch_us(ts) AS BIGINT) AS probe_ts_us
    FROM events WHERE event_type = 'purchase'
)
SELECT p.probe_event_id, p.user_id, p.probe_ts_us,
       h.state_event_id, h.state_value,
       h.state_event_id IS NOT NULL AS has_state
FROM probes p
LEFT JOIN hist h
  ON h.user_id = p.user_id
 AND h.valid_from_us <= p.probe_ts_us
 AND (h.valid_to_us IS NULL OR p.probe_ts_us < h.valid_to_us)
"""


@query("join_point_in_time", oracle=PIT_ORACLE)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME JOIN against SCD2 history — the feature-store
    correctness primitive ("what was this user's state when the
    purchase happened?") that prevents feature leakage from the
    future: every purchase event is joined to the ONE non-purchase
    state row whose [valid_from, valid_to) interval covers the
    purchase timestamp, NULL state (kept, flagged) when the purchase
    predates any state. The interval build is merge_scd2_history's
    single-LEAD window; the dual of join_asof (as-of picks the
    nearest past row from a sorted stream each probe, PIT picks the
    covering interval from a versioned dimension — same semantics
    when intervals tile time, but SCD2 history also survives
    deletes/corrections because intervals are explicit).

    Zero-width intervals (two state changes sharing a timestamp)
    disambiguate themselves: [t, t) covers nothing, so the later
    change wins — each probe matches AT MOST one row by
    construction, no post-join dedup needed.

    Scale shape: both sides shuffle ONCE on user_id; the interval
    predicate rides the equi-join as a residual filter (per-user
    history is the small side locally — no range-join blowup, no
    broadcast needed, and AQE handles skewed users). At 100 TB this
    is the plan you want: the alternative binned-range join
    (join_asof_binned) only pays off when a single key's history
    outgrows a partition."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "state_event_id")
    hist = (
        ev.where(F.col("event_type") != "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("state_event_id"),
            F.col("value").alias("state_value"),
            F.unix_micros(F.col("ts")).alias("valid_from_us"),
            "ts",
        )
        .withColumn(
            "valid_to_us", F.lead("valid_from_us").over(w)
        )
        .drop("ts")
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("probe_event_id"),
        F.unix_micros(F.col("ts")).alias("probe_ts_us"),
    )
    joined = probes.join(
        hist,
        (probes["user_id"] == hist["user_id"])
        & (F.col("valid_from_us") <= F.col("probe_ts_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("probe_ts_us") < F.col("valid_to_us"))
        ),
        "left",
    )
    return joined.select(
        "probe_event_id",
        probes["user_id"].alias("user_id"),
        "probe_ts_us",
        "state_event_id",
        "state_value",
        F.col("state_event_id").isNotNull().alias("has_state"),
    )
