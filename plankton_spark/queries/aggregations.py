"""Aggregation operators (SURVEY.md §2.4).

All reductions over double columns follow the determinism policy in
``plankton_spark.functions`` (exact decimal accumulation). Group-by
aggregation in Spark is automatically partial+final (map-side
combine), so at 100 TB each of these shuffles only one pre-aggregated
row per (partition, group) — the right plan without hints.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from plankton_spark.functions import (
    davg,
    dsum,
    dsum_dec,
    money,
    sql_avg,
    sql_money,
    sql_sum,
    sql_sum_dec,
)
from plankton_spark.io import read_table, table_view
from plankton_spark.operators import profile_table
from plankton_spark.registry import query

SHIP_CUTOFF = "1998-09-02"


# ONE dialect-neutral SQL text: runs verbatim on Spark (temp view
# over the fixture parquet) AND as the DuckDB oracle — the tpch_sql.py
# parity pattern. The DataFrame formulation it replaces (optimization
# round 13) built the same expression tree through ~250 py4j round
# trips (~0.2 s of driver latency per bench invocation); the parsed
# text is one round trip and the physical plan is unchanged (compared
# as `.explain("formatted")` before and after the rewrite).
#
# Decimal widths are the NARROW domain-verified images from
# plankton_spark.functions (optimization round 13, guide §2.3): the
# per-row products stay long-backed ((8,2)*(3,2)*(3,2) → (16,6)
# instead of (12,2)³ → (38,6) BigDecimal) and the plain-sum
# accumulators compact to longs ((6,2)/(8,2) operands → (16,2)/(18,2)
# accumulators). Outputs are bit-identical to the wide form (verified
# cell-by-cell at sf0.001/0.01/0.1; same scale → same HALF_UP cast) —
# the single-task aggregation pass dropped 1.44 s → 0.95 s at sf0.1.
# Domain bounds + the sf100000 overflow ceiling are documented at the
# D2_MONEY constant; ANSI mode makes any violation loud.
_AGG_GROUP_SQL = f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_sum('l_quantity', 'sum_qty', dec='DECIMAL(6,2)')},
      {sql_sum('l_extendedprice', 'sum_base_price', dec='DECIMAL(8,2)')},
      {sql_sum_dec(f"{sql_money('l_extendedprice', 'DECIMAL(8,2)')} * {sql_money('1 - l_discount', 'DECIMAL(3,2)')}", 'sum_disc_price')},
      {sql_sum_dec(f"{sql_money('l_extendedprice', 'DECIMAL(8,2)')} * {sql_money('1 - l_discount', 'DECIMAL(3,2)')} * {sql_money('1 + l_tax', 'DECIMAL(3,2)')}", 'sum_charge')},
      {sql_avg('l_quantity', 'avg_qty', dec='DECIMAL(6,2)')},
      {sql_avg('l_extendedprice', 'avg_price', dec='DECIMAL(8,2)')},
      {sql_avg('l_discount', 'avg_disc', dec='DECIMAL(3,2)')},
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """


@query("q_agg_group", oracle=_AGG_GROUP_SQL)
def q_agg_group(spark, sf_dir):
    """Flagship pricing-summary (TPC-H Q1 shape on the fixture subset).

    Scan → pushed filter → project → hash-aggregate; at scale this is
    one shuffle of ~6 grouped rows per map partition.
    """
    table_view(spark, sf_dir, "lineitem")
    return spark.sql(_AGG_GROUP_SQL)


@query(
    "q_agg_global",
    oracle=f"""
    SELECT
      COUNT(*) AS n_rows,
      {sql_sum('l_quantity', 'sum_qty')},
      {sql_avg('l_extendedprice', 'avg_price')},
      MIN(l_quantity) AS min_qty,
      MAX(l_quantity) AS max_qty,
      COUNT(l_orderkey) AS n_orderkeys
    FROM lineitem
    """,
)
def q_agg_global(spark, sf_dir):
    """Global (no-group) aggregate: SUM/AVG/MIN/MAX/COUNT in one pass."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity"), "sum_qty"),
        davg(F.col("l_extendedprice"), "avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("l_orderkey").alias("n_orderkeys"),
    )


@query(
    "q_agg_countdistinct",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_countdistinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) per group (expand + two-phase agg)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )


@query(
    "q_agg_approxdistinct",
    oracle="""
    SELECT l_returnflag, TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_approxdistinct(spark, sf_dir):
    """approx_count_distinct (HLL++) sanity-gated against the exact
    count: emits whether the estimate is within ±5%. HLL sketches are
    merge-commutative, so the estimate is order-deterministic."""
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    return agg.select(
        "l_returnflag",
        (F.abs(F.col("approx") - F.col("exact")) <= 0.05 * F.col("exact")).alias(
            "within_5pct"
        ),
    )


@query(
    "q_agg_having",
    oracle=f"""
    SELECT c_mktsegment, {sql_sum('o_totalprice', 'revenue')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    HAVING SUM(CAST(o_totalprice AS DECIMAL(18,4))) > 745000000
    """,
)
def q_agg_having(spark, sf_dir):
    """HAVING — post-aggregation filter."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            dsum(F.col("o_totalprice"), "revenue"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("_raw"),
        )
        .where(F.col("_raw") > 745000000)
        .drop("_raw")
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
           COUNT(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark, sf_dir):
    """ROLLUP hierarchy (region → nation → grand total) + grouping_id."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    j = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_cust"),
    )


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           {sql_sum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark, sf_dir):
    """CUBE — all 4 grouping combinations in one pass."""
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )


@query(
    "q_agg_groupingsets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           {sql_sum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_groupingsets(spark, sf_dir):
    """Explicit GROUPING SETS via the SQL entry point (E2)."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               {sql_sum('o_totalprice', 'revenue')}
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_linestatus,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS covar_qty_disc
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_agg_stats(spark, sf_dir):
    """Statistical aggregates (stddev/variance/corr/covar), rounded."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 4) AS med_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark, sf_dir):
    """Exact median / interpolated percentiles per group."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75_price"),
    )


@query(
    "q_agg_firstlast",
    oracle="""
    SELECT o_orderstatus, o_orderkey AS best_orderkey, o_totalprice AS best_price
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus
        ORDER BY o_totalprice DESC, o_orderkey DESC
      ) AS rn FROM orders
    ) WHERE rn = 1
    """,
)
def q_agg_firstlast(spark, sf_dir):
    """max_by with a struct ordering key (tie-broken arg-max)."""
    o = read_table(spark, sf_dir, "orders")
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", key).alias("best_orderkey"),
        F.max("o_totalprice").alias("best_price"),
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT r_name,
           list_aggregate(list_sort(list(n_name)), 'string_agg', ',') AS nations_csv,
           CAST(LENGTH(list_distinct(list(n_regionkey))) AS INTEGER) AS n_distinct_rk
    FROM nation
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_agg_collect(spark, sf_dir):
    """collect_list/collect_set emitted as sorted CSV / cardinality
    (never hash a raw unordered collection)."""
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    j = n.join(r, n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations_csv"),
        F.size(F.collect_set("n_regionkey")).alias("n_distinct_rk"),
    )


@query(
    "q_agg_conditional",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases,
           {sql_sum("CASE WHEN event_type = 'error' THEN value ELSE 0 END", 'error_value')}
    FROM events GROUP BY user_id
    """,
)
def q_agg_conditional(spark, sf_dir):
    """count_if / conditional SUM (CASE WHEN) per group."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        dsum(
            F.when(F.col("event_type") == "error", F.col("value")).otherwise(0.0),
            "error_value",
        ),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_agg_pivot",
    oracle=f"""
    SELECT user_id,
           {', '.join(sql_sum(f"CASE WHEN event_type = '{t}' THEN value ELSE 0 END", t) for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def q_agg_pivot(spark, sf_dir):
    """PIVOT event_type → one summed column per category.

    Written as conditional aggregation (one sum per category) instead
    of ``.pivot()``: the pivot form compiles to TWO aggregates and TWO
    exchanges — partial/final sum keyed (user_id, event_type), then a
    pivotfirst re-aggregation keyed user_id — while the conditional
    form is one partial+final aggregate with a single exchange that
    carries one row per user instead of one per (user, category)
    (optimization round 13; guide §2.3/§2.4). Value-identical: the
    exact decimal sums see the same operands plus exact-zero terms for
    other categories, and the NULL→0 coalesce is preserved for the
    all-NULL-values edge."""
    # Parsed as ONE SQL text (optimization round 13): the conditional-
    # aggregation expression list cost ~150 ms of py4j construction per
    # build; the text is the same expression tree (CASE → decimal cast
    # → SUM → COALESCE → double → ROUND, exactly mirroring the
    # DataFrame form it replaces).
    table_view(spark, sf_dir, "events")
    # DECIMAL(8,4) is the narrow scale-preserving image of
    # events.value (< 10^4, domain note at functions.D4_VALUE): the
    # five sum accumulators compact from (28,4) BigDecimal buffers to
    # (18,4) longs with identical HALF_UP rounding at the same scale.
    sums = ", ".join(
        f"ROUND(CAST(COALESCE(SUM(CAST(CASE WHEN event_type = '{t}' "
        f"THEN value ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(8,4))), 0) "
        f"AS DOUBLE), 4) AS {t}"
        for t in EVENT_TYPES
    )
    return spark.sql(
        f"SELECT user_id, {sums} FROM events GROUP BY user_id"
    )


@query(
    "q_agg_distinct_multi",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct_multi(spark, sf_dir):
    """Multiple DISTINCT aggregates in one pass (expand-based)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q_unpivot",
    oracle=f"""
    SELECT user_id, event_type,
           {sql_sum("CAST(value AS DECIMAL(18,4))", "sum_value")}
    FROM events GROUP BY user_id, event_type
    """,
)
def q_unpivot(spark, sf_dir):
    """UNPIVOT/melt: the pivoted wide frame back to long form —
    round-trip twin of q_agg_pivot. Zero cells (absent combos; values
    are strictly positive so a real sum can't be 0) are dropped to
    match the natural long-form group-by."""
    e = read_table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4))
    )
    return (
        wide.unpivot(
            ids=["user_id"],
            values=EVENT_TYPES,
            variableColumnName="event_type",
            valueColumnName="sum_value",
        )
        .where(F.col("sum_value").isNotNull())
    )


@query(
    "q_agg_hll",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_exact,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_hll(spark, sf_dir):
    """Mergeable HLL sketches (Datasketches): per-(flag,status) partial
    sketches union-merged up to flag level — the two-level shape that
    makes distinct-counting a map-side-combinable agg at 100 TB
    (sketches travel, raw keys don't). Emits exact count + a bool that
    the merged estimate lands within 5%, which is what the oracle can
    check."""
    li = read_table(spark, sf_dir, "lineitem")
    partial = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.countDistinct("l_partkey").alias("nd_part"),
    )
    merged = partial.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_exact")
    )
    return exact.join(merged, "l_returnflag").select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_5pct"),
    )


@query(
    "q_agg_stringagg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_agg_stringagg(spark, sf_dir):
    """LISTAGG ... WITHIN GROUP (ORDER BY) — SQL-standard ordered
    string aggregation (Spark 4), vs DuckDB's string_agg ORDER BY."""
    read_table(spark, sf_dir, "nation").createOrReplaceTempView("pl_nation")
    read_table(spark, sf_dir, "region").createOrReplaceTempView("pl_region")
    return spark.sql(
        """
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               COUNT(*) AS n_nations
        FROM pl_nation JOIN pl_region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )


@query(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice >= 500000 THEN 11
                     WHEN o_totalprice < 0 THEN 0
                     ELSE FLOOR(o_totalprice / 50000) + 1 END AS INTEGER) AS bucket,
           COUNT(*) AS n_orders,
           ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 2) AS min_price,
           ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 2) AS max_price
    FROM orders GROUP BY bucket
    """,
)
def q_agg_histogram(spark, sf_dir):
    """Equal-width histogram via width_bucket (10 buckets over
    [0, 500k)); the oracle spells out the same floor arithmetic
    (DuckDB 1.0 lacks width_bucket). Bucket boundaries are integer
    multiples of 50 000 — exact in double — so both engines agree
    even for values exactly on an edge."""
    o = read_table(spark, sf_dir, "orders")
    b = F.width_bucket(
        "o_totalprice", F.lit(0.0), F.lit(500000.0), F.lit(10)
    ).cast("int")
    return o.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "q_agg_bitwise",
    oracle="""
    SELECT l_returnflag,
           bit_and(l_partkey) AS pk_and,
           bit_or(l_partkey) AS pk_or,
           bit_xor(l_partkey) AS pk_xor,
           bool_and(l_quantity > 0) AS all_pos,
           bool_or(l_discount > 0.09) AS any_big_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_bitwise(spark, sf_dir):
    """Bitwise (bit_and/bit_or/bit_xor) and boolean (bool_and/bool_or)
    aggregates — pure integer/boolean lattice ops, so they are
    map-side-combinable, order-insensitive, and bit-identical on any
    engine by construction."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_partkey").alias("pk_and"),
        F.bit_or("l_partkey").alias("pk_or"),
        F.bit_xor("l_partkey").alias("pk_xor"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_pos"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_disc"),
    )


@query(
    "q_agg_regr",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sx,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sy,
             SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                 * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sxy,
             SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                 * CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sxx,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 100.0, 6) AS intercept,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM s
    """,
)
def q_agg_regr(spark, sf_dir):
    """Linear-regression aggregates (slope/intercept/R² of
    l_extendedprice on l_quantity per return flag) — the regr_* family.

    Determinism policy: NOT regr_slope() on both engines (those
    accumulate doubles in partition order). Instead all five moments
    are EXACT integer sums of 100x-scaled decimals (int64 per-row;
    the SECOND-MOMENT sums accumulate in DECIMAL(38,0) because a
    cent² row is ~1e14 and six million of them overflow int64 — the
    sf1 soak caught exactly that under ANSI mode; DuckDB's BIGINT
    SUM widens to HUGEINT natively — and int128/decimal(38) for the
    n·Sxy − Sx·Sy combination), and only the final division happens
    in double — the cancellation-prone subtraction is exact, so a
    6dp round is bit-stable cross-engine.
    Scale note: moments are plain map-side-combinable sums, so this is
    one partial+final hash agg at 100 TB, same as q_agg_group."""
    li = read_table(spark, sf_dir, "lineitem")
    x = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long")
    y = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = (d(F.col("n")) * d(F.col("sxy")) - d(F.col("sx")) * d(F.col("sy"))).cast(
        "double"
    )
    den_x = (d(F.col("n")) * d(F.col("sxx")) - d(F.col("sx")) * d(F.col("sx"))).cast(
        "double"
    )
    den_y = (d(F.col("n")) * d(F.col("syy")) - d(F.col("sy")) * d(F.col("sy"))).cast(
        "double"
    )
    slope = num / den_x
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / F.lit(100.0)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(num * num / (den_x * den_y), 6).alias("r2"),
    )


@query(
    "q_agg_mode",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT o_orderstatus, o_orderpriority, n,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority
             ) AS rn
      FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_occurrences
    FROM r WHERE rn = 1
    """,
)
def q_agg_mode(spark, sf_dir):
    """MODE per group with a PINNED tie-break (highest count, then
    lexicographically smallest value) — engines' built-in mode() leaves
    ties unspecified, so the deterministic form is count + window
    top-1. The rank-filter collapses to WindowGroupLimit over the tiny
    (status, priority) count table, so at 100 TB the heavy lifting is
    one hash agg; the window touches only |groups| rows."""
    o = read_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_occurrences"),
        )
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_PROFILE_EXACT_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col,
           COUNT(*) AS n_rows,
           CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           ROUND(CAST(CAST(MIN({c}) AS DECIMAL(18,4)) AS DOUBLE), 4)
             AS min_v,
           ROUND(CAST(CAST(MAX({c}) AS DECIMAL(18,4)) AS DOUBLE), 4)
             AS max_v
    FROM lineitem
    """
    for c in _PROFILE_COLS
)

_PROFILE_APPROX_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col,
           COUNT(*) AS n_rows,
           CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
           TRUE AS nd_within_5pct,
           ROUND(CAST(CAST(MIN({c}) AS DECIMAL(18,4)) AS DOUBLE), 4)
             AS min_v,
           ROUND(CAST(CAST(MAX({c}) AS DECIMAL(18,4)) AS DOUBLE), 4)
             AS max_v
    FROM lineitem
    """
    for c in _PROFILE_COLS
)


@query("q_profile_table", oracle=_PROFILE_APPROX_ORACLE)
def q_profile_table(spark, sf_dir):
    """Column profiling (the ANALYZE TABLE / data-quality-report
    surface), DEFAULT = scale-sane: per numeric column, row count,
    non-null count, HLL++ distinct estimate, decimal-exact min/max —
    one scan, every aggregate partial-combinable, NO EXPAND
    (operators/profiling.py; tests/test_plans.py pins the plan).

    Exact multi-column COUNT(DISTINCT) EXPANDs scanned rows by
    #profiled columns (measured 4.9x at sf10) — the wrong default for
    an ANALYZE surface at 100 TB, so exact is the q_profile_table_exact
    opt-in. Oracle contract follows the q_agg_approxdistinct pattern:
    the estimate is sanity-gated within ±5% of the exact count (the
    exact side here is the verification harness, computed in a
    separate pass so the default profile plan stays EXPAND-free)."""
    li = read_table(spark, sf_dir, "lineitem")
    # rsd is a STANDARD DEVIATION, not a bound — a ±5% hard gate needs
    # the sketch's sigma well inside it (rsd=0.01 ~ a 26 KB sketch per
    # column, still corpus-size-independent; estimates are
    # deterministic given the data — HLL has no randomness).
    prof = profile_table(li, _PROFILE_COLS, rsd=0.01)  # no EXPAND
    exact = profile_table(li, _PROFILE_COLS, exact=True).select(
        "col", F.col("n_distinct").alias("nd_exact")
    )
    return prof.join(exact, "col").select(
        "col",
        "n_rows",
        "n_nonnull",
        (
            F.abs(F.col("n_distinct") - F.col("nd_exact"))
            <= 0.05 * F.col("nd_exact")
        ).alias("nd_within_5pct"),
        "min_v",
        "max_v",
    )


@query("q_profile_table_exact", oracle=_PROFILE_EXACT_ORACLE)
def q_profile_table_exact(spark, sf_dir):
    """Column profiling, exact opt-in (profile_table(exact=True)):
    COUNT(DISTINCT) per column via Spark's EXPAND + two-phase agg —
    exact values, row multiplication by #columns; reserve for bounded
    tables. Same single-scan wide-agg + stack() pivot otherwise."""
    li = read_table(spark, sf_dir, "lineitem")
    return profile_table(li, _PROFILE_COLS, exact=True)


@query(
    "q_agg_approxquantile",
    oracle="""
    SELECT l_returnflag, TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_approxquantile(spark, sf_dir):
    """approx_percentile (Greenwald-Khanna) sanity-gated by RANK
    tolerance, the q_agg_approxdistinct pattern adapted to quantiles:
    value-relative tolerances break on discrete data (adjacent
    quantity steps are ~4% apart near the median), so the check is
    the sketch's OWN contract — the estimate must lie between the
    exact quantiles at p±0.01 (GK guarantees rank error ≤ 1/accuracy;
    accuracy=10000 ⇒ 0.0001 ≪ 0.01). Sketches merge per-partition —
    at 100 TB this is one combine-tree pass instead of a global
    sort."""
    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "cents", F.round(F.col("l_quantity") * 100).cast("long")
    )
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("cents", 0.5, 10000).alias("a50"),
        F.percentile_approx("cents", 0.9, 10000).alias("a90"),
        F.expr("percentile(cents, 0.49)").alias("lo50"),
        F.expr("percentile(cents, 0.51)").alias("hi50"),
        F.expr("percentile(cents, 0.89)").alias("lo90"),
        F.expr("percentile(cents, 0.91)").alias("hi90"),
    )
    return agg.select(
        "l_returnflag",
        ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias(
            "p50_rank_ok"
        ),
        ((F.col("a90") >= F.col("lo90")) & (F.col("a90") <= F.col("hi90"))).alias(
            "p90_rank_ok"
        ),
    )
