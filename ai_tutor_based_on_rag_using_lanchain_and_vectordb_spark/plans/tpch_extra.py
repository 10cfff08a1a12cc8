"""Advanced TPC-H-shaped queries: nation-pair self-joined dims, share-of-
total, correlated-average predicates, HAVING-subquery join-backs, and
scalar-subquery thresholds (SURVEY.md §2.3-2.6 stretch coverage — join
shapes the reference's SQLite queries only imply).

The driver's star schema has no partsupp table, so Q9/Q16/Q20 shapes are
adapted to use lineitem as the part↔supplier link.

Scale notes (100 TB design point):

- Forced ``F.broadcast`` hints are reserved for FIXED-cardinality
  inputs: nation (25 rows), region (5 rows), and 1-row scalar
  aggregates. sf-scaled tables (part, supplier, per-part averages,
  filtered supplier lists) carry NO forced hint — a forced broadcast
  bypasses Spark's size threshold and would OOM the driver when part is
  multi-GB at the 100 TB point. Catalyst's static size estimate picks
  broadcast when they're genuinely small, and AQE's runtime join
  re-selection (adaptive.enabled in session.py) upgrades shuffle joins
  to broadcast from actual post-filter sizes; tests/test_plan_shape.py
  asserts no forced hint reappears on a scaled table.
- Scalar thresholds (total value, average balance, max revenue) are
  1-row aggregates broadcast-cross-joined into the plan, never collected
  to the driver; each query stays a single Catalyst plan.
- The Q17 correlated average is rewritten as an aggregate-then-join:
  the per-part averages (|part| rows) join the fact scan instead of a
  per-row correlated subquery; AQE picks the physical strategy.
- Q18's HAVING-subquery is an aggregate on the already-shuffled
  l_orderkey grouping, then a semi-join back — one shuffle, reused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact as X


def _year(col: str) -> F.Column:
    return F.year(col).alias("l_year")


def volume_shipping_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — revenue shipped between two nations, by direction
    and year. The nation dim joins twice under different roles (supplier
    nation / customer nation); both are broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rev_pair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(pair | rev_pair)
        .groupBy("supp_nation", "cust_nation", _year("l_shipdate"))
        .agg(X.pround(F.sum(X.disc_price()).cast("double")).alias("revenue"))
    )


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — NATION_8's share of supplier revenue into ASIA-
    region customers, per order year: conditional-sum / total-sum."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = X.disc_price()
    national = F.when(F.col("supp_nation") == "NATION_8", vol).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            X.pround(
                F.sum(national).cast("double") / F.sum(vol).cast("double"), 4
            ).alias("mkt_share")
        )
    )


def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp, amount = disc_price) —
    widget-part revenue by supplier nation and ship year. The part filter
    (LIKE) prunes before the join; nation is force-broadcast (fixed 25
    rows), part/supplier join strategy is left to Catalyst stats + AQE
    (sf-scaled — see module scale notes)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), _year("l_shipdate"))
        .agg(X.pround(F.sum(X.disc_price()).cast("double")).alias("sum_profit"))
    )


def important_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose lineitem value exceeds 0.08% of
    total value. The global total is a 1-row broadcast, not a driver
    collect."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        X.dec_sum_raw(X.disc_price().cast("double")).alias("part_value_dec")
    )
    total = F.broadcast(
        li.agg(X.dec_sum_raw(X.disc_price().cast("double")).alias("total_dec"))
    )
    return (
        per_part.crossJoin(total)
        .where(
            F.col("part_value_dec")
            > F.col("total_dec") * F.lit(0.0008).cast("decimal(6,4)")
        )
        .select(
            "l_partkey",
            X.pround(F.col("part_value_dec").cast("double")).alias("part_value"),
        )
    )


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — supplier(s) with the maximum 1996 revenue.
    Ties kept (exact decimal compare, no float ambiguity); the max is a
    1-row broadcast scalar."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        X.dec_sum_raw(X.disc_price().cast("double")).alias("rev_dec")
    )
    mx = F.broadcast(rev.agg(F.max("rev_dec").alias("max_dec")))
    return (
        rev.crossJoin(mx)
        .where(F.col("rev_dec") == F.col("max_dec"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            X.pround(F.col("rev_dec").cast("double")).alias("total_revenue"),
        )
    )


def brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: lineitem as the part↔supplier link) —
    distinct-supplier counts per brand/type/size, excluding one brand and
    low-balance suppliers (the NOT IN anti-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#1")
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 1000
    ).select("s_suppkey")
    # THREE-level distinct: (partkey, suppkey) link pairs are deduped
    # straight off the lineitem scan — each pair recurs ~|lineitem| /
    # |partsupp| times, so the map-side partial agg collapses the fact
    # table to partsupp cardinality BEFORE the part join and the
    # anti-join ever run. The join then shuffles ~7× fewer rows than
    # joining raw lineitem, the anti-join probes once per pair instead
    # of once per line, and the (brand,type,size,suppkey) distinct that
    # follows starts from pair cardinality. countDistinct's single-pass
    # plan (per-group distinct sets in the agg buffers) grew
    # superlinearly on stress data; this staged collapse is the shape
    # that held sub-5× growth at 10× data.
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
        .groupBy("p_brand", "p_type", "p_size")
        # count(col), not count(*): a NULL suppkey surviving distinct()
        # must not count — countDistinct ignores NULLs, and so does the
        # oracle's count(DISTINCT l_suppkey)
        .agg(F.count("l_suppkey").alias("supplier_cnt"))
    )


def small_qty_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — revenue from Brand#13 lineitems whose quantity is
    below half the part's average quantity. The correlated subquery is
    rewritten as aggregate-then-join (per-part averages are |part| rows —
    small next to the fact table but sf-scaled, so no forced broadcast;
    AQE upgrades to broadcast when the runtime size allows)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13")
    # Exact-numerator average: decimal sum / count, divided in double —
    # bit-identical to the oracle's formulation.
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast(X.DEC)).cast("double")
            / F.count("l_quantity")
        ).alias("avg_q")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.lit(0.5) * F.col("avg_q"))
        .agg(
            X.dsum(F.col("l_extendedprice")).alias("small_qty_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — orders whose total quantity exceeds 250, joined
    back to customer detail; top 100 by order totalprice. The HAVING
    aggregate and the join-back reuse one l_orderkey shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(X.dec_sum_raw(F.col("l_quantity").cast("double")).alias("qty_dec"))
        .where(F.col("qty_dec") > 250)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            X.pround(F.col("qty_dec").cast("double")).alias("total_qty"),
        )
    )


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — customers with above-average positive balance
    and no order in the final year of data, counted per nation.
    Scalar-subquery threshold broadcast + anti-join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-08-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = F.broadcast(
        cust.where(F.col("c_acctbal") > 0).agg(
            (
                F.sum(F.col("c_acctbal").cast(X.DEC)).cast("double")
                / F.count("c_acctbal")
            ).alias("avg_bal")
        )
    )
    return (
        cust.crossJoin(avg_bal)
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            X.dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — revenue delta from dropping mid-band discounts on
    small-quantity 1997 lineitems. Pure scan-side predicate aggregate:
    every filter reaches the parquet scan (PushedFilters), no join, no
    shuffle beyond the 1-row final agg. Discount compared in decimal so
    the band edges are exact (0.03/0.07 are not representable doubles)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = X.rate("l_discount")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (disc >= F.lit("0.03").cast("decimal(4,2)"))
            & (disc <= F.lit("0.07").cast("decimal(4,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            X.pround(
                F.sum(X.money("l_extendedprice") * disc).cast("double")
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (adapted: priority exclusion replaces the o_comment
    NOT LIKE — the testdata has no comment column) — distribution of
    customers by order count, including zero-order customers via the
    left outer join. Two groupBys: the first shuffles on c_custkey, the
    second is over ≤|distinct counts| rows (tiny)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


def promotable_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: lineitem is the part↔supplier link; the
    testdata has no partsupp) — suppliers whose 1997 shipped quantity of
    any red-named part exceeds a threshold, as nested semi-joins: the
    correlated availability subquery becomes aggregate-then-filter, and
    the supplier list is a left_semi join (never duplicates suppliers).
    The quantity threshold compares the exact decimal sum."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    supp = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(X.dec_sum_raw(F.col("l_quantity").cast("double")).alias("qty_dec"))
        .where(F.col("qty_dec") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: l_returnflag='R' stands in for the
    receipt>commit lateness predicate — the testdata has no commit/receipt
    dates) — suppliers whose returned lineitem on a finished multi-
    supplier order is the ONLY returned one: EXISTS → left_semi with a
    non-equi suppkey clause, NOT EXISTS → left_anti with the same shape.
    All three lineitem sides shuffle on l_orderkey once each; the
    supplier dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    )
    return (
        l1.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("s2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("s3") != F.col("l_suppkey")),
            "left_anti",
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def exact_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact l_extendedprice quantiles WITHOUT a global sort
    (operators/quantiles.py: pivot-sample → one conditional-count
    aggregate per round → bounded bracket collect). orderBy-based
    percentiles range-shuffle the whole fact table at the 100 TB point;
    this plan's network traffic is counters plus an ~n/sample bracket.
    The driver-side collects are bounded by construction (pivot limit,
    max_bracket loop). Oracle: the rank is recomputed in exact integer
    arithmetic over a windowed row_number — same type-1 quantile
    definition, k = ceil(num·n/den)."""
    from ..operators.quantiles import exact_quantiles_df

    li = load_table(spark, sf_dir, "lineitem")
    probs = [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
             ("p90", 9, 10), ("p99", 99, 100)]
    return exact_quantiles_df(spark, li, "l_extendedprice", probs)


def lineitem_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for lineitem.l_orderkey — the diagnostic a
    100 TB engine runs BEFORE picking a join strategy (salting the
    keys this report flags is the usual fix): key count, row count, the
    hottest key and its share, and the p50/p99 key-frequency ratio.
    The frequency table is one groupBy; its quantiles come from the
    exact selection operator (bounded driver values); the top key is a
    TakeOrdered limit(1) broadcast. One mirrored double per ratio."""
    from ..operators.quantiles import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").alias("c")
    )
    qs = exact_quantiles(freq, "c", [("p50", 1, 2), ("p99", 99, 100)])
    p50, p99 = float(qs[0][4]), float(qs[1][4])
    top = freq.orderBy(F.desc("c"), F.asc("k")).limit(1).select(
        F.col("k").alias("top_key"), F.col("c").alias("top_count")
    )
    t = freq.agg(
        F.count("*").alias("n_keys"), F.sum("c").alias("n_rows")
    )
    return t.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "n_rows",
        "top_key",
        "top_count",
        X.pround(
            F.col("top_count").cast("double") / F.col("n_rows").cast("double"),
            8,
        ).alias("top_share"),
        F.lit(p50).alias("p50_freq"),
        F.lit(p99).alias("p99_freq"),
        X.pround(F.lit(p99) / F.lit(p50), 6).alias("skew_ratio"),
    )


def value_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift chart for "does value rank purchases?" —
    the third leg of the classifier-eval triad next to
    Q(event_value_auc) (ranking) and Q(value_calibration_curve)
    (probability calibration): take the top-k value deciles, what
    fraction of all purchases do they capture, and at what lift over
    random? Decile boundaries come from the exact selection operator;
    the cumulative roll-up EXPLODES each decile's counts into the
    top-k prefixes it belongs to (a 10-row table — the dyadic-EWMA
    fan-out trick, window-free) and re-aggregates. Counts exact;
    capture/lift are mirrored pround doubles."""
    from ..operators.quantiles import exact_quantiles

    ev = load_table(spark, sf_dir, "events").select(
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    ).where(F.col("value").isNotNull())
    b = EQUIDEPTH_BUCKETS
    cuts = [
        c[4]
        for c in exact_quantiles(ev, "value", [(f"d{i}", i, b) for i in range(1, b)])
    ]
    bucket = sum((F.col("value") > F.lit(c)).cast("int") for c in cuts)
    per_b = (
        ev.withColumn("_b", bucket.cast("int"))
        .groupBy("_b")
        .agg(F.count("*").alias("n"), F.sum("is_p").alias("p"))
    )
    # top-rank of bucket β (values DESC) = b-1-β; it belongs to every
    # top-k prefix with k ≥ its rank+1 → explode into those prefixes
    fan = per_b.select(
        F.explode(
            F.sequence(F.lit(b) - 1 - F.col("_b"), F.lit(b - 1))
        ).alias("_d"),
        "n",
        "p",
    )
    cum = fan.groupBy("_d").agg(
        F.sum("n").alias("n_cum"), F.sum("p").alias("p_cum")
    )
    tot = per_b.agg(
        F.sum("n").alias("_tn"), F.sum("p").alias("_tp")
    )  # 1-row scalar
    share = F.col("n_cum").cast("double") / F.col("_tn").cast("double")
    capture = F.col("p_cum").cast("double") / F.col("_tp").cast("double")
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            (F.col("_d") + 1).alias("top_deciles"),
            F.col("n_cum").cast("long").alias("n_rows"),
            F.col("p_cum").cast("long").alias("n_purchases"),
            X.pround(capture, 6).alias("capture_rate"),
            X.pround(capture / share, 6).alias("lift"),
        )
    )


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-weighted median of l_extendedprice — the
    unit-economics readout ("the price at which half the UNITS sell")
    that a row-median misses entirely when order sizes correlate with
    price. Weighted type-1 selection in exact integers: per distinct
    price, weight = Σ quantity (exact), cumulative weight via the
    bucketed prefix operator (no global window), answer = the smallest
    price whose inclusive cumulative weight reaches ⌈(W+1)/2⌉ — picked
    by one min-aggregate, not a sort."""
    from ..operators.prefix import grouped_prefix_sum

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    per_v = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("w")
    ).withColumn("_g", F.lit(0))
    total = per_v.agg(F.sum("w").alias("_W")).collect()[0]["_W"]  # scalar
    thr = (int(total) + 1) // 2
    cum = grouped_prefix_sum(per_v, ["_g"], "v", F.col("w"), out_col="_b", exact=True)
    hit = cum.where(
        (F.col("_b").cast("long") + F.col("w")) >= F.lit(thr)
    ).agg(F.min("v").alias("wmedian"))
    return hit.select(
        F.lit(int(total)).alias("total_weight"),
        F.lit(thr).alias("threshold"),
        "wmedian",
    )


CVAR_Q = (95, 100)  # tail = values at or above the exact p95


def value_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR) of events.value: the mean of the worst
    (upper-tail) 5% — the risk metric that, unlike the bare p95,
    reacts to HOW BAD the tail is. Threshold = the exact rank-selected
    p95 (operators/quantiles.py, no global sort); the tail mean uses
    1e-6-quantized integer sums (exact) with one mirrored division.
    One row: threshold, tail count, CVaR."""
    from ..operators.quantiles import exact_quantiles

    ev = load_table(spark, sf_dir, "events").select("value").where(
        F.col("value").isNotNull()
    )
    thr = exact_quantiles(ev, "value", [("p95", *CVAR_Q)])[0][4]
    tail = ev.where(F.col("value") >= F.lit(thr))
    units = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    agg = tail.agg(
        F.count("*").alias("n_tail"),
        F.sum(units.cast("decimal(38,0)")).alias("_u"),
    )
    return agg.select(
        F.lit(float(thr)).alias("threshold"),
        "n_tail",
        X.pround(
            F.col("_u").cast("double")
            / F.col("n_tail").cast("double")
            / 1_000_000.0,
            6,
        ).alias("cvar"),
    )


def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of revenue across
    nations (the antitrust-style market-concentration KPI that pairs
    with Q(customer_spend_gini)'s inequality view): HHI = Σ rᵢ²/(Σ rᵢ)²
    computed ENTIRELY on exact integer cents — Σ rᵢ² accumulates in
    DECIMAL(38,0) (25 nations × (10¹³ cents)² fits), and the one
    division happens in double, mirrored — so no order-sensitive float
    sum ever occurs. One fact scan + a bounded-dim broadcast join."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    per_nation = (
        orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"]
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg((F.sum(X.money("o_totalprice")) * 100).cast("decimal(18,0)").alias("r"))
    )
    agg = per_nation.agg(
        F.count("*").alias("n_nations"),
        F.sum(F.col("r") * F.col("r")).alias("_sq"),
        F.sum(F.col("r")).alias("_tot"),
    )
    return agg.select(
        "n_nations",
        F.col("_tot").cast("long").alias("total_cents"),
        X.pround(
            F.col("_sq").cast("double")
            / (F.col("_tot").cast("double") * F.col("_tot").cast("double")),
            8,
        ).alias("hhi"),
    )


WILSON_Z = 1.96  # 95% two-sided


def segment_conversion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment conversion rate (share of active users with
    ≥1 purchase event) WITH a Wilson 95% confidence interval — the
    experimentation-analytics readout where a naive ±z·√(p(1−p)/n)
    interval misbehaves at small n or extreme p. Counts are exact
    integers (one per-user flag aggregate, one segment-keyed equi
    join); the Wilson center/half-width is a single mirrored double
    expression (sqrt is IEEE-deterministic), pround-ed."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    seg = per_user.join(cust, "user_id").groupBy("c_mktsegment").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    z2 = WILSON_Z * WILSON_Z
    n = F.col("n_users").cast("double")
    p = F.col("n_converted").cast("double") / n
    denom = 1.0 + F.lit(z2) / n
    center = (p + F.lit(z2) / (2.0 * n)) / denom
    half = (
        F.lit(WILSON_Z)
        * F.sqrt(p * (1.0 - p) / n + F.lit(z2) / (4.0 * n * n))
        / denom
    )
    return seg.select(
        "c_mktsegment",
        "n_users",
        "n_converted",
        X.pround(p, 6).alias("rate"),
        X.pround(center - half, 6).alias("ci_lo"),
        X.pround(center + half, 6).alias("ci_hi"),
    )


PSI_BUCKETS = 10


def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of events.value between the first
    and second half of the event stream (split at the median
    timestamp) — THE model-monitoring drift metric (rule of thumb:
    PSI < 0.1 stable, > 0.25 shifted), complementing Q(value_ks_test)
    (KS = worst-case CDF gap; PSI = distribution-wide weighted shift).

    Buckets are the FIRST half's deciles (exact selection operator);
    both halves' bucket shares use +1 Laplace smoothing so an empty
    bucket stays finite. Per-bucket terms (q−p)·ln(q/p) are pround-ed
    to 8 dp and summed exactly as 1e-8 integers (the ln-parity
    pattern); emits one row per bucket plus the summed PSI on each
    row's psi_total column (the driver hash then pins both the
    decomposition and the total)."""
    from ..operators.quantiles import exact_quantiles

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    ).select(F.unix_micros("ts").alias("ts_us"), "value")
    med_ts = exact_quantiles(ev, "ts_us", [("p50", 1, 2)])[0][4]
    first = ev.where(F.col("ts_us") <= F.lit(med_ts))
    b = PSI_BUCKETS
    cuts = [
        c[4]
        for c in exact_quantiles(
            first, "value", [(f"d{i}", i, b) for i in range(1, b)]
        )
    ]
    bucket = sum((F.col("value") > F.lit(c)).cast("int") for c in cuts)
    counts = (
        ev.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.sum(
                F.when(F.col("ts_us") <= F.lit(med_ts), 1).otherwise(0)
            ).alias("c_first"),
            F.sum(
                F.when(F.col("ts_us") > F.lit(med_ts), 1).otherwise(0)
            ).alias("c_second"),
        )
    )
    tot = counts.agg(
        F.sum("c_first").alias("_nf"), F.sum("c_second").alias("_ns")
    )  # 1-row scalar
    p = (F.col("c_first").cast("double") + 1.0) / (
        F.col("_nf").cast("double") + F.lit(float(b))
    )
    q = (F.col("c_second").cast("double") + 1.0) / (
        F.col("_ns").cast("double") + F.lit(float(b))
    )
    term = X.pround((q - p) * F.log(q / p), 8)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bucket", "c_first", "c_second", term.alias("psi_term")
    )
    total = terms.agg(
        F.sum(
            F.floor(F.col("psi_term") * 1e8 + F.lit(0.5)).cast("long")
        ).alias("_t")
    )  # exact integer sum of the 8-dp terms
    return terms.crossJoin(F.broadcast(total)).select(
        "bucket",
        "c_first",
        "c_second",
        "psi_term",
        X.pround(F.col("_t").cast("double") / 1e8, 6).alias("psi_total"),
    )


KS_TYPE_A, KS_TYPE_B = "purchase", "view"


def value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two event types — the standard distribution-drift
    test (pairs with Q(event_value_auc): AUC measures ranking
    separation, KS measures worst-case CDF gap). D = max |F_A − F_B|
    over the pooled distinct values, reported with the location where
    the max is attained (min such value on ties).

    Scale shape: one groupBy collapses rows to distinct values with
    per-class counts; both CDFs come from operators/prefix.py bucketed
    prefix sums (no global window); the maximum is one 1-row aggregate
    joined back broadcast. All counts exact integers; the CDF gap is
    an integer/integer double expression mirrored in the oracle."""
    from ..operators.prefix import grouped_prefix_sum

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
        & F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    per_v = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0)).alias("cb"),
    ).withColumn("_g", F.lit(0))
    c1 = grouped_prefix_sum(per_v, ["_g"], "value", F.col("ca"), out_col="_ba", exact=True)
    c2 = grouped_prefix_sum(c1, ["_g"], "value", F.col("cb"), out_col="_bb", exact=True)
    tot = c2.agg(
        F.sum("ca").alias("_na"), F.sum("cb").alias("_nb")
    )  # 1-row scalar
    gap = F.abs(
        (F.col("_ba").cast("long") + F.col("ca")).cast("double")
        / F.col("_na").cast("double")
        - (F.col("_bb").cast("long") + F.col("cb")).cast("double")
        / F.col("_nb").cast("double")
    )
    gaps = c2.crossJoin(F.broadcast(tot)).select(
        "value", "_na", "_nb", gap.alias("_gap")
    )
    peak = gaps.agg(F.max("_gap").alias("_ks"))  # 1-row scalar
    return (
        gaps.crossJoin(F.broadcast(peak))
        .where(F.col("_gap") == F.col("_ks"))
        .groupBy()
        .agg(
            F.first("_na").alias("n_a"),
            F.first("_nb").alias("n_b"),
            F.first("_ks").alias("ks_stat"),
            F.min("value").alias("at_value"),
        )
    )


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate_us")


def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the orders numeric columns —
    count / nulls / exact NDV / min / max per column, the statistics a
    cost-based optimizer (or a data-quality monitor) collects. One scan:
    all per-column aggregates ride a single groupBy-less agg (Spark's
    multi-distinct Expand), then unpivot to one row per column. Exact
    NDV is the oracle-able spec; at 100 TB the same query swaps in the
    HLL sketch family (Q(hll_rollup_gate)) — documented trade, same
    output shape."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate_us", F.unix_micros("o_orderdate")
    )
    aggs = []
    for c in _PROFILE_COLS:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(col).alias(f"{c}__ndv"),
            F.min(col.cast("double")).alias(f"{c}__min"),
            F.max(col.cast("double")).alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__ndv, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(column_name, n, n_null, n_distinct, min_v, max_v)"
        )
    )


_TREND_VAL_SCALE = 1_000_000


def value_time_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend: the least-squares slope of value over
    time (drift detection: is this event type's value rising?) by the
    EXACT-MOMENTS recipe of price_quantity_corr — x = whole seconds
    since the global first event (integer), y = value in 1e-6 units
    (integer), per-row products in int64, sums in DECIMAL(38,0), one
    final double expression per GROUP mirrored token-for-token. Slope
    reported in value-units/day. One scan + one narrow groupBy; the
    time anchor is a 1-row broadcast."""
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    anchor = events.agg(F.min(F.unix_micros("ts")).alias("_min_us"))
    dec = X.DEC
    based = events.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        F.expr("(unix_micros(ts) - _min_us) DIV 1000000").alias("x"),
        F.floor(F.col("value") * _TREND_VAL_SCALE + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    m = based.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 86400.0
        / float(_TREND_VAL_SCALE)
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        X.pround(slope, 8).alias("slope_per_day"),
    )


def value_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) transform of events.value — the monotone
    normalization that makes heavy-tailed features comparable across
    segments: pct = (rank − 1)/(n − 1) ∈ [0, 1]. Rank ties break on
    event_id (documented: a rank transform, not an average-rank
    transform). Scale shape: operators/ranks.py two-phase bucketed
    global row_number — quantile cuts + per-bucket windows, never a
    single-task global window. The pct expression is exact-integer /
    exact-integer in double, mirrored — no rounding needed."""
    from ..operators.ranks import global_row_number

    ev = load_table(spark, sf_dir, "events").select("event_id", "value").where(
        F.col("value").isNotNull()
    )
    ranked, n = global_row_number(ev, "value", ["event_id"])
    den = max(n - 1, 1)
    return ranked.select(
        "event_id",
        "value",
        (
            (F.col("rn") - F.lit(1)).cast("double") / F.lit(float(den))
        ).alias("pct"),
    )


def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the forensic data-quality
    check for fabricated or truncated money columns: observed
    first-significant-digit shares vs log10(1 + 1/d). The digit comes
    from the INTEGER cents value rendered as a string (×100 preserves
    the leading significant digit; integer formatting is engine-exact,
    unlike float→string or floor(log10(x)) at exact powers of ten)."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = (X.money("o_totalprice") * 100).cast("long")
    per_digit = (
        orders.select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    total = per_digit.agg(F.sum("n_obs").alias("_n"))  # 1-row scalar
    ln10 = F.log(F.lit(10.0))
    return (
        per_digit.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            X.pround(
                F.col("n_obs").cast("double") / F.col("_n").cast("double"), 6
            ).alias("share"),
            X.pround(
                F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
                / ln10,
                6,
            ).alias("benford_p"),
        )
    )


def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend (the inequality /
    concentration KPI): G = Σ(2i − n − 1)·xᵢ / (n·Σx) over spend
    sorted ascending. Zero-order customers count with x = 0 — a
    concentration measure that ignores the inactive base overstates
    equality.

    Scale shape: the global sort rank comes from operators/ranks.py's
    two-phase bucketed row_number (quantile cuts + per-bucket windows —
    never a single-task global window); everything else is exact
    integer cents accumulated in DECIMAL(38,0), one final mirrored
    double division. Ties share the same x, so any tiebreak yields the
    identical sum — custkey makes it deterministic anyway."""
    from ..operators.ranks import global_row_number

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg((F.sum(X.money("o_totalprice")) * 100).cast("long").alias("cents"))
    )
    x = cust.join(
        spend, cust["c_custkey"] == spend["o_custkey"], "left"
    ).select(
        "c_custkey", F.coalesce(F.col("cents"), F.lit(0)).alias("cents")
    )
    ranked, n = global_row_number(x, "cents", ["c_custkey"])
    agg = ranked.agg(
        F.sum(
            (
                (F.lit(2) * F.col("rn") - F.lit(n + 1)).cast("decimal(38,0)")
                * F.col("cents")
            )
        ).alias("num"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("tot"),
    )
    gini = F.when(
        F.col("tot") > 0,
        X.pround(
            F.col("num").cast("double")
            / (F.lit(float(n)) * F.col("tot").cast("double")),
            6,
        ),
    )
    return agg.select(
        F.lit(n).cast("long").alias("n_customers"),
        F.col("tot").cast("long").alias("total_cents"),
        gini.alias("gini"),
    )


EQUIDEPTH_BUCKETS = 10


def value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of events.value (contrast value_histogram's
    equi-width buckets): decile boundaries from the exact distributed
    selection operator (operators/quantiles.py — counters + bounded
    brackets, no global sort), then a map-only CASE-chain bucket
    assignment and one narrow groupBy. Equi-depth histograms are the
    optimizer statistic (selectivity estimation) and the skew report a
    100 TB profiler actually wants — equal-width tells you nothing when
    the mass is log-normal. Boundary semantics: bucket = number of
    boundaries strictly below the value (duplicated boundary values
    collapse their bucket to empty, deterministically on both sides)."""
    from ..operators.quantiles import exact_quantiles

    ev = load_table(spark, sf_dir, "events").select("value").where(
        F.col("value").isNotNull()
    )
    b = EQUIDEPTH_BUCKETS
    probs = [(f"d{i}", i, b) for i in range(1, b)]
    cuts = [c[4] for c in exact_quantiles(ev, "value", probs)]  # bounded: b-1
    bucket = sum(
        (F.col("value") > F.lit(c)).cast("int") for c in cuts
    )
    return (
        ev.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


MAD_K = 3.0  # the classic "3 MADs from the median" outlier rule


def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on events.value: median / MAD instead
    of mean / stddev, so the flagged tail can't poison its own
    threshold (one 10¹⁰ outlier shifts a z-score cut; it moves a
    median by one rank). Emits the rows with |value − median| >
    MAD_K·MAD plus their robust score (value − med)/MAD.

    Scale shape: both the median and the MAD come from
    operators/quantiles.py's pivot-count-bracket selection — counters
    + a bounded bracket cross the wire, never a global sort; the
    deviation scan is map-only against two broadcast scalar literals.
    The two driver-side values are bounded by construction (each is
    one quantile). Oracle recomputes both medians by exact integer
    rank over row_number, then the identical double expressions."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return mad_outliers(ev, "event_id", "value", MAD_K)


def mad_outliers(
    df: DataFrame, id_col: str, value_col: str, k: float = MAD_K
) -> DataFrame:
    """Rows with |value − median| > k·MAD plus their robust score
    (see :func:`value_mad_outliers` for the scale rationale)."""
    from ..operators.quantiles import exact_quantiles

    vals = df.select(
        F.col(id_col).alias("event_id"), F.col(value_col).alias("value")
    ).where(F.col(value_col).isNotNull())
    med = exact_quantiles(vals, "value", [("p50", 1, 2)])[0][4]
    dev = vals.withColumn("dev", F.col("value") - F.lit(med))
    ad = dev.withColumn("_ad", F.abs(F.col("dev")))
    mad = exact_quantiles(ad, "_ad", [("p50", 1, 2)])[0][4]
    robust_z = F.when(
        F.lit(mad) > 0, F.col("dev") / F.lit(mad)
    )  # degenerate MAD=0 corpus: score undefined → null (both engines)
    return ad.where(F.col("_ad") > F.lit(k) * F.lit(mad)).select(
        "event_id", "value", "dev", robust_z.alias("robust_z")
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part pairs bought together in ≥ 2
    orders, with support counts (the A-Priori L2 step).

    Scale shape: the textbook formulation is a lineitem SELF-JOIN on
    l_orderkey (the oracle) — at 100 TB that shuffles the fact table
    twice and any hot order explodes quadratically inside the join.
    Here pair generation is MAP-SIDE: one shuffle groups the
    (orderkey, partkey) pairs into per-order sorted baskets, an
    in-row array comprehension emits each basket's C(n,2) ordered
    pairs (basket width is bounded by order size, single digits, so
    the fan-out is a small constant), and the pair count is a second
    output-bounded shuffle. Before baskets are built, the A-Priori
    monotonicity prune drops parts appearing in < 2 distinct orders —
    a frequent PAIR needs both members frequent — via an aggregate
    semi-join that shrinks the basket stage's input for free (the
    count rides the same orderkey-distinct pass the baskets need)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    frequent = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= 2)
        .select("l_partkey")
    )
    baskets = (
        li.join(frequent, "l_partkey", "left_semi")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
    )


def pareto_parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (skyline): parts not dominated within
    their brand — no other part both cheaper-or-equal AND
    larger-or-equal with at least one strict. The relational statement
    is a NOT EXISTS anti-join with an inequality-only correlation (the
    oracle) — quadratic comparisons and, for Spark, a broadcast
    nested loop. The engine uses the 2-D skyline sweep instead: a part
    survives iff (1) it has the max size within its exact price point
    and (2) every strictly-cheaper price point has a smaller max size.
    Both conditions come from one aggregate over (brand, price) plus
    one running-max window over each brand's DISTINCT price points —
    O(n) + a window whose partition size is the distinct-price count,
    not the row count, so a billion-part catalog with thousands of
    price points stays balanced. Ties on (price, size) all survive,
    matching the strict-dominance definition on both sides."""
    part = load_table(spark, sf_dir, "part")
    gmax = (
        part.groupBy("p_brand", "p_retailprice")
        .agg(F.max("p_size").alias("_gmax"))
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        gmax.withColumn("_prevmax", F.max("_gmax").over(w))
        .where(F.col("_prevmax").isNull() | (F.col("_prevmax") < F.col("_gmax")))
        .select("p_brand", "p_retailprice", F.col("_gmax").alias("p_size"))
    )
    return part.join(
        frontier, ["p_brand", "p_retailprice", "p_size"], "left_semi"
    ).select("p_brand", "p_partkey", "p_retailprice", "p_size")


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over the co-purchase pairs
    (:func:`copurchase_pairs`): antecedent→consequent with support,
    confidence = supp(ab)/supp(a) and lift = N·supp(ab)/(supp(a)·supp(b))
    — the A-Priori rule-generation step on top of the L2 pair mine.
    Item supports ride the same distinct (order, part) pass the pair
    mine needs; the rule table is pair-output-bounded, and the scalar
    N (distinct orders) is a 1-row broadcast, never a collect."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    item = li.groupBy("l_partkey").agg(F.count("*").alias("supp_item"))
    n_orders = F.broadcast(
        li.select("l_orderkey").distinct().agg(F.count("*").alias("n_orders"))
    )
    pairs = copurchase_pairs(spark, sf_dir)
    directed = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "support",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "support",
        )
    )
    sa = item.select(
        F.col("l_partkey").alias("antecedent"), F.col("supp_item").alias("supp_a")
    )
    sb = item.select(
        F.col("l_partkey").alias("consequent"), F.col("supp_item").alias("supp_b")
    )
    return (
        directed.join(sa, "antecedent")
        .join(sb, "consequent")
        .crossJoin(n_orders)
        .select(
            "antecedent",
            "consequent",
            "support",
            X.pround(F.col("support") / F.col("supp_a"), 6).alias("confidence"),
            X.pround(
                F.col("n_orders") * F.col("support")
                / (F.col("supp_a") * F.col("supp_b")),
                6,
            ).alias("lift"),
        )
    )


def price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation of extendedprice × quantity
    by the EXACT-MOMENTS recipe: the five sums (n, Σx, Σy, Σxy, Σx²,
    Σy²) accumulate in decimal — each per-row product is exactly
    representable in double first (2-dp price × integer qty stays well
    under 2^53), so the decimal sums are exact integers-of-units, and
    the correlation formula then runs once per GROUP in double with an
    expression mirrored token-for-token in the oracle. Never uses the
    engines' native ``corr`` (whose streaming accumulation order makes
    cross-engine float parity impossible); this is one scan + one
    narrow groupBy — the moments pattern any 100 TB profiling job
    wants anyway, since the same six columns answer corr, covariance,
    variance and mean at once."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    y = F.col("l_quantity")
    dec = X.DEC
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        X.pround(corr, 6).alias("corr_price_qty"),
        X.pround(F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")), 4).alias(
            "covar_pop"
        ),
    )


QUERIES = {
    "exact_price_quantiles": exact_price_quantiles,
    "value_mad_outliers": value_mad_outliers,
    "value_equidepth_histogram": value_equidepth_histogram,
    "customer_spend_gini": customer_spend_gini,
    "value_percentile_rank": value_percentile_rank,
    "benford_order_totals": benford_order_totals,
    "value_time_trend": value_time_trend,
    "orders_column_profile": orders_column_profile,
    "value_ks_test": value_ks_test,
    "lineitem_key_skew_report": lineitem_key_skew_report,
    "value_psi_drift": value_psi_drift,
    "segment_conversion_ci": segment_conversion_ci,
    "nation_revenue_hhi": nation_revenue_hhi,
    "value_cvar": value_cvar,
    "weighted_median_price": weighted_median_price,
    "value_cumulative_gains": value_cumulative_gains,
    "volume_shipping_pairs": volume_shipping_pairs,
    "nation_market_share": nation_market_share,
    "product_type_profit": product_type_profit,
    "important_parts_value": important_parts_value,
    "top_revenue_supplier": top_revenue_supplier,
    "brand_supplier_counts": brand_supplier_counts,
    "small_qty_avg_revenue": small_qty_avg_revenue,
    "large_volume_orders": large_volume_orders,
    "idle_rich_customers": idle_rich_customers,
    "forecast_revenue_change": forecast_revenue_change,
    "customer_order_distribution": customer_order_distribution,
    "promotable_part_suppliers": promotable_part_suppliers,
    "waiting_suppliers": waiting_suppliers,
    "copurchase_pairs": copurchase_pairs,
    "pareto_parts_skyline": pareto_parts_skyline,
    "association_rules": association_rules,
    "price_quantity_corr": price_quantity_corr,
}


_PR_REV = X.pround_sql(f"CAST(sum({X.DISC_PRICE_SQL}) AS DOUBLE)")

_MAD_ORACLE = f"""
    WITH v AS (
        SELECT event_id, value FROM events WHERE value IS NOT NULL
    ), s AS (
        SELECT value, row_number() OVER (ORDER BY value) AS rn,
               count(*) OVER () AS n
        FROM v
    ), med AS (
        SELECT value AS m FROM s WHERE rn = GREATEST(1, (n + 1) // 2)
    ), d AS (
        SELECT event_id, v.value, (v.value - med.m) AS dev,
               abs(v.value - med.m) AS ad
        FROM v, med
    ), s2 AS (
        SELECT ad, row_number() OVER (ORDER BY ad) AS rn,
               count(*) OVER () AS n
        FROM d
    ), mad AS (
        SELECT ad AS m2 FROM s2 WHERE rn = GREATEST(1, (n + 1) // 2)
    )
    SELECT event_id, value, dev,
           CASE WHEN mad.m2 > 0 THEN dev / mad.m2 END AS robust_z
    FROM d, mad
    WHERE ad > {MAD_K} * mad.m2
"""

_EQUIDEPTH_ORACLE = f"""
    WITH v AS (
        SELECT value FROM events WHERE value IS NOT NULL
    ), s AS (
        SELECT value, row_number() OVER (ORDER BY value) AS rn,
               count(*) OVER () AS n
        FROM v
    ), p(num) AS (
        VALUES {", ".join(f"({i})" for i in range(1, EQUIDEPTH_BUCKETS))}
    ), cuts AS (
        SELECT s.value AS cut
        FROM p JOIN s ON s.rn = GREATEST(
            1, (p.num * s.n + {EQUIDEPTH_BUCKETS - 1}) // {EQUIDEPTH_BUCKETS})
    ), b AS (
        SELECT v.value,
               CAST((SELECT count(*) FROM cuts c WHERE v.value > c.cut)
                    AS INT) AS bucket
        FROM v
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           min(value) AS lo, max(value) AS hi
    FROM b GROUP BY bucket
"""

ORACLE = {
    "value_mad_outliers": _MAD_ORACLE,
    "value_equidepth_histogram": _EQUIDEPTH_ORACLE,
    "value_cumulative_gains": f"""
        WITH v AS (
            SELECT value,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
            FROM events WHERE value IS NOT NULL
        ), s AS (
            SELECT value, row_number() OVER (ORDER BY value) AS rn,
                   count(*) OVER () AS n
            FROM v
        ), p(num) AS (
            VALUES {", ".join(f"({i})" for i in range(1, EQUIDEPTH_BUCKETS))}
        ), cuts AS (
            SELECT s.value AS cut
            FROM p JOIN s ON s.rn = GREATEST(
                1, (p.num * s.n + {EQUIDEPTH_BUCKETS - 1})
                   // {EQUIDEPTH_BUCKETS})
        ), bkt AS (
            SELECT (SELECT count(*) FROM cuts c WHERE v.value > c.cut) AS b,
                   is_p
            FROM v
        ), per_b AS (
            SELECT b, count(*) AS n, sum(is_p) AS p FROM bkt GROUP BY b
        ), t AS (
            SELECT sum(n) AS tn, sum(p) AS tp FROM per_b
        ), fan AS (
            SELECT unnest(generate_series(
                       {EQUIDEPTH_BUCKETS} - 1 - b,
                       {EQUIDEPTH_BUCKETS - 1})) AS d, n, p
            FROM per_b
        ), cum AS (
            SELECT d, CAST(sum(n) AS BIGINT) AS n_cum,
                   CAST(sum(p) AS BIGINT) AS p_cum
            FROM fan GROUP BY d
        )
        SELECT CAST(d + 1 AS BIGINT) AS top_deciles,
               n_cum AS n_rows, p_cum AS n_purchases,
               {X.pround_sql(
                   "CAST(p_cum AS DOUBLE) / CAST(t.tp AS DOUBLE)", 6)}
                   AS capture_rate,
               {X.pround_sql(
                   "(CAST(p_cum AS DOUBLE) / CAST(t.tp AS DOUBLE))"
                   " / (CAST(n_cum AS DOUBLE) / CAST(t.tn AS DOUBLE))",
                   6)} AS lift
        FROM cum, t
    """,
    "weighted_median_price": """
        WITH per_v AS (
            SELECT l_extendedprice AS v,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            GROUP BY 1
        ), t AS (
            SELECT CAST(sum(w) AS BIGINT) AS W,
                   CAST((sum(w) + 1) // 2 AS BIGINT) AS thr
            FROM per_v
        ), c AS (
            SELECT v, CAST(sum(w) OVER (ORDER BY v) AS BIGINT) AS cw
            FROM per_v
        )
        SELECT t.W AS total_weight, t.thr AS threshold,
               min(c.v) AS wmedian
        FROM c, t WHERE c.cw >= t.thr
        GROUP BY t.W, t.thr
    """,
    "value_cvar": f"""
        WITH v AS (
            SELECT value FROM events WHERE value IS NOT NULL
        ), s AS (
            SELECT value, row_number() OVER (ORDER BY value) AS rn,
                   count(*) OVER () AS n
            FROM v
        ), thr AS (
            SELECT value AS t FROM s
            WHERE rn = GREATEST(1, ({CVAR_Q[0]} * n + {CVAR_Q[1] - 1})
                                    // {CVAR_Q[1]})
        ), tail AS (
            SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS u,
                   thr.t AS t
            FROM v, thr WHERE value >= thr.t
        )
        SELECT min(t) AS threshold,
               CAST(count(*) AS BIGINT) AS n_tail,
               {X.pround_sql(
                   "CAST(sum(u) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
                   " / 1000000.0", 6)} AS cvar
        FROM tail
    """,
    "nation_revenue_hhi": f"""
        WITH per_nation AS (
            SELECT n.n_name,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) * 100
                        AS HUGEINT) AS r
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT CAST(count(*) AS BIGINT) AS n_nations,
               CAST(sum(r) AS BIGINT) AS total_cents,
               {X.pround_sql(
                   "CAST(sum(r * r) AS DOUBLE)"
                   " / (CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE))",
                   8)} AS hhi
        FROM per_nation
    """,
    "segment_conversion_ci": f"""
        WITH pu AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id
        ), seg AS (
            SELECT c.c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(pu.converted) AS BIGINT) AS n_converted
            FROM pu JOIN customer c ON c.c_custkey = pu.user_id
            GROUP BY c.c_mktsegment
        )
        SELECT c_mktsegment, n_users, n_converted,
               {X.pround_sql(
                   "CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)",
                   6)} AS rate,
               {X.pround_sql(
                   "(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)"
                   f" + {WILSON_Z * WILSON_Z!r} / (2.0 * CAST(n_users AS DOUBLE)))"
                   f" / (1.0 + {WILSON_Z * WILSON_Z!r} / CAST(n_users AS DOUBLE))"
                   f" - {WILSON_Z!r} * sqrt("
                   "CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)"
                   " * (1.0 - CAST(n_converted AS DOUBLE)"
                   " / CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE)"
                   f" + {WILSON_Z * WILSON_Z!r} / (4.0 * CAST(n_users AS DOUBLE)"
                   " * CAST(n_users AS DOUBLE)))"
                   f" / (1.0 + {WILSON_Z * WILSON_Z!r} / CAST(n_users AS DOUBLE))",
                   6)} AS ci_lo,
               {X.pround_sql(
                   "(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)"
                   f" + {WILSON_Z * WILSON_Z!r} / (2.0 * CAST(n_users AS DOUBLE)))"
                   f" / (1.0 + {WILSON_Z * WILSON_Z!r} / CAST(n_users AS DOUBLE))"
                   f" + {WILSON_Z!r} * sqrt("
                   "CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)"
                   " * (1.0 - CAST(n_converted AS DOUBLE)"
                   " / CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE)"
                   f" + {WILSON_Z * WILSON_Z!r} / (4.0 * CAST(n_users AS DOUBLE)"
                   " * CAST(n_users AS DOUBLE)))"
                   f" / (1.0 + {WILSON_Z * WILSON_Z!r} / CAST(n_users AS DOUBLE))",
                   6)} AS ci_hi
        FROM seg
    """,
    "value_psi_drift": f"""
        WITH ev AS (
            SELECT epoch_us(ts) AS ts_us, value FROM events
            WHERE value IS NOT NULL
        ), st AS (
            SELECT ts_us, row_number() OVER (ORDER BY ts_us) AS rn,
                   count(*) OVER () AS n
            FROM ev
        ), med AS (
            SELECT ts_us AS m FROM st WHERE rn = GREATEST(1, (n + 1) // 2)
        ), fh AS (
            SELECT value FROM ev, med WHERE ts_us <= med.m
        ), s AS (
            SELECT value, row_number() OVER (ORDER BY value) AS rn,
                   count(*) OVER () AS n
            FROM fh
        ), p(num) AS (
            VALUES {", ".join(f"({i})" for i in range(1, PSI_BUCKETS))}
        ), cuts AS (
            SELECT s.value AS cut
            FROM p JOIN s ON s.rn = GREATEST(
                1, (p.num * s.n + {PSI_BUCKETS - 1}) // {PSI_BUCKETS})
        ), bkt AS (
            SELECT CAST((SELECT count(*) FROM cuts c WHERE ev.value > c.cut)
                        AS INT) AS bucket,
                   CASE WHEN ev.ts_us <= med.m THEN 1 ELSE 0 END AS is_first
            FROM ev, med
        ), counts AS (
            SELECT bucket,
                   CAST(sum(is_first) AS BIGINT) AS c_first,
                   CAST(sum(1 - is_first) AS BIGINT) AS c_second
            FROM bkt GROUP BY bucket
        ), t AS (
            SELECT sum(c_first) AS nf, sum(c_second) AS ns FROM counts
        ), terms AS (
            SELECT bucket, c_first, c_second,
                   {X.pround_sql(
                       "((CAST(c_second AS DOUBLE) + 1.0)"
                       f" / (CAST(t.ns AS DOUBLE) + {float(PSI_BUCKETS)!r})"
                       " - (CAST(c_first AS DOUBLE) + 1.0)"
                       f" / (CAST(t.nf AS DOUBLE) + {float(PSI_BUCKETS)!r}))"
                       " * ln(((CAST(c_second AS DOUBLE) + 1.0)"
                       f" / (CAST(t.ns AS DOUBLE) + {float(PSI_BUCKETS)!r}))"
                       " / ((CAST(c_first AS DOUBLE) + 1.0)"
                       f" / (CAST(t.nf AS DOUBLE) + {float(PSI_BUCKETS)!r})))",
                       8)} AS psi_term
            FROM counts, t
        ), tt AS (
            SELECT CAST(sum(CAST(floor(psi_term * 1e8 + 0.5) AS BIGINT))
                        AS BIGINT) AS s
            FROM terms
        )
        SELECT bucket, c_first, c_second, psi_term,
               {X.pround_sql("CAST(tt.s AS DOUBLE) / 1e8", 6)} AS psi_total
        FROM terms, tt
    """,
    "lineitem_key_skew_report": f"""
        WITH freq AS (
            SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY 1
        ), s AS (
            SELECT c, row_number() OVER (ORDER BY c) AS rn,
                   count(*) OVER () AS n
            FROM freq
        ), med AS (
            SELECT CAST(c AS DOUBLE) AS v FROM s
            WHERE rn = GREATEST(1, (n + 1) // 2)
        ), p99 AS (
            SELECT CAST(c AS DOUBLE) AS v FROM s
            WHERE rn = GREATEST(1, (99 * n + 99) // 100)
        ), top AS (
            SELECT k AS top_key, c AS top_count FROM freq
            ORDER BY c DESC, k LIMIT 1
        ), t AS (
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(c) AS BIGINT) AS n_rows
            FROM freq
        )
        SELECT t.n_keys, t.n_rows, top.top_key, top.top_count,
               {X.pround_sql(
                   "CAST(top.top_count AS DOUBLE)"
                   " / CAST(t.n_rows AS DOUBLE)", 8)} AS top_share,
               med.v AS p50_freq, p99.v AS p99_freq,
               {X.pround_sql("p99.v / med.v", 6)} AS skew_ratio
        FROM t, top, med, p99
    """,
    "value_ks_test": f"""
        WITH v AS (
            SELECT value, event_type FROM events
            WHERE value IS NOT NULL
              AND event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        ), per_v AS (
            SELECT value,
                   sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1
                       ELSE 0 END) AS ca,
                   sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1
                       ELSE 0 END) AS cb
            FROM v GROUP BY value
        ), t AS (
            SELECT sum(ca) AS na, sum(cb) AS nb FROM per_v
        ), c AS (
            SELECT value,
                   CAST(sum(ca) OVER (ORDER BY value) AS BIGINT) AS cuma,
                   CAST(sum(cb) OVER (ORDER BY value) AS BIGINT) AS cumb
            FROM per_v
        ), g AS (
            SELECT value,
                   abs(CAST(cuma AS DOUBLE) / CAST(t.na AS DOUBLE)
                       - CAST(cumb AS DOUBLE) / CAST(t.nb AS DOUBLE)) AS gap,
                   t.na AS na, t.nb AS nb
            FROM c, t
        ), p AS (
            SELECT max(gap) AS ks FROM g
        )
        SELECT CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b,
               min(p.ks) AS ks_stat, min(value) AS at_value
        FROM g, p WHERE g.gap = p.ks
    """,
    "orders_column_profile": " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS DOUBLE) AS min_v,
               CAST(max({c}) AS DOUBLE) AS max_v
        FROM (SELECT *, epoch_us(o_orderdate) AS o_orderdate_us FROM orders)
        """
        for c in _PROFILE_COLS
    ),
    "value_time_trend": f"""
        WITH a AS (
            SELECT min(epoch_us(ts)) AS min_us FROM events
            WHERE value IS NOT NULL
        ), b AS (
            SELECT event_type,
                   (epoch_us(ts) - a.min_us) // 1000000 AS x,
                   CAST(floor(value * {_TREND_VAL_SCALE} + 0.5) AS BIGINT) AS y
            FROM events, a WHERE value IS NOT NULL
        ), m AS (
            SELECT event_type,
                   CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CAST(x AS {X.DEC_SQL})) AS DOUBLE) AS sx,
                   CAST(sum(CAST(y AS {X.DEC_SQL})) AS DOUBLE) AS sy,
                   CAST(sum(CAST(x * y AS {X.DEC_SQL})) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(x * x AS {X.DEC_SQL})) AS DOUBLE) AS sxx
            FROM b GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               {X.pround_sql(
                   "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
                   f" * 86400.0 / {float(_TREND_VAL_SCALE)!r}", 8)}
                   AS slope_per_day
        FROM m
    """,
    "value_percentile_rank": """
        WITH v AS (
            SELECT event_id, value FROM events WHERE value IS NOT NULL
        ), r AS (
            SELECT event_id, value,
                   row_number() OVER (ORDER BY value, event_id) AS rn,
                   count(*) OVER () AS n
            FROM v
        )
        SELECT event_id, value,
               CAST(rn - 1 AS DOUBLE) / CAST(GREATEST(n - 1, 1) AS DOUBLE)
                   AS pct
        FROM r
    """,
    "benford_order_totals": f"""
        WITH d AS (
            SELECT CAST(substring(CAST(
                       CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                            AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders WHERE o_totalprice > 0
        ), c AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1
        ), t AS (
            SELECT sum(n_obs) AS n FROM c
        )
        SELECT digit, n_obs,
               {X.pround_sql(
                   "CAST(n_obs AS DOUBLE) / CAST(t.n AS DOUBLE)", 6)} AS share,
               {X.pround_sql(
                   "ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)",
                   6)} AS benford_p
        FROM c, t
    """,
    "customer_spend_gini": f"""
        WITH spend AS (
            SELECT c.c_custkey,
                   CAST(coalesce(
                       sum(CAST(o.o_totalprice AS DECIMAL(12,2))) * 100, 0
                   ) AS BIGINT) AS cents
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        ), r AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents, c_custkey) AS rn,
                   count(*) OVER () AS n
            FROM spend
        ), agg AS (
            SELECT CAST(max(n) AS BIGINT) AS n_customers,
                   CAST(sum(cents) AS BIGINT) AS total_cents,
                   sum(CAST(2 * rn - max_n - 1 AS HUGEINT) * cents) AS num
            FROM (SELECT cents, rn, n, max(n) OVER () AS max_n FROM r)
        )
        SELECT n_customers, total_cents,
               CASE WHEN total_cents > 0 THEN {X.pround_sql(
                   "CAST(num AS DOUBLE) / (CAST(n_customers AS DOUBLE)"
                   " * CAST(total_cents AS DOUBLE))", 6)}
               END AS gini
        FROM agg
    """,
    "exact_price_quantiles": """
        WITH v AS (
            SELECT l_extendedprice AS value FROM lineitem
            WHERE l_extendedprice IS NOT NULL
        ),
        s AS (
            SELECT value, row_number() OVER (ORDER BY value) AS rn,
                   count(*) OVER () AS n
            FROM v
        ),
        p(pct, num, den) AS (
            VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
                   ('p90', 9, 10), ('p99', 99, 100)
        )
        SELECT p.pct AS pct,
               CAST(GREATEST(1, (p.num * s.n + p.den - 1) // p.den) AS BIGINT) AS k,
               s.value AS value
        FROM p JOIN s ON s.rn = GREATEST(1, (p.num * s.n + p.den - 1) // p.den)
    """,
    "volume_shipping_pairs": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {_PR_REV} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
    """,
    "nation_market_share": f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               {X.pround_sql(
                   f"CAST(sum(CASE WHEN sn.n_name = 'NATION_8' THEN {X.DISC_PRICE_SQL} "
                   f"ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) "
                   f"/ CAST(sum({X.DISC_PRICE_SQL}) AS DOUBLE)", 4)} AS mkt_share
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region    ON cn.n_regionkey = r_regionkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY 1
    """,
    "product_type_profit": f"""
        SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS l_year,
               {_PR_REV} AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
    """,
    "important_parts_value": f"""
        WITH per_part AS (
            SELECT l_partkey,
                   sum(CAST(CAST({X.DISC_PRICE_SQL} AS DOUBLE) AS {X.DEC_SQL}))
                       AS part_value_dec
            FROM lineitem GROUP BY l_partkey
        ), total AS (
            SELECT sum(CAST(CAST({X.DISC_PRICE_SQL} AS DOUBLE) AS {X.DEC_SQL}))
                       AS total_dec
            FROM lineitem
        )
        SELECT l_partkey,
               {X.pround_sql('CAST(part_value_dec AS DOUBLE)')} AS part_value
        FROM per_part, total
        WHERE part_value_dec > total_dec * CAST(0.0008 AS DECIMAL(6,4))
    """,
    "top_revenue_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey,
                   sum(CAST(CAST({X.DISC_PRICE_SQL} AS DOUBLE) AS {X.DEC_SQL}))
                       AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               {X.pround_sql('CAST(rev_dec AS DOUBLE)')} AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
    """,
    "brand_supplier_counts": """
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        GROUP BY p_brand, p_type, p_size
    """,
    "small_qty_avg_revenue": f"""
        WITH avg_qty AS (
            SELECT l_partkey AS a_partkey,
                   CAST(sum(CAST(l_quantity AS {X.DEC_SQL})) AS DOUBLE)
                       / count(l_quantity) AS avg_q
            FROM lineitem GROUP BY l_partkey
        )
        SELECT {X.dsum_sql('l_extendedprice')} AS small_qty_revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN avg_qty ON l_partkey = a_partkey
        WHERE p_brand = 'Brand#13' AND l_quantity < 0.5 * avg_q
    """,
    "large_volume_orders": f"""
        WITH big AS (
            SELECT l_orderkey,
                   sum(CAST(CAST(l_quantity AS DOUBLE) AS {X.DEC_SQL})) AS qty_dec
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(CAST(l_quantity AS DOUBLE) AS {X.DEC_SQL})) > 250
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               {X.pround_sql('CAST(qty_dec AS DOUBLE)')} AS total_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    "idle_rich_customers": f"""
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS numcust,
               {X.dsum_sql('c_acctbal')} AS totacctbal
        FROM customer
        WHERE c_acctbal > (
                SELECT CAST(sum(CAST(c_acctbal AS {X.DEC_SQL})) AS DOUBLE)
                       / count(c_acctbal)
                FROM customer WHERE c_acctbal > 0)
          AND c_custkey NOT IN (
              SELECT o_custkey FROM orders
              WHERE o_orderdate >= TIMESTAMP '2000-08-01')
        GROUP BY c_nationkey
    """,
    "forecast_revenue_change": f"""
        SELECT {X.pround_sql(
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)")} AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN CAST(0.03 AS DECIMAL(4,2))
                                                   AND CAST(0.07 AS DECIMAL(4,2))
          AND l_quantity < 24
    """,
    "customer_order_distribution": """
        WITH c_orders AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM c_orders GROUP BY c_count
    """,
    "promotable_part_suppliers": f"""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            GROUP BY l_suppkey, l_partkey
            HAVING sum(CAST(CAST(l_quantity AS DOUBLE) AS {X.DEC_SQL})) > 50)
    """,
    "waiting_suppliers": """
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM lineitem l1
        JOIN orders   ON o_orderkey = l1.l_orderkey
        JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R')
        GROUP BY s_name
    """,
    "copurchase_pairs": """
        WITH p AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS support
        FROM p a
        JOIN p b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    """,
    "price_quantity_corr": f"""
        WITH m AS (
            SELECT l_returnflag,
                   CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CAST(l_extendedprice AS {X.DEC_SQL}))
                        AS DOUBLE) AS sx,
                   CAST(sum(CAST(l_quantity AS {X.DEC_SQL}))
                        AS DOUBLE) AS sy,
                   CAST(sum(CAST(l_extendedprice * l_quantity
                        AS {X.DEC_SQL})) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(l_extendedprice * l_extendedprice
                        AS {X.DEC_SQL})) AS DOUBLE) AS sxx,
                   CAST(sum(CAST(l_quantity * l_quantity
                        AS {X.DEC_SQL})) AS DOUBLE) AS syy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               {X.pround_sql(
                   "(n * sxy - sx * sy) /"
                   " sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)}
                   AS corr_price_qty,
               {X.pround_sql("sxy / n - (sx / n) * (sy / n)", 4)}
                   AS covar_pop
        FROM m
    """,
    "association_rules": f"""
        WITH p AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(count(*) AS BIGINT) AS support
            FROM p a
            JOIN p b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        ), directed AS (
            SELECT part_a AS antecedent, part_b AS consequent, support
            FROM pairs
            UNION ALL
            SELECT part_b AS antecedent, part_a AS consequent, support
            FROM pairs
        ), item AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp_item
            FROM p GROUP BY l_partkey
        ), total AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM p
        )
        SELECT d.antecedent, d.consequent, d.support,
               {X.pround_sql("d.support * 1.0 / sa.supp_item", 6)}
                   AS confidence,
               {X.pround_sql(
                   "t.n_orders * d.support * 1.0 /"
                   " (sa.supp_item * sb.supp_item)", 6)} AS lift
        FROM directed d
        JOIN item sa ON sa.l_partkey = d.antecedent
        JOIN item sb ON sb.l_partkey = d.consequent
        CROSS JOIN total t
    """,
    "pareto_parts_skyline": """
        SELECT a.p_brand, a.p_partkey, a.p_retailprice, a.p_size
        FROM part a
        WHERE NOT EXISTS (
            SELECT 1 FROM part b
            WHERE b.p_brand = a.p_brand
              AND b.p_retailprice <= a.p_retailprice
              AND b.p_size >= a.p_size
              AND (b.p_retailprice < a.p_retailprice
                   OR b.p_size > a.p_size)
        )
    """,
}
