"""Classic OLAP rollups over the TPC-H-shaped tables — the analytics
half of the engine beside validation (the task's tables `lineitem
orders customer supplier nation region` are the canonical star
schema; a reference user's daily reporting queries must run here
too).

Money math is ALL-INTEGER internally: a double sum at ~10^8 scale
carries addition-order error bigger than the round-6 tick (documented
in q117's sibling note), so prices/discounts/taxes become exact int64
cents / basis units first —
    disc_price_e4 = price_cents * (100 - disc_cents)       (1e-4 units)
    charge_e6     = disc_price_e4 * (100 + tax_cents)      (1e-6 units)
sums stay exact (suite-scale bound ~1e15 « 2^63), and only the final
display division produces a double (identical in both engines, then
round-6). Sort keys for top-k are the exact integers, never doubles.

Plans: star joins leave dimension sides broadcast-able (Catalyst/AQE
picks broadcast under threshold — at 10^12-row fact scale the big
dims degrade to shuffle joins on the same expression); aggregates are
map-side partial; top-k is orderBy().limit() = TakeOrderedAndProject
(per-task heaps, no global sort).

Reference seed: gookit/validate has no aggregation surface at all —
this is the dataset-level extension (SURVEY.md §2.9) applied to the
star schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _cents(col: str) -> Column:
    # round(x*100) is half-up on positives in both engines; 2-dec
    # source doubles land >1e-10 from tie boundaries, so the rounds
    # agree; try_cast keeps a malformed row a NULL, never a job abort
    return F.round(F.col(col) * 100).try_cast("long")


def pricing_summary(lineitem: DataFrame, *, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: per (returnflag, linestatus) pricing rollup of
    everything shipped on or before ``cutoff``. One map-side-partial
    aggregate; NULL measures drop from their sums but count(*) counts
    the row (same in the SQL replay — stated, not silent)."""
    li = lineitem.filter(
        F.col("l_shipdate").try_cast("timestamp")
        <= F.to_timestamp(F.lit(cutoff))
    )
    qty_c = _cents("l_quantity")
    price_c = _cents("l_extendedprice")
    disc_c = _cents("l_discount")
    tax_c = _cents("l_tax")
    disc_price_e4 = price_c * (F.lit(100) - disc_c)
    charge_e6 = disc_price_e4 * (F.lit(100) + tax_c)
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty_c).alias("_sq"),
        F.sum(price_c).alias("_sp"),
        F.sum(disc_price_e4).alias("_sdp"),
        F.sum(charge_e6).alias("_sc"),
        F.sum(disc_c).alias("_sd"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.round(d("_sq") / 100, 6).alias("sum_qty"),
        F.round(d("_sp") / 100, 6).alias("sum_base_price"),
        F.round(d("_sdp") / 10000, 6).alias("sum_disc_price"),
        F.round(d("_sc") / 1000000, 6).alias("sum_charge"),
        F.round(d("_sq") / (F.lit(100) * F.col("n")), 6).alias("avg_qty"),
        F.round(d("_sp") / (F.lit(100) * F.col("n")), 6).alias("avg_price"),
        F.round(d("_sd") / (F.lit(100) * F.col("n")), 6).alias("avg_disc"),
        "n",
    )


def top_revenue_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    *,
    segment: str = "BUILDING",
    date: str = "1998-01-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top-k open orders by revenue for one market
    segment (orders placed before ``date``, lines shipped after it).
    The top-k ORDERS BY THE EXACT INT64 revenue (1e-4 units) with the
    order key as tiebreak — a double sort key could flip near-ties
    across engines; the display double is derived after the cut."""
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.filter(
        F.col("o_orderdate").try_cast("timestamp") < F.to_timestamp(F.lit(date))
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = lineitem.filter(
        F.col("l_shipdate").try_cast("timestamp") > F.to_timestamp(F.lit(date))
    ).select(
        "l_orderkey",
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")))
        .alias("_rev_e4"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    g = j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum("_rev_e4").alias("_rev")
    )
    return (
        g.orderBy(F.col("_rev").desc(), F.col("o_orderkey").asc())
        .limit(k)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.round(F.col("_rev").cast("double") / 10000, 6).alias("revenue"),
        )
    )


def local_supplier_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation within one region where the
    lineitem's supplier and the order's customer share the nation
    (the "local supplier" condition). Five-way star join — the three
    true dimensions (supplier, nation, region) stay broadcast-sized
    at any fact scale; customer/orders degrade to shuffle equi-joins
    on the same expression when they outgrow the threshold."""
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    n = nation.join(
        F.broadcast(r), nation["n_regionkey"] == r["r_regionkey"]
    ).select("n_nationkey", "n_name")
    s = supplier.join(
        F.broadcast(n), supplier["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey", "s_nationkey", "n_name")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")))
        .alias("_rev_e4"),
    )
    j = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum("_rev_e4").alias("_rev"))
        .select(
            "n_name",
            F.round(F.col("_rev").cast("double") / 10000, 6).alias("revenue"),
        )
    )


def order_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    start: str = "1997-07-01",
    end: str = "1997-10-01",
) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders placed in one
    quarter that have at least one line shipped AFTER the order date
    (the schema here has no commit/receipt dates, so "late-shipping
    line exists" is the adapted existence predicate — stated, not
    silent). The EXISTS is a LEFT SEMI join: the fact side is never
    widened, duplicates never multiply the count, and the join carries
    a compound condition (key equality + cross-table inequality) that
    Catalyst executes as a shuffled semi join with the inequality as a
    post-join residual — no cartesian anywhere."""
    o = orders.filter(
        (F.col("o_orderdate").try_cast("timestamp")
         >= F.to_timestamp(F.lit(start)))
        & (F.col("o_orderdate").try_cast("timestamp")
           < F.to_timestamp(F.lit(end)))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_shipdate")
    sem = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"].try_cast("timestamp")
           > o["o_orderdate"].try_cast("timestamp")),
        "left_semi",
    )
    return (
        sem.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


def customer_order_distribution(
    customer: DataFrame,
    orders: DataFrame,
    *,
    exclude_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many
    (non-excluded) orders they placed, INCLUDING the zero-order
    customers — the left outer join is the whole point (an inner join
    silently drops the c_count=0 bucket, the largest one). count() is
    over the order key so NULL (no match) rows count 0. Two shuffles
    by construction (custkey join+agg share one exchange; the second
    groupBy is on the derived count)."""
    o = orders.filter(F.col("o_orderpriority") != exclude_priority).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    )


def idle_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    *,
    since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 shape: per-nation count + balance of customers whose
    account balance beats the global positive-balance average and who
    placed NO order since ``since`` (the churned-capital report). The
    global average is a one-row aggregate cross-joined back (broadcast
    NLJ of a single row — free at any scale); the comparison is
    INTEGER CROSS-MULTIPLICATION (bal_cents * n_pos > sum_pos_cents),
    so no float ever decides membership (working-notes rule). "No
    recent order" is a LEFT ANTI join on custkey with the date filter
    pushed into the orders SCAN (filtering after the join would keep
    the full fact table in the exchange). Money stays int64 cents
    until display."""
    bal_c = _cents("c_acctbal")
    c = customer.select("c_custkey", "c_nationkey", bal_c.alias("_bal_c"))
    pos = c.filter(F.col("_bal_c") > 0).agg(
        F.sum("_bal_c").alias("_sum_pos"),
        F.count(F.lit(1)).cast("long").alias("_n_pos"),
    )
    rich = (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("_bal_c") * F.col("_n_pos") > F.col("_sum_pos"))
        .select("c_custkey", "c_nationkey", "_bal_c")
    )
    recent = orders.filter(
        F.col("o_orderdate").try_cast("timestamp")
        >= F.to_timestamp(F.lit(since))
    ).select("o_custkey")
    idle = rich.join(
        recent, rich["c_custkey"] == F.col("o_custkey"), "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.round(F.sum("_bal_c").cast("double") / 100, 6).alias("totacctbal"),
    )


def nation_volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    *,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    start: str = "1996-01-01",
    end: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — revenue per
    (supplier nation, customer nation, ship year) for the two flow
    directions between ``nation_a`` and ``nation_b``.

    Plan: nation is filtered to TWO rows before either join, so both
    nation joins broadcast for free; the disjunctive direction filter
    ((A,B) or (B,A)) runs AFTER both nation names are attached — on a
    fact row that already passed the per-side nation semi filter, so
    the surviving stream is the union of both directions only. The
    year is extracted once into the aggregate key (YEAR over the
    try_cast timestamp is identical in DuckDB's year()).
    """
    n2 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        "n_nationkey", "n_name"
    )
    s = supplier.join(
        F.broadcast(n2), supplier["s_nationkey"] == n2["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = customer.join(
        F.broadcast(n2), customer["c_nationkey"] == n2["n_nationkey"]
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    ts = F.col("l_shipdate").try_cast("timestamp")
    li = lineitem.filter(
        (ts >= F.to_timestamp(F.lit(start))) & (ts < F.to_timestamp(F.lit(end)))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year(ts).alias("l_year"),
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")))
        .alias("_rev_e4"),
    )
    j = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == nation_a)
             & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b)
               & (F.col("cust_nation") == nation_a))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("_rev_e4").alias("_rev"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            F.round(F.col("_rev").cast("double") / 10000, 6).alias("revenue"),
        )
    )


def returned_item_customers(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    *,
    start: str = "1997-01-01",
    end: str = "1997-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: the k customers who returned the most revenue
    (returnflag = 'R') on orders placed in one quarter — the "who is
    sending product back" report.

    Plan: orders carries the date filter into its scan; the customer
    and nation dimensions broadcast; the k-cut orders by the EXACT
    int64 revenue with custkey tiebreak (TakeOrderedAndProject — a
    double sort key could flip near-ties between engines)."""
    ots = F.col("o_orderdate").try_cast("timestamp")
    o = orders.filter(
        (ots >= F.to_timestamp(F.lit(start))) & (ots < F.to_timestamp(F.lit(end)))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")))
        .alias("_rev_e4"),
    )
    cn = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    g = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.sum("_rev_e4").alias("_rev"))
    )
    return (
        g.join(F.broadcast(cn), g["o_custkey"] == cn["c_custkey"])
        .orderBy(F.col("_rev").desc(), F.col("c_custkey").asc())
        .limit(k)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
            F.round(F.col("_rev").cast("double") / 10000, 6).alias("revenue"),
        )
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    *,
    start: str = "1997-03-01",
    end: str = "1997-04-01",
) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue that came from
    promotional parts (p_type = 'PROMO' in this schema's single-word
    type domain). ONE broadcast join + one global conditional
    aggregate; the ratio is the only double and is derived from two
    exact int64 sums, so round-6 is engine-stable."""
    ts = F.col("l_shipdate").try_cast("timestamp")
    li = lineitem.filter(
        (ts >= F.to_timestamp(F.lit(start))) & (ts < F.to_timestamp(F.lit(end)))
    ).select(
        "l_partkey",
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")))
        .alias("_rev_e4"),
    )
    p = part.select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    g = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("_rev_e4"))
              .otherwise(F.lit(0))).alias("_promo"),
        F.sum("_rev_e4").alias("_total"),
    )
    return g.select(
        F.round(F.col("_promo").cast("double") / 10000, 6).alias("promo_revenue"),
        F.round(F.col("_total").cast("double") / 10000, 6).alias("total_revenue"),
        F.round(
            F.lit(100.0) * F.col("_promo").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("promo_share_pct"),
    )


def top_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    *,
    start: str = "1997-01-01",
    end: str = "1997-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals
    the GLOBAL maximum — ties all surface (the reference query's view
    + subquery equality, not a LIMIT 1 that would break ties
    arbitrarily).

    Plan: one groupBy(suppkey) aggregate, then the one-row global max
    re-aggregated from it and cross-joined back (broadcast NLJ of a
    single row — free at any scale); membership compares the two EXACT
    int64 revenues, no float ever decides the winner."""
    ts = F.col("l_shipdate").try_cast("timestamp")
    li = lineitem.filter(
        (ts >= F.to_timestamp(F.lit(start))) & (ts < F.to_timestamp(F.lit(end)))
    ).select(
        "l_suppkey",
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")))
        .alias("_rev_e4"),
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum("_rev_e4").alias("_rev"))
    mx = per_supp.agg(F.max("_rev").alias("_max_rev"))
    win = per_supp.crossJoin(F.broadcast(mx)).filter(
        F.col("_rev") == F.col("_max_rev")
    )
    s = supplier.select("s_suppkey", "s_name")
    return (
        win.join(F.broadcast(s), win["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev").cast("double") / 10000, 6)
            .alias("total_revenue"),
        )
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    *,
    brand: str = "Brand#1",
    max_size: int = 20,
) -> DataFrame:
    """TPC-H Q17 shape: yearly-averaged revenue lost to small orders —
    lines of one brand's small parts whose quantity is below 20% of
    that PART's average quantity (the correlated scalar subquery).

    Plan: the brand's parts are a broadcast-sized dimension; the
    per-part average is a groupBy over the SEMI-REDUCED lineitem
    (only the brand's partkeys aggregate), broadcast back onto the
    same reduced stream — the fact table is scanned once and shuffled
    once on partkey; both branches of the self-dependency share that
    reduction. The 20%-of-average test is INTEGER CROSS-MULTIPLIED
    (qty_c * 5 * n_lines < sum_qty_c), so no float decides membership;
    the /7.0 yearly display division is the only double."""
    p = part.filter(
        (F.col("p_brand") == brand) & (F.col("p_size") <= max_size)
    ).select("p_partkey")
    li = lineitem.select(
        "l_partkey",
        _cents("l_quantity").alias("_qty_c"),
        _cents("l_extendedprice").alias("_price_c"),
    ).join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).drop(
        "p_partkey"
    )
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_qty_c").alias("_sum_qty_c"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    j = li.join(F.broadcast(per_part), li["l_partkey"] == F.col("_pk")).filter(
        F.col("_qty_c") * F.lit(5) * F.col("_n") < F.col("_sum_qty_c")
    )
    return j.agg(
        F.round(F.sum("_price_c").cast("double") / 100 / 7.0, 6)
        .alias("avg_yearly"),
        F.count(F.lit(1)).cast("long").alias("n_small_lines"),
    )


def large_volume_customers(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    *,
    min_qty: float = 140.0,
) -> DataFrame:
    """TPC-H Q18 shape: customers who placed at least one order whose
    TOTAL line quantity exceeds ``min_qty`` — the HAVING-driven semi
    pattern (aggregate first, the qualifying keys then re-join).

    Plan: ONE groupBy(orderkey) over lineitem produces the per-order
    quantity; the qualifying orders are a tiny frame that broadcasts
    into both the orders and customer lookups — the fact table never
    joins unreduced. The HAVING threshold compares EXACT int64
    quantity-cents. Output ordered by the exact total then keys."""
    qty_c = _cents("l_quantity")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(qty_c).alias("_sum_qty_c")
    )
    big = per_order.filter(
        F.col("_sum_qty_c") > F.lit(int(round(min_qty * 100)))
    )
    o = orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = customer.select("c_custkey", "c_name")
    j = (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    )
    return j.select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
        F.round(F.col("_sum_qty_c").cast("double") / 100, 6).alias("total_qty"),
    )


def disjunctive_revenue(
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR'd brand/size/quantity
    bands — the disjunctive-predicate join. The three bands (fixed
    here, as in the reference query's parameter template):
      Brand#1, size 1-15,  qty  1-11
      Brand#2, size 10-30, qty 10-20
      Brand#3, size 20-50, qty 20-30

    Plan: the partkey equi-join is the join CONDITION (broadcast hash
    join); the OR-of-ANDs is a post-join residual — Catalyst cannot
    split a disjunction across sides, but each disjunct's single-side
    conjuncts (qty bands on the fact side, brand+size on the
    broadcast side) are pushed as a derived OR filter into each scan,
    so neither input streams rows that satisfy NO band."""
    qty = F.col("l_quantity")
    li = lineitem.filter(
        ((qty >= 1) & (qty <= 11))
        | ((qty >= 10) & (qty <= 20))
        | ((qty >= 20) & (qty <= 30))
    ).select(
        "l_partkey",
        "l_quantity",
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")))
        .alias("_rev_e4"),
    )
    sz = F.col("p_size")
    p = part.filter(
        ((F.col("p_brand") == "Brand#1") & (sz >= 1) & (sz <= 15))
        | ((F.col("p_brand") == "Brand#2") & (sz >= 10) & (sz <= 30))
        | ((F.col("p_brand") == "Brand#3") & (sz >= 20) & (sz <= 50))
    ).select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).filter(
        ((F.col("p_brand") == "Brand#1")
         & (F.col("p_size").between(1, 15))
         & (qty.between(1, 11)))
        | ((F.col("p_brand") == "Brand#2")
           & (F.col("p_size").between(10, 30))
           & (qty.between(10, 20)))
        | ((F.col("p_brand") == "Brand#3")
           & (F.col("p_size").between(20, 50))
           & (qty.between(20, 30)))
    )
    return j.agg(
        F.round(F.sum("_rev_e4").cast("double") / 10000, 6).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    *,
    late_days: int = 90,
    k: int = 25,
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who SOLELY kept a multi-supplier
    order waiting — an order has >1 distinct supplier, exactly ONE of
    them shipped late, and this is that supplier. "Late" is adapted to
    this schema (no commit/receipt dates): shipped more than
    ``late_days`` after the order date — stated, not silent.

    Plan: the reference's EXISTS(other supplier) AND NOT EXISTS(other
    LATE supplier) double correlated subquery is re-expressed as TWO
    STACKED AGGREGATES — per (orderkey, suppkey) fold line-level
    lateness, then per orderkey count suppliers and late suppliers and
    keep groups with (n_supp > 1, n_late = 1), whose single late
    supplier is max(CASE). No self-join of the fact table, no Expand
    (zero distinct aggregates — the first groupBy IS the distinct),
    two key-local shuffles total. The k-cut orders by count desc,
    suppkey asc (TakeOrderedAndProject)."""
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    o = orders.select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate").try_cast("timestamp")
            > F.col("o_orderdate").try_cast("timestamp")
            + F.expr(f"INTERVAL {int(late_days)} DAYS")
        ).cast("int").alias("_late"),
    )
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_supp_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("_n_supp"),
        F.sum("_supp_late").cast("long").alias("_n_late"),
        F.max(F.when(F.col("_supp_late") == 1, F.col("l_suppkey")))
        .alias("_late_supp"),
    )
    blamed = per_o.filter(
        (F.col("_n_supp") > 1) & (F.col("_n_late") == 1)
    )
    g = blamed.groupBy(F.col("_late_supp").alias("s_suppkey")).agg(
        F.count(F.lit(1)).cast("long").alias("numwait")
    )
    s = supplier.select(F.col("s_suppkey").alias("_sk"), "s_name")
    return (
        g.join(F.broadcast(s), g["s_suppkey"] == F.col("_sk"))
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(k)
        .select("s_suppkey", "s_name", "numwait")
    )


def forecast_revenue_change(
    lineitem: DataFrame,
    *,
    start: str = "1997-01-01",
    end: str = "1998-01-01",
    disc_lo: float = 0.02,
    disc_hi: float = 0.04,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: revenue that WOULD have been earned by dropping
    discounts in a band — a pure scan-filter-aggregate with zero joins,
    the canonical pushdown benchmark (every predicate must reach the
    parquet scan; the aggregate is one map-side-partial sum).

    All three band predicates are INTEGER comparisons on cents (a
    double BETWEEN on 0.02..0.04 invites representation-edge
    disagreements between engines); revenue = price_cents *
    disc_cents sums exactly in int64 (1e-4 units)."""
    ts = F.col("l_shipdate").try_cast("timestamp")
    d_c = _cents("l_discount")
    q_c = _cents("l_quantity")
    li = lineitem.filter(
        (ts >= F.to_timestamp(F.lit(start)))
        & (ts < F.to_timestamp(F.lit(end)))
        & (d_c >= int(round(disc_lo * 100)))
        & (d_c <= int(round(disc_hi * 100)))
        & (q_c < int(round(max_qty * 100)))
    )
    g = li.agg(
        F.sum(_cents("l_extendedprice") * d_c).alias("_rev_e4"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    return g.select(
        F.round(F.col("_rev_e4").cast("double") / 10000, 6).alias("revenue"),
        "n_lines",
    )


# ---------------------------------------------------------------------------
# Derived partsupp + the seven remaining TPC-H shapes (Q2, Q8, Q9, Q11,
# Q12-adapted, Q16, Q20) — completes the 22-query suite.
# ---------------------------------------------------------------------------


def derived_partsupp(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """Deterministic ``partsupp`` derived from ``part`` x ``supplier``
    by key arithmetic — the testdata star schema has no partsupp
    table, and TPC-H itself DERIVES ps_suppkey from ps_partkey (spec
    4.2.3's permutation), so an arithmetic derivation is in-kind, not
    a shortcut. Four supplier rows per part::

        stride          = n_supp DIV 4 + 1
        ps_suppkey      = (p_partkey + i * stride) % n_supp,  i in 0..3
        ps_availqty     = (p_partkey*7  + ps_suppkey*3)  % 9999  + 1
        ps_supplycost_c = (p_partkey*131 + ps_suppkey*17) % 90000 + 10000

    (cost in integer CENTS, 100.00..999.99). The four suppkeys are
    distinct whenever n_supp >= 8 (i*stride spans < n for i <= 3).
    All-integer so the DuckDB oracle replays it bit-for-bit.

    Plan: map-only — a 4-way posexplode of ``part`` crossJoined with
    the BROADCAST 1-row supplier count (no driver collect, no
    shuffle); at 10^12-row fact scale partsupp stays dimension-sized
    (4x|part|) and rides broadcast joins like any other dim."""
    n = supplier.agg(F.count(F.lit(1)).cast("long").alias("_n_supp"))
    stride = F.expr("_n_supp DIV 4") + F.lit(1)
    pk = F.col("p_partkey").cast("long")
    sk = (pk + F.col("_i") * stride) % F.col("_n_supp")
    return (
        part.select("p_partkey")
        .crossJoin(F.broadcast(n))
        .select(
            "p_partkey",
            "_n_supp",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("_i"),
        )
        .select(
            pk.alias("ps_partkey"),
            sk.alias("ps_suppkey"),
            ((pk * 7 + sk * 3) % 9999 + 1).alias("ps_availqty"),
            ((pk * 131 + sk * 17) % 90000 + 10000).alias("ps_supplycost_c"),
        )
    )


def min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "EUROPE",
    p_type: str = "STANDARD",
    size_lo: int = 10,
    size_hi: int = 25,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q2 shape: for each part of a type/size band, the
    region's supplier(s) offering it at MINIMUM cost, richest first.

    The reference's correlated ``= (SELECT min(ps_supplycost) ...)``
    subquery is re-expressed as a groupBy(partkey).min over the
    ALREADY region-filtered partsupp, joined back on
    (partkey, cost) — both sides hash on ps_partkey, so AQE plans the
    min-frame side broadcast or co-partitioned with no extra
    exchange; no correlated re-scan per part. Ties (several suppliers
    at the min cost) all survive, as in the spec; the k-cut sort is a
    TOTAL order (acctbal desc, nation, name, partkey, suppkey) so
    top-k is deterministic for the oracle hash."""
    sup_r = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = derived_partsupp(part, supplier)
    eligible = ps.join(
        F.broadcast(sup_r),
        ps["ps_suppkey"] == sup_r["s_suppkey"],
    ).select("ps_partkey", "ps_suppkey", "ps_supplycost_c",
             "s_name", "s_acctbal", "n_name")
    min_cost = (
        eligible.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost_c").alias("_min_c"))
        .select(F.col("ps_partkey").alias("_mpk"), "_min_c")
    )
    p = part.filter(
        (F.col("p_type") == p_type)
        & (F.col("p_size") >= size_lo)
        & (F.col("p_size") <= size_hi)
    ).select(F.col("p_partkey").cast("long").alias("_pk"), "p_type")
    out = (
        eligible.join(
            min_cost,
            (F.col("ps_partkey") == F.col("_mpk"))
            & (F.col("ps_supplycost_c") == F.col("_min_c")),
        )
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("_pk"))
    )
    return (
        out.orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("ps_partkey").asc(),
            F.col("ps_suppkey").asc(),
        )
        .limit(k)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_type",
            F.round(F.col("ps_supplycost_c").cast("double") / 100, 6)
            .alias("supplycost"),
        )
    )


def national_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    p_type: str = "ECONOMY",
    region_name: str = "AMERICA",
    target_nation: str = "NATION_5",
    start: str = "1995-01-01",
    end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q8 shape: one supplier-nation's share of a region's
    yearly revenue in one part type. share = sum(vol | supp nation =
    target) / sum(vol), both EXACT int64 1e-4 sums; the single final
    double division is identical cross-engine, then round-6.

    Plan: the fact scans once; part / supplier->nation /
    customer->nation->region are all broadcast dims; one map-side
    partial aggregate on year. No conditional-aggregate Expand —
    the numerator is a CASE sum beside the denominator sum."""
    pt = part.filter(F.col("p_type") == p_type).select(
        F.col("p_partkey").alias("_pk")
    )
    sn = supplier.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("_sn"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select(F.col("s_suppkey").alias("_sk"), "_sn")
    cr = customer.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == region_name)),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select(F.col("n_nationkey").alias("_cnk"))
        ),
        F.col("c_nationkey") == F.col("_cnk"),
    ).select(F.col("c_custkey").alias("_ck"))
    ots = F.col("o_orderdate").try_cast("timestamp")
    o = orders.filter(
        (ots >= F.to_timestamp(F.lit(start))) & (ots < F.to_timestamp(F.lit(end)))
    ).select("o_orderkey", "o_custkey", F.year(ots).alias("o_year"))
    vol_e4 = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
    j = (
        lineitem.join(F.broadcast(pt), F.col("l_partkey") == F.col("_pk"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("_sk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cr), F.col("o_custkey") == F.col("_ck"))
        .select("o_year", vol_e4.alias("_v"), F.col("_sn"))
    )
    g = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("_sn") == target_nation, F.col("_v")).otherwise(F.lit(0)))
        .alias("_num"),
        F.sum("_v").alias("_den"),
    )
    return g.select(
        "o_year",
        F.round(F.col("_num").cast("double") / F.col("_den").cast("double"), 6)
        .alias("mkt_share"),
    ).orderBy("o_year")


def product_type_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    *,
    name_like: str = "bolt",
) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) on
    parts whose name contains a word — profit = disc revenue minus
    supply cost, BOTH in exact 1e-4 int64 units::

        disc_price_e4 = price_c * (100 - disc_c)
        cost_e4       = ps_supplycost_c * qty_c       (cents x cents)

    so the sum is exact and the final /1e4 double + round-6 is
    cross-engine identical.

    Plan: fact scans once; the name-filtered part, the derived
    partsupp (dimension-sized, see derived_partsupp) and
    supplier->nation are broadcast; orders joins on the order key for
    the year; one map-side partial aggregate on (nation, year)."""
    pn = part.filter(F.col("p_name").contains(name_like)).select(
        F.col("p_partkey").cast("long").alias("_pk")
    )
    ps = derived_partsupp(part, supplier).join(
        F.broadcast(pn), F.col("ps_partkey") == F.col("_pk")
    ).select("ps_partkey", "ps_suppkey", "ps_supplycost_c")
    sn = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select(F.col("s_suppkey").alias("_sk"), "n_name")
    o = orders.select(
        "o_orderkey",
        F.year(F.col("o_orderdate").try_cast("timestamp")).alias("o_year"),
    )
    amount_e4 = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount")) - (
        F.col("ps_supplycost_c") * _cents("l_quantity")
    )
    j = (
        lineitem.join(
            F.broadcast(ps),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("_sk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("n_name", "o_year", amount_e4.alias("_a"))
    )
    g = j.groupBy(F.col("n_name").alias("nation"), "o_year").agg(
        F.sum("_a").alias("_p")
    )
    return g.select(
        "nation",
        "o_year",
        F.round(F.col("_p").cast("double") / 10000, 6).alias("profit"),
    ).orderBy(F.col("nation").asc(), F.col("o_year").desc())


def important_stock(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "ASIA",
    fraction_num: int = 2,
    fraction_den: int = 1000,
) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value held by one region's
    suppliers exceeds a fraction of that region's TOTAL stock value
    (spec uses one nation; a region keeps the group non-degenerate on
    the small test scales — stated, not silent).

    value is exact int64 1e-2 units (cost_cents x availqty); the
    HAVING compares INTEGER cross-multiplications
    (value * den > num * total), never a double threshold — the
    round-2 rule: cross-engine SELECTION stays integer-only.

    Plan: partsupp is dimension-sized; the global total is a 1-row
    aggregate crossJoined back as a BROADCAST (no driver collect, no
    second scan of a big fact — partsupp is re-derived map-only)."""
    sup_r = supplier.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == region_name)),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select(F.col("s_suppkey").alias("_sk"))
    ps = derived_partsupp(part, supplier).join(
        F.broadcast(sup_r), F.col("ps_suppkey") == F.col("_sk")
    )
    val = ps.select(
        "ps_partkey",
        (F.col("ps_supplycost_c") * F.col("ps_availqty")).alias("_v"),
    )
    per_part = val.groupBy("ps_partkey").agg(F.sum("_v").alias("_pv"))
    total = val.agg(F.sum("_v").alias("_tv"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_pv") * fraction_den > F.lit(fraction_num) * F.col("_tv"))
        .select(
            "ps_partkey",
            F.round(F.col("_pv").cast("double") / 100, 6).alias("stock_value"),
        )
        .orderBy(F.col("stock_value").desc(), F.col("ps_partkey").asc())
    )


def late_priority_lines(
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    start: str = "1996-01-01",
    end: str = "1997-01-01",
    late_days: int = 60,
) -> DataFrame:
    """TPC-H Q12 shape, adapted: the schema has no
    commitdate/receiptdate/shipmode, so the cross-tab is lateness
    bucket (shipped more than ``late_days`` after the order date) x
    order priority class — stated, not silent. Same plan shape as the
    spec's: one fact-fact join on the order key, then conditional
    counts in a single map-side-partial aggregate (no Expand)."""
    sts = F.col("l_shipdate").try_cast("timestamp")
    li = lineitem.filter(
        (sts >= F.to_timestamp(F.lit(start))) & (sts < F.to_timestamp(F.lit(end)))
    ).select("l_orderkey", "l_shipdate")
    o = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    bucket = F.when(
        F.col("l_shipdate").try_cast("timestamp")
        > F.col("o_orderdate").try_cast("timestamp")
        + F.expr(f"INTERVAL {int(late_days)} DAYS"),
        F.lit("late"),
    ).otherwise(F.lit("ontime"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        j.select(bucket.alias("ship_bucket"), hi.alias("_hi"))
        .groupBy("ship_bucket")
        .agg(
            F.sum("_hi").alias("high_line_count"),
            F.sum(F.lit(1) - F.col("_hi")).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


def supplier_part_counts(
    part: DataFrame,
    supplier: DataFrame,
    *,
    exclude_brand: str = "Brand#5",
    exclude_type: str = "PROMO",
    sizes: tuple = (1, 4, 7, 10, 14, 19, 23, 45),
    min_acctbal: float = 1000.0,
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can furnish each
    (brand, type, size) — excluding one brand, one type, and
    "complaint" suppliers (adapted: balance below ``min_acctbal``;
    the schema has no s_comment — stated, not silent).

    The distinct count is TWO STACKED AGGREGATES — groupBy(brand,
    type, size, suppkey) then count — never a count_distinct beside
    another aggregate (the round-4 Expand gotcha); both shuffles are
    key-local and the first one IS the dedup."""
    p = part.filter(
        (F.col("p_brand") != exclude_brand)
        & (F.col("p_type") != exclude_type)
        & (F.col("p_size").isin(*[int(s) for s in sizes]))
    ).select(
        F.col("p_partkey").cast("long").alias("_pk"),
        "p_brand",
        "p_type",
        "p_size",
    )
    ok_sup = supplier.filter(F.col("s_acctbal") >= min_acctbal).select(
        F.col("s_suppkey").alias("_ok_sk")
    )
    ps = (
        derived_partsupp(part, supplier)
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("_pk"))
        .join(F.broadcast(ok_sup), F.col("ps_suppkey") == F.col("_ok_sk"), "left_semi")
    )
    per_supp = ps.groupBy("p_brand", "p_type", "p_size", "ps_suppkey").agg(
        F.lit(1).alias("_one")
    )
    return (
        per_supp.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


def promotion_stock_suppliers(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "EUROPE",
    name_prefix: str = "red",
    start: str = "1996-01-01",
    end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q20 shape: one region's suppliers holding EXCESS stock
    (availqty > half the year's shipped quantity) of a named part
    family (spec: one nation + 'forest%'; region + a color prefix
    here — stated, not silent).

    The spec's nested correlated ``> 0.5 * (SELECT sum(l_quantity)
    ...)`` is re-expressed: pre-aggregate lineitem once per
    (partkey, suppkey) — ONE key-local shuffle of the fact — then an
    INNER join to the (already name-filtered, dimension-sized)
    partsupp and an INTEGER comparison availqty*200 > sum_qty_c
    (availqty units vs quantity cents; x2 for the half). A part+supp
    pair with NO shipments is excess by definition in the spec's
    NOT-EXISTS reading — kept via a LEFT join with sum coalesced to
    0. Output dedups suppkeys through groupBy (not distinct beside
    an agg)."""
    pn = part.filter(F.col("p_name").startswith(name_prefix)).select(
        F.col("p_partkey").cast("long").alias("_pk")
    )
    ps = derived_partsupp(part, supplier).join(
        F.broadcast(pn), F.col("ps_partkey") == F.col("_pk")
    ).select("ps_partkey", "ps_suppkey", "ps_availqty")
    sts = F.col("l_shipdate").try_cast("timestamp")
    shipped = (
        lineitem.filter(
            (sts >= F.to_timestamp(F.lit(start)))
            & (sts < F.to_timestamp(F.lit(end)))
        )
        .groupBy(
            F.col("l_partkey").cast("long").alias("_lpk"),
            F.col("l_suppkey").cast("long").alias("_lsk"),
        )
        .agg(F.sum(_cents("l_quantity")).alias("_sq_c"))
    )
    excess = (
        ps.join(
            shipped,
            (F.col("ps_partkey") == F.col("_lpk"))
            & (F.col("ps_suppkey") == F.col("_lsk")),
            "left",
        )
        .filter(
            F.col("ps_availqty") * 200 > F.coalesce(F.col("_sq_c"), F.lit(0))
        )
        .groupBy("ps_suppkey")
        .agg(F.lit(1).alias("_one"))
    )
    sup_r = supplier.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == region_name)),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    return (
        excess.join(F.broadcast(sup_r), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


def basket_pairs(
    lineitem: DataFrame,
    *,
    basket_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 2,
    max_basket: int = 200,
    top_n: int = 100,
) -> DataFrame:
    """Market-basket association pairs — items co-ordered more than
    their individual popularity predicts (support / lift mining, the
    set-co-occurrence sibling of `textstats.collocations`' sequence
    bigrams): the cross-sell / co-retrieval signal over any
    (basket, item) relation.

    The q202/PMI exactness split: SELECTION is pure integer — pairs
    need ``c_ab >= min_support`` and positive lift via the
    cross-multiplication c_ab·N > c_a·c_b carried in decimal(38,0),
    and the top-N rank rides (c_ab DESC, item_a, item_b) — while the
    reported ``lift`` is display-only round-6 over those same exact
    integers.

    Scale shape: basket SIZES come from a plain count aggregate
    (bounded state — never a collect), oversized baskets (bot carts,
    catalog dumps) drop with their pair storm BEFORE any array
    exists, and the kept baskets' item arrays collect through
    ``dedup._two_phase_buckets`` — the (spark_partition_id, key)
    stage that bounds every aggregation buffer to task input even on
    a hot basket key (the round-4 LSH lesson, applied at birth).
    Pairs expand ROW-LOCALLY from each sorted array (q230 rule: no
    per-basket self-join); supports and N count the SAME capped
    universe (no lift bias from dropped baskets); the size filter and
    the membership join share one exchange (both keyed on the basket);
    the final cut is orderBy+limit = TakeOrderedAndProject.

    Output: (item_a, item_b, c_ab, c_a, c_b, n_baskets, lift).
    """
    from validate_spark.operators.dedup import _bucket_pairs, _two_phase_buckets

    bi = (
        lineitem.select(
            F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
        )
        .filter(F.col("_b").isNotNull() & F.col("_i").isNotNull())
        .distinct()
    )
    sizes = bi.groupBy("_b").agg(F.count(F.lit(1)).cast("long").alias("_sz"))
    kept = sizes.filter(F.col("_sz") <= max_basket).select("_b")
    bi_kept = bi.join(kept, "_b")
    n_b = kept.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    # multi-item baskets only (singletons yield no pairs), buffers
    # bounded by max_basket + 1 per task
    buckets = _two_phase_buckets(
        bi_kept, ["_b"], F.col("_i"), max_bucket=max_basket
    )
    item_pair = lambda x, y: F.struct(x.alias("a"), y.alias("b"))  # noqa: E731
    pairs = buckets.select(
        F.explode(_bucket_pairs(F.col("ms"), item_pair)).alias("_p")
    ).select(F.col("_p.a").alias("item_a"), F.col("_p.b").alias("item_b"))
    c_ab = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    ).filter(F.col("c_ab") >= min_support)
    supp = bi_kept.groupBy(F.col("_i").alias("_it")).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    joined = (
        c_ab.join(
            supp.select(F.col("_it").alias("item_a"), F.col("_c").alias("c_a")),
            "item_a",
        )
        .join(
            supp.select(F.col("_it").alias("item_b"), F.col("_c").alias("c_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(n_b))
        .filter(
            dec(F.col("c_ab")) * dec(F.col("n_baskets"))
            > dec(F.col("c_a")) * dec(F.col("c_b"))
        )
    )
    return (
        joined.select(
            "item_a",
            "item_b",
            "c_ab",
            "c_a",
            "c_b",
            "n_baskets",
            F.round(
                (dec(F.col("c_ab")) * dec(F.col("n_baskets"))).cast("double")
                / (dec(F.col("c_a")) * dec(F.col("c_b"))).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("c_ab").desc(), "item_a", "item_b")
        .limit(top_n)
    )
