"""Data-quality operators: single-pass column profiling and
deequ-style constraint validation.

Production context: every serious ingestion / training-data pipeline
gates its tables on profiles (null rates, cardinalities, ranges) and
declarative constraints (uniqueness, completeness, referential
integrity) before downstream consumption — AWS Deequ, Great
Expectations, dbt tests. The reference has no quality surface at all
(/root/reference/main.go is a straight-pipe CDC relay), so this is
engine-side infrastructure for the analytical/training surface,
designed around Spark's aggregation machinery:

- The profiler NEVER puts k countDistinct aggregates in one groupBy —
  that triggers Catalyst's distinct-rewrite Expand (k-way row
  multiplication through a PartialMerge; the 151 s pathology found by
  the round-3 scale sweep). Typed min/max/null stats come from ONE
  plain single-pass agg; per-column exact cardinalities come from a
  melt (k x N narrow row explosion) followed by ONE
  groupBy(column).agg(countDistinct(value)) — a single shuffle whose
  key space is k columns, each task pre-collapsing to its distinct
  (column, value) pairs map-side.
- Constraint checks are each a single aggregate or a key-distinct
  anti-join; results union into one tiny report frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_cdc_spark.io import load_table
from mongo_cdc_spark.operators import make_registry

QUERIES, ORACLE, query = make_registry()


_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
_STR_COLS = ("o_orderstatus", "o_orderpriority")


@query("quality_profile_orders", sql="""
    WITH melted AS (
        SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS v
        FROM orders
        UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR)
        FROM orders
        UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
    ), card AS (
        SELECT col, COUNT(*) - COUNT(v) AS null_count,
               COUNT(DISTINCT v) AS n_distinct
        FROM melted GROUP BY col
    ), typed AS (
        SELECT 'o_orderkey' AS col, ROUND(MIN(o_orderkey), 4) AS min_num,
               ROUND(MAX(o_orderkey), 4) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_custkey', ROUND(MIN(o_custkey), 4),
               ROUND(MAX(o_custkey), 4), NULL, NULL FROM orders
        UNION ALL
        SELECT 'o_totalprice', ROUND(MIN(o_totalprice), 4),
               ROUND(MAX(o_totalprice), 4), NULL, NULL FROM orders
        UNION ALL
        SELECT 'o_orderstatus', NULL, NULL, MIN(o_orderstatus),
               MAX(o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', NULL, NULL, MIN(o_orderpriority),
               MAX(o_orderpriority) FROM orders
    ), n AS (SELECT COUNT(*) AS n_rows FROM orders)
    SELECT c.col, n.n_rows, c.null_count, c.n_distinct,
           t.min_num, t.max_num, t.min_str, t.max_str
    FROM card c JOIN typed t USING (col) CROSS JOIN n
    ORDER BY c.col
""")
def quality_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass-per-concern column profiler over `orders` (the
    Deequ/Great-Expectations "analyze" primitive): per column —
    null count, EXACT distinct cardinality, typed min/max.

    Scale (see module docstring): pass 1 is one plain aggregation
    (min/max/null counters for every column at once — no distinct, no
    Expand); pass 2 melts to (column, value) and aggregates distincts
    with ONE shuffle keyed by column name. At 100 TB the melt is a
    narrow k-x projection whose shuffle carries only per-task distinct
    pairs; for ad-hoc profiling where exactness is negotiable, swap
    countDistinct for approx_count_distinct and pass 2 collapses to
    fixed-size HLL state per column (the Deequ default)."""
    orders = load_table(spark, sf_dir, "orders")

    melted = None
    for c in _NUM_COLS + _STR_COLS:
        part = orders.select(
            F.lit(c).alias("col"),
            F.col(c).cast("string").alias("v"))
        melted = part if melted is None else melted.unionByName(part)
    card = melted.groupBy("col").agg(
        (F.count(F.lit(1)) - F.count("v")).alias("null_count"),
        F.countDistinct("v").alias("n_distinct"))

    typed_rows = []
    for c in _NUM_COLS:
        typed_rows.append(orders.agg(
            F.lit(c).alias("col"),
            F.round(F.min(c).cast("double"), 4).alias("min_num"),
            F.round(F.max(c).cast("double"), 4).alias("max_num"),
            F.lit(None).cast("string").alias("min_str"),
            F.lit(None).cast("string").alias("max_str")))
    for c in _STR_COLS:
        typed_rows.append(orders.agg(
            F.lit(c).alias("col"),
            F.lit(None).cast("double").alias("min_num"),
            F.lit(None).cast("double").alias("max_num"),
            F.min(c).alias("min_str"),
            F.max(c).alias("max_str")))
    typed = typed_rows[0]
    for t in typed_rows[1:]:
        typed = typed.unionByName(t)

    n = orders.agg(F.count(F.lit(1)).alias("n_rows"))
    return (card.join(typed, "col").crossJoin(F.broadcast(n))
            .select("col", "n_rows", "null_count", "n_distinct",
                    "min_num", "max_num", "min_str", "max_str")
            .orderBy("col"))


@query("quality_constraint_checks", sql="""
    SELECT check_name, violations, violations = 0 AS passed FROM (
        SELECT 'orders_pk_unique' AS check_name,
               (SELECT COUNT(*) FROM (
                    SELECT o_orderkey FROM orders
                    GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS violations
        UNION ALL
        SELECT 'orders_custkey_complete',
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
        UNION ALL
        SELECT 'orders_fk_customer',
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem_fk_orders',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'lineitem_qty_in_1_50',
               (SELECT COUNT(*) FROM lineitem
                WHERE l_quantity < 1 OR l_quantity > 50)
        UNION ALL
        SELECT 'lineitem_price_positive',
               (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0)
    ) ORDER BY check_name
""")
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint-validation suite (the Deequ "verify"
    primitive): primary-key uniqueness, completeness, referential
    integrity (orders->customer, lineitem->orders), and domain range
    checks, reported as one (check, violations, passed) frame.

    Scale: uniqueness is a keyed agg (map-side partial); completeness
    and ranges are plain filtered counts pushed into the scan;
    referential integrity is a LEFT ANTI join on the key — Catalyst
    picks broadcast when the dimension's distinct key set is small and
    a co-partitioned shuffle otherwise, and AQE can convert at
    runtime. Each check stays an independent 1-row aggregate, so a
    100 TB run parallelizes checks across the cluster rather than
    fusing them into one monster plan."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def _one(name: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(F.lit(name).alias("check_name"),
                          F.col("violations"))

    pk_dupes = (orders.groupBy("o_orderkey")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .agg(F.count(F.lit(1)).alias("violations")))
    custkey_nulls = orders.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("violations"))
    fk_customer = (orders.join(customer,
                               orders.o_custkey == customer.c_custkey,
                               "left_anti")
                   .agg(F.count(F.lit(1)).alias("violations")))
    fk_orders = (lineitem.join(orders,
                               lineitem.l_orderkey == orders.o_orderkey,
                               "left_anti")
                 .agg(F.count(F.lit(1)).alias("violations")))
    qty_range = lineitem.agg(
        F.count(F.when((F.col("l_quantity") < 1)
                       | (F.col("l_quantity") > 50), 1)).alias("violations"))
    price_pos = lineitem.agg(
        F.count(F.when(F.col("l_extendedprice") <= 0, 1)).alias("violations"))

    report = (
        _one("orders_pk_unique", pk_dupes)
        .unionByName(_one("orders_custkey_complete", custkey_nulls))
        .unionByName(_one("orders_fk_customer", fk_customer))
        .unionByName(_one("lineitem_fk_orders", fk_orders))
        .unionByName(_one("lineitem_qty_in_1_50", qty_range))
        .unionByName(_one("lineitem_price_positive", price_pos)))
    return (report
            .select("check_name", "violations",
                    (F.col("violations") == 0).alias("passed"))
            .orderBy("check_name"))


@query("quality_reconcile_order_totals", sql="""
    WITH li AS (
        SELECT l_orderkey,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                   * (100 + CAST(ROUND(l_tax * 100) AS BIGINT)))
                   AS computed_u
        FROM lineitem GROUP BY l_orderkey
    ), per_order AS (
        SELECT o.o_orderstatus,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 10000
                 AS total_u,
               li.computed_u,
               ABS(CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 10000
                   - li.computed_u) AS adiff_u
        FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(CASE WHEN computed_u IS NULL THEN 1 END)
               AS n_no_lineitems,
           COUNT(CASE WHEN adiff_u * 100 <= total_u THEN 1 END)
               AS n_within_1pct,
           ROUND(CAST(SUM(adiff_u) AS DOUBLE) / 1e6
                 / COUNT(adiff_u), 2) AS avg_abs_diff,
           ROUND(CAST(MAX(adiff_u) AS DOUBLE) / 1e6, 2) AS max_abs_diff
    FROM per_order GROUP BY o_orderstatus ORDER BY o_orderstatus
""")
def quality_reconcile_order_totals(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit — the classic warehouse
    control total: recompute each order's charge from its line items
    (extendedprice x (1-discount) x (1+tax), the TPC-H o_totalprice
    definition) and reconcile against the stored header value,
    reporting per-status order counts, headers with no detail rows,
    within-1%-tolerance counts, and the abs-difference profile.

    Scale: ONE keyed aggregation over the detail table (map-side
    partial combine collapses each order's lines before the shuffle)
    + ONE key join against the header table — co-partitioned on the
    order key if both sides are bucketed, and the final per-status
    report is a 3-row aggregate. All money flows as EXACT integer
    1e-6-dollar units (price cents x 2-dp discount/tax hundredths),
    so the 1% tolerance is an integer compare and the avg/max
    differences are exact sums divided once — no double-summation
    order can move a 2-dp rounding."""
    orders = load_table(spark, sf_dir, "orders")
    li = (load_table(spark, sf_dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                     .cast("bigint")
                     * (100 - F.round(F.col("l_discount") * 100)
                        .cast("bigint"))
                     * (100 + F.round(F.col("l_tax") * 100)
                        .cast("bigint"))).alias("computed_u")))
    total_u = F.round(F.col("o_totalprice") * 100).cast("bigint") \
        * 10000
    per_order = (orders
                 .join(li, orders.o_orderkey == li.l_orderkey, "left")
                 .select("o_orderstatus", total_u.alias("total_u"),
                         "computed_u",
                         F.abs(total_u - F.col("computed_u"))
                         .alias("adiff_u")))
    return (per_order.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.count(F.when(F.col("computed_u").isNull(), 1))
                  .alias("n_no_lineitems"),
                 F.count(F.when(F.col("adiff_u") * 100
                                <= F.col("total_u"), 1))
                  .alias("n_within_1pct"),
                 F.round(F.sum("adiff_u").cast("double") / 1e6
                         / F.count("adiff_u"), 2).alias("avg_abs_diff"),
                 F.round(F.max("adiff_u").cast("double") / 1e6, 2)
                 .alias("max_abs_diff"))
            .orderBy("o_orderstatus"))


@query("stats_mad_outliers", sql="""
    WITH med AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type,
               ROUND(quantile_cont(adev, 0.5), 6) AS mad
        FROM dev GROUP BY event_type
    ), thr AS (
        SELECT d.event_type, d.value, d.med, a.mad,
               d.med - 3 * 1.4826 * a.mad AS lo,
               d.med + 3 * 1.4826 * a.mad AS hi
        FROM dev d JOIN mad a USING (event_type)
    )
    SELECT event_type, COUNT(*) AS n,
           MIN(med) AS med, MIN(mad) AS mad,
           ROUND(MIN(lo), 6) AS lo_thr, ROUND(MIN(hi), 6) AS hi_thr,
           COUNT(CASE WHEN value < lo THEN 1 END) AS n_out_low,
           COUNT(CASE WHEN value > hi THEN 1 END) AS n_out_high
    FROM thr GROUP BY event_type ORDER BY event_type
""")
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median /
    median-absolute-deviation fences (med ± 3 x 1.4826 x MAD — the
    MAD-consistency-scaled equivalent of ±3sigma that heavy tails and
    the outliers themselves cannot drag, unlike mean/stddev fences).

    Spark-first: the exact median is computed WITHOUT per-group
    in-memory state — a (event_type, value) window row_number over a
    sort-based exchange picks the middle element(s); sort spills,
    so group size never has to fit in an executor's memory (Spark's
    `percentile` aggregate, by contrast, buffers every value of a
    group in one ObjectHashAggregate node). Both median passes and
    the final fence count reuse the SAME event_type hash
    partitioning, so the three stages pay one data-sized exchange.
    Medians are rounded to 6 dp before deviations are taken, making
    the fences bit-identical across engines. At 100 TB with
    quantile-sketch tolerance, swap both passes to approx_percentile
    (mergeable KLL-style state, no sort) — the surrounding plan is
    unchanged.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("event_type", "value",
                                                    "event_id")

    def _median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        wn = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type", col,
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"))
        mid = ranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n") / 2) + 1))
        return (mid.groupBy("event_type")
                .agg(F.round(F.avg(col), 6).alias(out)))

    med = _median(ev, "value", "med")
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med"))))
    mad = _median(dev.select("event_type", "adev", "event_id"),
                  "adev", "mad")
    fenced = (dev.join(F.broadcast(mad), "event_type")
              .withColumn("lo", F.col("med") - 3 * 1.4826 * F.col("mad"))
              .withColumn("hi", F.col("med") + 3 * 1.4826 * F.col("mad")))
    return (fenced.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("med").alias("med"), F.min("mad").alias("mad"),
                 F.round(F.min("lo"), 6).alias("lo_thr"),
                 F.round(F.min("hi"), 6).alias("hi_thr"),
                 F.count(F.when(F.col("value") < F.col("lo"), 1))
                  .alias("n_out_low"),
                 F.count(F.when(F.col("value") > F.col("hi"), 1))
                  .alias("n_out_high"))
            .orderBy("event_type"))


# ----------------------------------------------------- distribution drift

DRIFT_SPLIT_DAY = 15  # Jan 1-15 = reference window, Jan 16+ = current


@query("quality_schema_drift", sql=f"""
    WITH tagged AS (
      SELECT CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-{DRIFT_SPLIT_DAY:02d}'
                  THEN 'ref' ELSE 'cur' END AS half,
             event_type, value
      FROM events
    ), per AS (
      SELECT half, event_type, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 / COUNT(*), 6) AS mean_v
      FROM tagged GROUP BY 1, 2
    ), tot AS (
      SELECT half, SUM(n) AS nt FROM per GROUP BY 1
    ), shares AS (
      SELECT p.event_type, p.half, p.n, p.n / t.nt AS share, p.mean_v
      FROM per p JOIN tot t ON t.half = p.half
    )
    SELECT r.event_type,
           r.n AS n_ref, c.n AS n_cur,
           ROUND(r.share, 6) AS share_ref,
           ROUND(c.share, 6) AS share_cur,
           ROUND((c.share - r.share) * LN(c.share / r.share), 6)
             AS psi_term,
           r.mean_v AS mean_ref, c.mean_v AS mean_cur,
           ROUND(c.mean_v - r.mean_v, 6) AS mean_shift
    FROM shares r JOIN shares c
      ON c.event_type = r.event_type
     AND r.half = 'ref' AND c.half = 'cur'
    ORDER BY r.event_type
""")
def quality_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between a reference window (first
    half of the month) and the current window: per-category share
    shift with the Population Stability Index contribution
    (psi_term = (p_cur - p_ref) * ln(p_cur / p_ref); the PSI is the
    sum over categories — >0.2 is the conventional 'investigate'
    bar) plus per-category mean shift of the value column. This is
    the standing data-quality gate every training-data refresh runs
    before a new crawl snapshot is admitted.

    Scale: the oracle states the semantics as a ref x cur self-join
    of per-window aggregates, but the engine runs ONE conditional
    aggregation pass — n_ref/n_cur/mean_ref/mean_cur as
    count/avg(CASE WHEN half ...) in a single map-side-combined
    groupBy over the raw data (one scan, one exchange on the
    category key) — plus a broadcast 1-row frame for the window
    totals. Categories absent from one window come out with
    null/zero columns and are filtered exactly like the oracle's
    inner join drops them; their infinite-PSI signal is the
    constraint-check operator's job, not a double's.

    Determinism: shares are exact-integer ratios; ln over identical
    doubles; 6-dp rounding at the compared surface."""
    ev = load_table(spark, sf_dir, "events")
    is_ref = (F.to_date("ts")
              <= F.lit(f"2024-01-{DRIFT_SPLIT_DAY:02d}").cast("date"))
    tagged = ev.select(
        F.when(is_ref, F.lit("ref")).otherwise(F.lit("cur"))
        .alias("half"), "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    ref_c = F.when(F.col("half") == "ref", cents)
    cur_c = F.when(F.col("half") == "cur", cents)
    # row counts via when(cond, 1) — robust to null values (COUNT(*)
    # semantics per window, matching the oracle's per-window GROUP BY)
    ref_1 = F.when(F.col("half") == "ref", F.lit(1))
    cur_1 = F.when(F.col("half") == "cur", F.lit(1))
    # exact-cents means: integer sum to the final grain, divide once
    per = (tagged.groupBy("event_type")
           .agg(F.count(ref_1).alias("n_ref"),
                F.count(cur_1).alias("n_cur"),
                F.round(F.sum(ref_c).cast("double") / 100.0
                        / F.count(ref_1), 6).alias("mean_ref"),
                F.round(F.sum(cur_c).cast("double") / 100.0
                        / F.count(cur_1), 6).alias("mean_cur")))
    tot = tagged.agg(
        F.count(ref_1).alias("nt_ref"), F.count(cur_1).alias("nt_cur"))
    sr = F.col("n_ref") / F.col("nt_ref")
    sc = F.col("n_cur") / F.col("nt_cur")
    return (per.crossJoin(F.broadcast(tot))
            .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
            .select("event_type", "n_ref", "n_cur",
                    F.round(sr, 6).alias("share_ref"),
                    F.round(sc, 6).alias("share_cur"),
                    F.round((sc - sr) * F.log(sc / sr), 6)
                    .alias("psi_term"),
                    "mean_ref", "mean_cur",
                    F.round(F.col("mean_cur") - F.col("mean_ref"), 6)
                    .alias("mean_shift"))
            .orderBy("event_type"))


# ------------------------------------------------------- Benford check


@query("quality_benford_digits", sql="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), cnt AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
    ), tot AS (SELECT SUM(n) AS t FROM cnt)
    SELECT digit, n,
           ROUND(n / (t * 1e0), 6) AS share,
           ROUND(LOG10(1 + 1e0 / digit), 6) AS benford_expected,
           ROUND(n / (t * 1e0) - LOG10(1 + 1e0 / digit), 6)
             AS deviation,
           ROUND(POWER(n / (t * 1e0) - LOG10(1 + 1e0 / digit), 2)
                 / LOG10(1 + 1e0 / digit) * t, 6) AS chi2_term
    FROM cnt CROSS JOIN tot ORDER BY digit
""")
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic data-quality check (synthetic or tampered monetary data
    drifts from the log10(1+1/d) digit curve). Reports per-digit
    observed share vs Benford expectation plus the chi-square
    contribution (sum the column for the test statistic, df=8).

    First-digit extraction goes through INTEGER STRING arithmetic
    (round(x*100) -> bigint -> leading char), never floor(x/10^
    floor(log10 x)) — log10 of exact powers of ten lands a hair
    under the integer in binary floating point, which would misbin
    every 1000.00 as digit 10. One map-side-combined count agg into
    a 9-row grid; the scan is the only data-sized work."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .cast("string"), 1, 1).cast("int")
    cnt = (o.select(digit.alias("digit"))
           .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = cnt.agg(F.sum("n").alias("t"))
    share = F.col("n") / F.col("t")
    exp = F.log10(1 + 1 / F.col("digit"))
    return (cnt.crossJoin(F.broadcast(tot))
            .select("digit", "n",
                    F.round(share, 6).alias("share"),
                    F.round(exp, 6).alias("benford_expected"),
                    F.round(share - exp, 6).alias("deviation"),
                    F.round(F.pow(share - exp, 2) / exp * F.col("t"), 6)
                    .alias("chi2_term"))
            .orderBy("digit"))


@query("stats_chi_square_independence", sql="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), grid AS (
      -- full seg x prio grid: structural-zero cells contribute E to
      -- the true statistic and must not be omitted (round-7 ADVICE
      -- fix; dense on this fixture, so values are unchanged here)
      SELECT s.seg, p.prio, COALESCE(o.n, 0) AS n
      FROM (SELECT DISTINCT seg FROM obs) s
      CROSS JOIN (SELECT DISTINCT prio FROM obs) p
      LEFT JOIN obs o ON o.seg = s.seg AND o.prio = p.prio
    ), m AS (
      SELECT seg, prio, n,
             SUM(n) OVER (PARTITION BY seg) AS row_tot,
             SUM(n) OVER (PARTITION BY prio) AS col_tot,
             SUM(n) OVER () AS grand
      FROM grid
    )
    SELECT CAST(MAX(grand) AS BIGINT) AS n,
           CAST((COUNT(DISTINCT seg) - 1)
                * (COUNT(DISTINCT prio) - 1) AS INT) AS dof,
           ROUND(SUM(POW(n - row_tot * col_tot / (grand * 1e0), 2)
                     / (row_tot * col_tot / (grand * 1e0))), 6)
             AS chi2,
           ROUND(SQRT(SUM(POW(n - row_tot * col_tot / (grand * 1e0), 2)
                          / (row_tot * col_tot / (grand * 1e0)))
                      / (MAX(grand)
                         * LEAST(COUNT(DISTINCT seg) - 1,
                                 COUNT(DISTINCT prio) - 1))), 6)
             AS cramers_v
    FROM m
""")
def stats_chi_square_independence(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer market
    segment and order priority, with Cramer's V effect size — the
    standard "is this categorical feature informative?" screen in
    feature-selection and experiment-analysis pipelines.

    Plan: one data-sized join (orders ⋈ customer on custkey —
    co-partitioned shuffle join at scale, broadcast at fixture size
    via AQE) feeding one partial-aggregatable count to the r x c
    contingency grid, which is completed to the FULL cross product of
    observed segments x priorities with n = 0 (structural-zero cells
    contribute their expected count E to the true statistic — the
    round-7 ADVICE fix; this fixture's grid is dense, so the values
    here are unchanged); everything after (marginals via windows, the
    chi-square sum) runs on <= r*c rows, independent of data volume.
    Expected counts stay exact integer-ratio doubles; 6-dp rounding
    absorbs merge-order ulps."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (o.join(c, o.o_custkey == c.c_custkey)
           .groupBy(F.col("c_mktsegment").alias("seg"),
                    F.col("o_orderpriority").alias("prio"))
           .agg(F.count(F.lit(1)).alias("n"))
           .persist())
    grid = (obs.select("seg").distinct()
            .crossJoin(F.broadcast(obs.select("prio").distinct()))
            .join(F.broadcast(obs), ["seg", "prio"], "left")
            .select("seg", "prio",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n")))
    from pyspark.sql import Window as W
    m = (grid
         .withColumn("row_tot", F.sum("n").over(W.partitionBy("seg")))
         .withColumn("col_tot", F.sum("n").over(W.partitionBy("prio")))
         .withColumn("grand", F.sum("n").over(
             W.partitionBy(F.lit(1)))))
    e = F.col("row_tot") * F.col("col_tot") / (F.col("grand") * F.lit(1.0))
    chi2 = F.sum(F.pow(F.col("n") - e, 2) / e)
    return (m.agg(
        F.max("grand").cast("bigint").alias("n"),
        ((F.countDistinct("seg") - 1)
         * (F.countDistinct("prio") - 1)).cast("int").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.sqrt(chi2 / (F.max("grand")
                               * F.least(F.countDistinct("seg") - 1,
                                         F.countDistinct("prio") - 1))),
                6).alias("cramers_v")))


@query("stats_jackknife_mean", sql="""
    WITH per AS (
      SELECT n.n_name, COUNT(*) AS n_i, SUM(c.c_acctbal) AS s_i
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    ), tot AS (
      SELECT SUM(n_i) AS n_all, SUM(s_i) AS s_all, COUNT(*) AS g
      FROM per
    )
    SELECT p.n_name,
           CAST(p.n_i AS BIGINT) AS n_excluded,
           ROUND((t.s_all - p.s_i) / (t.n_all - p.n_i), 6) AS loo_mean,
           ROUND(t.g * (t.s_all / t.n_all)
                 - (t.g - 1) * ((t.s_all - p.s_i) / (t.n_all - p.n_i)),
                 6) AS pseudo_value
    FROM per p CROSS JOIN tot t
    ORDER BY p.n_name
""")
def stats_jackknife_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife of mean customer account balance:
    for each nation, the mean with that nation held out, plus the
    Tukey pseudo-value (g*theta - (g-1)*theta_(-i)) whose spread
    estimates the statistic's variance. The grouped (delete-block)
    jackknife is the scale-sane variant: g leave-one-out estimates
    come from ONE grouped pass + algebra, never g re-scans.

    Plan: one partial-aggregatable shuffle to per-nation (n_i, s_i),
    then a broadcast of the 1-row grand total; (T - s_i)/(N - n_i)
    is pure arithmetic on g rows. At 100 TB the cost is identical to
    a single groupBy."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .groupBy("n_name")
           .agg(F.count(F.lit(1)).alias("n_i"),
                F.sum("c_acctbal").alias("s_i")))
    tot = per.agg(F.sum("n_i").alias("n_all"),
                  F.sum("s_i").alias("s_all"),
                  F.count(F.lit(1)).alias("g"))
    loo = (F.col("s_all") - F.col("s_i")) / (F.col("n_all") - F.col("n_i"))
    return (per.crossJoin(F.broadcast(tot))
            .select("n_name",
                    F.col("n_i").cast("bigint").alias("n_excluded"),
                    F.round(loo, 6).alias("loo_mean"),
                    F.round(F.col("g") * (F.col("s_all") / F.col("n_all"))
                            - (F.col("g") - 1) * loo, 6)
                    .alias("pseudo_value"))
            .orderBy("n_name"))


@query("ab_test_proportions", sql="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events
      GROUP BY 1, 2
    ), v AS (
      SELECT variant, COUNT(*) AS n, SUM(converted) AS conv
      FROM assigned GROUP BY 1
    ), wide AS (
      SELECT
        MAX(CASE WHEN variant = 'A' THEN n END) AS n_a,
        MAX(CASE WHEN variant = 'B' THEN n END) AS n_b,
        MAX(CASE WHEN variant = 'A' THEN conv END) AS conv_a,
        MAX(CASE WHEN variant = 'B' THEN conv END) AS conv_b
      FROM v
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(conv_a AS BIGINT) AS conv_a,
           CAST(conv_b AS BIGINT) AS conv_b,
           ROUND(conv_a / (n_a * 1e0), 6) AS rate_a,
           ROUND(conv_b / (n_b * 1e0), 6) AS rate_b,
           ROUND((conv_a / (n_a * 1e0) - conv_b / (n_b * 1e0))
                 / SQRT(((conv_a + conv_b) / ((n_a + n_b) * 1e0))
                        * (1 - (conv_a + conv_b) / ((n_a + n_b) * 1e0))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM wide
""")
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a DETERMINISTIC hash-based variant
    assignment (md5(user_id) first hex digit < '8' -> A) — exactly how
    production experiment frameworks bucket users (hash-mod, never
    RNG, so assignment is stable across sessions and replayable by
    the oracle). Metric: "heavy purchaser" — the user emitted >= 14
    purchase events (every fixture user has >= 1 of every type, so a
    presence metric would be degenerate at conversion = 1.0).

    Plan: one partial-aggregatable per-user shuffle (user grain),
    one tiny variant rollup, then scalar arithmetic on a 1-row
    frame — the pooled-variance z statistic. At 100 TB the user-grain
    agg is the only data-sized stage."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        "A").otherwise("B")
    assigned = (ev.groupBy("user_id", variant.alias("variant"))
                .agg(F.when(
                    F.sum(F.when(F.col("event_type") == "purchase", 1)
                          .otherwise(0)) >= 14, 1)
                     .otherwise(0).alias("converted")))
    v = (assigned.groupBy("variant")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("converted").alias("conv")))
    wide = v.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "A", F.col("conv")))
        .alias("conv_a"),
        F.max(F.when(F.col("variant") == "B", F.col("conv")))
        .alias("conv_b"))
    ra = F.col("conv_a") / (F.col("n_a") * F.lit(1.0))
    rb = F.col("conv_b") / (F.col("n_b") * F.lit(1.0))
    pp = ((F.col("conv_a") + F.col("conv_b"))
          / ((F.col("n_a") + F.col("n_b")) * F.lit(1.0)))
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round((ra - rb) / F.sqrt(pp * (1 - pp)
                                   * (F.lit(1.0) / F.col("n_a")
                                      + F.lit(1.0) / F.col("n_b"))), 6)
        .alias("z_score"))


@query("feature_winsorized_scale", sql="""
    WITH th AS (
      SELECT c_mktsegment,
             ROUND(quantile_cont(c_acctbal, 0.05), 4) AS p05,
             ROUND(quantile_cont(c_acctbal, 0.25), 4) AS p25,
             ROUND(quantile_cont(c_acctbal, 0.50), 4) AS p50,
             ROUND(quantile_cont(c_acctbal, 0.75), 4) AS p75,
             ROUND(quantile_cont(c_acctbal, 0.95), 4) AS p95
      FROM customer GROUP BY 1
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c.c_acctbal < t.p05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_low,
           CAST(SUM(CASE WHEN c.c_acctbal > t.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_high,
           ROUND(CAST(SUM(CAST(ROUND(
                    GREATEST(t.p05, LEAST(t.p95, c.c_acctbal)) * 10000)
                    AS BIGINT)) AS DOUBLE) / 1e4 / COUNT(*), 6)
             AS winsor_mean,
           ROUND(MAX(t.p50), 4) AS median,
           ROUND(MAX(t.p75) - MAX(t.p25), 4) AS iqr
    FROM customer c JOIN th t ON t.c_mktsegment = c.c_mktsegment
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
""")
def feature_winsorized_scale(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Winsorized robust-scaling profile per market segment: P5/P95
    clipping counts, the winsorized mean, and the median/IQR pair a
    robust scaler ((x - median)/IQR) would ship to feature pipelines —
    the outlier-resistant alternative to z-score normalization that
    tree-free models and reward-model feature preps standardize on.

    Plan: two passes, both scale-sane — pass 1 computes the exact
    per-segment interpolated quantiles via _twophase.exact_quantiles
    (grouped two-phase global rank: range-repartition on (segment,
    balance), per-partition ranks, broadcast bracketing-rank probe —
    NOT Spark's exact `percentile` aggregate, whose merged buffer
    would land each segment's whole continuous column on one task);
    the 5-row threshold frame broadcasts back for pass 2's single
    partial-aggregatable clip-and-average. Thresholds are rounded to
    4 dp on BOTH engines before any comparison, so clip-boundary
    membership can't flip on a percentile-interpolation ulp."""
    from mongo_cdc_spark.operators._twophase import exact_quantiles

    c = load_table(spark, sf_dir, "customer")
    th = exact_quantiles(
        c, "c_acctbal",
        {"p05": 0.05, "p25": 0.25, "p50": 0.50,
         "p75": 0.75, "p95": 0.95},
        ["c_custkey"], ["c_mktsegment"])
    th = th.select("c_mktsegment",
                   *[F.round(F.col(k), 4).alias(k)
                     for k in ("p05", "p25", "p50", "p75", "p95")])
    wx = F.greatest(F.col("p05"), F.least(F.col("p95"),
                                          F.col("c_acctbal")))
    return (c.join(F.broadcast(th), "c_mktsegment")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("c_acctbal") < F.col("p05"), 1)
                       .otherwise(0)).cast("bigint").alias("n_clip_low"),
                 F.sum(F.when(F.col("c_acctbal") > F.col("p95"), 1)
                       .otherwise(0)).cast("bigint")
                 .alias("n_clip_high"),
                 # winsorized values live on a 1e-4 grid (2-dp money
                 # clipped at 4-dp cuts) — sum exact tenth-milli
                 # units, divide once
                 F.round(F.sum(F.round(wx * 10000).cast("bigint"))
                         .cast("double") / 1e4 / F.count(F.lit(1)), 6)
                 .alias("winsor_mean"),
                 F.round(F.max("p50"), 4).alias("median"),
                 F.round(F.max("p75") - F.max("p25"), 4).alias("iqr"))
            .orderBy("c_mktsegment"))


@query("sketch_accuracy_eval", sql="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact_users,
           TRUE AS hll_within_5pct,
           TRUE AS p50_within_1pct
    FROM events GROUP BY 1 ORDER BY 1
""")
def sketch_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy CONTRACT for the approximate aggregates the engine
    recommends at 100 TB (approx_count_distinct for cardinality,
    percentile_approx for quantiles): per event type, run sketch and
    exact side by side and emit whether the sketch landed inside its
    advertised tolerance (HLL++ rsd=0.02 -> 5% gate; percentile_approx
    accuracy=10000 -> 1% gate on the median). The oracle pins the
    exact values and expects every gate TRUE — so if a Spark upgrade
    or config change degrades sketch accuracy, the hash row goes red.
    This is the measured justification for the "swap countDistinct
    for the sketch at scale" notes elsewhere (quality_profile_orders,
    events_hll_sketch_rollup).

    The comparison itself is one pass with both aggregates; the exact
    side is the expensive one at scale, which is exactly why it's
    worth gating the cheap one here at fixture size."""
    ev = load_table(spark, sf_dir, "events")
    # exact-distinct SEPARATED from the percentile/sketch aggregates:
    # countDistinct in the same groupBy triggers Catalyst's
    # distinct-rewrite Expand, dragging every sketch/sort buffer
    # through a k-way PartialMerge (the round-3 151 s pathology; still
    # a measured 2.5 s -> ~1 s here at 5 groups)
    from mongo_cdc_spark.operators._twophase import exact_quantiles

    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n_exact_users")))
    sk = (ev.groupBy("event_type")
          .agg(F.approx_count_distinct("user_id", 0.02).alias("n_hll"),
               F.percentile_approx("value", 0.5, 10000)
               .alias("p50_approx")))
    # exact median via the two-phase grouped quantile — the audit's
    # exact side must not itself be the single-task-buffer pattern it
    # exists to retire at scale:
    p50x = exact_quantiles(ev, "value", {"p50_exact": 0.5},
                           ["event_id"], ["event_type"])
    per = exact.join(sk, "event_type").join(F.broadcast(p50x),
                                            "event_type")
    hll_ok = (F.abs(F.col("n_hll") - F.col("n_exact_users"))
              <= 0.05 * F.col("n_exact_users"))
    p50_ok = (F.abs(F.col("p50_approx") - F.col("p50_exact"))
              <= 0.01 * F.abs(F.col("p50_exact")))
    return (per.select("event_type",
                       F.col("n_exact_users").cast("bigint")
                       .alias("n_exact_users"),
                       hll_ok.alias("hll_within_5pct"),
                       p50_ok.alias("p50_within_1pct"))
            .orderBy("event_type"))


@query("ab_test_cuped", sql="""
    WITH bounds AS (
      SELECT epoch_us(MIN(ts))
             + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 2 AS mid
      FROM events
    ), per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             SUM(CASE WHEN epoch_us(ts) < b.mid
                      AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS pre,
             SUM(CASE WHEN epoch_us(ts) >= b.mid
                      AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS post
      FROM events CROSS JOIN bounds b
      GROUP BY 1, 2
    ), theta AS (
      SELECT covar_samp(pre, post) / var_samp(pre) AS th,
             AVG(pre) AS pre_mean
      FROM per_user
    ), adj AS (
      SELECT variant,
             post - t.th * (pre - t.pre_mean) AS y
      FROM per_user CROSS JOIN theta t
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(y), 6) AS adjusted_mean,
           ROUND(var_samp(y), 6) AS adjusted_var,
           ROUND(MAX(t2.th), 6) AS theta
    FROM adj CROSS JOIN theta t2
    GROUP BY variant ORDER BY variant
""")
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013 — the standard
    experimentation-platform technique): adjust each user's
    post-period metric by their PRE-period covariate,
    y' = y - theta*(x - x̄) with theta = cov(x,y)/var(x), shrinking
    metric variance by the squared pre/post correlation so
    experiments reach significance on a fraction of the traffic.
    Periods split at the data's integer-microsecond midpoint; the
    variant split reuses ab_test_proportions' md5 bucketing.

    Plan: ONE user-grain conditional aggregation builds (pre, post);
    theta is a 1-row broadcast; the adjusted stats are a second tiny
    agg. Determinism: covar_samp/var_samp on exact integer counts,
    ratio on identical doubles, 6-dp rounding."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    bounds = ev.agg(
        (F.min(ts_us)
         + ((F.max(ts_us) - F.min(ts_us)) / F.lit(2)).cast("bigint"))
        .alias("mid"))
    variant = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        "A").otherwise("B")
    is_p = F.col("event_type") == "purchase"
    per_user = (ev.crossJoin(F.broadcast(bounds))
                .groupBy("user_id", variant.alias("variant"))
                .agg(F.sum(F.when((ts_us < F.col("mid")) & is_p, 1)
                           .otherwise(0)).alias("pre"),
                     F.sum(F.when((ts_us >= F.col("mid")) & is_p, 1)
                           .otherwise(0)).alias("post")))
    theta = per_user.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("th"),
        F.avg("pre").alias("pre_mean"))
    adj = (per_user.crossJoin(F.broadcast(theta))
           .select("variant", "th",
                   (F.col("post")
                    - F.col("th") * (F.col("pre") - F.col("pre_mean")))
                   .alias("y")))
    return (adj.groupBy("variant")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.avg("y"), 6).alias("adjusted_mean"),
                 F.round(F.var_samp("y"), 6).alias("adjusted_var"),
                 F.round(F.max("th"), 6).alias("theta"))
            .orderBy("variant"))


@query("stats_mutual_information", sql="""
    WITH binned AS (
      SELECT CAST(FLOOR(l_quantity / 10) AS INT) AS qb,
             CAST(FLOOR(l_extendedprice / 20000) AS INT) AS pb
      FROM lineitem
    ), joint AS (
      SELECT qb, pb, COUNT(*) AS n FROM binned GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n) AS t FROM joint
    ), marg AS (
      SELECT j.qb, j.pb, j.n,
             SUM(j.n) OVER (PARTITION BY j.qb) AS nq,
             SUM(j.n) OVER (PARTITION BY j.pb) AS np,
             t.t
      FROM joint j CROSS JOIN tot t
    )
    SELECT CAST(MAX(t) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS INT) AS n_cells,
           ROUND(SUM((n * 1e0 / t)
                     * LN((n * 1e0 / t)
                          / ((nq * 1e0 / t) * (np * 1e0 / t)))), 6)
             AS mutual_info_nats,
           ROUND(-SUM((n * 1e0 / t) * LN(n * 1e0 / t)), 6)
             AS joint_entropy_nats
    FROM marg
""")
def stats_mutual_information(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Binned mutual information between line-item quantity and price
    — the dependence measure that catches NONLINEAR relationships
    chi-square's contingency view and Pearson correlation both
    understate, used as a model-free feature-relevance screen. Fixed
    integer bin widths (10 units / 20k) so binning is exact on both
    engines; reported with the joint entropy for normalization.

    Plan: one data-sized partial-aggregatable count to the joint bin
    grid; marginals via windows on grid rows; one scalar rollup —
    identical shape to the chi-square op, O(cells) after the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    binned = li.select(
        F.floor(F.col("l_quantity") / 10).cast("int").alias("qb"),
        F.floor(F.col("l_extendedprice") / 20000).cast("int")
        .alias("pb"))
    joint = binned.groupBy("qb", "pb").agg(
        F.count(F.lit(1)).alias("n"))
    tot = joint.agg(F.sum("n").alias("t"))
    from pyspark.sql import Window as W
    marg = (joint.crossJoin(F.broadcast(tot))
            .withColumn("nq", F.sum("n").over(W.partitionBy("qb")))
            .withColumn("np", F.sum("n").over(W.partitionBy("pb"))))
    p = F.col("n") * F.lit(1.0) / F.col("t")
    pq = F.col("nq") * F.lit(1.0) / F.col("t")
    pp = F.col("np") * F.lit(1.0) / F.col("t")
    return marg.agg(
        F.max("t").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("int").alias("n_cells"),
        F.round(F.sum(p * F.log(p / (pq * pp))), 6)
        .alias("mutual_info_nats"),
        F.round(-F.sum(p * F.log(p)), 6).alias("joint_entropy_nats"))


@query("ab_test_power_analysis", sql="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ), base AS (
      SELECT AVG(converted * 1e0) AS p, COUNT(*) AS n FROM assigned
    )
    SELECT ROUND(p, 6) AS baseline_rate,
           CAST(n AS BIGINT) AS n_users_available,
           ROUND(2 * POW(1.959964 + 0.841621, 2) * p * (1 - p)
                 / POW(0.05, 2), 2) AS n_per_arm_mde_5pp,
           ROUND(2 * POW(1.959964 + 0.841621, 2) * p * (1 - p)
                 / POW(0.02, 2), 2) AS n_per_arm_mde_2pp,
           ROUND(SQRT(2 * POW(1.959964 + 0.841621, 2) * p * (1 - p)
                      / (n / 2.0)), 6) AS mde_at_current_n
    FROM base
""")
def ab_test_power_analysis(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Experiment power analysis completing the A/B trio (z-test,
    CUPED, power): from the measured baseline conversion rate, the
    required sample size per arm for 5pp and 2pp minimum detectable
    effects at alpha=0.05 / power=0.80 (n = 2(z_a/2+z_b)^2 p(1-p) /
    delta^2), and conversely the MDE the CURRENT population can
    resolve — the go/no-go arithmetic every experiment review starts
    with, computed from the data instead of a webapp calculator.
    z constants are fixed 6-dp literals identical in both engines.

    One user-grain conditional agg -> a 1-row frame of pure
    arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    assigned = (ev.groupBy("user_id")
                .agg(F.when(
                    F.sum(F.when(F.col("event_type") == "purchase", 1)
                          .otherwise(0)) >= 14, 1)
                    .otherwise(0).alias("converted")))
    base = assigned.agg(F.avg(F.col("converted") * F.lit(1.0)).alias("p"),
                        F.count(F.lit(1)).alias("n"))
    z2 = F.pow(F.lit(1.959964) + F.lit(0.841621), 2)
    var = F.col("p") * (1 - F.col("p"))
    return base.select(
        F.round("p", 6).alias("baseline_rate"),
        F.col("n").cast("bigint").alias("n_users_available"),
        F.round(2 * z2 * var / F.pow(F.lit(0.05), 2), 2)
        .alias("n_per_arm_mde_5pp"),
        F.round(2 * z2 * var / F.pow(F.lit(0.02), 2), 2)
        .alias("n_per_arm_mde_2pp"),
        F.round(F.sqrt(2 * z2 * var / (F.col("n") / F.lit(2.0))), 6)
        .alias("mde_at_current_n"))


# --------------------------------------------- two-sample KS test

# Kolmogorov asymptotic p-value series truncation (terms decay as
# exp(-2 j^2 lambda^2); j > 5 is already below double precision for any
# detectable statistic — 100 keeps the formula textbook-shaped).
_KS_TERMS = 100


@query("stats_ks_two_sample", sql=f"""
    WITH s AS (
      SELECT ROUND(value, 6) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('purchase', 'click')
    ), pv AS (
      SELECT v, SUM(a) AS na, SUM(b) AS nb FROM s GROUP BY v
    ), cdf AS (
      SELECT v,
             SUM(na) OVER (ORDER BY v) AS ca,
             SUM(nb) OVER (ORDER BY v) AS cb
      FROM pv
    ), tot AS (
      SELECT SUM(a) AS n1, SUM(b) AS n2 FROM s
    ), stat AS (
      SELECT MAX(ABS(ca * 1e0 / n1 - cb * 1e0 / n2)) AS d,
             MAX(n1) AS n1, MAX(n2) AS n2
      FROM cdf CROSS JOIN tot
    ), lam AS (
      SELECT d, n1, n2,
             (SQRT(n1 * n2 * 1e0 / (n1 + n2)) + 0.12
              + 0.11 / SQRT(n1 * n2 * 1e0 / (n1 + n2))) * d AS l
      FROM stat
    )
    , fin AS (
      SELECT n1, n2, d, l,
             ROUND(LEAST(1e0, GREATEST(0e0,
               2 * (SELECT SUM(CASE WHEN j % 2 = 1 THEN 1 ELSE -1 END
                               * EXP(-2e0 * j * j * l * l))
                    FROM generate_series(1, {_KS_TERMS}) AS t(j)))), 6)
               AS p_value
      FROM lam
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND(d, 6) AS ks_stat,
           ROUND(l, 6) AS lambda,
           p_value,
           p_value <= 0.05 AS reject_05
    FROM fin
""")
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: is the purchase-value
    distribution the same as the click-value distribution? The
    nonparametric companion to events_weekend_welch_test (which only
    compares means): D = sup over x of |F1(x) - F2(x)| over the merged
    empirical CDFs, with the asymptotic Kolmogorov p-value and the
    alpha = 0.05 decision (c(0.05) = 1.358) — the distribution-drift
    test run between data releases when a mean shift is not the
    failure mode.

    Plan: one conditional-count groupBy to value grain (map-side
    combined), then BOTH cumulative sample counts come from a single
    two-phase pass (`_twophase.with_global_order` takes the two
    cumsums in one call) — distinct values grow with data (~90% of
    rows at this fixture), so the ECDF cumsum is data-grain and gets
    the repartitionByRange + broadcast-offset plan, not a global
    window; sample sizes are a broadcast scalar; the p-value series
    runs on the 1-row result. Values and every emitted double round
    at 6 dp so both engines compare identical numbers."""
    from mongo_cdc_spark.operators._twophase import with_global_order

    ev = load_table(spark, sf_dir, "events")
    s = (ev.where(F.col("event_type").isin("purchase", "click"))
         .select(F.round("value", 6).alias("v"),
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("a"),
                 F.when(F.col("event_type") == "click", 1)
                 .otherwise(0).alias("b")))
    pv = s.groupBy("v").agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    cdf = with_global_order(pv, [F.asc("v")],
                            cumsums={"na": "ca", "nb": "cb"})
    # sample sizes ARE the final cumsums — max(ca)/max(cb) — so no
    # second pass over events; D normalizes against them via a
    # broadcast 1-row self-aggregate of the same cumsum frame
    tot = cdf.agg(F.max("ca").alias("n1"), F.max("cb").alias("n2"))
    stat = (cdf.crossJoin(F.broadcast(tot))
            .agg(F.max(F.abs(F.col("ca") * F.lit(1.0) / F.col("n1")
                             - F.col("cb") * F.lit(1.0) / F.col("n2")))
                 .alias("d"),
                 F.max("n1").alias("n1"), F.max("n2").alias("n2")))
    en = F.col("n1") * F.col("n2") * F.lit(1.0) / (F.col("n1") + F.col("n2"))
    lam = (F.sqrt(en) + 0.12 + 0.11 / F.sqrt(en)) * F.col("d")
    series = F.expr(
        f"""aggregate(sequence(1, {_KS_TERMS}), 0D,
            (acc, j) -> acc + CASE WHEN j % 2 = 1 THEN 1.0 ELSE -1.0 END
                        * EXP(-2.0D * j * j * l * l))""")
    # reject_05 derives from the REPORTED p-value (small-sample-
    # corrected lambda), not the separate large-sample critical value
    # 1.358*sqrt((n1+n2)/(n1*n2)) — near the boundary the two
    # formulas can disagree, and the report must not contradict
    # itself (round-7 ADVICE fix).
    return (stat.withColumn("l", lam)
            .withColumn("p_value",
                        F.round(F.least(F.lit(1.0), F.greatest(
                            F.lit(0.0), 2 * series)), 6))
            .select(F.col("n1").cast("bigint").alias("n1"),
                    F.col("n2").cast("bigint").alias("n2"),
                    F.round("d", 6).alias("ks_stat"),
                    F.round("l", 6).alias("lambda"),
                    "p_value",
                    (F.col("p_value") <= 0.05).alias("reject_05")))


# --------------------------------------------- sequential A/B (SPRT)

# Wald boundaries at alpha = beta = 0.05: ln((1-b)/a) = ln 19, rounded
# to the same 6 dp the LLR is emitted at so the crossing decision
# compares identical numbers on both engines.
_SPRT_UP = 2.944439
_SPRT_LO = -2.944439
_SPRT_DELTA = 0.02                       # H1 lift in B's event share


@query("ab_test_sequential_sprt", sql=f"""
    WITH u AS (
      SELECT DISTINCT user_id,
             CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant
      FROM events
    ), p AS (
      SELECT SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) * 1e0
             / COUNT(*) AS p0
      FROM u
    ), daily AS (
      SELECT date_trunc('day', ts) AS day,
             COUNT(*) AS n,
             SUM(CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) >= '8'
                      THEN 1 ELSE 0 END) AS k
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ), walk AS (
      SELECT day,
             SUM(n) OVER (ORDER BY day) AS nc,
             SUM(k) OVER (ORDER BY day) AS kc,
             p.p0, p.p0 + {_SPRT_DELTA} AS p1
      FROM daily CROSS JOIN p
    )
    SELECT day,
           CAST(nc AS BIGINT) AS n_events,
           CAST(kc AS BIGINT) AS n_from_b,
           ROUND(p0, 6) AS p0,
           ROUND(kc * LN(p1 / p0)
                 + (nc - kc) * LN((1 - p1) / (1 - p0)), 6) AS llr,
           CASE WHEN ROUND(kc * LN(p1 / p0)
                     + (nc - kc) * LN((1 - p1) / (1 - p0)), 6)
                     >= {_SPRT_UP} THEN 'accept_h1'
                WHEN ROUND(kc * LN(p1 / p0)
                     + (nc - kc) * LN((1 - p1) / (1 - p0)), 6)
                     <= {_SPRT_LO} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM walk ORDER BY day
""")
def ab_test_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability-ratio test over the experiment's
    daily stream: each purchase event is a Bernoulli trial "came from
    variant B"; H0: B's share = its user-split share p0, H1: share =
    p0 + {d} — the cumulative log-likelihood-ratio random walk with
    the alpha = beta = 0.05 decision boundaries (+/- ln 19). This is
    the ALWAYS-VALID sequential companion to ab_test_proportions'
    fixed-horizon z-test: the experimenter may look every day and
    stop at first crossing without inflating the false-positive rate
    — the standard peeking-safe A/B machinery.

    Plan: variant comes from the same md5 hash bucket every ab_test_*
    op uses (no RNG, oracle-replayable); one day-grain
    partial-aggregatable rollup, p0 as a broadcast scalar, and the
    cumulative walk is ONE window over the day-grain calendar grid
    (bounded by the time span — declared in the audit's WINDOW_OK
    class). LLR rounds at 6 dp BEFORE the boundary comparison so both
    engines make the identical crossing decision.""".format(
        d=_SPRT_DELTA)
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W
    is_b = F.substring(F.md5(F.col("user_id").cast("string")
                             .cast("binary")), 1, 1) >= "8"
    u = ev.select("user_id", is_b.alias("b")).distinct()
    p = u.agg((F.sum(F.when(F.col("b"), 1).otherwise(0)) * F.lit(1.0)
               / F.count(F.lit(1))).alias("p0"))
    daily = (ev.where(F.col("event_type") == "purchase")
             .groupBy(F.date_trunc("day", "ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.when(is_b, 1).otherwise(0)).alias("k")))
    cw = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    walk = (daily
            .withColumn("nc", F.sum("n").over(cw))
            .withColumn("kc", F.sum("k").over(cw))
            .crossJoin(F.broadcast(p))
            .withColumn("p1", F.col("p0") + _SPRT_DELTA))
    llr = F.round(
        F.col("kc") * F.log(F.col("p1") / F.col("p0"))
        + (F.col("nc") - F.col("kc"))
        * F.log((1 - F.col("p1")) / (1 - F.col("p0"))), 6)
    return (walk.select(
        "day",
        F.col("nc").cast("bigint").alias("n_events"),
        F.col("kc").cast("bigint").alias("n_from_b"),
        F.round("p0", 6).alias("p0"),
        llr.alias("llr"),
        F.when(llr >= _SPRT_UP, "accept_h1")
        .when(llr <= _SPRT_LO, "accept_h0")
        .otherwise("continue").alias("decision"))
        .orderBy("day"))


# --------------------------------------- feature scoring / encoding

@query("feature_woe_iv", sql="""
    WITH base AS (
      SELECT 'priority' AS feature, o_orderpriority AS category,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      UNION ALL
      SELECT 'segment', c.c_mktsegment,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cat AS (
      SELECT feature, category,
             COUNT(*) AS n, SUM(y) AS n_pos,
             COUNT(*) - SUM(y) AS n_neg
      FROM base GROUP BY 1, 2
    ), tot AS (
      SELECT feature, SUM(n_pos) AS tp, SUM(n_neg) AS tn,
             COUNT(*) AS n_cats
      FROM cat GROUP BY 1
    ), w AS (
      SELECT c.feature, c.category, c.n, c.n_pos,
             ln(((c.n_pos + 0.5) / (t.tp + 0.5 * t.n_cats))
                / ((c.n_neg + 0.5) / (t.tn + 0.5 * t.n_cats))) AS woe,
             ((c.n_pos + 0.5) / (t.tp + 0.5 * t.n_cats)
              - (c.n_neg + 0.5) / (t.tn + 0.5 * t.n_cats)) AS pdiff
      FROM cat c JOIN tot t ON t.feature = c.feature
    )
    SELECT feature, category,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           ROUND(woe, 6) AS woe,
           ROUND(pdiff * woe, 6) AS iv_contrib,
           ROUND(SUM(pdiff * woe) OVER (PARTITION BY feature), 6)
             AS feature_iv
    FROM w ORDER BY feature, category
""")
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value feature scoring against
    the binary label "order finished" (o_orderstatus = 'F') for two
    categorical features — order priority and the customer's market
    segment. WOE_i = ln((pos_i/pos)/(neg_i/neg)) with Laplace 0.5
    smoothing per cell; IV = sum_i (pos_i/pos - neg_i/neg) * WOE_i —
    the credit-scoring-era screen still standard for ranking
    categorical features before training an encoder on them.

    Plan: the (feature, category) grain is an aggregation output
    (~10 rows regardless of data size), so everything past the first
    groupBy is metadata-grain: the per-feature totals broadcast back,
    and the feature_iv window partitions BY FEATURE over <= n_cats
    rows — a bounded-frame window, never a data-grain sort. The
    segment feature needs orders->customer, a plain key-hash shuffle
    join at scale (both sides data-grain, no broadcast assumption).
    feature_iv sums the UNROUNDED contributions then rounds, on both
    engines, so the total can't drift off the rounded parts."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    base = (o.select(F.lit("priority").alias("feature"),
                     F.col("o_orderpriority").alias("category"),
                     y.alias("y"))
            .unionByName(
                o.join(c, o.o_custkey == c.c_custkey)
                .select(F.lit("segment").alias("feature"),
                        F.col("c_mktsegment").alias("category"),
                        y.alias("y"))))
    cat = (base.groupBy("feature", "category")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("y").alias("n_pos"),
                (F.count(F.lit(1)) - F.sum("y")).alias("n_neg")))
    tot = (cat.groupBy("feature")
           .agg(F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn"),
                F.count(F.lit(1)).alias("n_cats")))
    ppos = (F.col("n_pos") + 0.5) / (F.col("tp") + 0.5 * F.col("n_cats"))
    pneg = (F.col("n_neg") + 0.5) / (F.col("tn") + 0.5 * F.col("n_cats"))
    w = (cat.join(F.broadcast(tot), "feature")
         .withColumn("woe", F.log(ppos / pneg))
         .withColumn("pdiff", ppos - pneg))
    return (w.select(
        "feature", "category",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.round("woe", 6).alias("woe"),
        F.round(F.col("pdiff") * F.col("woe"), 6).alias("iv_contrib"),
        F.round(F.sum(F.col("pdiff") * F.col("woe"))
                .over(W.partitionBy("feature")), 6).alias("feature_iv"))
        .orderBy("feature", "category"))


@query("feature_target_encode_loo", sql="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS xc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), st AS (
      SELECT segment, SUM(xc) AS s, COUNT(*) AS n
      FROM seg GROUP BY 1
    ), cell AS (
      SELECT segment, priority, COUNT(*) AS m,
             SUM(xc) AS sx,
             SUM(CAST(xc AS HUGEINT) * xc) AS sx2,
             MIN(xc) AS mn, MAX(xc) AS mx
      FROM seg GROUP BY 1, 2
    )
    SELECT cell.segment, cell.priority,
           CAST(cell.m AS BIGINT) AS n,
           ROUND(CAST(cell.m * st.s - cell.sx AS DOUBLE)
                 / (st.n - 1) / cell.m / 100.0, 6) AS enc_mean,
           ROUND(SQRT((CAST(cell.sx2 AS DOUBLE)
                       - CAST(cell.sx AS DOUBLE)
                         * CAST(cell.sx AS DOUBLE) / cell.m)
                      / (cell.m - 1))
                 / (st.n - 1) / 100.0, 6) AS enc_std,
           ROUND(CAST(st.s - cell.mx AS DOUBLE)
                 / (st.n - 1) / 100.0, 6) AS enc_min,
           ROUND(CAST(st.s - cell.mn AS DOUBLE)
                 / (st.n - 1) / 100.0, 6) AS enc_max
    FROM cell JOIN st ON st.segment = cell.segment
    ORDER BY 1, 2
""")
def feature_target_encode_loo(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment
    against order value: each order's encoding is the mean
    o_totalprice of every OTHER order in its segment,
    (S_seg - x) / (n_seg - 1) — the standard leakage-free categorical
    encoder for gradient-boosted / linear models (plain mean encoding
    leaks the row's own label; LOO subtracts it). Emitted at the
    (segment, priority) audit grain: encoding mean/std/min/max per
    cell, which is what a feature-store validation job pins.

    Plan: the LOO closed form is what makes this scale — no
    per-row "all other rows" self-join ever materializes, and the
    per-row encodings themselves never do either: every reported
    moment of loo = (S_seg - x)/(n_seg - 1) is cell-grain algebra on
    EXACT integer-cents sums (sum loo over a cell = (m*S - sum x),
    sd(loo) = sd(x)/(n-1), min/max from the cell's max/min cents),
    divided once at the end — so the 6-dp roundings cannot flip on
    double summation order. One key-hash shuffle join, one
    segment-grain and one cell-grain aggregate, bounded frames
    joined at the end."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    seg = (o.join(c, o.o_custkey == c.c_custkey)
           .select(F.col("c_mktsegment").alias("segment"),
                   F.col("o_orderpriority").alias("priority"),
                   F.round(F.col("o_totalprice") * 100).cast("bigint")
                   .alias("xc")))
    st = seg.groupBy("segment").agg(
        F.sum(F.col("xc").cast(dec)).alias("s"),
        F.count(F.lit(1)).alias("n"))
    cell = seg.groupBy("segment", "priority").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("xc").cast(dec)).alias("sx"),
        F.sum((F.col("xc") * F.col("xc")).cast(dec)).alias("sx2"),
        F.min("xc").alias("mn"), F.max("xc").alias("mx"))
    n1 = F.col("n") - 1
    sx_d = F.col("sx").cast("double")
    return (cell.join(F.broadcast(st), "segment")
            .select(
                "segment", "priority",
                F.col("m").cast("bigint").alias("n"),
                F.round((F.col("m").cast(dec) * F.col("s")
                         - F.col("sx")).cast("double")
                        / n1 / F.col("m") / 100.0, 6).alias("enc_mean"),
                F.round(F.sqrt((F.col("sx2").cast("double")
                                - sx_d * sx_d / F.col("m"))
                               / (F.col("m") - 1))
                        / n1 / 100.0, 6).alias("enc_std"),
                F.round((F.col("s") - F.col("mx")).cast("double")
                        / n1 / 100.0, 6).alias("enc_min"),
                F.round((F.col("s") - F.col("mn")).cast("double")
                        / n1 / 100.0, 6).alias("enc_max"))
            .orderBy("segment", "priority"))


_BOOT_REPS = 64


@query("stats_bootstrap_subsample_ci", sql=f"""
    WITH h AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xc,
             ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
               AS hi,
             ('0x' || substr(md5(o_orderkey::VARCHAR), 9, 8))::BIGINT
               AS lo
      FROM orders
    ), r AS (
      SELECT b.b, h.xc
      FROM h, generate_series(0, {_BOOT_REPS - 1}) b(b)
      WHERE CASE WHEN b.b < 32 THEN (h.hi >> b.b) & 1
                 ELSE (h.lo >> (b.b - 32)) & 1 END = 1
    ), rm AS (
      SELECT b,
             ROUND(CAST(SUM(xc) AS DOUBLE) / 100.0 / COUNT(*), 6) AS m
      FROM r GROUP BY 1
    ), f AS (
      SELECT CAST(SUM(xc) AS DOUBLE) / 100.0 / COUNT(*) AS fm FROM h
    ), u AS (
      SELECT m, CAST(ROUND(m * 1e6) AS BIGINT) AS um FROM rm
    ), sd AS (
      SELECT COUNT(*) AS nb,
             CAST(SUM(um) AS DOUBLE) AS su,
             CAST(SUM(CAST(um AS HUGEINT) * um) AS DOUBLE) AS su2,
             quantile_cont(m, 0.025) AS q025r,
             quantile_cont(m, 0.975) AS q975r
      FROM u
    )
    SELECT CAST({_BOOT_REPS} AS INT) AS n_replicas,
           ROUND(f.fm, 6) AS full_mean,
           ROUND(sd.su / 1e6 / sd.nb, 6) AS boot_mean,
           ROUND(SQRT((sd.su2 - sd.su * sd.su / sd.nb)
                      / (sd.nb - 1)) / 1e6, 6) AS replica_sd,
           ROUND(sd.q025r, 6) AS q025,
           ROUND(sd.q975r, 6) AS q975,
           ROUND(f.fm - 1.96 * (SQRT((sd.su2 - sd.su * sd.su / sd.nb)
                                     / (sd.nb - 1)) / 1e6)
                        / SQRT(2), 6) AS ci_lo,
           ROUND(f.fm + 1.96 * (SQRT((sd.su2 - sd.su * sd.su / sd.nb)
                                     / (sd.nb - 1)) / 1e6)
                        / SQRT(2), 6) AS ci_hi
    FROM sd CROSS JOIN f
""")
def stats_bootstrap_subsample_ci(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """m-out-of-n subsample bootstrap CI for mean order value:
    {_BOOT_REPS} deterministic half-subsample replicas — row r joins
    replica b iff BIT b of the row's single md5 digest is set
    (seedless, engine-reproducible resampling; one 128-bit hash per
    row supplies all {_BOOT_REPS} independent membership bits, the
    round-7 fix for the 64-hashes-per-row hot loop), each replica's
    mean collapses map-side, and the half-sample spread rescales by
    sqrt(m/n) = 1/sqrt(2) into the full-sample standard error
    (Politis/Romano/Wolf subsampling; the distributed stand-in for
    the classic bootstrap, whose with-replacement resample would
    need per-row Poisson draws — this variant stays a pure filter).

    Plan: ONE data-grain pass with ONE md5 per row — the replicate
    explode multiplies compute {_BOOT_REPS}x but the per-replica
    test is a two-instruction shift-and-mask on the precomputed
    32-bit digest halves, and partial aggregation collapses every
    task to {_BOOT_REPS} partial sums before the shuffle, so shuffle
    width is replicas-not-rows at any scale; the replica means (6 dp
    on both engines before the quantile so interpolation sees
    identical inputs) and the 1-row full mean then cross-join at
    metadata grain."""
    o = load_table(spark, sf_dir, "orders")
    h = F.md5(F.col("o_orderkey").cast("string").cast("binary"))
    dec = "decimal(38,0)"
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("lo"))
    # exact-cents replica means: integer sums, divided once, THEN the
    # shared 6-dp quantization — identical doubles on both engines
    rm = (base.select("xc", "hi", "lo",
                      F.explode(F.sequence(
                          F.lit(0), F.lit(_BOOT_REPS - 1))).alias("b"))
          .where(F.expr("CASE WHEN b < 32 THEN (hi >> b) & 1 "
                        "ELSE (lo >> (b - 32)) & 1 END = 1"))
          .groupBy("b")
          .agg(F.round(F.sum("xc").cast("double") / 100.0
                       / F.count(F.lit(1)), 6).alias("m")))
    f = base.agg((F.sum(F.col("xc").cast(dec)).cast("double") / 100.0
                  / F.count(F.lit(1))).alias("fm"))
    # replica spread from exact micro-unit moments of the quantized
    # means (an order-dependent double stddev could flip the 6-dp
    # roundings of replica_sd and the CI endpoints)
    um = F.round(F.col("m") * 1e6).cast("bigint")
    su = F.sum(um).cast("double")
    # cast to decimal BEFORE squaring: um ~ 1e11 micro-units, so
    # um*um (~1e22) wraps BIGINT per row, not just in the sum
    su2 = F.sum(um.cast(dec) * um).cast("double")
    nb = F.count(F.lit(1))
    sd_exact = (F.sqrt((su2 - su * su / nb) / (nb - 1)) / 1e6)
    return (rm.crossJoin(F.broadcast(f))
            .groupBy("fm")
            .agg(F.lit(_BOOT_REPS).cast("int").alias("n_replicas"),
                 F.round(su / 1e6 / nb, 6).alias("boot_mean"),
                 F.round(sd_exact, 6).alias("replica_sd"),
                 F.round(F.percentile("m", 0.025), 6).alias("q025"),
                 F.round(F.percentile("m", 0.975), 6).alias("q975"),
                 F.round(F.first("fm")
                         - 1.96 * sd_exact / F.sqrt(F.lit(2.0)), 6)
                 .alias("ci_lo"),
                 F.round(F.first("fm")
                         + 1.96 * sd_exact / F.sqrt(F.lit(2.0)), 6)
                 .alias("ci_hi"))
            .select("n_replicas", F.round("fm", 6).alias("full_mean"),
                    "boot_mean", "replica_sd", "q025", "q975",
                    "ci_lo", "ci_hi"))


_PERM_REPS = 200


@query("stats_permutation_weekend", sql=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS totc,
             CASE WHEN EXTRACT(isodow FROM ts) >= 6
                  THEN 1 ELSE 0 END AS wk
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 3
    ), obs AS (
      SELECT SUM(wk) AS n_w, COUNT(*) AS n_all,
             ROUND(CAST(SUM(CASE WHEN wk = 1 THEN totc END)
                        AS DOUBLE) / 100.0 / SUM(wk)
                   - CAST(SUM(CASE WHEN wk = 0 THEN totc END)
                          AS DOUBLE) / 100.0
                     / (COUNT(*) - SUM(wk)), 6) AS d_obs
      FROM daily
    ), keyed AS (
      SELECT b.b, d.day, d.totc,
             ('0x' || substr(md5(strftime(d.day, '%Y-%m-%d') || '_'
                                 || b.b::VARCHAR), 1, 12))::BIGINT
               AS hk
      FROM daily d, generate_series(1, {_PERM_REPS}) b(b)
    ), lab AS (
      SELECT b, totc,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY b
                                          ORDER BY hk, day)
                       <= (SELECT n_w FROM obs)
                  THEN 1 ELSE 0 END AS wk
      FROM keyed
    ), stat AS (
      SELECT b,
             ROUND(CAST(SUM(CASE WHEN wk = 1 THEN totc END)
                        AS DOUBLE) / 100.0 / SUM(wk)
                   - CAST(SUM(CASE WHEN wk = 0 THEN totc END)
                          AS DOUBLE) / 100.0
                     / (COUNT(*) - SUM(wk)), 6) AS d
      FROM lab GROUP BY b
    ), u AS (
      SELECT d, CAST(ROUND(d * 1e6) AS BIGINT) AS ud FROM stat
    )
    SELECT CAST(o.n_all AS INT) AS n_days,
           CAST(o.n_w AS INT) AS n_weekend,
           CAST({_PERM_REPS} AS INT) AS n_perms,
           o.d_obs AS obs_diff,
           ROUND(CAST(SUM(u.ud) AS DOUBLE) / 1e6 / COUNT(*), 6)
             AS perm_mean,
           ROUND(SQRT((CAST(SUM(CAST(u.ud AS HUGEINT) * u.ud)
                            AS DOUBLE)
                       - CAST(SUM(u.ud) AS DOUBLE)
                         * CAST(SUM(u.ud) AS DOUBLE) / COUNT(*))
                      / (COUNT(*) - 1)) / 1e6, 6) AS perm_sd,
           ROUND((1 + SUM(CASE WHEN ABS(u.d) >= ABS(o.d_obs)
                               THEN 1 ELSE 0 END))
                 * 1e0 / ({_PERM_REPS} + 1), 6) AS p_value
    FROM u CROSS JOIN obs o
    GROUP BY o.n_all, o.n_w, o.d_obs
""")
def stats_permutation_weekend(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Permutation test of the weekend effect on daily purchase
    revenue — the assumption-free companion to
    events_weekend_welch_test (no normality, no variance model):
    {_PERM_REPS} deterministic label permutations, each relabeling
    n_weekend days 'weekend' by ranking days on the portable
    md5(day, b) key, and the two-sided p-value is the fraction of
    permuted mean-differences at least as extreme as the observed
    one (with the standard +1 smoothing).

    Plan: the data-sized stage is ONE daily rollup; the permutation
    universe is (days x {_PERM_REPS}) — calendar-bounded, never
    data-bounded — and each replica's rank window partitions BY
    REPLICA over day rows only. Day totals are EXACT integer cents
    and every mean is an exact sum divided once, so each replica's d
    is the identical double on both engines; compared statistics
    additionally round to 6 dp BEFORE the >= extremity comparison,
    and the replica ensemble's mean/sd run on exact micro-units of
    the quantized d's. Seedless md5 keys make the 'random'
    permutations bit-reproducible on both engines."""
    from pyspark.sql import Window as W

    daily = (load_table(spark, sf_dir, "events")
             .where(F.col("event_type") == "purchase")
             .groupBy(F.date_trunc("day", "ts").alias("day"),
                      (F.weekday("ts") >= 5).cast("int").alias("wk"))
             .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                  .alias("totc"))
             .persist())
    d_of = (F.sum(F.when(F.col("wk") == 1, F.col("totc")))
            .cast("double") / 100.0 / F.sum("wk")
            - F.sum(F.when(F.col("wk") == 0, F.col("totc")))
            .cast("double") / 100.0
            / (F.count(F.lit(1)) - F.sum("wk")))
    obs = daily.agg(F.sum("wk").alias("n_w"),
                    F.count(F.lit(1)).alias("n_all"),
                    F.round(d_of, 6).alias("d_obs"))
    hk = F.conv(F.substring(F.md5(F.concat(
        F.date_format("day", "yyyy-MM-dd"), F.lit("_"),
        F.col("b").cast("string")).cast("binary")), 1, 12),
        16, 10).cast("long")
    keyed = (daily.select(
        "day", "totc",
        F.explode(F.sequence(F.lit(1),
                             F.lit(_PERM_REPS))).alias("b"))
        .withColumn("hk", hk)
        .crossJoin(F.broadcast(obs.select("n_w"))))
    lab = keyed.withColumn(
        "wk", (F.row_number().over(W.partitionBy("b")
                                   .orderBy("hk", "day"))
               <= F.col("n_w")).cast("int"))
    stat = lab.groupBy("b").agg(F.round(d_of, 6).alias("d"))
    ud = F.round(F.col("d") * 1e6).cast("bigint")
    sud = F.sum(ud).cast("double")
    # decimal BEFORE squaring — ud*ud can wrap BIGINT per row
    sud2 = F.sum(ud.cast("decimal(38,0)") * ud).cast("double")
    nperm = F.count(F.lit(1))
    return (stat.crossJoin(F.broadcast(obs))
            .groupBy("n_all", "n_w", "d_obs")
            .agg(F.round(sud / 1e6 / nperm, 6).alias("perm_mean"),
                 F.round(F.sqrt((sud2 - sud * sud / nperm)
                                / (nperm - 1)) / 1e6, 6)
                 .alias("perm_sd"),
                 F.round((1 + F.sum(
                     (F.abs(F.col("d")) >= F.abs(F.col("d_obs")))
                     .cast("int"))) * 1.0 / (_PERM_REPS + 1), 6)
                 .alias("p_value"))
            .select(F.col("n_all").cast("int").alias("n_days"),
                    F.col("n_w").cast("int").alias("n_weekend"),
                    F.lit(_PERM_REPS).cast("int").alias("n_perms"),
                    F.col("d_obs").alias("obs_diff"),
                    "perm_mean", "perm_sd", "p_value"))


_ISO_BINS = 20


@query("stats_isotonic_calibration", sql=f"""
    WITH cuts AS (
      SELECT ROUND(unnest(quantile_cont(o_totalprice,
                                        [0.05, 0.10, 0.15, 0.20, 0.25, 0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70, 0.75, 0.80, 0.85, 0.90, 0.95])), 4) AS c
      FROM orders
    ), binned AS (
      SELECT (SELECT COUNT(*) FROM cuts
              WHERE o.o_totalprice > cuts.c) AS bin,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o
    ), bins AS (
      SELECT bin, COUNT(*) AS n, SUM(y) AS p
      FROM binned GROUP BY bin
    ), pairavg AS (
      SELECT j.bin AS jb, k.bin AS kb,
             SUM(m.p) * 1e0 / SUM(m.n) AS a
      FROM bins j JOIN bins k ON k.bin >= j.bin
      JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
      GROUP BY 1, 2
    ), innermin AS (
      SELECT i.bin, p.jb, MIN(p.a) AS mn
      FROM bins i JOIN pairavg p
        ON p.jb <= i.bin AND p.kb >= i.bin
      GROUP BY 1, 2
    ), iso AS (
      SELECT bin, MAX(mn) AS iso_rate FROM innermin GROUP BY bin
    )
    SELECT b.bin AS bin,
           CAST(b.n AS BIGINT) AS n,
           CAST(b.p AS BIGINT) AS n_pos,
           ROUND(b.p * 1e0 / b.n, 6) AS raw_rate,
           ROUND(i.iso_rate, 6) AS iso_rate
    FROM bins b JOIN iso i ON i.bin = b.bin
    ORDER BY b.bin
""")
def stats_isotonic_calibration(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Exact isotonic regression (monotone probability calibration)
    of order-completion rate against order-value bins — the
    calibration step reward-model and quality-classifier pipelines
    run before thresholding scores (Zadrozny/Elkan '02). Instead of
    the sequential pool-adjacent-violators scan — useless on a
    cluster — this uses PAVA's closed-form MINIMAX identity
    iso_i = max_(j<=i) min_(k>=i) avg(y[j..k]), which is pure
    aggregation algebra once the data collapses to bins.

    Plan: the only data-sized stages are the {_ISO_BINS}-ile cut
    computation and one bucket-assign + count pass (cuts broadcast
    as 4-dp-rounded literals so bin membership can't flip on an
    interpolation ulp — the winsorize discipline). The cuts are the
    EXACT interpolated quantiles via _twophase.exact_quantiles
    (range-repartitioned global rank + a broadcast probe of the two
    bracketing order statistics per cut) — never Spark's exact
    `percentile` aggregate, whose merged per-distinct-value buffer
    lands the whole continuous column on one task. Everything
    after runs on the <= {_ISO_BINS}-row bin frame: the interval
    averages, inner mins and outer maxes are bin-grain triple joins
    (~{_ISO_BINS}^3 rows at ANY corpus size). Interval averages are
    single divisions of exact integer sums, so min/max selection is
    bit-identical across engines. PAVA-reference parity + guaranteed
    monotonicity pinned in tests/test_quality.py."""
    from mongo_cdc_spark.operators._twophase import exact_quantiles

    o = load_table(spark, sf_dir, "orders")
    cuts = exact_quantiles(
        o, "o_totalprice",
        {f"c{i}": i / _ISO_BINS for i in range(1, _ISO_BINS)},
        ["o_orderkey"])
    cuts = cuts.select(*[F.round(F.col(f"c{i}"), 4).alias(f"c{i}")
                         for i in range(1, _ISO_BINS)])
    cut_arr = F.array(*[F.col(f"c{i}") for i in range(1, _ISO_BINS)])
    binned = (o.crossJoin(F.broadcast(cuts))
              .select(
        F.aggregate(cut_arr, F.lit(0),
                    lambda acc, c: acc + (F.col("o_totalprice") > c)
                    .cast("int")).alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .alias("y")))
    bins = (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("p"))
            .persist())
    j = bins.select(F.col("bin").alias("jb"))
    k = bins.select(F.col("bin").alias("kb"))
    m = bins.select(F.col("bin").alias("mb"), "n", "p")
    pairavg = (j.join(F.broadcast(k), F.col("kb") >= F.col("jb"))
               .join(F.broadcast(m),
                     (F.col("mb") >= F.col("jb"))
                     & (F.col("mb") <= F.col("kb")))
               .groupBy("jb", "kb")
               .agg((F.sum("p") * F.lit(1.0) / F.sum("n")).alias("a")))
    i_f = bins.select(F.col("bin").alias("ib"))
    innermin = (i_f.join(F.broadcast(pairavg),
                         (F.col("jb") <= F.col("ib"))
                         & (F.col("kb") >= F.col("ib")))
                .groupBy("ib", "jb").agg(F.min("a").alias("mn")))
    iso = innermin.groupBy("ib").agg(F.max("mn").alias("iso_rate"))
    return (bins.join(F.broadcast(iso), bins.bin == iso.ib)
            .select("bin",
                    F.col("n").cast("bigint").alias("n"),
                    F.col("p").cast("bigint").alias("n_pos"),
                    F.round(F.col("p") * F.lit(1.0) / F.col("n"), 6)
                    .alias("raw_rate"),
                    F.round("iso_rate", 6).alias("iso_rate"))
            .orderBy("bin"))


# ------------------------------------------------ PSI feature drift

PSI_BINS = 10
PSI_PIVOT = "1995-06-01"


@query("feature_psi_drift", sql=f"""
    WITH stacked AS (
      SELECT 'extprice' AS feature,
             CAST(l_extendedprice AS DOUBLE) AS x,
             CASE WHEN l_shipdate < DATE '{PSI_PIVOT}'
                  THEN 'ref' ELSE 'cur' END AS cohort
      FROM lineitem
      UNION ALL
      SELECT 'qty', CAST(l_quantity AS DOUBLE),
             CASE WHEN l_shipdate < DATE '{PSI_PIVOT}'
                  THEN 'ref' ELSE 'cur' END
      FROM lineitem
    ), bounds AS (
      SELECT feature, MIN(x) AS mn, MAX(x) AS mx
      FROM stacked WHERE cohort = 'ref' GROUP BY 1
    ), binned AS (
      SELECT s.feature, s.cohort,
             LEAST(GREATEST(CAST(FLOOR((s.x - b.mn)
                 / ((b.mx - b.mn) / {PSI_BINS}.0)) AS INT), 0),
               {PSI_BINS - 1}) AS bin
      FROM stacked s JOIN bounds b ON b.feature = s.feature
    ), cnt AS (
      SELECT feature, cohort, bin, COUNT(*) AS c
      FROM binned GROUP BY 1, 2, 3
    ), grid AS (
      SELECT b.feature, g.g AS bin,
             b.mn + g.g * (b.mx - b.mn) / {PSI_BINS}.0 AS bin_lo,
             b.mn + (g.g + 1) * (b.mx - b.mn) / {PSI_BINS}.0 AS bin_hi
      FROM bounds b, generate_series(0, {PSI_BINS - 1}) g(g)
    ), wide AS (
      SELECT gr.feature, gr.bin, gr.bin_lo, gr.bin_hi,
             COALESCE(r.c, 0) AS n_ref, COALESCE(u.c, 0) AS n_cur
      FROM grid gr
      LEFT JOIN cnt r ON r.feature = gr.feature AND r.bin = gr.bin
                     AND r.cohort = 'ref'
      LEFT JOIN cnt u ON u.feature = gr.feature AND u.bin = gr.bin
                     AND u.cohort = 'cur'
    ), pct AS (
      SELECT feature, bin, bin_lo, bin_hi, n_ref, n_cur,
             (n_ref + 0.5) / (SUM(n_ref) OVER (PARTITION BY feature)
                              + 0.5 * {PSI_BINS}) AS ref_pct,
             (n_cur + 0.5) / (SUM(n_cur) OVER (PARTITION BY feature)
                              + 0.5 * {PSI_BINS}) AS cur_pct
      FROM wide
    )
    SELECT feature, CAST(bin AS INT) AS bin,
           ROUND(bin_lo, 4) AS bin_lo, ROUND(bin_hi, 4) AS bin_hi,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(ref_pct, 6) AS ref_pct,
           ROUND(cur_pct, 6) AS cur_pct,
           ROUND((cur_pct - ref_pct) * ln(cur_pct / ref_pct), 6)
             AS psi_contrib,
           ROUND(SUM((cur_pct - ref_pct) * ln(cur_pct / ref_pct))
                 OVER (PARTITION BY feature), 6) AS feature_psi
    FROM pct ORDER BY feature, bin
""")
def feature_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: for each numeric
    feature (line extended price, line quantity), bin the pre-pivot
    "reference" cohort into PSI_BINS fixed-width bins from the
    reference min/max, drop the post-pivot "current" cohort into the
    same edges (outliers clamp to the edge bins), Laplace-smooth the
    bin shares and report PSI = sum (cur-ref)*ln(cur/ref) — the
    standard go/no-go feature-drift gate in model-monitoring stacks
    (PSI < 0.1 stable, 0.1-0.25 watch, > 0.25 retrain).

    Plan: ONE column-pruned scan melts both features via stack (no
    double read), one 2-row bounds agg over the reference cohort
    broadcasts back as a frame (no driver collect), then ONE
    data-grain shuffle — groupBy(feature, cohort, bin) with map-side
    partial counts collapsing each task to <= 2*2*PSI_BINS rows.
    Everything downstream (grid fill, smoothing, the feature_psi
    window) is metadata-grain (20 rows), and the per-feature window
    is bounded by PSI_BINS. The smoothed shares sum unrounded then
    round, so feature_psi can't drift off the printed contributions.
    At 100 TB the single wide shuffle carries only the pre-collapsed
    per-task bin counts — bytes ~ tasks * 40 rows."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    cohort = F.when(F.col("l_shipdate") < F.lit(PSI_PIVOT).cast("date"),
                    "ref").otherwise("cur")
    stacked = li.select(
        F.expr("stack(2, 'extprice', CAST(l_extendedprice AS DOUBLE), "
               "'qty', CAST(l_quantity AS DOUBLE))").alias("feature", "x"),
        cohort.alias("cohort"))
    bounds = (stacked.filter(F.col("cohort") == "ref")
              .groupBy("feature")
              .agg(F.min("x").alias("mn"), F.max("x").alias("mx")))
    wbin = (F.col("x") - F.col("mn")) \
        / ((F.col("mx") - F.col("mn")) / float(PSI_BINS))
    cnt = (stacked.join(F.broadcast(bounds), "feature")
           .withColumn("bin", F.least(F.greatest(
               F.floor(wbin).cast("int"), F.lit(0)),
               F.lit(PSI_BINS - 1)))
           .groupBy("feature", "cohort", "bin")
           .agg(F.count(F.lit(1)).alias("c")))
    grid = (bounds
            .select("feature", "mn", "mx",
                    F.explode(F.sequence(
                        F.lit(0), F.lit(PSI_BINS - 1))).alias("bin"))
            .select("feature", "bin",
                    (F.col("mn") + F.col("bin") * (F.col("mx") - F.col("mn"))
                     / PSI_BINS).alias("bin_lo"),
                    (F.col("mn") + (F.col("bin") + 1)
                     * (F.col("mx") - F.col("mn")) / PSI_BINS)
                    .alias("bin_hi")))
    wide = (grid
            .join(cnt.filter(F.col("cohort") == "ref")
                  .select("feature", "bin", F.col("c").alias("n_ref")),
                  ["feature", "bin"], "left")
            .join(cnt.filter(F.col("cohort") == "cur")
                  .select("feature", "bin", F.col("c").alias("n_cur")),
                  ["feature", "bin"], "left")
            .fillna(0, ["n_ref", "n_cur"]))
    wf = W.partitionBy("feature")
    ref_pct = (F.col("n_ref") + 0.5) \
        / (F.sum("n_ref").over(wf) + 0.5 * PSI_BINS)
    cur_pct = (F.col("n_cur") + 0.5) \
        / (F.sum("n_cur").over(wf) + 0.5 * PSI_BINS)
    pct = (wide.withColumn("ref_pct", ref_pct)
           .withColumn("cur_pct", cur_pct)
           .withColumn("contrib",
                       (F.col("cur_pct") - F.col("ref_pct"))
                       * F.log(F.col("cur_pct") / F.col("ref_pct"))))
    return (pct.select(
        "feature", F.col("bin").cast("int").alias("bin"),
        F.round("bin_lo", 4).alias("bin_lo"),
        F.round("bin_hi", 4).alias("bin_hi"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round("ref_pct", 6).alias("ref_pct"),
        F.round("cur_pct", 6).alias("cur_pct"),
        F.round("contrib", 6).alias("psi_contrib"),
        F.round(F.sum("contrib").over(wf), 6).alias("feature_psi"))
        .orderBy("feature", "bin"))


# ------------------------------------------- split conformal interval

CONF_ALPHAS = (0.1, 0.05)


@query("stats_conformal_interval", sql=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             substr(md5(l_orderkey::VARCHAR || ':'
                        || l_linenumber::VARCHAR), 1, 1) AS h,
             l_orderkey AS okey, l_linenumber AS lnum
      FROM lineitem
    ), coef AS (
      SELECT ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                   / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6)
               AS slope,
             ROUND((SUM(y) - (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                    / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                    * SUM(x)) / COUNT(*), 6) AS intercept,
             COUNT(*) AS n_train
      FROM base WHERE h < '8'
    ), calib AS (
      SELECT ROUND(ABS(y - (c.intercept + c.slope * x)), 2) AS r,
             okey, lnum
      FROM base, coef c WHERE h >= '8' AND h < 'c'
    ), ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, okey, lnum) AS rk
      FROM calib
    ), nc AS (SELECT COUNT(*) AS n_calib FROM calib),
    ak AS (
      SELECT a.alpha,
             CAST(CEIL((nc.n_calib + 1) * (1 - a.alpha)) AS BIGINT) AS k,
             nc.n_calib
      FROM (SELECT UNNEST(ARRAY[{CONF_ALPHAS[0]}, {CONF_ALPHAS[1]}])
              AS alpha) a, nc
    ), q AS (
      SELECT ak.alpha, ak.k, ak.n_calib, ranked.r AS q_hat
      FROM ak JOIN ranked ON ranked.rk = ak.k
    ), test AS (
      SELECT ROUND(ABS(y - (c.intercept + c.slope * x)), 2) AS r
      FROM base, coef c WHERE h >= 'c'
    ), cov AS (
      SELECT q.alpha, COUNT(*) AS n_test,
             AVG(CASE WHEN t.r <= q.q_hat THEN 1.0 ELSE 0.0 END)
               AS coverage
      FROM test t, q GROUP BY 1
    )
    SELECT q.alpha,
           CAST(c.n_train AS BIGINT) AS n_train,
           CAST(q.n_calib AS BIGINT) AS n_calib,
           CAST(cov.n_test AS BIGINT) AS n_test,
           c.slope, c.intercept,
           CAST(q.k AS BIGINT) AS k, q.q_hat,
           ROUND(cov.coverage, 6) AS coverage
    FROM q JOIN cov ON cov.alpha = q.alpha, coef c
    ORDER BY q.alpha
""")
def stats_conformal_interval(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Split conformal prediction intervals (Papadopoulos '02 /
    Vovk) around a least-squares fit of line revenue on quantity:
    deterministic md5 three-way split (8/4/4 hex buckets ->
    train/calibration/test), OLS slope+intercept from the train
    moments, the calibration set's k-th smallest absolute residual
    with k = ceil((n+1)(1-alpha)) as the distribution-free interval
    half-width, and the held-out empirical coverage that the
    finite-sample guarantee (>= 1-alpha in expectation) is audited
    against — the standard recipe for honest uncertainty on any
    point model, no normality assumed.

    Plan: one column-pruned scan; the train moments collapse in ONE
    partial agg to a 1-row coefficient frame (rounded to 6dp BEFORE
    residuals so both engines' residual grids agree bit-for-bit);
    the order statistic is an exact global rank via the two-phase
    range-partitioned machinery (_twophase.with_global_order — never
    a single-partition window at the calibration grain) probed by
    the broadcast 2-row (alpha, k) frame; coverage is a broadcast
    nested-loop of the 2-row quantile frame against the test slice,
    collapsing map-side. Every data-grain stage is a scan + partial
    agg; the residual rounding (2dp) fixes the comparison grid so
    coverage can't flip on engine ulps."""
    from mongo_cdc_spark.operators._twophase import with_global_order

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        F.substring(F.md5(F.concat_ws(
            ":", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"))), 1, 1).alias("h"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"))
    tr = base.filter(F.col("h") < "8").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    raw_slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    coef = tr.select(
        F.round(raw_slope, 6).alias("slope"),
        F.round((F.col("sy") - raw_slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
        F.col("n").alias("n_train"))
    resid = F.round(F.abs(F.col("y") - (F.col("intercept")
                                        + F.col("slope") * F.col("x"))), 2)
    calib = (base.filter((F.col("h") >= "8") & (F.col("h") < "c"))
             .crossJoin(F.broadcast(coef.select("slope", "intercept")))
             .select(resid.alias("r"), "okey", "lnum"))
    ranked = with_global_order(
        calib, [F.col("r"), F.col("okey"), F.col("lnum")],
        rank_col="rk")
    # count the calibration set from the ranked frame: with_global_order
    # persists its range-partitioned input, so this reads the cache
    # instead of re-running the full scan + md5 split a second time
    # (guide §2.4 — same rows by construction, one fewer data pass)
    nc = ranked.agg(F.count(F.lit(1)).alias("n_calib"))
    ak = (nc.select(
        F.explode(F.array(*[F.lit(a) for a in CONF_ALPHAS]))
        .alias("alpha"), "n_calib")
        .withColumn("k", F.ceil((F.col("n_calib") + 1)
                                * (1 - F.col("alpha"))).cast("bigint")))
    q = (ranked.join(F.broadcast(ak), ranked.rk == ak.k)
         .select("alpha", "k", "n_calib", F.col("r").alias("q_hat")))
    test = (base.filter(F.col("h") >= "c")
            .crossJoin(F.broadcast(coef.select("slope", "intercept")))
            .select(resid.alias("r")))
    cov = (test.crossJoin(F.broadcast(q.select("alpha", "q_hat")))
           .groupBy("alpha")
           .agg(F.count(F.lit(1)).alias("n_test"),
                F.avg(F.when(F.col("r") <= F.col("q_hat"), 1.0)
                      .otherwise(0.0)).alias("coverage")))
    return (q.join(F.broadcast(cov), "alpha")
            .crossJoin(F.broadcast(coef))
            .select("alpha",
                    F.col("n_train").cast("bigint").alias("n_train"),
                    F.col("n_calib").cast("bigint").alias("n_calib"),
                    F.col("n_test").cast("bigint").alias("n_test"),
                    "slope", "intercept",
                    F.col("k").cast("bigint").alias("k"), "q_hat",
                    F.round("coverage", 6).alias("coverage"))
            .orderBy("alpha"))


# ------------------------------------------------- difference in differences

DID_PIVOT = "2024-01-16"


def _did_oracle_sql() -> str:
    from mongo_cdc_spark.operators.timeseries import _norm_sf_sql
    return f"""
    WITH peru AS (
      SELECT user_id,
             CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS treat,
             CASE WHEN ts < TIMESTAMP '{DID_PIVOT} 00:00:00'
                  THEN 'pre' ELSE 'post' END AS period,
             COUNT(*) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2, 3
    ), cell AS (
      SELECT treat, period, COUNT(*) AS n,
             SUM(y) AS sy, SUM(y * y) AS sy2
      FROM peru GROUP BY 1, 2
    ), wide AS (
      SELECT
        MAX(CASE WHEN treat = 1 AND period = 'pre'  THEN n END) AS n_tp,
        MAX(CASE WHEN treat = 1 AND period = 'pre'  THEN sy END) AS sy_tp,
        MAX(CASE WHEN treat = 1 AND period = 'pre'  THEN sy2 END) AS sy2_tp,
        MAX(CASE WHEN treat = 1 AND period = 'post' THEN n END) AS n_ta,
        MAX(CASE WHEN treat = 1 AND period = 'post' THEN sy END) AS sy_ta,
        MAX(CASE WHEN treat = 1 AND period = 'post' THEN sy2 END) AS sy2_ta,
        MAX(CASE WHEN treat = 0 AND period = 'pre'  THEN n END) AS n_cp,
        MAX(CASE WHEN treat = 0 AND period = 'pre'  THEN sy END) AS sy_cp,
        MAX(CASE WHEN treat = 0 AND period = 'pre'  THEN sy2 END) AS sy2_cp,
        MAX(CASE WHEN treat = 0 AND period = 'post' THEN n END) AS n_ca,
        MAX(CASE WHEN treat = 0 AND period = 'post' THEN sy END) AS sy_ca,
        MAX(CASE WHEN treat = 0 AND period = 'post' THEN sy2 END) AS sy2_ca
      FROM cell
    ), est AS (
      SELECT n_tp, n_ta, n_cp, n_ca,
             sy_tp * 1.0 / n_tp AS m_tp, sy_ta * 1.0 / n_ta AS m_ta,
             sy_cp * 1.0 / n_cp AS m_cp, sy_ca * 1.0 / n_ca AS m_ca,
             (sy2_tp - sy_tp * 1.0 * sy_tp / n_tp) / (n_tp - 1) AS v_tp,
             (sy2_ta - sy_ta * 1.0 * sy_ta / n_ta) / (n_ta - 1) AS v_ta,
             (sy2_cp - sy_cp * 1.0 * sy_cp / n_cp) / (n_cp - 1) AS v_cp,
             (sy2_ca - sy_ca * 1.0 * sy_ca / n_ca) / (n_ca - 1) AS v_ca
      FROM wide
    ), z AS (
      SELECT n_tp, n_ta, n_cp, n_ca, m_tp, m_ta, m_cp, m_ca,
             (m_ta - m_tp) - (m_ca - m_cp) AS did,
             SQRT(v_tp / n_tp + v_ta / n_ta
                  + v_cp / n_cp + v_ca / n_ca) AS se
      FROM est
    ), zz AS (
      SELECT *, ABS(did / se) AS az FROM z
    )
    SELECT CAST(n_tp AS BIGINT) AS n_treat_pre,
           CAST(n_ta AS BIGINT) AS n_treat_post,
           CAST(n_cp AS BIGINT) AS n_ctrl_pre,
           CAST(n_ca AS BIGINT) AS n_ctrl_post,
           ROUND(m_tp, 6) AS mean_treat_pre,
           ROUND(m_ta, 6) AS mean_treat_post,
           ROUND(m_cp, 6) AS mean_ctrl_pre,
           ROUND(m_ca, 6) AS mean_ctrl_post,
           ROUND(did, 6) AS did,
           ROUND(se, 6) AS se,
           ROUND(did / se, 6) AS z_stat,
           ROUND(2.0 * {_norm_sf_sql('az')}, 6) AS p_value
    FROM zz"""


@query("ab_test_diff_in_diff", sql=_did_oracle_sql())
def ab_test_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the hash-assigned
    "treatment"'s effect on per-user purchase frequency: the 2x2
    (treated/control x pre/post-{DID_PIVOT}) design, effect =
    (T_post - T_pre) - (C_post - C_pre), which nets out both the
    stable group difference and the common time trend — the workhorse
    quasi-experimental estimator when a feature launches to a cohort
    instead of a randomized holdout. SE from the four cell variances
    (repeated cross-section), z and a two-sided Abramowitz-Stegun
    normal p-value; the hash split means the true effect is 0, so
    the p-value doubles as an A/A sanity probe.

    Plan: purchases collapse in ONE user-period-grain partial agg
    (count only — the outcome is an INTEGER, so every downstream
    moment is exact integer algebra: sum and sum-of-squares are
    bit-identical on both engines, no float-accumulation-order risk
    anywhere); the 4-row cell frame and the 1-row wide report are
    metadata-grain. At 100 TB the user-grain agg is the only
    data-sized stage.""".format(DID_PIVOT=DID_PIVOT)
    from mongo_cdc_spark.operators.timeseries import _norm_sf_sql

    ev = load_table(spark, sf_dir, "events")
    peru = (ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id",
                     (F.substring(F.md5(F.col("user_id").cast("string")),
                                  1, 1) < "8").cast("int").alias("treat"),
                     F.when(F.col("ts") < F.lit(DID_PIVOT + " 00:00:00")
                            .cast("timestamp"), "pre").otherwise("post")
                     .alias("period"))
            .agg(F.count(F.lit(1)).alias("y")))
    cell = (peru.groupBy("treat", "period")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
                 F.sum(F.col("y") * F.col("y")).alias("sy2")))
    pick = lambda c, t, p: F.max(  # noqa: E731
        F.when((F.col("treat") == t) & (F.col("period") == p),
               F.col(c)))
    wide = cell.agg(
        *[pick(c, t, p).alias(f"{c}_{tag}")
          for tag, t, p in [("tp", 1, "pre"), ("ta", 1, "post"),
                            ("cp", 0, "pre"), ("ca", 0, "post")]
          for c in ("n", "sy", "sy2")])
    m = {tag: F.col(f"sy_{tag}") * 1.0 / F.col(f"n_{tag}")
         for tag in ("tp", "ta", "cp", "ca")}
    v = {tag: (F.col(f"sy2_{tag}")
               - F.col(f"sy_{tag}") * 1.0 * F.col(f"sy_{tag}")
               / F.col(f"n_{tag}")) / (F.col(f"n_{tag}") - 1)
         for tag in ("tp", "ta", "cp", "ca")}
    did = (m["ta"] - m["tp"]) - (m["ca"] - m["cp"])
    se = F.sqrt(sum(v[t] / F.col(f"n_{t}")
                    for t in ("tp", "ta", "cp", "ca")))
    z = (wide.withColumn("did", did).withColumn("se", se)
         .withColumn("az", F.abs(F.col("did") / F.col("se"))))
    return z.select(
        F.col("n_tp").cast("bigint").alias("n_treat_pre"),
        F.col("n_ta").cast("bigint").alias("n_treat_post"),
        F.col("n_cp").cast("bigint").alias("n_ctrl_pre"),
        F.col("n_ca").cast("bigint").alias("n_ctrl_post"),
        F.round(m["tp"], 6).alias("mean_treat_pre"),
        F.round(m["ta"], 6).alias("mean_treat_post"),
        F.round(m["cp"], 6).alias("mean_ctrl_pre"),
        F.round(m["ca"], 6).alias("mean_ctrl_post"),
        F.round("did", 6).alias("did"),
        F.round("se", 6).alias("se"),
        F.round(F.col("did") / F.col("se"), 6).alias("z_stat"),
        F.round(2.0 * F.expr(_norm_sf_sql("az")), 6).alias("p_value"))


# ------------------------------------------ Brier score decomposition

_BRIER_BINS = 10
_BRIER_QS = [i / _BRIER_BINS for i in range(1, _BRIER_BINS)]


@query("stats_brier_decomposition", sql=f"""
    WITH base AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             substr(md5(o_orderkey::VARCHAR), 1, 1) < '8' AS is_train
      FROM orders
    ), cuts AS (
      SELECT ROUND(unnest(quantile_cont(x,
               [{', '.join(str(q) for q in _BRIER_QS)}])), 4) AS c
      FROM base WHERE is_train
    ), carr AS (
      SELECT LIST(c ORDER BY c) AS cs FROM cuts
    ), binned AS (
      SELECT (SELECT COUNT(*) FROM unnest(carr.cs) AS u(c)
              WHERE base.x > u.c) AS bin,
             y, is_train
      FROM base, carr
    ), train AS (
      SELECT bin, COUNT(*) AS m, SUM(y) AS s
      FROM binned WHERE is_train GROUP BY 1
    ), test AS (
      SELECT bin, COUNT(*) AS n, SUM(y) AS o
      FROM binned WHERE NOT is_train GROUP BY 1
    ), cell AS (
      SELECT t.bin, tr.s * 1.0 / tr.m AS f_hat,
             t.n, t.o, t.o * 1.0 / t.n AS obs_rate
      FROM test t JOIN train tr ON tr.bin = t.bin
    ), tot AS (
      SELECT SUM(n) AS nn, SUM(o) AS oo,
             SUM(o) * 1.0 / SUM(n) AS obar
      FROM cell
    ), terms AS (
      SELECT c.bin, c.f_hat, c.n, c.obs_rate,
             (c.n * c.f_hat * c.f_hat - 2 * c.f_hat * c.o + c.o)
               / t.nn AS brier_part,
             c.n * (c.f_hat - c.obs_rate) * (c.f_hat - c.obs_rate)
               / t.nn AS rel_part,
             c.n * (c.obs_rate - t.obar) * (c.obs_rate - t.obar)
               / t.nn AS res_part,
             t.obar * (1 - t.obar) AS unc
      FROM cell c, tot t
    )
    SELECT CAST(bin AS INT) AS bin,
           ROUND(f_hat, 6) AS f_hat,
           CAST(n AS BIGINT) AS n,
           ROUND(obs_rate, 6) AS obs_rate,
           ROUND(rel_part, 6) AS rel_term,
           ROUND(res_part, 6) AS res_term,
           ROUND(SUM(brier_part) OVER (), 6) AS brier,
           ROUND(SUM(rel_part) OVER (), 6) AS reliability,
           ROUND(SUM(res_part) OVER (), 6) AS resolution,
           ROUND(unc, 6) AS uncertainty
    FROM terms ORDER BY bin
""")
def stats_brier_decomposition(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the
    bin-rate forecaster: train-half completion rates per order-value
    decile are the forecasts, the held-out half is scored, and the
    score splits exactly into BS = reliability - resolution +
    uncertainty — the forecast-verification identity that separates
    "the probabilities are miscalibrated" (REL) from "the model
    can't discriminate" (low RES) from irreducible base-rate noise
    (UNC). The per-bin rel/res terms localize which forecast bucket
    is off; the companion to stats_isotonic_calibration's fix.

    Plan: decile cuts are the exact interpolated quantiles of the
    train half via _twophase.exact_quantiles (range-repartitioned
    global rank + broadcast bracketing-rank probe — never the
    single-task exact `percentile` buffer), broadcast 4-dp-rounded
    so bin membership can't flip on interpolation ulps; then ONE
    bucket-assign + (bin, half) count pass at data grain. Every forecast,
    observed rate and decomposition term is a ratio of exact
    INTEGER counts combined in identical expression trees, so both
    engines agree bit-for-bit before rounding; the bin-frame windows
    run over <= {_BRIER_BINS} rows via a broadcast totals frame (no
    unpartitioned data-grain window). The BS = REL - RES + UNC
    identity is pinned exactly in tests."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("okey"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        (F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
         < "8").alias("is_train"))
    from mongo_cdc_spark.operators._twophase import exact_quantiles
    cuts = exact_quantiles(
        base.filter("is_train"), "x",
        {f"c{i}": q for i, q in enumerate(_BRIER_QS)},
        ["okey"])
    cuts = cuts.select(*[F.round(F.col(f"c{i}"), 4).alias(f"c{i}")
                         for i in range(len(_BRIER_QS))])
    cut_arr = F.array(*[F.col(f"c{i}") for i in range(len(_BRIER_QS))])
    binned = (base.crossJoin(F.broadcast(cuts))
              .select(F.aggregate(
                  cut_arr, F.lit(0),
                  lambda acc, c: acc + (F.col("x") > c).cast("int"))
                  .alias("bin"), "y", "is_train"))
    halves = (binned.groupBy("bin", "is_train")
              .agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("sy"))
              .persist())
    train = halves.filter("is_train").select(
        "bin", F.col("cnt").alias("m"), F.col("sy").alias("s"))
    test = halves.filter(~F.col("is_train")).select(
        "bin", F.col("cnt").alias("n"), F.col("sy").alias("o"))
    cell = (test.join(F.broadcast(train), "bin")
            .select("bin", (F.col("s") * 1.0 / F.col("m")).alias("f_hat"),
                    "n", "o", (F.col("o") * 1.0 / F.col("n"))
                    .alias("obs_rate")))
    tot = cell.agg(F.sum("n").alias("nn"), F.sum("o").alias("oo"),
                   (F.sum("o") * 1.0 / F.sum("n")).alias("obar"))
    t = (cell.crossJoin(F.broadcast(tot))
         .withColumn("brier_part",
                     (F.col("n") * F.col("f_hat") * F.col("f_hat")
                      - 2 * F.col("f_hat") * F.col("o") + F.col("o"))
                     / F.col("nn"))
         .withColumn("rel_part",
                     F.col("n") * (F.col("f_hat") - F.col("obs_rate"))
                     * (F.col("f_hat") - F.col("obs_rate")) / F.col("nn"))
         .withColumn("res_part",
                     F.col("n") * (F.col("obs_rate") - F.col("obar"))
                     * (F.col("obs_rate") - F.col("obar")) / F.col("nn")))
    sums = t.agg(F.round(F.sum("brier_part"), 6).alias("brier"),
                 F.round(F.sum("rel_part"), 6).alias("reliability"),
                 F.round(F.sum("res_part"), 6).alias("resolution"))
    return (t.crossJoin(F.broadcast(sums))
            .select(F.col("bin").cast("int").alias("bin"),
                    F.round("f_hat", 6).alias("f_hat"),
                    F.col("n").cast("bigint").alias("n"),
                    F.round("obs_rate", 6).alias("obs_rate"),
                    F.round("rel_part", 6).alias("rel_term"),
                    F.round("res_part", 6).alias("res_term"),
                    "brier", "reliability", "resolution",
                    F.round(F.col("obar") * (1 - F.col("obar")), 6)
                    .alias("uncertainty"))
            .orderBy("bin"))


# --------------------------------------------- Neyman allocation plan

NEYMAN_BUDGET = 1000


@query("sample_neyman_allocation", sql=f"""
    WITH cents AS (
      SELECT c_mktsegment AS stratum,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS y
      FROM customer
    ), st AS (
      SELECT stratum, COUNT(*) AS nh,
             SUM(y) AS sy, SUM(y * y) AS sy2
      FROM cents GROUP BY 1
    ), sd AS (
      SELECT stratum, nh,
             SQRT((sy2 - sy * 1.0 * sy / nh) / (nh - 1)) / 100.0
               AS sd_h
      FROM st
    ), tot AS (
      SELECT SUM(nh) AS n_pop, SUM(nh * sd_h) AS sum_ns,
             SUM(nh * sd_h * sd_h) AS sum_ns2
      FROM sd
    ), alloc AS (
      SELECT s.stratum, s.nh, s.sd_h,
             s.nh * 1.0 / t.n_pop AS w_h,
             {NEYMAN_BUDGET} * s.nh * s.sd_h / t.sum_ns AS n_neyman,
             {NEYMAN_BUDGET} * s.nh * 1.0 / t.n_pop AS n_prop,
             t.sum_ns, t.sum_ns2, t.n_pop
      FROM sd s, tot t
    )
    SELECT stratum,
           CAST(nh AS BIGINT) AS n_stratum,
           ROUND(sd_h, 6) AS sd_h,
           ROUND(w_h, 6) AS weight,
           ROUND(n_neyman, 2) AS n_neyman,
           ROUND(n_prop, 2) AS n_prop,
           ROUND(POWER(sum_ns / n_pop, 2) / {NEYMAN_BUDGET}, 6)
             AS var_neyman,
           ROUND((sum_ns2 / n_pop) / {NEYMAN_BUDGET}, 6) AS var_prop
    FROM alloc ORDER BY stratum
""")
def sample_neyman_allocation(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934) of a
    {NEYMAN_BUDGET}-row measurement budget across customer market
    segments: n_h proportional to N_h * sigma_h — concentrate samples
    where the strata are big AND noisy — next to the proportional
    allocation, with the resulting estimator variances
    (sum W_h sigma_h)^2 / n vs (sum W_h sigma_h^2) / n so the design
    gain is explicit. This is the planning table every
    data-profiling / quality-audit sampler should consult before
    burning its labeling or scan budget uniformly.

    Plan: ONE data-grain partial agg over integer CENTS (sums and
    sums-of-squares exact — zero float-order risk), a 5-row stratum
    frame, a broadcast 1-row totals frame, pure algebra after. At
    100 TB the stratum agg is the only data-sized stage."""
    c = load_table(spark, sf_dir, "customer")
    cents = c.select(
        F.col("c_mktsegment").alias("stratum"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("y"))
    st = (cents.groupBy("stratum")
          .agg(F.count(F.lit(1)).alias("nh"), F.sum("y").alias("sy"),
               F.sum(F.col("y") * F.col("y")).alias("sy2")))
    sd = st.select(
        "stratum", "nh",
        (F.sqrt((F.col("sy2") - F.col("sy") * 1.0 * F.col("sy")
                 / F.col("nh")) / (F.col("nh") - 1)) / 100.0)
        .alias("sd_h"))
    tot = sd.agg(F.sum("nh").alias("n_pop"),
                 F.sum(F.col("nh") * F.col("sd_h")).alias("sum_ns"),
                 F.sum(F.col("nh") * F.col("sd_h") * F.col("sd_h"))
                 .alias("sum_ns2"))
    a = sd.crossJoin(F.broadcast(tot))
    return (a.select(
        "stratum",
        F.col("nh").cast("bigint").alias("n_stratum"),
        F.round("sd_h", 6).alias("sd_h"),
        F.round(F.col("nh") * 1.0 / F.col("n_pop"), 6).alias("weight"),
        F.round(NEYMAN_BUDGET * F.col("nh") * F.col("sd_h")
                / F.col("sum_ns"), 2).alias("n_neyman"),
        F.round(NEYMAN_BUDGET * F.col("nh") * 1.0 / F.col("n_pop"), 2)
        .alias("n_prop"),
        F.round(F.pow(F.col("sum_ns") / F.col("n_pop"), 2)
                / NEYMAN_BUDGET, 6).alias("var_neyman"),
        F.round((F.col("sum_ns2") / F.col("n_pop")) / NEYMAN_BUDGET, 6)
        .alias("var_prop"))
        .orderBy("stratum"))


# -------------------------------------------------- k-fold CV slope

CV_FOLDS = 4


@query("stats_kfold_cv_slope", sql=f"""
    WITH base AS (
      SELECT (instr('0123456789abcdef',
                    substr(md5(l_orderkey::VARCHAR || ':'
                               || l_linenumber::VARCHAR), 1, 1)) - 1)
               // {16 // CV_FOLDS} AS fold,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yc
      FROM lineitem
    ), fs AS (
      SELECT fold, COUNT(*) AS n, SUM(x) AS sx, SUM(yc) AS sy,
             SUM(x * yc) AS sxy, SUM(x * x) AS sxx
      FROM base GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
             SUM(sxy) AS sxy, SUM(sxx) AS sxx
      FROM fs
    ), coef AS (
      SELECT f.fold,
             t.n - f.n AS n_train, f.n AS n_eval,
             ROUND((CAST(t.n - f.n AS DOUBLE)
                      * CAST(t.sxy - f.sxy AS DOUBLE)
                    - CAST(t.sx - f.sx AS DOUBLE)
                      * CAST(t.sy - f.sy AS DOUBLE))
                   / ((CAST(t.n - f.n AS DOUBLE)
                         * CAST(t.sxx - f.sxx AS DOUBLE)
                       - CAST(t.sx - f.sx AS DOUBLE)
                         * CAST(t.sx - f.sx AS DOUBLE)) * 100.0), 6)
               AS slope,
             ROUND(((t.sy - f.sy) / 100.0
                    - (CAST(t.n - f.n AS DOUBLE)
                         * CAST(t.sxy - f.sxy AS DOUBLE)
                       - CAST(t.sx - f.sx AS DOUBLE)
                         * CAST(t.sy - f.sy AS DOUBLE))
                      / ((CAST(t.n - f.n AS DOUBLE)
                            * CAST(t.sxx - f.sxx AS DOUBLE)
                          - CAST(t.sx - f.sx AS DOUBLE)
                            * CAST(t.sx - f.sx AS DOUBLE)) * 100.0)
                      * (t.sx - f.sx)) / (t.n - f.n), 6) AS intercept
      FROM fs f, tot t
    ), ev AS (
      SELECT c.fold, c.n_train, c.n_eval, c.slope, c.intercept,
             ROUND(SQRT(AVG(POWER(b.yc / 100.0
                 - (c.intercept + c.slope * b.x), 2))), 4) AS rmse
      FROM base b JOIN coef c ON c.fold = b.fold
      GROUP BY 1, 2, 3, 4, 5
    ), cv AS (
      SELECT AVG(slope) AS ms, stddev_samp(slope) AS ss FROM ev
    )
    SELECT CAST(e.fold AS INT) AS fold,
           CAST(e.n_train AS BIGINT) AS n_train,
           CAST(e.n_eval AS BIGINT) AS n_eval,
           e.slope, e.intercept, e.rmse,
           ROUND(cv.ms, 6) AS cv_mean_slope,
           ROUND(cv.ss, 6) AS cv_sd_slope
    FROM ev e, cv ORDER BY e.fold
""")
def stats_kfold_cv_slope(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """{CV_FOLDS}-fold cross-validated OLS of line revenue on
    quantity: deterministic md5 fold assignment, each fold's
    coefficients fit on the OTHER folds via the leave-fold-out SUM
    identity (total moments minus fold moments — the folds are never
    re-scanned per model), held-out RMSE per fold, and the
    cross-fold slope mean/sd that tells you whether the fit is
    stable enough to ship — the model-validation loop every feature
    pipeline runs, done with k+1 aggregate frames instead of k
    training jobs.

    Plan: ONE data-grain partial agg produces the per-fold moment
    frame ({CV_FOLDS} rows); totals and all 2x{CV_FOLDS} coefficients
    are pure algebra on it. Moments use integer CENTS so every sum
    is exact; the closed-form coefficient algebra then runs in
    DOUBLE (the bigint cross-products overflow past ~sf0.1 — a
    100 TB run keeps the same identity, optionally in DECIMAL(38)
    for exactness). The second
    data-grain pass scores each row against ITS fold's broadcast
    coefficients for the held-out RMSE. Everything else is
    {CV_FOLDS}-row metadata."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        ((F.instr(F.lit("0123456789abcdef"),
                  F.substring(F.md5(F.concat_ws(
                      ":", F.col("l_orderkey").cast("string"),
                      F.col("l_linenumber").cast("string"))), 1, 1))
          - 1).cast("int") / (16 // CV_FOLDS)).cast("int").alias("fold"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("yc"))
    fs = (base.groupBy("fold")
          .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
               F.sum("yc").alias("sy"),
               F.sum(F.col("x") * F.col("yc")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"))
          .persist())
    tot = fs.agg(*[F.sum(c).alias(c)
                   for c in ("n", "sx", "sy", "sxy", "sxx")])
    f = fs.select(*[F.col(c).alias(f"f_{c}")
                    for c in ("fold", "n", "sx", "sy", "sxy", "sxx")])
    jt = f.crossJoin(F.broadcast(tot))
    # coefficient algebra in DOUBLE: the integer sums are exact, but
    # (n - f_n) * (sxy - f_sxy) overflows BIGINT past ~sf0.1 (ANSI
    # mode errors); double keeps ~1e-16 relative error, absorbed by
    # the 6-dp round on a O(1e3) slope
    dnf = (F.col("n") - F.col("f_n")).cast("double")
    num = (dnf * (F.col("sxy") - F.col("f_sxy")).cast("double")
           - (F.col("sx") - F.col("f_sx")).cast("double")
           * (F.col("sy") - F.col("f_sy")).cast("double"))
    den = ((dnf * (F.col("sxx") - F.col("f_sxx")).cast("double")
            - (F.col("sx") - F.col("f_sx")).cast("double")
            * (F.col("sx") - F.col("f_sx")).cast("double")) * 100.0)
    slope = num / den
    coef = jt.select(
        F.col("f_fold").alias("fold"),
        (F.col("n") - F.col("f_n")).alias("n_train"),
        F.col("f_n").alias("n_eval"),
        F.round(slope, 6).alias("slope"),
        F.round(((F.col("sy") - F.col("f_sy")) / 100.0
                 - slope * (F.col("sx") - F.col("f_sx")))
                / (F.col("n") - F.col("f_n")), 6).alias("intercept"))
    ev = (base.join(F.broadcast(coef), "fold")
          .groupBy("fold", "n_train", "n_eval", "slope", "intercept")
          .agg(F.round(F.sqrt(F.avg(F.pow(
              F.col("yc") / 100.0
              - (F.col("intercept") + F.col("slope") * F.col("x")),
              2))), 4).alias("rmse")))
    cv = ev.agg(F.round(F.avg("slope"), 6).alias("cv_mean_slope"),
                F.round(F.stddev_samp("slope"), 6).alias("cv_sd_slope"))
    return (ev.crossJoin(F.broadcast(cv))
            .select(F.col("fold").cast("int").alias("fold"),
                    F.col("n_train").cast("bigint").alias("n_train"),
                    F.col("n_eval").cast("bigint").alias("n_eval"),
                    "slope", "intercept", "rmse",
                    "cv_mean_slope", "cv_sd_slope")
            .orderBy("fold"))


# ------------------------------------------ functional dependencies

_FD_CANDIDATES = (
    ("o_custkey", "c_mktsegment"),      # holds: customer attribute
    ("o_custkey", "c_nationkey"),       # holds: customer attribute
    ("c_mktsegment", "o_orderpriority"),  # violates: independent
    ("c_nationkey", "c_mktsegment"),    # violates: many-to-many
)


def _fd_oracle_sql() -> str:
    melts = []
    for lhs, rhs in _FD_CANDIDATES:
        melts.append(
            f"SELECT '{lhs}->{rhs}' AS fd, CAST({lhs} AS VARCHAR) AS l,"
            f" CAST({rhs} AS VARCHAR) AS r FROM joined")
    melt = "\n      UNION ALL ".join(melts)
    return f"""
    WITH joined AS (
      SELECT o.o_custkey, o.o_orderpriority,
             c.c_mktsegment, c.c_nationkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), melt AS (
      {melt}
    ), pairc AS (
      SELECT fd, l, r, COUNT(*) AS c FROM melt GROUP BY 1, 2, 3
    ), perl AS (
      SELECT fd, l, SUM(c) AS n, MAX(c) AS keep
      FROM pairc GROUP BY 1, 2
    )
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(n - keep) AS BIGINT) AS n_violations,
           SUM(n - keep) = 0 AS holds,
           ROUND(1.0 - SUM(n - keep) * 1.0 / SUM(n), 6) AS g3_conf
    FROM perl GROUP BY fd ORDER BY fd"""


@query("quality_fd_discovery", sql=_fd_oracle_sql())
def quality_fd_discovery(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Approximate functional-dependency profiling over the
    denormalized orders⋈customer view: for each candidate X -> Y,
    the Kivinen-Mannila g3 measure — the minimum fraction of rows to
    delete before the FD holds exactly, computed as
    sum_x (|group x| - max single-y count) — plus the exact
    holds/violations verdict. This is the schema-discovery pass
    (Metanome/Deequ territory) that tells a lakehouse which
    post-join columns are redundant (true FDs -> normalize or trust
    for dedup keys) and which "obvious" dependencies are actually
    dirty. Two candidates hold by construction, two genuinely
    violate, so both verdict paths are exercised.

    Plan: ONE key-hash join (orders⋈customer, both data-grain at
    100 TB), persisted and melted into (candidate, lhs, rhs)
    triples — each stage then collapses by counting: pair counts,
    per-lhs totals + max, candidate rollup; every shuffle carries
    only pre-collapsed count rows (map-side combine), every number
    an exact integer until the final g3 division."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = (o.join(c, o.o_custkey == c.c_custkey)
              .select("o_custkey", "o_orderpriority",
                      "c_mktsegment", "c_nationkey")
              .persist())
    melts = [joined.select(
        F.lit(f"{lhs}->{rhs}").alias("fd"),
        F.col(lhs).cast("string").alias("l"),
        F.col(rhs).cast("string").alias("r"))
        for lhs, rhs in _FD_CANDIDATES]
    melt = melts[0]
    for m in melts[1:]:
        melt = melt.unionByName(m)
    pairc = (melt.groupBy("fd", "l", "r")
             .agg(F.count(F.lit(1)).alias("c")))
    perl = (pairc.groupBy("fd", "l")
            .agg(F.sum("c").alias("n"), F.max("c").alias("keep")))
    return (perl.groupBy("fd")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                 F.sum("n").cast("bigint").alias("n_rows"),
                 F.sum(F.col("n") - F.col("keep")).cast("bigint")
                 .alias("n_violations"),
                 (F.sum(F.col("n") - F.col("keep")) == 0).alias("holds"),
                 F.round(1.0 - F.sum(F.col("n") - F.col("keep")) * 1.0
                         / F.sum("n"), 6).alias("g3_conf"))
            .orderBy("fd"))


# --------------------------------------------------------- ROC AUC

AUC_POS_MIN = 14          # label: user made >= this many purchases


@query("stats_auc_roc", sql=f"""
    WITH peru AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS score,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) >= {AUC_POS_MIN}
                  THEN 1 ELSE 0 END AS y
      FROM events GROUP BY 1
    ), sc AS (
      SELECT score, SUM(y) AS n_pos,
             COUNT(*) - SUM(y) AS n_neg
      FROM peru GROUP BY 1
    ), cum AS (
      SELECT s.score, s.n_pos, s.n_neg,
             COALESCE(SUM(b.n_neg), 0) AS neg_below
      FROM sc s LEFT JOIN sc b ON b.score < s.score
      GROUP BY 1, 2, 3
    ), u AS (
      SELECT SUM(n_pos * (neg_below + n_neg / 2.0)) AS u_stat,
             SUM(n_pos) AS np, SUM(n_neg) AS nn
      FROM cum
    )
    SELECT CAST(np + nn AS BIGINT) AS n_users,
           CAST(np AS BIGINT) AS n_pos,
           CAST(nn AS BIGINT) AS n_neg,
           ROUND(u_stat, 2) AS u_stat,
           ROUND(u_stat / (np * nn), 6) AS auc,
           ROUND(2 * u_stat / (np * nn) - 1, 6) AS gini
    FROM u
""")
def stats_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the click-count score against the heavy-purchaser
    label via the Mann-Whitney U identity AUC = U / (n+ n-), with
    EXACT tie handling (each tied pair counts 1/2) — the
    classifier-evaluation number every model gate thresholds on,
    computed without materializing a single scored pair or ROC
    curve point.

    Plan: one user-grain partial agg (integer score, integer label),
    one score-vocabulary-grain count frame, and the cumulative
    negatives below each score from a triangular self-join over that
    bounded frame (score values are small integers here; an
    unbounded-score deployment swaps in the two-phase
    with_global_order cumsum, same algebra). U is a sum of integer
    products with a single half-integer term — bit-identical on
    both engines before rounding. sklearn-parity (roc_auc_score
    reimplemented in numpy) pinned in tests."""
    ev = load_table(spark, sf_dir, "events")
    peru = (ev.groupBy("user_id")
            .agg(F.sum((F.col("event_type") == "click").cast("int"))
                 .alias("score"),
                 (F.sum((F.col("event_type") == "purchase").cast("int"))
                  >= AUC_POS_MIN).cast("int").alias("y")))
    sc = (peru.groupBy("score")
          .agg(F.sum("y").alias("n_pos"),
               (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"))
          .persist())
    b = sc.select(F.col("score").alias("bs"),
                  F.col("n_neg").alias("bn"))
    cum = (sc.join(F.broadcast(b), F.col("bs") < F.col("score"), "left")
           .groupBy("score", "n_pos", "n_neg")
           .agg(F.coalesce(F.sum("bn"), F.lit(0)).alias("neg_below")))
    u = cum.agg(
        F.sum(F.col("n_pos") * (F.col("neg_below")
                                + F.col("n_neg") / 2.0)).alias("u_stat"),
        F.sum("n_pos").alias("np"), F.sum("n_neg").alias("nn"))
    return u.select(
        (F.col("np") + F.col("nn")).cast("bigint").alias("n_users"),
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.round("u_stat", 2).alias("u_stat"),
        F.round(F.col("u_stat") / (F.col("np") * F.col("nn")), 6)
        .alias("auc"),
        F.round(2 * F.col("u_stat") / (F.col("np") * F.col("nn")) - 1,
                6).alias("gini"))


# ------------------------------------------- sample-ratio mismatch

SRM_SPLITS = (("A", 8), ("B", 8))      # md5 first hex: 8/16 each


@query("ab_test_srm_check", sql="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), assigned AS (
      SELECT CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant
      FROM u
    ), c AS (
      SELECT variant, COUNT(*) AS n FROM assigned GROUP BY 1
    ), tot AS (SELECT SUM(n) AS nt FROM c)
    SELECT c.variant,
           CAST(c.n AS BIGINT) AS n_users,
           ROUND(tot.nt * 0.5, 2) AS expected,
           ROUND((c.n - tot.nt * 0.5) * (c.n - tot.nt * 0.5)
                 / (tot.nt * 0.5), 6) AS chi2_term,
           ROUND(SUM((c.n - tot.nt * 0.5) * (c.n - tot.nt * 0.5)
                     / (tot.nt * 0.5)) OVER (), 6) AS chi2,
           SUM((c.n - tot.nt * 0.5) * (c.n - tot.nt * 0.5)
               / (tot.nt * 0.5)) OVER () > 3.841 AS srm_flag
    FROM c, tot ORDER BY c.variant
""")
def ab_test_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio-Mismatch guardrail: chi-square goodness-of-fit
    of the observed md5 variant split against the designed 50/50,
    flagged at the df=1 95% critical value (3.841) — the FIRST check
    every experimentation platform runs before reading any metric,
    because a biased assignment invalidates all of them (Fabijan et
    al., KDD'19 diagnoses). Shares the hash-bucket assignment of the
    whole ab_test_* family, so a flag here impeaches those too.

    Plan: one user-distinct agg (the only data-grain stage), a
    2-row variant frame, exact-integer chi-square algebra over the
    bounded 2-row window."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    assigned = u.select(
        F.when(F.substring(F.md5(F.col("user_id").cast("string")),
                           1, 1) < "8", "A").otherwise("B")
        .alias("variant"))
    c = (assigned.groupBy("variant")
         .agg(F.count(F.lit(1)).alias("n"))
         .persist())
    tot = c.agg(F.sum("n").alias("nt"))
    t = (c.crossJoin(F.broadcast(tot))
         .withColumn("term",
                     (F.col("n") - F.col("nt") * 0.5)
                     * (F.col("n") - F.col("nt") * 0.5)
                     / (F.col("nt") * 0.5)))
    chi2 = t.agg(F.sum("term").alias("chi2s"))
    return (t.crossJoin(F.broadcast(chi2))
            .select("variant",
                    F.col("n").cast("bigint").alias("n_users"),
                    F.round(F.col("nt") * 0.5, 2).alias("expected"),
                    F.round("term", 6).alias("chi2_term"),
                    F.round("chi2s", 6).alias("chi2"),
                    (F.col("chi2s") > 3.841).alias("srm_flag"))
            .orderBy("variant"))


# ------------------------------------------------ Hill tail index

HILL_KS = (50, 100, 200)


@query("stats_hill_tail_index", sql=f"""
    WITH top AS (
      SELECT o_totalprice AS x,
             ROW_NUMBER() OVER (
               ORDER BY o_totalprice DESC, o_orderkey) AS r
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT {max(HILL_KS) + 1}
    ), ks AS (
      SELECT UNNEST(ARRAY[{', '.join(str(k) for k in HILL_KS)}]) AS k
    ), thr AS (
      SELECT ks.k, t.x AS x_thresh
      FROM ks JOIN top t ON t.r = ks.k + 1
    ), terms AS (
      SELECT thr.k, thr.x_thresh,
             ROUND(LN(t.x / thr.x_thresh), 8) AS lt
      FROM thr JOIN top t ON t.r <= thr.k
    )
    SELECT k,
           ROUND(x_thresh, 2) AS x_thresh,
           ROUND(k / SUM(lt), 6) AS hill_alpha,
           ROUND((k / SUM(lt)) / SQRT(k), 6) AS alpha_se
    FROM terms GROUP BY k, x_thresh ORDER BY k
""")
def stats_hill_tail_index(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index (Hill 1975) of order
    values at several order-statistic depths k: alpha_k =
    k / sum ln(x_(i) / x_(k+1)) with asymptotic SE alpha/sqrt(k) —
    the heavy-tail diagnostic behind capacity planning, fraud
    thresholds and the "does a mean even exist" sanity check
    (alpha <= 1 means it doesn't); reading it across the k-sweep is
    the standard Hill-plot stability check. Completes the tail
    family next to text_zipf_fit's rank-frequency slope.

    Plan: the ONLY data-sized stage is TakeOrderedAndProject for the
    top max(k)+1 rows (per-partition heaps, no global sort); ranks,
    thresholds and the log-sum all run on that bounded frame against
    the broadcast k-grid. Log terms round at 8 dp before the k-term
    sum so the 6-dp estimate can't flip on summation order."""
    from pyspark.sql import Window as W

    kmax = max(HILL_KS) + 1
    top = (load_table(spark, sf_dir, "orders")
           .select(F.col("o_totalprice").alias("x"), "o_orderkey")
           .orderBy(F.desc("x"), "o_orderkey").limit(kmax)
           .withColumn("r", F.row_number().over(
               W.orderBy(F.desc("x"), "o_orderkey")))
           .persist())
    ks = spark.createDataFrame([(k,) for k in HILL_KS], "k int")
    thr = (ks.join(F.broadcast(top), top.r == ks.k + 1)
           .select("k", F.col("x").alias("x_thresh")))
    terms = (thr.join(F.broadcast(top), top.r <= thr.k)
             .select("k", "x_thresh",
                     F.round(F.log(F.col("x") / F.col("x_thresh")), 8)
                     .alias("lt")))
    return (terms.groupBy("k", "x_thresh")
            .agg(F.round(F.col("k") / F.sum("lt"), 6)
                 .alias("hill_alpha"),
                 F.round((F.col("k") / F.sum("lt")) / F.sqrt("k"), 6)
                 .alias("alpha_se"))
            .select("k", F.round("x_thresh", 2).alias("x_thresh"),
                    "hill_alpha", "alpha_se")
            .orderBy("k"))


# --------------------------------------------- IV / Wald estimator

IV_HEAVY_MIN = 14        # "took treatment": >= this many purchases


@query("ab_test_iv_wald", sql=f"""
    WITH peru AS (
      SELECT user_id,
             CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS z,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) >= {IV_HEAVY_MIN}
                  THEN 1 ELSE 0 END AS d,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS yc
      FROM events GROUP BY 1
    ), cell AS (
      SELECT z, COUNT(*) AS n, SUM(d) AS sd, SUM(yc) AS sy
      FROM peru GROUP BY 1
    ), wide AS (
      SELECT
        MAX(CASE WHEN z = 1 THEN n END) AS n1,
        MAX(CASE WHEN z = 1 THEN sd END) AS sd1,
        MAX(CASE WHEN z = 1 THEN sy END) AS sy1,
        MAX(CASE WHEN z = 0 THEN n END) AS n0,
        MAX(CASE WHEN z = 0 THEN sd END) AS sd0,
        MAX(CASE WHEN z = 0 THEN sy END) AS sy0
      FROM cell
    )
    SELECT CAST(n1 AS BIGINT) AS n_encouraged,
           CAST(n0 AS BIGINT) AS n_control,
           ROUND(sy1 / 100.0 / n1 - sy0 / 100.0 / n0, 6) AS itt_y,
           ROUND(sd1 * 1.0 / n1 - sd0 * 1.0 / n0, 6) AS first_stage,
           ROUND((sy1 / 100.0 / n1 - sy0 / 100.0 / n0)
                 / (sd1 * 1.0 / n1 - sd0 * 1.0 / n0), 6) AS late_wald,
           ROUND(sd1 * 1.0 / n1, 6) AS takeup_encouraged,
           ROUND(sd0 * 1.0 / n0, 6) AS takeup_control
    FROM wide
""")
def ab_test_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable Wald estimator (Angrist-Imbens LATE)
    for the encouragement design: the md5 hash assignment is the
    INSTRUMENT z, "became a heavy purchaser" is the endogenous
    treatment d, purchase revenue is the outcome y; LATE =
    ITT_y / first-stage = (E[y|z=1]-E[y|z=0]) / (E[d|z=1]-E[d|z=0])
    — what an experimentation platform reports when the nudge can
    only ENCOURAGE the behavior, with the intent-to-treat effect and
    both take-up rates alongside so a weak first stage is visible
    before anyone trusts the ratio.

    Plan: ONE user-grain partial agg (integer cents + integer
    take-up flags — every cell moment exact), a 2-row cell frame,
    pure closed-form algebra. Python cell recompute in tests, which
    also pin that both take-up rates and the first stage are
    reported alongside LATE — the weak-instrument guard."""
    ev = load_table(spark, sf_dir, "events")
    peru = (ev.groupBy("user_id")
            .agg((F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)) >= IV_HEAVY_MIN).cast("int")
                 .alias("d"),
                 F.sum(F.when(F.col("event_type") == "purchase",
                              F.round(F.col("value") * 100)
                              .cast("bigint")).otherwise(0))
                 .alias("yc"))
            .withColumn("z", (F.substring(
                F.md5(F.col("user_id").cast("string")), 1, 1) < "8")
                .cast("int")))
    cell = (peru.groupBy("z")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("d").alias("sd"),
                 F.sum("yc").alias("sy")))
    side = lambda c, z: F.max(F.when(F.col("z") == z,  # noqa: E731
                                     F.col(c)))
    wide = cell.agg(side("n", 1).alias("n1"), side("sd", 1).alias("sd1"),
                    side("sy", 1).alias("sy1"),
                    side("n", 0).alias("n0"), side("sd", 0).alias("sd0"),
                    side("sy", 0).alias("sy0"))
    itt = (F.col("sy1") / 100.0 / F.col("n1")
           - F.col("sy0") / 100.0 / F.col("n0"))
    fs = (F.col("sd1") * 1.0 / F.col("n1")
          - F.col("sd0") * 1.0 / F.col("n0"))
    return wide.select(
        F.col("n1").cast("bigint").alias("n_encouraged"),
        F.col("n0").cast("bigint").alias("n_control"),
        F.round(itt, 6).alias("itt_y"),
        F.round(fs, 6).alias("first_stage"),
        F.round(itt / fs, 6).alias("late_wald"),
        F.round(F.col("sd1") * 1.0 / F.col("n1"), 6)
        .alias("takeup_encouraged"),
        F.round(F.col("sd0") * 1.0 / F.col("n0"), 6)
        .alias("takeup_control"))


# ---------------------------------------- cluster-robust A/B SEs


@query("ab_test_clustered_se", sql="""
    WITH peru AS (
      SELECT user_id,
             CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             COUNT(*) AS k,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS s
      FROM events GROUP BY 1
    ), ev2 AS (
      SELECT CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) / 10000.0
               AS sv2
      FROM events GROUP BY 1
    ), cell AS (
      SELECT variant, COUNT(*) AS nu, SUM(k) AS ne, SUM(s) AS ss,
             SUM(s * s) AS ss2, SUM(k * 1.0 * k) AS kk2,
             SUM(s * k) AS ssk
      FROM peru GROUP BY 1
    ), est AS (
      SELECT c.variant, c.nu, c.ne,
             c.ss / c.ne AS r,
             (c.ss2 / c.nu - (c.ss / c.nu) * (c.ss / c.nu)) AS var_s,
             (c.kk2 / c.nu - (c.ne * 1.0 / c.nu)
                * (c.ne * 1.0 / c.nu)) AS var_k,
             (c.ssk / c.nu - (c.ss / c.nu) * (c.ne * 1.0 / c.nu))
               AS cov_sk,
             c.ne * 1.0 / c.nu AS kbar,
             (e.sv2 / c.ne - (c.ss / c.ne) * (c.ss / c.ne))
               AS var_event
      FROM cell c JOIN ev2 e ON e.variant = c.variant
    )
    SELECT variant,
           CAST(nu AS BIGINT) AS n_users,
           CAST(ne AS BIGINT) AS n_events,
           ROUND(r, 6) AS mean_per_event,
           ROUND(SQRT(var_event / ne), 6) AS se_naive,
           ROUND(SQRT((var_s - 2 * r * cov_sk + r * r * var_k)
                      / nu) / kbar, 6) AS se_clustered,
           ROUND(((var_s - 2 * r * cov_sk + r * r * var_k)
                  / nu / (kbar * kbar)) / (var_event / ne), 4)
             AS design_effect
    FROM est ORDER BY variant
""")
def ab_test_clustered_se(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Cluster-robust standard error for the ratio metric
    "revenue per event" when randomization is BY USER but the metric
    is per event — the Deng-Knoblich-Lu (KDD'18) delta method:
    Var(R) = (var S - 2R cov(S,K) + R^2 var K) / (n_u * kbar^2)
    over per-user sums S and counts K, next to the naive event-level
    SE that silently assumes independent events. design_effect =
    (se_cluster/se_naive)^2 quantifies how badly the naive CI
    overstates precision — THE most common A/B analysis bug when
    heavy users dominate event counts.

    Plan: one user-grain partial agg (exact integer cents and
    counts) + one event-grain sum-of-squares agg, then 2-row closed
    algebra — identical expression trees both engines. BOTH moments
    derive from the same integer-cents representation (per-user sums
    AND the event-level sum of squares), so se_naive is consistent
    with the cents-rounded ratio mean and var_event cannot go
    negative for near-constant values (round-7 ADVICE fix). Python
    recompute in tests pins both SEs and the design effect."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
        < "8", "A").otherwise("B")
    yc = F.round(F.col("value") * 100).cast("bigint")
    peru = (ev.groupBy("user_id", variant.alias("variant"))
            .agg(F.count(F.lit(1)).alias("k"),
                 (F.sum(yc) / 100.0).alias("s")))
    # second moment of squared cents: per-row terms are ~1e10, so a
    # BIGINT sum wraps silently past ~1e9 events while DuckDB promotes
    # SUM(BIGINT) to HUGEINT — accumulate as decimal(38,0) (Spark's
    # 128-bit path) so the engines agree at 100 TB (round-7 ADVICE).
    ev2 = (ev.groupBy(variant.alias("variant"))
           .agg((F.sum((yc * yc).cast("decimal(38,0)"))
                 .cast("double") / F.lit(10000.0)).alias("sv2")))
    cell = (peru.groupBy("variant")
            .agg(F.count(F.lit(1)).alias("nu"), F.sum("k").alias("ne"),
                 F.sum("s").alias("ss"),
                 F.sum(F.col("s") * F.col("s")).alias("ss2"),
                 F.sum(F.col("k") * 1.0 * F.col("k")).alias("kk2"),
                 F.sum(F.col("s") * F.col("k")).alias("ssk")))
    j = cell.join(F.broadcast(ev2), "variant")
    r = F.col("ss") / F.col("ne")
    var_s = F.col("ss2") / F.col("nu") \
        - (F.col("ss") / F.col("nu")) * (F.col("ss") / F.col("nu"))
    var_k = F.col("kk2") / F.col("nu") \
        - (F.col("ne") * 1.0 / F.col("nu")) \
        * (F.col("ne") * 1.0 / F.col("nu"))
    cov_sk = F.col("ssk") / F.col("nu") \
        - (F.col("ss") / F.col("nu")) * (F.col("ne") * 1.0 / F.col("nu"))
    kbar = F.col("ne") * 1.0 / F.col("nu")
    var_event = F.col("sv2") / F.col("ne") - r * r
    num = var_s - 2 * r * cov_sk + r * r * var_k
    return (j.select(
        "variant",
        F.col("nu").cast("bigint").alias("n_users"),
        F.col("ne").cast("bigint").alias("n_events"),
        F.round(r, 6).alias("mean_per_event"),
        F.round(F.sqrt(var_event / F.col("ne")), 6).alias("se_naive"),
        F.round(F.sqrt(num / F.col("nu")) / kbar, 6)
        .alias("se_clustered"),
        F.round((num / F.col("nu") / (kbar * kbar))
                / (var_event / F.col("ne")), 4).alias("design_effect"))
        .orderBy("variant"))


# ------------------------------------- empirical-Bayes shrinkage

EB_BUCKET_W = 10          # user-volume bucket width (events)
EB_BUCKET_CAP = 5


@query("stats_eb_shrinkage", sql=f"""
    WITH peru AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS k,
             SUM(CASE WHEN event_type IN ('click', 'view')
                      THEN 1 ELSE 0 END) AS n
      FROM events GROUP BY 1
    ), rated AS (
      SELECT user_id, k, n, k * 1.0 / n AS p
      FROM peru WHERE n > 0
    ), mom AS (
      SELECT COUNT(*) AS nu, AVG(p) AS m1,
             (SUM(p * p) / COUNT(*) - AVG(p) * AVG(p))
               * COUNT(*) / (COUNT(*) - 1) AS v
      FROM rated
    ), prior AS (
      SELECT ROUND(m1 * (m1 * (1 - m1) / v - 1), 6) AS alpha,
             ROUND((1 - m1) * (m1 * (1 - m1) / v - 1), 6) AS beta
      FROM mom
    ), bucketed AS (
      SELECT LEAST(r.n // {EB_BUCKET_W}, {EB_BUCKET_CAP}) AS bucket,
             r.k, r.n,
             (r.k + p.alpha) / (r.n + p.alpha + p.beta) AS shrunk,
             r.n / (r.n + p.alpha + p.beta) AS w,
             p.alpha, p.beta
      FROM rated r, prior p
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(n * 1.0), 2) AS avg_n,
           ROUND(SUM(k) * 1.0 / SUM(n), 6) AS raw_rate,
           ROUND(AVG(shrunk), 6) AS avg_shrunk_rate,
           ROUND(AVG(w), 6) AS avg_data_weight,
           MAX(alpha) AS alpha, MAX(beta) AS beta
    FROM bucketed GROUP BY 1 ORDER BY 1
""")
def stats_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes Beta-Binomial shrinkage of per-user
    click-through rates (Robbins / the baseball-batting-average
    classic): method-of-moments prior (alpha, beta) from the
    population of raw rates, then every user's posterior mean
    (k + alpha)/(n + alpha + beta) — the smoothing every ranking /
    spam / CTR system applies so low-volume entities don't dominate
    with 1/1 = 100% rates. Reported as the volume-bucket calibration
    table: raw pooled rate vs mean shrunken rate vs the data weight
    n/(n + alpha + beta) that shows exactly how much the prior
    pulls at each volume tier.

    Plan: ONE user-grain partial agg (integer k, n); the moment fit
    is a 1-row frame, the prior broadcasts back (rounded 6 dp so
    both engines shrink with identical constants), and the bucket
    rollup is bounded by {EB_BUCKET_CAP + 1} tiers. Python MoM +
    posterior parity in tests, plus the monotone-weight guarantee
    (more data -> more weight on the user's own rate)."""
    ev = load_table(spark, sf_dir, "events")
    peru = (ev.groupBy("user_id")
            .agg(F.sum((F.col("event_type") == "click").cast("int"))
                 .alias("k"),
                 F.sum(F.col("event_type").isin("click", "view")
                       .cast("int")).alias("n")))
    rated = (peru.filter(F.col("n") > 0)
             .withColumn("p", F.col("k") * 1.0 / F.col("n"))
             .persist())
    mom = rated.agg(
        F.count(F.lit(1)).alias("nu"), F.avg("p").alias("m1"),
        ((F.sum(F.col("p") * F.col("p")) / F.count(F.lit(1))
          - F.avg("p") * F.avg("p"))
         * F.count(F.lit(1)) / (F.count(F.lit(1)) - 1)).alias("v"))
    kappa = F.col("m1") * (1 - F.col("m1")) / F.col("v") - 1
    prior = mom.select(
        F.round(F.col("m1") * kappa, 6).alias("alpha"),
        F.round((1 - F.col("m1")) * kappa, 6).alias("beta"))
    b = (rated.crossJoin(F.broadcast(prior))
         .withColumn("bucket", F.least(
             F.expr(f"n DIV {EB_BUCKET_W}"),
             F.lit(EB_BUCKET_CAP)).cast("int"))
         .withColumn("shrunk",
                     (F.col("k") + F.col("alpha"))
                     / (F.col("n") + F.col("alpha") + F.col("beta")))
         .withColumn("w", F.col("n")
                     / (F.col("n") + F.col("alpha") + F.col("beta"))))
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.round(F.avg(F.col("n") * 1.0), 2).alias("avg_n"),
                 F.round(F.sum("k") * 1.0 / F.sum("n"), 6)
                 .alias("raw_rate"),
                 F.round(F.avg("shrunk"), 6).alias("avg_shrunk_rate"),
                 F.round(F.avg("w"), 6).alias("avg_data_weight"),
                 F.max("alpha").alias("alpha"),
                 F.max("beta").alias("beta"))
            .orderBy("bucket"))


# -------------------------------------------- candidate-key discovery

_KEY_CANDIDATES = (
    ("o_orderkey",),
    ("o_custkey",),
    ("o_orderdate",),
    ("o_custkey", "o_orderdate"),
    ("o_custkey", "o_orderdate", "o_totalprice"),
)


def _key_oracle_sql() -> str:
    melts = []
    for cols in _KEY_CANDIDATES:
        name = "+".join(cols)
        expr = " || ':' || ".join(f"COALESCE({c}::VARCHAR, '#null#')"
                                  for c in cols)
        melts.append(f"SELECT '{name}' AS candidate, {expr} AS k, "
                     f"{len(cols)} AS width FROM orders")
    melt = "\n      UNION ALL ".join(melts)
    return f"""
    WITH melt AS (
      {melt}
    ), st AS (
      SELECT candidate, width, COUNT(*) AS n,
             COUNT(DISTINCT k) AS d
      FROM melt GROUP BY 1, 2
    )
    SELECT candidate,
           CAST(width AS INT) AS width,
           CAST(n AS BIGINT) AS n_rows,
           CAST(d AS BIGINT) AS n_distinct,
           d = n AS is_key,
           CAST(n - d AS BIGINT) AS n_collisions,
           ROUND(d * 1.0 / n, 6) AS uniqueness
    FROM st ORDER BY width, candidate"""


@query("quality_key_discovery", sql=_key_oracle_sql())
def quality_key_discovery(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Candidate-key discovery over the orders table: for each
    candidate column set, exact distinct-vs-row counts, the is-key
    verdict, collision count and the uniqueness ratio — the
    profiling pass (Metanome UCC discovery territory) that finds
    which columns can serve as merge/dedup/upsert keys before a
    pipeline hard-codes one. The true PK passes, the plausible
    business keys (customer+date) genuinely fail on the fixture —
    exactly the trap this audit exists to catch. Null components
    coalesce to a sentinel so NULL != NULL collisions are counted
    the way a join key would behave.

    Plan: one melted column-pruned scan (|candidates| narrow
    projections), ONE (candidate, key) distinct-count shuffle with
    map-side collapse; all integers. Pandas parity in tests."""
    o = load_table(spark, sf_dir, "orders")
    melts = []
    for cols in _KEY_CANDIDATES:
        name = "+".join(cols)
        key = F.concat_ws(":", *[
            F.coalesce(F.col(c).cast("string"), F.lit("#null#"))
            for c in cols])
        melts.append(o.select(F.lit(name).alias("candidate"),
                              key.alias("k"),
                              F.lit(len(cols)).alias("width")))
    melt = melts[0]
    for m in melts[1:]:
        melt = melt.unionByName(m)
    st = (melt.groupBy("candidate", "width")
          .agg(F.count(F.lit(1)).alias("n"),
               F.countDistinct("k").alias("d")))
    return (st.select(
        "candidate", F.col("width").cast("int").alias("width"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("d").cast("bigint").alias("n_distinct"),
        (F.col("d") == F.col("n")).alias("is_key"),
        (F.col("n") - F.col("d")).cast("bigint").alias("n_collisions"),
        F.round(F.col("d") * 1.0 / F.col("n"), 6).alias("uniqueness"))
        .orderBy("width", "candidate"))


# ------------------------------------- referential-integrity audit

@query("quality_fk_orphans", sql="""
    WITH checks AS (
      SELECT 'lineitem.l_orderkey -> orders' AS fk,
             (SELECT COUNT(*) FROM lineitem) AS n_child,
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
      UNION ALL
      SELECT 'orders.o_custkey -> customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'lineitem.l_partkey -> part',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey -> supplier',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'orders w/o lineitem (childless)',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                WHERE l.l_orderkey = o.o_orderkey))
    )
    SELECT fk, CAST(n_child AS BIGINT) AS n_rows,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           n_orphans = 0 AS fk_holds
    FROM checks ORDER BY fk
""")
def quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profiler: orphan counts for every foreign
    key of the star schema (child rows whose parent key is missing)
    plus the reverse childless-orders check — the first audit any
    warehouse-ingest pipeline runs after a load, and the verdict
    quality_fd_discovery's FD mining builds on (an FK is an FD whose
    right side is another table's key).

    Plan: each check is one LEFT ANTI join on the key — the dimension
    sides (customer/part/supplier) broadcast; the two
    lineitem-vs-orders checks are the q7/q8-class inherent big-big
    joins (key-co-partitioned shuffle anti-joins at 100 TB; declared
    SMJ) collapsing to a 1-row count before the 5-row union."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")

    def _check(name, child, key, parent, pkey, bc):
        par = parent.select(F.col(pkey).alias(key)).distinct()
        if bc:
            par = F.broadcast(par)
        orphans = child.select(key).join(par, key, "left_anti")
        return (child.agg(F.count(F.lit(1)).alias("n_rows"))
                .crossJoin(orphans.agg(F.count(F.lit(1))
                                       .alias("n_orphans")))
                .select(F.lit(name).alias("fk"),
                        F.col("n_rows").cast("bigint").alias("n_rows"),
                        F.col("n_orphans").cast("bigint")
                        .alias("n_orphans"),
                        (F.col("n_orphans") == 0).alias("fk_holds")))

    out = _check("lineitem.l_orderkey -> orders", li, "l_orderkey",
                 o.select(F.col("o_orderkey").alias("l_orderkey")),
                 "l_orderkey", False)
    out = out.unionByName(_check(
        "orders.o_custkey -> customer", o, "o_custkey",
        c.select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey", True))
    out = out.unionByName(_check(
        "lineitem.l_partkey -> part", li, "l_partkey",
        p.select(F.col("p_partkey").alias("l_partkey")),
        "l_partkey", True))
    out = out.unionByName(_check(
        "lineitem.l_suppkey -> supplier", li, "l_suppkey",
        s.select(F.col("s_suppkey").alias("l_suppkey")),
        "l_suppkey", True))
    out = out.unionByName(_check(
        "orders w/o lineitem (childless)", o, "o_orderkey",
        li.select(F.col("l_orderkey").alias("o_orderkey")),
        "o_orderkey", False))
    return out.orderBy("fk")


# --------------------------------- Brown-Forsythe variance equality

@query("stats_levene_variance", sql="""
    WITH med AS (
      SELECT c_mktsegment AS seg,
             ROUND(quantile_cont(CAST(c_acctbal AS DOUBLE), 0.5), 4)
               AS md
      FROM customer GROUP BY 1
    ), z AS (
      SELECT c.c_mktsegment AS seg,
             ABS(c.c_acctbal - m.md) AS z
      FROM customer c JOIN med m ON m.seg = c.c_mktsegment
    ), grp AS (
      SELECT seg, COUNT(*) AS n, SUM(z) AS sz, SUM(z * z) AS sz2
      FROM z GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS nn, SUM(sz) AS tz, COUNT(*) AS k FROM grp
    ), w AS (
      SELECT t.nn, t.k,
             (t.nn - t.k) * 1e0 / (t.k - 1)
             * SUM(g.n * POW(g.sz / g.n - t.tz / t.nn, 2))
             / SUM(g.sz2 - g.sz * g.sz / g.n) AS stat
      FROM grp g, tot t GROUP BY t.nn, t.k
    )
    SELECT m.seg AS segment,
           CAST(g.n AS BIGINT) AS n,
           m.md AS seg_median,
           ROUND(g.sz / g.n, 6) AS mean_absdev,
           ROUND(w.stat, 6) AS bf_stat,
           CAST(w.k - 1 AS INT) AS df1,
           CAST(w.nn - w.k AS BIGINT) AS df2
    FROM med m JOIN grp g ON g.seg = m.seg CROSS JOIN w
    ORDER BY m.seg
""")
def stats_levene_variance(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test of variance
    equality across market segments: W = ((N-k)/(k-1)) * between-group
    spread of |x - median_j| over its within-group spread — the
    robust homoscedasticity gate run before any pooled-variance
    t-test/ANOVA readout (Welch twin: events_weekend_welch_test).
    Per-segment rows carry the median and mean absolute deviation;
    the shared W statistic and (df1, df2) ride along.

    Plan: the group medians run through _twophase.exact_quantiles
    (grouped two-phase global rank — no single-task percentile
    buffer), broadcast back 4-dp-rounded so |x - median| is identical
    on both engines; the z-moments are ONE map-side-combined
    data-grain agg; W is closed-form algebra on the 5-row group
    frame."""
    from mongo_cdc_spark.operators._twophase import exact_quantiles

    c = load_table(spark, sf_dir, "customer")
    med = exact_quantiles(c, "c_acctbal", {"md": 0.5},
                          ["c_custkey"], ["c_mktsegment"])
    med = med.select(F.col("c_mktsegment").alias("seg"),
                     F.round(F.col("md"), 4).alias("md"))
    z = (c.join(F.broadcast(med), c.c_mktsegment == med.seg)
         .select("seg", F.abs(F.col("c_acctbal") - F.col("md"))
                 .alias("z")))
    grp = (z.groupBy("seg")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("z").alias("sz"),
                F.sum(F.col("z") * F.col("z")).alias("sz2"))
           .persist())
    tot = grp.agg(F.sum("n").alias("nn"), F.sum("sz").alias("tz"),
                  F.count(F.lit(1)).alias("k"))
    w = (grp.crossJoin(F.broadcast(tot))
         .agg(((F.max("nn") - F.max("k")) * F.lit(1.0)
               / (F.max("k") - 1)
               * F.sum(F.col("n") * F.pow(F.col("sz") / F.col("n")
                                          - F.col("tz") / F.col("nn"),
                                          2))
               / F.sum(F.col("sz2") - F.col("sz") * F.col("sz")
                       / F.col("n"))).alias("stat"),
              F.max("nn").alias("nn"), F.max("k").alias("k")))
    return (med.join(F.broadcast(grp), "seg")
            .crossJoin(F.broadcast(w))
            .select(F.col("seg").alias("segment"),
                    F.col("n").cast("bigint").alias("n"),
                    F.col("md").alias("seg_median"),
                    F.round(F.col("sz") / F.col("n"), 6)
                    .alias("mean_absdev"),
                    F.round("stat", 6).alias("bf_stat"),
                    (F.col("k") - 1).cast("int").alias("df1"),
                    (F.col("nn") - F.col("k")).cast("bigint")
                    .alias("df2"))
            .orderBy("segment"))


# --------------------------------------------- McNemar paired test

MCNEMAR_PIVOT = "2024-01-16"
MCNEMAR_MIN_PURCHASES = 7


@query("stats_mcnemar_paired", sql=f"""
    WITH peru AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN ts < TIMESTAMP
                       '{MCNEMAR_PIVOT} 00:00:00'
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  >= {MCNEMAR_MIN_PURCHASES} THEN 1 ELSE 0 END AS pre,
             CASE WHEN SUM(CASE WHEN ts >= TIMESTAMP
                       '{MCNEMAR_PIVOT} 00:00:00'
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  >= {MCNEMAR_MIN_PURCHASES} THEN 1 ELSE 0 END AS post
      FROM events GROUP BY 1
    ), cells AS (
      SELECT SUM(pre * post) AS yy,
             SUM(pre * (1 - post)) AS yn,
             SUM((1 - pre) * post) AS ny,
             SUM((1 - pre) * (1 - post)) AS nn
      FROM peru
    )
    SELECT CAST(yy AS BIGINT) AS n_both,
           CAST(yn AS BIGINT) AS n_pre_only,
           CAST(ny AS BIGINT) AS n_post_only,
           CAST(nn AS BIGINT) AS n_neither,
           ROUND(POW(yn - ny, 2) * 1e0 / (yn + ny), 6) AS chi2,
           ROUND(POW(ABS(yn - ny) - 1, 2) * 1e0 / (yn + ny), 6)
             AS chi2_cc,
           POW(ABS(yn - ny) - 1, 2) * 1e0 / (yn + ny) > 3.841
             AS reject_05
    FROM cells
""")
def stats_mcnemar_paired(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes: the same users
    classified as frequent purchasers (>= {MCNEMAR_MIN_PURCHASES}
    purchases) before vs after the pivot date; only the discordant
    cells carry information — chi2 = (b-c)^2/(b+c), with the
    Edwards continuity correction and the df=1 alpha=0.05 decision.
    THE test for before/after conversion on the same population,
    where the two-proportion z-test (ab_test_proportions) is wrong
    because the samples are not independent.

    Plan: ONE user-grain conditional agg (map-side combined) to the
    paired flags, then a single 2x2 cell reduction — pure exact
    integers into one closed-form row; the decision derives from the
    reported corrected statistic so the outputs can't disagree."""
    ev = load_table(spark, sf_dir, "events")
    is_pre = F.col("ts") < F.lit(f"{MCNEMAR_PIVOT} 00:00:00") \
        .cast("timestamp")
    is_purch = (F.col("event_type") == "purchase").cast("int")
    peru = (ev.groupBy("user_id")
            .agg((F.sum(is_purch * is_pre.cast("int"))
                  >= MCNEMAR_MIN_PURCHASES).cast("int").alias("pre"),
                 (F.sum(is_purch * (~is_pre).cast("int"))
                  >= MCNEMAR_MIN_PURCHASES).cast("int").alias("post")))
    cells = peru.agg(
        F.sum(F.col("pre") * F.col("post")).alias("yy"),
        F.sum(F.col("pre") * (1 - F.col("post"))).alias("yn"),
        F.sum((1 - F.col("pre")) * F.col("post")).alias("ny"),
        F.sum((1 - F.col("pre")) * (1 - F.col("post"))).alias("nn"))
    b, c = F.col("yn"), F.col("ny")
    chi2_cc = F.pow(F.abs(b - c) - 1, 2) * F.lit(1.0) / (b + c)
    return cells.select(
        F.col("yy").cast("bigint").alias("n_both"),
        F.col("yn").cast("bigint").alias("n_pre_only"),
        F.col("ny").cast("bigint").alias("n_post_only"),
        F.col("nn").cast("bigint").alias("n_neither"),
        F.round(F.pow(b - c, 2) * F.lit(1.0) / (b + c), 6).alias("chi2"),
        F.round(chi2_cc, 6).alias("chi2_cc"),
        (chi2_cc > 3.841).alias("reject_05"))


# ------------------------------------ decision-stump split search

_GINI_TOPK = 5


@query("stats_gini_split_search", sql=f"""
    WITH lab AS (
      SELECT CAST(FLOOR(value) AS BIGINT) AS fx,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), voc AS (
      SELECT fx, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
      FROM lab GROUP BY 1
    ), tot AS (
      SELECT SUM(pos) AS tp, SUM(neg) AS tn FROM voc
    ), cum AS (
      SELECT v.fx,
             SUM(b.pos) AS pos_l, SUM(b.neg) AS neg_l
      FROM voc v JOIN voc b ON b.fx <= v.fx
      GROUP BY v.fx
    ), scored AS (
      SELECT c.fx AS threshold,
             c.pos_l + c.neg_l AS n_left,
             (t.tp + t.tn) - (c.pos_l + c.neg_l) AS n_right,
             c.pos_l AS pos_left, t.tp - c.pos_l AS pos_right,
             ROUND(1 - POW(c.pos_l * 1e0 / (c.pos_l + c.neg_l), 2)
                     - POW(c.neg_l * 1e0 / (c.pos_l + c.neg_l), 2), 6)
               AS gini_left,
             ROUND(1 - POW((t.tp - c.pos_l) * 1e0
                           / ((t.tp + t.tn) - (c.pos_l + c.neg_l)), 2)
                     - POW((t.tn - c.neg_l) * 1e0
                           / ((t.tp + t.tn) - (c.pos_l + c.neg_l)), 2),
                   6) AS gini_right,
             ROUND(((c.pos_l + c.neg_l)
                     * (1 - POW(c.pos_l * 1e0 / (c.pos_l + c.neg_l), 2)
                          - POW(c.neg_l * 1e0
                                / (c.pos_l + c.neg_l), 2))
                    + ((t.tp + t.tn) - (c.pos_l + c.neg_l))
                     * (1 - POW((t.tp - c.pos_l) * 1e0
                            / ((t.tp + t.tn) - (c.pos_l + c.neg_l)), 2)
                          - POW((t.tn - c.neg_l) * 1e0
                            / ((t.tp + t.tn) - (c.pos_l + c.neg_l)), 2)))
                   / (t.tp + t.tn), 6) AS gini_weighted,
             ROUND(1 - POW(t.tp * 1e0 / (t.tp + t.tn), 2)
                     - POW(t.tn * 1e0 / (t.tp + t.tn), 2), 6)
               AS gini_parent
      FROM cum c CROSS JOIN tot t
      WHERE (c.pos_l + c.neg_l) < (t.tp + t.tn)
    )
    SELECT CAST(rnk AS INT) AS rank, threshold,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(pos_right AS BIGINT) AS pos_right,
           gini_left, gini_right, gini_weighted, gini_parent,
           ROUND(gini_parent - gini_weighted, 6) AS gini_gain
    FROM (SELECT *, ROW_NUMBER() OVER (
              ORDER BY gini_weighted, threshold) AS rnk
          FROM scored) AS r
    WHERE rnk <= {_GINI_TOPK}
    ORDER BY rank
""")
def stats_gini_split_search(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Exact CART decision-stump split search: for every candidate
    threshold t over the integer-floored event value, the weighted
    Gini impurity of the (value <= t) / (value > t) split against the
    is-purchase label, reporting the top-{_GINI_TOPK} splits by
    impurity with the parent impurity and the Gini gain — the inner
    loop of every distributed tree learner (and the exact form the
    histogram-approximate split finders in XGBoost/LightGBM
    approximate). FLOOR (not ROUND) buckets the thresholds because
    the engines disagree on half-rounding of exact .5 doubles.

    Plan: one data-grain map-side-combined (floor(value), label)
    count — the only scan; the threshold vocabulary is bounded by
    the VALUE RANGE (~500 ints), so the cumulative left-counts are a
    triangular self-join over that frame (same shape as
    stats_auc_roc's tied-rank cumulatives), never a data-grain
    window. All impurities derive from exact integer counts, rounded
    at 6 dp on both engines; top-k is TakeOrderedAndProject + the
    declared rank-after-LIMIT window."""
    ev = load_table(spark, sf_dir, "events")
    lab = ev.select(
        F.floor("value").cast("bigint").alias("fx"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        .alias("y"))
    voc = (lab.groupBy("fx")
           .agg(F.sum("y").alias("pos"),
                (F.count(F.lit(1)) - F.sum("y")).alias("neg"))
           .persist())
    tot = voc.agg(F.sum("pos").alias("tp"), F.sum("neg").alias("tn"))
    v_, b_ = voc.alias("v"), voc.alias("b")
    cum = (v_.join(F.broadcast(b_), F.col("b.fx") <= F.col("v.fx"))
           .groupBy(F.col("v.fx").alias("fx"))
           .agg(F.sum("b.pos").alias("pos_l"),
                F.sum("b.neg").alias("neg_l")))
    c = cum.crossJoin(F.broadcast(tot))
    n_l = F.col("pos_l") + F.col("neg_l")
    n = F.col("tp") + F.col("tn")
    n_r = n - n_l
    pos_r = F.col("tp") - F.col("pos_l")
    neg_r = F.col("tn") - F.col("neg_l")

    def _gini(p, q, m):
        return 1 - F.pow(p * F.lit(1.0) / m, 2) \
                 - F.pow(q * F.lit(1.0) / m, 2)

    g_l = F.round(_gini(F.col("pos_l"), F.col("neg_l"), n_l), 6)
    g_r = F.round(_gini(pos_r, neg_r, n_r), 6)
    g_w = F.round((n_l * _gini(F.col("pos_l"), F.col("neg_l"), n_l)
                   + n_r * _gini(pos_r, neg_r, n_r)) / n, 6)
    g_p = F.round(_gini(F.col("tp"), F.col("tn"), n), 6)
    scored = (c.where(n_l < n)
              .select(F.col("fx").alias("threshold"),
                      n_l.alias("n_left"), n_r.alias("n_right"),
                      F.col("pos_l").alias("pos_left"),
                      pos_r.alias("pos_right"),
                      g_l.alias("gini_left"), g_r.alias("gini_right"),
                      g_w.alias("gini_weighted"),
                      g_p.alias("gini_parent")))
    from pyspark.sql import Window as _W
    top = (scored.orderBy("gini_weighted", "threshold")
           .limit(_GINI_TOPK))
    rw = _W.orderBy("gini_weighted", "threshold")
    return (top.withColumn("rank", F.row_number().over(rw))
            .select(F.col("rank").cast("int").alias("rank"),
                    "threshold",
                    F.col("n_left").cast("bigint").alias("n_left"),
                    F.col("n_right").cast("bigint").alias("n_right"),
                    F.col("pos_left").cast("bigint").alias("pos_left"),
                    F.col("pos_right").cast("bigint")
                    .alias("pos_right"),
                    "gini_left", "gini_right", "gini_weighted",
                    "gini_parent",
                    F.round(F.col("gini_parent")
                            - F.col("gini_weighted"), 6)
                    .alias("gini_gain"))
            .orderBy("rank"))


# --------------------------------------------- data-contract check

_CONTRACT_STATUSES = ("O", "F", "P")


@query("quality_data_contract_check", sql=f"""
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS v_key_null,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_key_dup,
             SUM(CASE WHEN o_totalprice IS NULL
                        OR o_totalprice <= 0
                        OR o_totalprice > 1000000 THEN 1 ELSE 0 END)
               AS v_price_range,
             SUM(CASE WHEN o_orderstatus NOT IN
                        ({', '.join(f"'{s}'" for s in _CONTRACT_STATUSES)})
                        OR o_orderstatus IS NULL THEN 1 ELSE 0 END)
               AS v_status_domain,
             SUM(CASE WHEN o_orderdate IS NULL
                        OR o_orderdate <  TIMESTAMP '1992-01-01'
                        OR o_orderdate >= TIMESTAMP '1999-01-01'
                      THEN 1 ELSE 0 END) AS v_date_range,
             SUM(CASE WHEN o_custkey IS NULL OR o_custkey <= 0
                      THEN 1 ELSE 0 END) AS v_custkey_positive
      FROM orders
    )
    SELECT rule, n_violations, n_rows,
           n_violations = 0 AS passes
    FROM (
      SELECT 'o_custkey_positive' AS rule,
             CAST(v_custkey_positive AS BIGINT) AS n_violations,
             CAST(n_rows AS BIGINT) AS n_rows FROM agg
      UNION ALL SELECT 'o_orderdate_range',
             CAST(v_date_range AS BIGINT), CAST(n_rows AS BIGINT)
             FROM agg
      UNION ALL SELECT 'o_orderkey_not_null',
             CAST(v_key_null AS BIGINT), CAST(n_rows AS BIGINT)
             FROM agg
      UNION ALL SELECT 'o_orderkey_unique',
             CAST(v_key_dup AS BIGINT), CAST(n_rows AS BIGINT)
             FROM agg
      UNION ALL SELECT 'o_orderstatus_domain',
             CAST(v_status_domain AS BIGINT), CAST(n_rows AS BIGINT)
             FROM agg
      UNION ALL SELECT 'o_totalprice_range',
             CAST(v_price_range AS BIGINT), CAST(n_rows AS BIGINT)
             FROM agg
    ) AS t
    ORDER BY rule
""")
def quality_data_contract_check(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Declarative data-contract verification (the dbt-test /
    Great-Expectations gate every ingestion pipeline runs before
    publishing a table): six assertions over orders — key not-null,
    key uniqueness, price in (0, 1e6], status in the declared domain,
    date within the schema's epoch, positive FK — each reported as
    (rule, violation count, row count, pass). The contract a writer
    checks BEFORE a bad batch lands, and the table a data-SLA
    dashboard reads.

    Scale: every assertion folds into ONE map-side-combined scan
    aggregate (conditional sums; uniqueness via COUNT - COUNT
    DISTINCT, partial-aggregatable); the report unpivot is 6 rows.
    New rules cost one more conditional sum, not another scan."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .alias("v_key_null"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .alias("v_key_dup"),
        F.sum(F.when(F.col("o_totalprice").isNull()
                     | (F.col("o_totalprice") <= 0)
                     | (F.col("o_totalprice") > 1000000), 1)
              .otherwise(0)).alias("v_price_range"),
        F.sum(F.when(~F.col("o_orderstatus").isin(*_CONTRACT_STATUSES)
                     | F.col("o_orderstatus").isNull(), 1)
              .otherwise(0)).alias("v_status_domain"),
        F.sum(F.when(F.col("o_orderdate").isNull()
                     | (F.col("o_orderdate")
                        < F.lit("1992-01-01").cast("timestamp"))
                     | (F.col("o_orderdate")
                        >= F.lit("1999-01-01").cast("timestamp")), 1)
              .otherwise(0)).alias("v_date_range"),
        F.sum(F.when(F.col("o_custkey").isNull()
                     | (F.col("o_custkey") <= 0), 1)
              .otherwise(0)).alias("v_custkey_positive"))
    rules = F.array(
        F.struct(F.lit("o_custkey_positive").alias("rule"),
                 F.col("v_custkey_positive").alias("v")),
        F.struct(F.lit("o_orderdate_range").alias("rule"),
                 F.col("v_date_range").alias("v")),
        F.struct(F.lit("o_orderkey_not_null").alias("rule"),
                 F.col("v_key_null").alias("v")),
        F.struct(F.lit("o_orderkey_unique").alias("rule"),
                 F.col("v_key_dup").alias("v")),
        F.struct(F.lit("o_orderstatus_domain").alias("rule"),
                 F.col("v_status_domain").alias("v")),
        F.struct(F.lit("o_totalprice_range").alias("rule"),
                 F.col("v_price_range").alias("v")))
    return (agg.select("n_rows", F.explode(rules).alias("r"))
            .select(F.col("r.rule").alias("rule"),
                    F.col("r.v").cast("bigint").alias("n_violations"),
                    F.col("n_rows").cast("bigint").alias("n_rows"),
                    (F.col("r.v") == 0).alias("passes"))
            .orderBy("rule"))


# ------------------------------------- pinball (quantile-loss) eval

_PINBALL_DEN = 8  # octile forecasts: q = 1/8 .. 7/8


@query("stats_pinball_quantile_eval", sql=f"""
    WITH base AS (
      SELECT CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS ys,
             o_totalprice AS x,
             substr(md5(o_orderkey::VARCHAR), 1, 1) < '8' AS is_train
      FROM orders
    ), thr AS (
      {' UNION ALL '.join(
          f"SELECT {i} AS qi, "
          f"ROUND(quantile_cont(CAST(x AS DOUBLE), "
          f"{i}.0/{_PINBALL_DEN}), 4) AS f4 "
          f"FROM base WHERE is_train"
          for i in range(1, _PINBALL_DEN))}
    ), scored AS (
      SELECT t.qi, t.f4,
             CAST(ROUND(t.f4 * 10000) AS BIGINT) AS fs,
             b.ys
      FROM base b CROSS JOIN thr t
      WHERE NOT b.is_train
    ), lossed AS (
      SELECT qi, f4,
             CASE WHEN ys >= fs THEN qi * (ys - fs)
                  ELSE (qi - {_PINBALL_DEN}) * (ys - fs) END AS l8,
             CASE WHEN ys <= fs THEN 1 ELSE 0 END AS cov
      FROM scored
    )
    SELECT CAST(qi AS INT) AS qi,
           ROUND(qi * 1.0 / {_PINBALL_DEN}, 4) AS q,
           f4 AS forecast,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(SUM(l8) / ({_PINBALL_DEN} * 10000.0) / COUNT(*), 6)
             AS mean_pinball,
           ROUND(SUM(cov) * 1.0 / COUNT(*), 6) AS coverage
    FROM lossed
    GROUP BY qi, f4
    ORDER BY qi
""")
def stats_pinball_quantile_eval(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Quantile-forecast backtest with the pinball (quantile) loss —
    THE proper scoring rule for quantile predictions (what M5/GEFCom
    score and what quantile-regression training minimizes): octile
    forecasts fit on the md5 train half of order totals, each scored
    on the held-out half by L_q(y,f) = q(y-f)+ if y>=f else
    (1-q)(f-y), with empirical coverage (share of test y <= f, which
    should track q for calibrated forecasts).

    Exactness: forecasts round at 4 dp (the broadcast-cut-literal
    discipline), then BOTH y and f scale to integer 1e-4 units and
    the loss accumulates as exact integers with the q = qi/8 grain
    folded in (loss x 8 is integral) — one float division at the
    end, so no partition-order-dependent double sum anywhere
    (the round-8 RFM lesson applied from birth).

    Scale: train octiles via _twophase.exact_quantiles (two-phase
    global rank, no single-task buffer); the 7-row forecast frame
    broadcasts onto the test scan (7x narrow integer expansion,
    map-side combined to 7 output rows)."""
    from mongo_cdc_spark.operators._twophase import exact_quantiles

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 10000).cast("bigint")
        .alias("ys"),
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("k"),
        (F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
         < "8").alias("is_train"))
    probs = {f"p{i}": i / _PINBALL_DEN
             for i in range(1, _PINBALL_DEN)}
    qs = exact_quantiles(base.where("is_train"), "x", probs, ["k"])
    thr = qs.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("qi"),
                 F.round(F.col(f"p{i}"), 4).alias("f4"))
        for i in range(1, _PINBALL_DEN)])).alias("t")) \
        .select("t.qi", "t.f4",
                F.round(F.col("t.f4") * 10000).cast("bigint")
                .alias("fs"))
    test = base.where(~F.col("is_train")).select("ys")
    d = F.col("ys") - F.col("fs")
    l8 = F.when(d >= 0, F.col("qi") * d) \
          .otherwise((F.col("qi") - _PINBALL_DEN) * d)
    return (test.crossJoin(F.broadcast(thr))
            .select("qi", "f4", l8.alias("l8"),
                    F.when(F.col("ys") <= F.col("fs"), 1).otherwise(0)
                    .alias("cov"))
            .groupBy("qi", "f4")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.round(F.sum("l8") / (_PINBALL_DEN * 10000.0)
                         / F.count(F.lit(1)), 6).alias("mean_pinball"),
                 F.round(F.sum("cov") * F.lit(1.0) / F.count(F.lit(1)),
                         6).alias("coverage"))
            .select(F.col("qi").cast("int").alias("qi"),
                    F.round(F.col("qi") * F.lit(1.0) / _PINBALL_DEN, 4)
                    .alias("q"),
                    F.col("f4").alias("forecast"),
                    F.col("n_test").cast("bigint").alias("n_test"),
                    "mean_pinball", "coverage")
            .orderBy("qi"))


# ----------------------------------------- G-test (log-likelihood)


@query("stats_g_test_independence", sql="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), grid AS (
      SELECT s.seg, p.prio, COALESCE(o.n, 0) AS n
      FROM (SELECT DISTINCT seg FROM obs) s
      CROSS JOIN (SELECT DISTINCT prio FROM obs) p
      LEFT JOIN obs o ON o.seg = s.seg AND o.prio = p.prio
    ), m AS (
      SELECT seg, prio, n,
             SUM(n) OVER (PARTITION BY seg) AS row_tot,
             SUM(n) OVER (PARTITION BY prio) AS col_tot,
             SUM(n) OVER () AS grand
      FROM grid
    )
    SELECT CAST(MAX(grand) AS BIGINT) AS n,
           CAST((COUNT(DISTINCT seg) - 1)
                * (COUNT(DISTINCT prio) - 1) AS INT) AS dof,
           ROUND(2 * SUM(CASE WHEN n > 0 THEN
                   n * ln(n / (row_tot * col_tot / (grand * 1e0)))
                 ELSE 0 END), 6) AS g_stat,
           ROUND(2 * SUM(CASE WHEN n > 0 THEN
                   n * ln(n / (row_tot * col_tot / (grand * 1e0)))
                 ELSE 0 END), 6) > 26.296 AS reject_05
    FROM m
""")
def stats_g_test_independence(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio) of independence between customer
    market segment and order priority — the chi-square's LR twin
    (G = 2 SUM O ln(O/E)), preferred when expected counts are small
    or when additivity across partitions of the table matters (G
    decomposes exactly; Pearson's X^2 does not). Zero-observation
    cells contribute 0 to G (lim x->0 of x ln x) but still shape the
    expected counts through the margins; the rounded statistic
    compares against the df=16 95% critical value 26.296 — this
    fixture's contingency is 5 segments x 5 priorities, so dof =
    (5-1)(5-1) = 16 (the chi-square twin asserts dof == 16), unlike
    stats_kruskal_wallis whose genuine df=4 uses 9.488. The pytest
    reference derives the threshold from the computed dof so a
    fixture-shape change fails loudly instead of silently testing
    the wrong distribution.

    Scale: one map-side-combined (seg, prio) count — the only
    data-grain stage; margins and the statistic run on the bounded
    |segs| x |prios| grid (25 cells here). The grid windows are
    cell-grain, never data-grain."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (o.join(c, F.col("c_custkey") == F.col("o_custkey"))
           .groupBy(F.col("c_mktsegment").alias("seg"),
                    F.col("o_orderpriority").alias("prio"))
           .agg(F.count(F.lit(1)).alias("n"))
           .persist())
    segs = obs.select("seg").distinct()
    prios = obs.select("prio").distinct()
    grid = (segs.crossJoin(prios)
            .join(obs, ["seg", "prio"], "left")
            .withColumn("n", F.coalesce("n", F.lit(0))))
    from pyspark.sql import Window as _W
    m = (grid
         .withColumn("row_tot", F.sum("n").over(_W.partitionBy("seg")))
         .withColumn("col_tot", F.sum("n").over(_W.partitionBy("prio")))
         .withColumn("grand", F.sum("n").over(
             _W.partitionBy(F.lit(1)))))
    e = F.col("row_tot") * F.col("col_tot") / (F.col("grand") * 1.0)
    term = F.when(F.col("n") > 0,
                  F.col("n") * F.log(F.col("n") / e)).otherwise(0.0)
    return m.agg(
        F.max("grand").cast("bigint").alias("n"),
        ((F.countDistinct("seg") - 1)
         * (F.countDistinct("prio") - 1)).cast("int").alias("dof"),
        F.round(2 * F.sum(term), 6).alias("g_stat"),
        (F.round(2 * F.sum(term), 6) > 26.296).alias("reject_05"))


# ------------------------------------------------ Qini uplift curve

_QINI_BUCKETS = 10


@query("ab_test_uplift_qini", sql=f"""
    WITH peru0 AS (
      SELECT user_id,
             md5(CAST(user_id AS VARCHAR)) AS h,
             md5('rk:' || CAST(user_id AS VARCHAR)) AS hr,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS score,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) / 100.0 AS spend
      FROM events GROUP BY 1
    ), med AS (
      SELECT ROUND(quantile_cont(CAST(spend AS DOUBLE), 0.5), 4) AS m
      FROM peru0
    ), peru AS (
      SELECT user_id, h, hr, score,
             CASE WHEN spend > med.m THEN 1 ELSE 0 END AS conv
      FROM peru0, med
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY score DESC, hr) AS rk,
             COUNT(*) OVER () AS n
      FROM peru
    ), bucketed AS (
      SELECT CAST(FLOOR((rk - 1) * {_QINI_BUCKETS}.0 / n) AS BIGINT)
               + 1 AS decile,
             CASE WHEN substr(h, 1, 1) < '8' THEN 0 ELSE 1 END AS t,
             conv
      FROM ranked
    ), cells AS (
      SELECT decile,
             SUM(t) AS n_t, SUM(1 - t) AS n_c,
             SUM(t * conv) AS conv_t,
             SUM((1 - t) * conv) AS conv_c
      FROM bucketed GROUP BY 1
    ), cum AS (
      SELECT decile, n_t, n_c, conv_t, conv_c,
             SUM(n_t) OVER w AS cnt, SUM(n_c) OVER w AS cnc,
             SUM(conv_t) OVER w AS cct, SUM(conv_c) OVER w AS ccc
      FROM cells
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_t AS BIGINT) AS n_treat,
           CAST(n_c AS BIGINT) AS n_control,
           CAST(conv_t AS BIGINT) AS conv_treat,
           CAST(conv_c AS BIGINT) AS conv_control,
           ROUND(cct - ccc * (cnt * 1e0 / NULLIF(cnc, 0)), 6) + 0.0
             AS qini,
           ROUND(cct * 1e0 / NULLIF(cnt, 0)
                 - ccc * 1e0 / NULLIF(cnc, 0), 6) + 0.0
             AS uplift_at_depth
    FROM cum ORDER BY decile
""")
def ab_test_uplift_qini(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Qini curve for uplift evaluation (Radcliffe): users ranked by
    a targeting score (click count, md5 tie-break), split into
    deciles; at each depth the Qini value cum_conv_T - cum_conv_C *
    (cum_N_T / cum_N_C) — the incremental conversions attributable to
    treating the top-k scored users, THE standard offline metric for
    uplift/targeting models (a random scorer's curve is a straight
    line to the endpoint; the endpoint is the overall incremental
    lift). Variant assignment reuses the repo's md5 hash-split
    convention (first hex < '8' = control); the score tie-break uses
    a SALTED hash md5('rk:' || user_id), deliberately distinct from
    the assignment hash — tie-breaking on the assignment hash itself
    would deterministically rank control users ahead of treatment
    within every tied-score run (click counts tie heavily), skewing
    decile composition for a metric that assumes ranking is
    independent of assignment.

    Scale: one user-grain partial agg; the global rank runs through
    _twophase.with_global_order (range repartition + per-partition
    rank + broadcast offsets — no single-task sort); decile ids are
    integer arithmetic on (rank, n); everything after is the fixed
    {_QINI_BUCKETS}-row decile grid (declared bounded window for the
    cumulative sums). All counts integer; one double ratio per
    decile row at the end."""
    from mongo_cdc_spark.operators._twophase import (exact_quantiles,
                                                      with_global_order)

    ev = load_table(spark, sf_dir, "events")
    peru0 = (ev.groupBy("user_id")
             .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).alias("score"),
                  (F.sum(F.when(F.col("event_type") == "purchase",
                                F.round(F.col("value") * 100)
                                .cast("bigint")).otherwise(0))
                   / 100.0).alias("spend"))
             .withColumn("h", F.md5(F.col("user_id").cast("string")))
             .withColumn("hr", F.md5(F.concat(
                 F.lit("rk:"), F.col("user_id").cast("string"))))
             .persist())
    med = exact_quantiles(peru0, "spend", {"m": 0.5}, ["user_id"])
    peru = (peru0.crossJoin(F.broadcast(
        med.select(F.round("m", 4).alias("m"))))
        .select("user_id", "h", "hr", "score",
                F.when(F.col("spend") > F.col("m"), 1).otherwise(0)
                .alias("conv")))
    ranked = with_global_order(
        peru, [F.col("score").desc(), F.col("hr").asc()],
        rank_col="rk")
    n = peru.agg(F.count(F.lit(1)).alias("n"))
    decile = (F.floor((F.col("rk") - 1) * F.lit(float(_QINI_BUCKETS))
                      / F.col("n")).cast("bigint") + 1).alias("decile")
    bucketed = (ranked.crossJoin(F.broadcast(n))
                .select(decile,
                        F.when(F.substring("h", 1, 1) < "8", 0)
                        .otherwise(1).alias("t"),
                        "conv"))
    cells = (bucketed.groupBy("decile")
             .agg(F.sum("t").alias("n_t"),
                  F.sum(1 - F.col("t")).alias("n_c"),
                  F.sum(F.col("t") * F.col("conv")).alias("conv_t"),
                  F.sum((1 - F.col("t")) * F.col("conv"))
                  .alias("conv_c")))
    from pyspark.sql import Window as _W
    w = (_W.orderBy("decile")
         .rowsBetween(_W.unboundedPreceding, _W.currentRow))
    cum = (cells
           .withColumn("cnt", F.sum("n_t").over(w))
           .withColumn("cnc", F.sum("n_c").over(w))
           .withColumn("cct", F.sum("conv_t").over(w))
           .withColumn("ccc", F.sum("conv_c").over(w)))
    return (cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_t").cast("bigint").alias("n_treat"),
        F.col("n_c").cast("bigint").alias("n_control"),
        F.col("conv_t").cast("bigint").alias("conv_treat"),
        F.col("conv_c").cast("bigint").alias("conv_control"),
        (F.round(F.col("cct") - F.col("ccc")
                 * F.try_divide(F.col("cnt") * F.lit(1.0),
                                F.col("cnc")), 6) + 0.0).alias("qini"),
        (F.round(F.try_divide(F.col("cct") * F.lit(1.0), F.col("cnt"))
                 - F.try_divide(F.col("ccc") * F.lit(1.0),
                                F.col("cnc")), 6) + 0.0)
        .alias("uplift_at_depth"))
        .orderBy("decile"))


# --------------------------------------------- one-way ANOVA F-test


@query("stats_anova_oneway", sql="""
    WITH base AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS yc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), grp AS (
      SELECT seg, COUNT(*) AS n_j,
             CAST(SUM(yc) AS BIGINT) AS s_j,
             CAST(SUM(CAST(yc AS HUGEINT) * yc) AS DOUBLE) AS q_j
      FROM base GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS k,
             SUM(n_j) AS n,
             SUM(s_j) AS s,
             SUM(q_j) AS q,
             SUM(CAST(s_j AS DOUBLE) * s_j / n_j) AS sq_over_n
      FROM grp
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(k AS INT) AS k,
           ROUND((sq_over_n - CAST(s AS DOUBLE) * s / n)
                 / 10000.0 / 1000000.0, 2) AS ss_between_m,
           ROUND((q - sq_over_n) / 10000.0 / 1000000.0, 2)
             AS ss_within_m,
           ROUND(((sq_over_n - CAST(s AS DOUBLE) * s / n) / (k - 1))
                 / ((q - sq_over_n) / (n - k)), 6) AS f_stat,
           ROUND((sq_over_n - CAST(s AS DOUBLE) * s / n)
                 / (q - CAST(s AS DOUBLE) * s / n), 6) AS eta_squared
    FROM tot
""")
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of order value across customer market
    segments: between/within sums of squares from EXACT integer-cents
    moments (S_j, Q_j per group; Q accumulates 128-bit — cents^2
    wraps BIGINT, the round-8 clustered-SE lesson), F = MSB/MSW and
    the eta-squared effect size — the continuous-outcome counterpart
    of the chi-square/G-test categorical screens.

    Scale: one map-side-combined group agg (3 integer moments per
    segment) collapsing to |segments| rows; the statistic is closed
    algebra over that bounded frame. The only double summations are
    over the k=5 group terms (chi-square's accepted class)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    yc = F.round(F.col("o_totalprice") * 100).cast("bigint")
    grp = (o.join(c, F.col("c_custkey") == F.col("o_custkey"))
           .select(F.col("c_mktsegment").alias("seg"), yc.alias("yc"))
           .groupBy("seg")
           .agg(F.count(F.lit(1)).alias("n_j"),
                F.sum("yc").alias("s_j"),
                F.sum((F.col("yc") * F.col("yc"))
                      .cast("decimal(38,0)")).cast("double")
                .alias("q_j")))
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_j").alias("n"),
        F.sum("s_j").alias("s"),
        F.sum("q_j").alias("q"),
        F.sum(F.col("s_j").cast("double") * F.col("s_j")
              / F.col("n_j")).alias("sq_over_n"))
    ssb = F.col("sq_over_n") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("q") - F.col("sq_over_n")
    sst = F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")
    return tot.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("int").alias("k"),
        # SS in millions: the two ~1e15 moments cancel to ~1e11, so
        # engine-side double-summation-order noise is ~1e2 absolute —
        # far below 0.01 in units of millions, but ABOVE it in raw
        # price^2 units (observed flaking both engines at 2dp)
        F.round(ssb / 10000.0 / 1e6, 2).alias("ss_between_m"),
        F.round(ssw / 10000.0 / 1e6, 2).alias("ss_within_m"),
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))),
                6).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_squared"))


# --------------------------------------- Kruskal-Wallis rank test


@query("stats_kruskal_wallis", sql="""
    WITH base AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS yc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), vc AS (
      SELECT yc, COUNT(*) AS t FROM base GROUP BY 1
    ), mid AS (
      SELECT yc, t,
             SUM(t) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING)
               - (t - 1) / 2.0 AS midrank
      FROM vc
    ), sc AS (
      SELECT seg, yc, COUNT(*) AS c FROM base GROUP BY 1, 2
    ), rj AS (
      SELECT s.seg, SUM(s.c) AS n_j,
             SUM(s.c * m.midrank) AS r_j
      FROM sc s JOIN mid m ON m.yc = s.yc
      GROUP BY 1
    ), agg AS (
      SELECT SUM(n_j) AS n, COUNT(*) AS k,
             SUM(r_j * r_j / n_j) AS rsq_over_n
      FROM rj
    ), ties AS (
      SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_num FROM vc
    )
    SELECT CAST(a.n AS BIGINT) AS n,
           CAST(a.k AS INT) AS k,
           ROUND(12.0 / (a.n * (a.n + 1.0)) * a.rsq_over_n
                 - 3 * (a.n + 1), 6) AS h_raw,
           ROUND(1 - CAST(t.tie_num AS DOUBLE)
                 / (CAST(a.n AS DOUBLE) * a.n * a.n - a.n), 8)
             AS tie_correction,
           ROUND((12.0 / (a.n * (a.n + 1.0)) * a.rsq_over_n
                  - 3 * (a.n + 1))
                 / (1 - CAST(t.tie_num AS DOUBLE)
                    / (CAST(a.n AS DOUBLE) * a.n * a.n - a.n)), 6)
             AS h_stat,
           ROUND((12.0 / (a.n * (a.n + 1.0)) * a.rsq_over_n
                  - 3 * (a.n + 1))
                 / (1 - CAST(t.tie_num AS DOUBLE)
                    / (CAST(a.n AS DOUBLE) * a.n * a.n - a.n)), 6)
             > 9.488 AS reject_05
    FROM agg a CROSS JOIN ties t
""")
def stats_kruskal_wallis(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (rank one-way ANOVA) of order value
    across market segments, with EXACT midranks and the tie
    correction — the distribution-free companion to
    stats_anova_oneway (robust to the revenue distribution's heavy
    tail). Midranks come from the cents-value-grain cumulative count
    (midrank = inclusive_cum - (t-1)/2), so every rank is a .5-grain
    double and the per-segment rank sums are EXACT — no
    partition-order-dependent float summation anywhere; the tie term
    sums t^3 - t as 128-bit integers.

    Scale: two map-side-combined aggs (value-grain counts; (segment,
    value) counts); the cumulative count over the value vocabulary
    runs through _twophase.with_global_order (range repartition +
    broadcast offsets — no single-task window even when the value
    domain approaches row count); the rank-sum join is value-keyed.
    Final algebra is a 1-row frame."""
    from mongo_cdc_spark.operators._twophase import with_global_order

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    yc = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = (o.join(c, F.col("c_custkey") == F.col("o_custkey"))
            .select(F.col("c_mktsegment").alias("seg"),
                    yc.alias("yc"))
            .persist())
    vc = base.groupBy("yc").agg(F.count(F.lit(1)).alias("t"))
    mid = (with_global_order(vc, [F.col("yc").asc()],
                             cumsums={"t": "cum"})
           .withColumn("midrank",
                       F.col("cum") - (F.col("t") - 1) / 2.0))
    sc = base.groupBy("seg", "yc").agg(F.count(F.lit(1)).alias("c"))
    rj = (sc.join(mid.select("yc", "midrank"), "yc")
          .groupBy("seg")
          .agg(F.sum("c").alias("n_j"),
               F.sum(F.col("c") * F.col("midrank")).alias("r_j")))
    agg = rj.agg(F.sum("n_j").alias("n"),
                 F.count(F.lit(1)).alias("k"),
                 F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j"))
                 .alias("rsq_over_n"))
    ties = vc.agg(F.sum((F.col("t") * F.col("t") * F.col("t")
                         - F.col("t")).cast("decimal(38,0)"))
                  .cast("double").alias("tie_num"))
    j = agg.crossJoin(F.broadcast(ties))
    h_raw = (12.0 / (F.col("n") * (F.col("n") + 1.0))
             * F.col("rsq_over_n") - 3 * (F.col("n") + 1))
    corr = (1 - F.col("tie_num")
            / (F.col("n").cast("double") * F.col("n") * F.col("n")
               - F.col("n")))
    return j.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("int").alias("k"),
        F.round(h_raw, 6).alias("h_raw"),
        F.round(corr, 8).alias("tie_correction"),
        F.round(h_raw / corr, 6).alias("h_stat"),
        (F.round(h_raw / corr, 6) > 9.488).alias("reject_05"))


# --------------------------- streaming uplift monitor (replay twin)


@query("streaming_uplift_monitor_replay", sql="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 0 ELSE 1 END AS t,
             COUNT(*) AS n_ev,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_pur,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS cents
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT d.day, v.t,
             COALESCE(dl.n_ev, 0) AS n_ev,
             COALESCE(dl.n_pur, 0) AS n_pur,
             COALESCE(dl.cents, 0) AS cents
      FROM (SELECT DISTINCT day FROM daily) d
      CROSS JOIN (VALUES (0), (1)) v(t)
      LEFT JOIN daily dl ON dl.day = d.day AND dl.t = v.t
    ), cum AS (
      SELECT day, t,
             SUM(n_ev) OVER w AS ce,
             SUM(n_pur) OVER w AS cp,
             SUM(cents) OVER w AS cc
      FROM grid
      WINDOW w AS (PARTITION BY t ORDER BY day
                   ROWS UNBOUNDED PRECEDING)
    ), wide AS (
      SELECT day,
             MAX(CASE WHEN t = 1 THEN ce END) AS ce_t,
             MAX(CASE WHEN t = 0 THEN ce END) AS ce_c,
             MAX(CASE WHEN t = 1 THEN cp END) AS cp_t,
             MAX(CASE WHEN t = 0 THEN cp END) AS cp_c,
             MAX(CASE WHEN t = 1 THEN cc END) AS cc_t,
             MAX(CASE WHEN t = 0 THEN cc END) AS cc_c
      FROM cum GROUP BY day
    )
    SELECT day,
           CAST(ce_t AS BIGINT) AS events_treat,
           CAST(ce_c AS BIGINT) AS events_control,
           CAST(cp_t AS BIGINT) AS purchases_treat,
           CAST(cp_c AS BIGINT) AS purchases_control,
           ROUND(CAST(cp_t AS DOUBLE) / ce_t
                 - CAST(cp_c AS DOUBLE) / ce_c, 6)
             AS cum_conv_uplift,
           ROUND(CAST(cc_t AS DOUBLE) / 100.0 / ce_t
                 - CAST(cc_c AS DOUBLE) / 100.0 / ce_c, 6)
             AS cum_spend_uplift
    FROM wide ORDER BY day
""")
def streaming_uplift_monitor_replay(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Batch replay of the live experiment monitor: the per-(tumbling
    day window, variant) counts of `streaming.variant_window_counts`
    over the bounded events table, accumulated into the running
    treat-vs-control uplift curve a dashboard serves — cumulative
    conversions-per-event and spend-per-event deltas as of each closed
    day. THE readout an experimenter watches while an A/B test
    accumulates (and the time-axis companion to ab_test_uplift_qini's
    score-axis decile curve). Stream/batch frame parity is pinned in
    tests/test_streaming.py by draining the real file-source stream.

    Determinism: spend in exact integer cents, counts integer, each
    ratio divided once from cumulative integers; variant assignment
    is the repo's md5 hash-split. Scale: ONE map-side-combined
    (day, variant) shuffle is the only data-grain stage; the dense
    day x {0,1} grid, the 2-partition cumulative windows, and the
    pivot run at calendar grain."""
    from mongo_cdc_spark.streaming.analytics import variant_window_counts
    daily = (variant_window_counts(load_table(spark, sf_dir, "events"))
             .select(F.col("w.start").alias("day"), "t",
                     "n_ev", "n_pur", "cents")
             .persist())
    days = daily.select("day").distinct()
    variants = spark.range(2).select(F.col("id").cast("int").alias("t"))
    grid = (days.crossJoin(F.broadcast(variants))
            .join(daily, ["day", "t"], "left")
            .select("day", "t",
                    F.coalesce("n_ev", F.lit(0)).alias("n_ev"),
                    F.coalesce("n_pur", F.lit(0)).alias("n_pur"),
                    F.coalesce("cents", F.lit(0)).alias("cents")))
    from pyspark.sql import Window as _W
    w = (_W.partitionBy("t").orderBy("day")
         .rowsBetween(_W.unboundedPreceding, _W.currentRow))
    cum = (grid.withColumn("ce", F.sum("n_ev").over(w))
           .withColumn("cp", F.sum("n_pur").over(w))
           .withColumn("cc", F.sum("cents").over(w)))
    wide = (cum.groupBy("day")
            .agg(F.max(F.when(F.col("t") == 1, F.col("ce")))
                 .alias("ce_t"),
                 F.max(F.when(F.col("t") == 0, F.col("ce")))
                 .alias("ce_c"),
                 F.max(F.when(F.col("t") == 1, F.col("cp")))
                 .alias("cp_t"),
                 F.max(F.when(F.col("t") == 0, F.col("cp")))
                 .alias("cp_c"),
                 F.max(F.when(F.col("t") == 1, F.col("cc")))
                 .alias("cc_t"),
                 F.max(F.when(F.col("t") == 0, F.col("cc")))
                 .alias("cc_c")))
    return (wide.select(
        "day",
        F.col("ce_t").cast("bigint").alias("events_treat"),
        F.col("ce_c").cast("bigint").alias("events_control"),
        F.col("cp_t").cast("bigint").alias("purchases_treat"),
        F.col("cp_c").cast("bigint").alias("purchases_control"),
        F.round(F.col("cp_t").cast("double") / F.col("ce_t")
                - F.col("cp_c").cast("double") / F.col("ce_c"), 6)
        .alias("cum_conv_uplift"),
        F.round(F.col("cc_t").cast("double") / 100.0 / F.col("ce_t")
                - F.col("cc_c").cast("double") / 100.0 / F.col("ce_c"),
                6).alias("cum_spend_uplift"))
        .orderBy("day"))


# ------------------------------------------ standardized effect size


@query("stats_cohens_d_effect", sql="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CASE WHEN EXTRACT(isodow FROM ts) >= 6
                  THEN 1 ELSE 0 END AS is_weekend,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS vc
      FROM events GROUP BY 1, 2, 3
    ), g AS (
      SELECT event_type, is_weekend,
             COUNT(*) AS n,
             SUM(vc) AS s1,
             SUM(CAST(vc AS HUGEINT) * vc) AS s2
      FROM daily GROUP BY 1, 2
    ), wide AS (
      SELECT event_type,
             MAX(CASE WHEN is_weekend = 0 THEN n END) AS n_wd,
             MAX(CASE WHEN is_weekend = 0 THEN s1 END) AS s1_wd,
             MAX(CASE WHEN is_weekend = 0 THEN CAST(s2 AS DOUBLE) END)
               AS s2_wd,
             MAX(CASE WHEN is_weekend = 1 THEN n END) AS n_we,
             MAX(CASE WHEN is_weekend = 1 THEN s1 END) AS s1_we,
             MAX(CASE WHEN is_weekend = 1 THEN CAST(s2 AS DOUBLE) END)
               AS s2_we
      FROM g GROUP BY event_type
    ), eff AS (
      SELECT event_type, n_wd, n_we,
             s1_we / (n_we * 1e0) - s1_wd / (n_wd * 1e0) AS md,
             SQRT(((s2_wd - s1_wd / (n_wd * 1e0) * s1_wd)
                   + (s2_we - s1_we / (n_we * 1e0) * s1_we))
                  / (n_wd + n_we - 2.0)) AS sp,
             1.0 - 3.0 / (4.0 * (n_wd + n_we) - 9.0) AS j
      FROM wide
    )
    SELECT event_type,
           CAST(n_wd AS INT) AS n_weekday,
           CAST(n_we AS INT) AS n_weekend,
           ROUND(md / 100.0, 6) AS mean_diff,
           ROUND(sp / 100.0, 6) AS pooled_sd,
           ROUND(md / sp, 6) AS cohens_d,
           ROUND(md / sp * j, 6) AS hedges_g,
           CASE WHEN ABS(ROUND(md / sp * j, 6)) < 0.2 THEN 'negligible'
                WHEN ABS(ROUND(md / sp * j, 6)) < 0.5 THEN 'small'
                WHEN ABS(ROUND(md / sp * j, 6)) < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM eff ORDER BY event_type
""")
def stats_cohens_d_effect(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g standardized effect size of the weekend
    shift in daily value totals per event type — the companion number
    every A/B and seasonality readout should carry next to its
    p-value (a significant Welch t with a negligible d is noise a
    dashboard should not page on). Pooled-SD d with the small-sample
    Hedges J = 1 - 3/(4n - 9) correction, plus the conventional
    negligible/small/medium/large magnitude bucket.

    Determinism: day totals are EXACT integer cents; group moments
    are exact integer sums (the second moment accumulates as
    decimal(38,0) — squared cents wrap BIGINT past ~1e9-cent days;
    DuckDB promotes SUM(BIGINT) to HUGEINT, the clustered-SE
    precedent) so mean diff and pooled SD are identical closed forms
    of exact integers on both engines; d is scale-free (cents cancel)
    and rounds at 6 dp. The magnitude bucket compares the ROUNDED g
    so the label can never straddle an ulp. Scale: ONE data-grain
    map-side-combined (type, day) rollup; everything after runs on
    2 rows per event type."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.date_trunc("day", "ts").alias("d"),
                        (F.weekday("ts") >= 5).cast("int")
                        .alias("is_weekend"))
             .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                  .alias("vc")))
    g = (daily.groupBy("event_type", "is_weekend")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("vc").alias("s1"),
              F.sum(F.col("vc").cast("decimal(38,0)") * F.col("vc"))
              .cast("double").alias("s2")))
    pick = lambda w, c: F.max(  # noqa: E731
        F.when(F.col("is_weekend") == w, F.col(c)))
    wide = (g.groupBy("event_type")
            .agg(pick(0, "n").alias("n_wd"), pick(0, "s1").alias("s1_wd"),
                 pick(0, "s2").alias("s2_wd"),
                 pick(1, "n").alias("n_we"), pick(1, "s1").alias("s1_we"),
                 pick(1, "s2").alias("s2_we")))
    md = (F.col("s1_we") / (F.col("n_we") * F.lit(1.0))
          - F.col("s1_wd") / (F.col("n_wd") * F.lit(1.0)))
    sp = F.sqrt(((F.col("s2_wd")
                  - F.col("s1_wd") / (F.col("n_wd") * F.lit(1.0))
                  * F.col("s1_wd"))
                 + (F.col("s2_we")
                    - F.col("s1_we") / (F.col("n_we") * F.lit(1.0))
                    * F.col("s1_we")))
                / (F.col("n_wd") + F.col("n_we") - F.lit(2.0)))
    j = (F.lit(1.0) - F.lit(3.0)
         / (F.lit(4.0) * (F.col("n_wd") + F.col("n_we")) - F.lit(9.0)))
    g_r = F.round(md / sp * j, 6)
    mag = (F.when(F.abs(g_r) < 0.2, "negligible")
           .when(F.abs(g_r) < 0.5, "small")
           .when(F.abs(g_r) < 0.8, "medium")
           .otherwise("large"))
    return (wide.select(
        "event_type",
        F.col("n_wd").cast("int").alias("n_weekday"),
        F.col("n_we").cast("int").alias("n_weekend"),
        F.round(md / 100.0, 6).alias("mean_diff"),
        F.round(sp / 100.0, 6).alias("pooled_sd"),
        F.round(md / sp, 6).alias("cohens_d"),
        g_r.alias("hedges_g"),
        mag.alias("magnitude"))
        .orderBy("event_type"))


# --------------------------------- Theil's uncertainty coefficient


@query("stats_theils_u", sql="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n) AS grand FROM obs
    ), hj AS (
      SELECT -SUM((n / (grand * 1e0)) * LN(n / (grand * 1e0)))
               AS h_joint
      FROM obs CROSS JOIN tot WHERE n > 0
    ), hs AS (
      SELECT -SUM((rn / (grand * 1e0)) * LN(rn / (grand * 1e0)))
               AS h_seg
      FROM (SELECT seg, SUM(n) AS rn FROM obs GROUP BY 1) r
      CROSS JOIN tot
    ), hp AS (
      SELECT -SUM((cn / (grand * 1e0)) * LN(cn / (grand * 1e0)))
               AS h_prio
      FROM (SELECT prio, SUM(n) AS cn FROM obs GROUP BY 1) col
      CROSS JOIN tot
    )
    SELECT CAST(t.grand AS BIGINT) AS n,
           ROUND(hp.h_prio, 6) AS h_prio,
           ROUND(hs.h_seg, 6) AS h_seg,
           ROUND(hj.h_joint, 6) AS h_joint,
           ROUND((hp.h_prio + hs.h_seg - hj.h_joint)
                 / hp.h_prio, 6) AS u_prio_given_seg,
           ROUND((hp.h_prio + hs.h_seg - hj.h_joint)
                 / hs.h_seg, 6) AS u_seg_given_prio,
           ROUND(2.0 * (hp.h_prio + hs.h_seg - hj.h_joint)
                 / (hp.h_prio + hs.h_seg), 6) AS u_symmetric
    FROM tot t CROSS JOIN hj CROSS JOIN hs CROSS JOIN hp
""")
def stats_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U between customer market
    segment and order priority — the ASYMMETRIC, entropy-based
    association measure ("how much does knowing the segment reduce
    uncertainty about the priority", and vice versa), the standard
    complement to the symmetric Cramer's V already reported by
    stats_chi_square_independence: U detects one-directional
    predictive value V blurs together, and is the categorical-
    feature-selection scorer in profiling suites. U(y|x) =
    (H(y) + H(x) - H(x,y)) / H(y) via the mutual-information
    identity, plus the symmetric variant 2*I/(H(x)+H(y)).

    Determinism: every entropy is a sum of (count/n)*ln(count/n)
    terms over EXACT integer counts (zero cells contribute nothing —
    0*ln 0 = 0 — so only observed cells enter, unlike the chi-square
    grid where structural zeros carry expected mass); the cell grain
    is |segs| x |prios| <= 25 rows, so engine summation-order ulps
    die in the 6-dp rounding. Scale: ONE data-sized join + count
    rollup (orders |><| customer, co-partitioned at scale, AQE
    broadcast at fixture size); all entropy algebra is cell-grain."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (o.join(c, F.col("c_custkey") == F.col("o_custkey"))
           .groupBy(F.col("c_mktsegment").alias("seg"),
                    F.col("o_orderpriority").alias("prio"))
           .agg(F.count(F.lit(1)).alias("n"))
           .persist())
    tot = obs.agg(F.sum("n").alias("grand"))
    ent = lambda cnt: -F.sum(  # noqa: E731
        (F.col(cnt) / (F.col("grand") * F.lit(1.0)))
        * F.log(F.col(cnt) / (F.col("grand") * F.lit(1.0))))
    hj = (obs.where(F.col("n") > 0).crossJoin(F.broadcast(tot))
          .agg(ent("n").alias("h_joint")))
    hs = (obs.groupBy("seg").agg(F.sum("n").alias("rn"))
          .crossJoin(F.broadcast(tot)).agg(ent("rn").alias("h_seg")))
    hp = (obs.groupBy("prio").agg(F.sum("n").alias("cn"))
          .crossJoin(F.broadcast(tot)).agg(ent("cn").alias("h_prio")))
    mi = F.col("h_prio") + F.col("h_seg") - F.col("h_joint")
    return (tot.crossJoin(F.broadcast(hj))
            .crossJoin(F.broadcast(hs))
            .crossJoin(F.broadcast(hp))
            .select(F.col("grand").cast("bigint").alias("n"),
                    F.round("h_prio", 6).alias("h_prio"),
                    F.round("h_seg", 6).alias("h_seg"),
                    F.round("h_joint", 6).alias("h_joint"),
                    F.round(mi / F.col("h_prio"), 6)
                    .alias("u_prio_given_seg"),
                    F.round(mi / F.col("h_seg"), 6)
                    .alias("u_seg_given_prio"),
                    F.round(2.0 * mi
                            / (F.col("h_prio") + F.col("h_seg")), 6)
                    .alias("u_symmetric")))


# ------------------------------------- Wilcoxon signed-rank (paired)


@query("stats_wilcoxon_signed_rank", sql="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS pc,
             SUM(CASE WHEN event_type = 'click'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS cc
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ), diffs AS (
      SELECT d, pc - cc AS df, ABS(pc - cc) AS ad
      FROM daily WHERE pc - cc <> 0
    ), vc AS (
      SELECT ad, COUNT(*) AS t FROM diffs GROUP BY 1
    ), mid AS (
      SELECT ad, t,
             SUM(t) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING)
               - (t - 1) / 2.0 AS midrank
      FROM vc
    ), w AS (
      SELECT SUM(CASE WHEN x.df > 0 THEN m.midrank ELSE 0 END)
               AS w_plus,
             COUNT(*) AS n_eff
      FROM diffs x JOIN mid m ON m.ad = x.ad
    ), ties AS (
      SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
               AS tie_num
      FROM vc WHERE t > 1
    ), nz AS (
      SELECT COUNT(*) AS n_days FROM daily
    )
    SELECT CAST(nz.n_days AS BIGINT) AS n_pairs,
           CAST(nz.n_days - w.n_eff AS BIGINT) AS n_zero_dropped,
           ROUND(w.w_plus, 1) AS w_plus,
           ROUND(w.n_eff * (w.n_eff + 1) / 4.0, 1) AS mu_w,
           ROUND(w.n_eff * (w.n_eff + 1.0) * (2 * w.n_eff + 1) / 24.0
                 - CAST(t.tie_num AS DOUBLE) / 48.0, 4) AS var_w,
           ROUND((w.w_plus - w.n_eff * (w.n_eff + 1) / 4.0)
                 / SQRT(w.n_eff * (w.n_eff + 1.0)
                        * (2 * w.n_eff + 1) / 24.0
                        - CAST(t.tie_num AS DOUBLE) / 48.0), 6) AS z,
           ABS(ROUND((w.w_plus - w.n_eff * (w.n_eff + 1) / 4.0)
                 / SQRT(w.n_eff * (w.n_eff + 1.0)
                        * (2 * w.n_eff + 1) / 24.0
                        - CAST(t.tie_num AS DOUBLE) / 48.0), 6))
             > 1.959964 AS reject_05
    FROM w CROSS JOIN ties t CROSS JOIN nz
""")
def stats_wilcoxon_signed_rank(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED daily totals — does
    purchase revenue systematically exceed click value on the same
    day? The nonparametric paired-location test (no normality of the
    differences assumed) that completes the repo's rank-test family:
    Kruskal-Wallis is k independent groups, the KS test is two
    unpaired samples, this is the matched-pairs case every
    before/after analysis needs. Zero differences drop (standard
    Wilcoxon practice), |diff| ranks are exact midranks with the tie
    correction sum t(t-1)(t+1)/48 in the normal-approximation
    variance, and z tests W+ against its null mean n(n+1)/4 at the
    two-sided 95% level.

    Determinism: day totals and their differences are EXACT integer
    cents, so the zero-drop and every sign are exact; midranks come
    from the |diff|-vocabulary cumulative count (.5-grain doubles,
    exactly representable), making W+ an exact sum; the tie term
    accumulates in 128-bit integers. Scale: ONE data-grain map-side-
    combined (day) rollup; the rank machinery runs at |distinct
    diffs| <= |days| grain (calendar-bounded) through
    _twophase.with_global_order (range repartition + broadcast
    offsets — no single-task window), the Kruskal-Wallis plan."""
    from mongo_cdc_spark.operators._twophase import with_global_order

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (ev.where(F.col("event_type").isin("purchase", "click"))
             .groupBy(F.date_trunc("day", "ts").alias("d"))
             .agg(F.sum(F.when(F.col("event_type") == "purchase",
                               cents).otherwise(0)).alias("pc"),
                  F.sum(F.when(F.col("event_type") == "click",
                               cents).otherwise(0)).alias("cc"))
             .persist())
    diffs = (daily.select("d", (F.col("pc") - F.col("cc")).alias("df"),
                          F.abs(F.col("pc") - F.col("cc")).alias("ad"))
             .where(F.col("df") != 0)
             .persist())
    vc = diffs.groupBy("ad").agg(F.count(F.lit(1)).alias("t"))
    mid = (with_global_order(vc, [F.col("ad").asc()],
                             cumsums={"t": "cum"})
           .withColumn("midrank",
                       F.col("cum") - (F.col("t") - 1) / 2.0))
    w = (diffs.join(mid.select("ad", "midrank"), "ad")
         .agg(F.sum(F.when(F.col("df") > 0, F.col("midrank"))
                    .otherwise(0.0)).alias("w_plus"),
              F.count(F.lit(1)).alias("n_eff")))
    ties = (vc.where(F.col("t") > 1)
            .agg(F.coalesce(
                F.sum((F.col("t") * F.col("t") * F.col("t")
                       - F.col("t")).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"))
                .cast("double").alias("tie_num")))
    nz = daily.agg(F.count(F.lit(1)).alias("n_days"))
    j = w.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(nz))
    mu = F.col("n_eff") * (F.col("n_eff") + 1) / 4.0
    var = (F.col("n_eff") * (F.col("n_eff") + 1.0)
           * (2 * F.col("n_eff") + 1) / 24.0
           - F.col("tie_num") / 48.0)
    z = F.round((F.col("w_plus") - mu) / F.sqrt(var), 6)
    return j.select(
        F.col("n_days").cast("bigint").alias("n_pairs"),
        (F.col("n_days") - F.col("n_eff")).cast("bigint")
        .alias("n_zero_dropped"),
        F.round("w_plus", 1).alias("w_plus"),
        F.round(mu, 1).alias("mu_w"),
        F.round(var, 4).alias("var_w"),
        z.alias("z"),
        (F.abs(z) > 1.959964).alias("reject_05"))


# --------------------------------------- per-column entropy profile


@query("quality_column_entropy_profile", sql="""
    WITH melted AS (
      SELECT col, val FROM (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS val
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_totalprice_cents',
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE)
                                   AS VARCHAR)
        FROM orders)
    ), vc AS (
      SELECT col, val, COUNT(*) AS c FROM melted GROUP BY 1, 2
    ), prof AS (
      SELECT col,
             SUM(c) AS n,
             COUNT(*) AS n_distinct,
             MAX(c) AS top_c,
             SUM(c * LN(c)) AS clnc
      FROM vc GROUP BY col
    )
    SELECT col,
           CAST(n AS BIGINT) AS n,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           ROUND(n_distinct / (n * 1e0), 6) AS distinct_ratio,
           ROUND(top_c / (n * 1e0), 6) AS top_value_share,
           ROUND(LN(n * 1e0) - clnc / n, 6) AS entropy_nats,
           ROUND(CASE WHEN n_distinct = 1 THEN 0.0
                      ELSE (LN(n * 1e0) - clnc / n)
                           / LN(n_distinct * 1e0) END, 6)
             AS normalized_entropy
    FROM prof ORDER BY col
""")
def quality_column_entropy_profile(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Shannon-entropy column profile of the orders table: per column,
    the exact value entropy H = ln(n) - sum(c*ln c)/n, the
    max-normalized entropy H/ln(k), distinct ratio and top-value
    share — the information-content screen that catches
    near-constant columns (normalized entropy ~ 0: dead feature,
    suspicious default) and key-like columns (distinct ratio ~ 1)
    BEFORE they reach feature selection or layout decisions;
    complements quality_profile_orders (which reports ranges/nulls,
    not concentration) and feeds the same decisions as
    layout_zonemap/clustering metrics. Values canonicalize through
    EXACT representations (cents for money, ISO date strings) so both
    engines bucket identically — never a raw double's string form.

    Scale: one k x N melt (narrow Expand, no shuffle) into ONE
    map-side-combined (col, value) count — the quality_profile
    cardinality plan; the entropy identity sum(c ln c) aggregates the
    value-grain counts a second time on the k-row col key. Exact
    integer counts feed every term; rounding at 6 dp absorbs
    summation-order ulps in sum(c*ln c)."""
    o = load_table(spark, sf_dir, "orders")
    melted = o.select(F.expr("""
        stack(5,
          'o_orderstatus', o_orderstatus,
          'o_orderpriority', o_orderpriority,
          'o_custkey', CAST(o_custkey AS STRING),
          'o_totalprice_cents',
            CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS STRING),
          'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS STRING)
        ) AS (col, val)"""))
    vc = (melted.groupBy("col", "val")
          .agg(F.count(F.lit(1)).alias("c")))
    prof = (vc.groupBy("col")
            .agg(F.sum("c").alias("n"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.max("c").alias("top_c"),
                 F.sum(F.col("c") * F.log("c")).alias("clnc")))
    h = F.log(F.col("n") * F.lit(1.0)) - F.col("clnc") / F.col("n")
    return (prof.select(
        "col",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.round(F.col("n_distinct") / (F.col("n") * F.lit(1.0)), 6)
        .alias("distinct_ratio"),
        F.round(F.col("top_c") / (F.col("n") * F.lit(1.0)), 6)
        .alias("top_value_share"),
        F.round(h, 6).alias("entropy_nats"),
        F.round(F.when(F.col("n_distinct") == 1, F.lit(0.0))
                .otherwise(h / F.log(F.col("n_distinct")
                                     * F.lit(1.0))), 6)
        .alias("normalized_entropy"))
        .orderBy("col"))


# ------------------------- rank / incidence tests over blocked data


@query("stats_friedman_test", sql="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT d.day, t.event_type, COALESCE(dl.cnt, 0) AS cnt
      FROM (SELECT DISTINCT day FROM daily) d
      CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
      LEFT JOIN daily dl
        ON dl.day = d.day AND dl.event_type = t.event_type
    ), ranked AS (
      SELECT day, event_type, cnt,
             RANK() OVER (PARTITION BY day ORDER BY cnt)
               + (COUNT(*) OVER (PARTITION BY day, cnt) - 1) / 2.0
               AS midrank
      FROM grid
    ), rj AS (
      SELECT event_type, SUM(midrank) AS r_j,
             SUM(midrank * midrank) AS a_j,
             COUNT(*) AS n
      FROM ranked GROUP BY 1
    ), consts AS (
      SELECT COUNT(*) AS k, MAX(n) AS n, SUM(a_j) AS a FROM rj
    ), agg AS (
      SELECT c.k, c.n, c.a,
             SUM(POW(r.r_j - c.n * (c.k + 1) / 2.0, 2)) AS d2
      FROM rj r CROSS JOIN consts c
      GROUP BY 1, 2, 3
    )
    SELECT CAST(n AS INT) AS n_blocks,
           CAST(k AS INT) AS k,
           ROUND((k - 1) * d2
                 / (a - n * k * (k + 1) * (k + 1) / 4.0), 6)
             AS chi2_f,
           ROUND((n - 1) * ((k - 1) * d2
                            / (a - n * k * (k + 1) * (k + 1) / 4.0))
                 / (n * (k - 1)
                    - (k - 1) * d2
                    / (a - n * k * (k + 1) * (k + 1) / 4.0)), 6)
             AS iman_davenport_f,
           ROUND((k - 1) * d2
                 / (a - n * k * (k + 1) * (k + 1) / 4.0), 6)
             > 9.488 AS reject_05
    FROM agg
""")
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of whether the five event types keep the
    same daily-volume ordering across 30 day-blocks — the repeated-
    measures companion to stats_kruskal_wallis (KW compares
    independent groups; Friedman ranks WITHIN each day, removing the
    day's overall level before comparing treatments). Uses Conover's
    sum-of-squared-ranks form chi2 = (k-1) * sum_j (R_j - n(k+1)/2)^2
    / (A - n k (k+1)^2 / 4) which absorbs ties through the midranks
    themselves (A = sum of squared midranks), plus the Iman-Davenport
    F transform that sharpens the chi-square approximation. df = k-1
    = 4, 95% critical value 9.488.

    Determinism: midranks inside a 5-row day block are rank +
    (t-1)/2 — quarter-grain exact doubles; every downstream sum is a
    sum of <=150 such values, far inside exact double range. Scale:
    ONE data-grain map-side-combined (day, type) count; the grid
    completion (structural zeros rank lowest and must be present),
    per-day windows and final algebra run on |days| x |types| rows,
    independent of data volume."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    # persisted for its TWO broadcast consumers (the type-distinct
    # frame and the grid's left side) — a cached frame takes no
    # checkpoint lock, so the broadcast-thread deadlock class
    # (SURVEY §7) cannot fire.
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("day"),
                        "event_type")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .persist())
    grid = (daily.select("day").distinct()
            .crossJoin(F.broadcast(
                daily.select("event_type").distinct()))
            .join(F.broadcast(daily), ["day", "event_type"], "left")
            .select("day", "event_type",
                    F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")))
    ranked = grid.withColumn(
        "midrank",
        F.rank().over(W.partitionBy("day").orderBy("cnt"))
        + (F.count(F.lit(1)).over(W.partitionBy("day", "cnt")) - 1)
        / 2.0)
    rj = (ranked.groupBy("event_type")
          .agg(F.sum("midrank").alias("r_j"),
               F.sum(F.col("midrank") * F.col("midrank")).alias("a_j"),
               F.count(F.lit(1)).alias("n")))
    agg = rj.agg(F.count(F.lit(1)).alias("k"),
                 F.max("n").alias("n"),
                 F.sum("a_j").alias("a"),
                 F.sum("r_j").alias("rsum"),
                 F.sum(F.col("r_j") * F.col("r_j")).alias("rsq"))
    # sum (R_j - n(k+1)/2)^2 = sum R_j^2 - 2*mu*sum R_j + k*mu^2
    mu = F.col("n") * (F.col("k") + 1) / 2.0
    d2 = (F.col("rsq") - 2.0 * mu * F.col("rsum")
          + F.col("k") * mu * mu)
    denom = (F.col("a") - F.col("n") * F.col("k")
             * (F.col("k") + 1) * (F.col("k") + 1) / 4.0)
    chi2 = (F.col("k") - 1) * d2 / denom
    return agg.select(
        F.col("n").cast("int").alias("n_blocks"),
        F.col("k").cast("int").alias("k"),
        F.round(chi2, 6).alias("chi2_f"),
        F.round((F.col("n") - 1) * chi2
                / (F.col("n") * (F.col("k") - 1) - chi2), 6)
        .alias("iman_davenport_f"),
        (F.round(chi2, 6) > 9.488).alias("reject_05"))


@query("stats_cochran_q", sql="""
    WITH pres AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
             event_type
      FROM events
    ), rows_ AS (
      SELECT user_id, day, COUNT(*) AS r_i FROM pres GROUP BY 1, 2
    ), cols AS (
      SELECT event_type, COUNT(*) AS c_j FROM pres GROUP BY 1
    ), ragg AS (
      SELECT COUNT(*) AS n_blocks, SUM(r_i) AS t,
             SUM(r_i * r_i) AS rsq
      FROM rows_
    ), cagg AS (
      SELECT COUNT(*) AS k, SUM(c_j * c_j) AS csq FROM cols
    )
    SELECT CAST(r.n_blocks AS BIGINT) AS n_blocks,
           CAST(c.k AS INT) AS k,
           CAST(r.t AS BIGINT) AS total_marks,
           ROUND((c.k - 1) * (c.k * c.csq - r.t * r.t * 1e0)
                 / (c.k * r.t - r.rsq), 6) AS q_stat,
           CAST(c.k - 1 AS INT) AS dof,
           ROUND((c.k - 1) * (c.k * c.csq - r.t * r.t * 1e0)
                 / (c.k * r.t - r.rsq), 6) > 9.488 AS reject_05
    FROM ragg r CROSS JOIN cagg c
""")
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test of whether the five event types have equal
    daily incidence rates across (user, day) blocks — the k-treatment
    generalization of McNemar (stats_mcnemar_paired) for matched
    binary outcomes: x_ij = 1 iff user i emitted >=1 event of type j
    on that day. Q = (k-1) * (k * sum C_j^2 - T^2) / (k*T - sum
    R_i^2), an identity that keeps EVERY term an exact integer until
    the single final division (C_j = column totals, R_i = row totals,
    T = total marks). All-zero blocks are provably invariant (they
    add 0 to every term), so restricting blocks to observed
    (user, day) pairs loses nothing. df = k-1 = 4, critical 9.488.

    Scale: one data-grain DISTINCT to presence cells (map-side
    combined — each task collapses its duplicate (user, day, type)
    triples before the shuffle), then two tiny grouped counts; the
    final Q is 1-row algebra on exact BIGINTs."""
    ev = load_table(spark, sf_dir, "events")
    pres = (ev.select("user_id",
                      F.date_trunc("day", "ts").alias("day"),
                      "event_type")
            .distinct()
            .persist())
    rows_ = (pres.groupBy("user_id", "day")
             .agg(F.count(F.lit(1)).alias("r_i")))
    cols = (pres.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("c_j")))
    ragg = rows_.agg(F.count(F.lit(1)).alias("n_blocks"),
                     F.sum("r_i").alias("t"),
                     F.sum(F.col("r_i") * F.col("r_i")).alias("rsq"))
    cagg = cols.agg(F.count(F.lit(1)).alias("k"),
                    F.sum(F.col("c_j") * F.col("c_j")).alias("csq"))
    j = ragg.crossJoin(F.broadcast(cagg))
    q = ((F.col("k") - 1)
         * (F.col("k") * F.col("csq")
            - F.col("t") * F.col("t") * F.lit(1.0))
         / (F.col("k") * F.col("t") - F.col("rsq")))
    return j.select(
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
        F.col("k").cast("int").alias("k"),
        F.col("t").cast("bigint").alias("total_marks"),
        F.round(q, 6).alias("q_stat"),
        (F.col("k") - 1).cast("int").alias("dof"),
        (F.round(q, 6) > 9.488).alias("reject_05"))


@query("stats_bartlett_variance", sql="""
    WITH base AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS yc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), g AS (
      SELECT seg, COUNT(*) AS n_i, SUM(yc) AS s1,
             SUM(CAST(yc AS HUGEINT) * yc) AS s2
      FROM base GROUP BY 1
    ), v AS (
      SELECT seg, n_i,
             (CAST(s2 AS DOUBLE) - s1 / (n_i * 1e0) * s1)
               / (n_i - 1.0) AS s2_i
      FROM g
    ), agg AS (
      SELECT SUM(n_i) AS n, COUNT(*) AS k,
             SUM((n_i - 1) * s2_i) AS ss,
             SUM((n_i - 1) * LN(s2_i)) AS sln,
             SUM(1.0 / (n_i - 1)) AS sinv
      FROM v
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(k AS INT) AS k,
           ROUND(ss / (n - k) / 10000.0, 4) AS pooled_var_dollars,
           ROUND(((n - k) * LN(ss / (n - k)) - sln)
                 / (1 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))),
                 6) AS chi2,
           ROUND(((n - k) * LN(ss / (n - k)) - sln)
                 / (1 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))),
                 6) > 9.488 AS reject_05
    FROM agg
""")
def stats_bartlett_variance(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Bartlett's test of equal order-value variance across market
    segments — the classical (normal-theory) counterpart to
    stats_levene_variance: chi2 = [(N-k) ln Sp^2 - sum (n_i-1) ln
    S_i^2] / C with the Bartlett correction C = 1 + (sum 1/(n_i-1) -
    1/(N-k)) / (3(k-1)). Pipelines run BOTH: Levene is robust,
    Bartlett is more powerful when tails are near-normal — disagree-
    ment between them is itself a tail-weight diagnostic. df = k-1 =
    4, 95% critical value 9.488. The statistic is unit-invariant
    (sum (n_i-1) = N-k makes the ln-unit terms cancel), so the lns
    run on cents^2 while the reported pooled variance rescales to
    dollars^2.

    Determinism: group moments are exact integers (second moment
    accumulates as decimal(38,0) — squared cents x 15k rows passes
    BIGINT range; DuckDB's SUM(BIGINT) promotes to HUGEINT), so each
    S_i^2 is the same exact-input closed form on both engines; the
    ln/divide tail is identical IEEE algebra on <= k rows. Scale: ONE
    data-grain map-side-combined (segment) rollup after the
    co-partitioned orders x customer join; everything after is k-row
    algebra."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    yc = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = (o.join(c, F.col("c_custkey") == F.col("o_custkey"))
            .select(F.col("c_mktsegment").alias("seg"),
                    yc.alias("yc")))
    g = (base.groupBy("seg")
         .agg(F.count(F.lit(1)).alias("n_i"),
              F.sum("yc").alias("s1"),
              F.sum(F.col("yc").cast("decimal(38,0)") * F.col("yc"))
              .cast("double").alias("s2")))
    v = g.select(
        "seg", "n_i",
        ((F.col("s2") - F.col("s1") / (F.col("n_i") * F.lit(1.0))
          * F.col("s1")) / (F.col("n_i") - 1.0)).alias("s2_i"))
    agg = v.agg(F.sum("n_i").alias("n"),
                F.count(F.lit(1)).alias("k"),
                F.sum((F.col("n_i") - 1) * F.col("s2_i")).alias("ss"),
                F.sum((F.col("n_i") - 1) * F.log(F.col("s2_i")))
                .alias("sln"),
                F.sum(F.lit(1.0) / (F.col("n_i") - 1)).alias("sinv"))
    chi2 = (((F.col("n") - F.col("k"))
             * F.log(F.col("ss") / (F.col("n") - F.col("k")))
             - F.col("sln"))
            / (1 + (F.col("sinv")
                    - F.lit(1.0) / (F.col("n") - F.col("k")))
               / (3.0 * (F.col("k") - 1))))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("int").alias("k"),
        F.round(F.col("ss") / (F.col("n") - F.col("k")) / 10000.0, 4)
        .alias("pooled_var_dollars"),
        F.round(chi2, 6).alias("chi2"),
        (F.round(chi2, 6) > 9.488).alias("reject_05"))


@query("stats_dkw_ecdf_band", sql="""
    WITH cuts(cut_price) AS (
      VALUES (50000), (100000), (150000), (200000), (250000),
             (300000), (350000), (400000), (450000)
    ), tot AS (SELECT COUNT(*) AS n FROM orders)
    SELECT c.cut_price,
           CAST(t.n AS BIGINT) AS n,
           ROUND(SUM(CASE WHEN o.o_totalprice <= c.cut_price
                          THEN 1 ELSE 0 END) / (t.n * 1e0), 6)
             AS ecdf,
           ROUND(GREATEST(
             SUM(CASE WHEN o.o_totalprice <= c.cut_price
                      THEN 1 ELSE 0 END) / (t.n * 1e0)
             - SQRT(LN(40.0) / (2.0 * t.n)), 0.0), 6) AS band_lo,
           ROUND(LEAST(
             SUM(CASE WHEN o.o_totalprice <= c.cut_price
                      THEN 1 ELSE 0 END) / (t.n * 1e0)
             + SQRT(LN(40.0) / (2.0 * t.n)), 1.0), 6) AS band_hi
    FROM orders o CROSS JOIN cuts c CROSS JOIN tot t
    GROUP BY c.cut_price, t.n
    ORDER BY 1
""")
def stats_dkw_ecdf_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF of order total price at nine fixed price cuts
    with the Dvoretzky-Kiefer-Wolfowitz 95% simultaneous confidence
    band: eps = sqrt(ln(2/alpha) / 2n) with alpha = 0.05 (ln 40).
    The DKW band is the distribution-free guarantee a data-quality
    monitor wants when it pins "the share of orders under $X" across
    releases — unlike pointwise binomial CIs it holds for ALL cuts
    jointly, so a drift alarm on any cut is an honest alarm.

    Determinism: each ECDF value is an exact integer count over n;
    eps is one shared closed form of n. Scale: ONE single-pass
    map-side-combined aggregate computes all nine conditional counts
    (no 9x row multiplication — the oracle's cross-join form is the
    readable spec, the engine's conditional-sum form is the scan
    plan); the band algebra runs on 9 rows via stack()."""
    o = load_table(spark, sf_dir, "orders")
    cuts = [50000, 100000, 150000, 200000, 250000,
            300000, 350000, 400000, 450000]
    aggs = [F.sum((F.col("o_totalprice") <= c).cast("bigint"))
            .alias(f"c{i}") for i, c in enumerate(cuts)]
    one = o.agg(F.count(F.lit(1)).alias("n"), *aggs)
    stack_args = ", ".join(f"{c}, c{i}" for i, c in enumerate(cuts))
    long = one.selectExpr(
        f"stack({len(cuts)}, {stack_args}) AS (cut_price, cnt)", "n")
    ecdf = F.col("cnt") / (F.col("n") * F.lit(1.0))
    eps = F.sqrt(F.log(F.lit(40.0)) / (2.0 * F.col("n")))
    return (long.select(
        F.col("cut_price").cast("int").alias("cut_price"),
        F.col("n").cast("bigint").alias("n"),
        F.round(ecdf, 6).alias("ecdf"),
        F.round(F.greatest(ecdf - eps, F.lit(0.0)), 6)
        .alias("band_lo"),
        F.round(F.least(ecdf + eps, F.lit(1.0)), 6).alias("band_hi"))
        .orderBy("cut_price"))


@query("stats_capture_recapture", sql="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS c,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS p
      FROM events GROUP BY 1
    ), agg AS (
      SELECT SUM(c) AS n1, SUM(p) AS n2,
             SUM(c * p) AS m, COUNT(*) AS observed
      FROM per_user
    )
    SELECT CAST(n1 AS BIGINT) AS n_capture1,
           CAST(n2 AS BIGINT) AS n_capture2,
           CAST(m AS BIGINT) AS n_both,
           CAST(observed AS BIGINT) AS n_observed,
           ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0, 2)
             AS chapman_estimate,
           ROUND(SQRT((n1 + 1.0) * (n2 + 1.0) * (n1 - m)
                      * (n2 - m * 1.0)
                      / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 4)
             AS chapman_se,
           ROUND(observed / ((n1 + 1.0) * (n2 + 1.0) / (m + 1.0)
                             - 1.0), 6) AS observed_coverage
    FROM agg
""")
def stats_capture_recapture(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the true user population
    from two independent 'capture occasions' (users seen clicking vs
    users seen purchasing): N-hat = (n1+1)(n2+1)/(m+1) - 1 with its
    standard error — the mark-recapture method data teams reuse to
    size what a pipeline DOESN'T see (undetected duplicates after a
    dedup pass, uncrawled hosts, untagged PII) from the overlap of
    two independent detectors. The fixture makes it self-checking:
    every user emits SOME event, so n_observed is the ground truth
    the estimate should cover — observed_coverage near 1 validates
    the two-occasion independence assumption, and a big deviation is
    itself the finding (correlated captures).

    Determinism: n1, n2, m, observed are exact integers from one
    user-grain rollup; the estimator is a single closed form, rounded
    once. Scale: ONE map-side-combined groupBy(user) computing both
    capture flags in the same pass (never two scans), then a 1-row
    reduction."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.max((F.col("event_type") == "click")
                           .cast("int")).alias("c"),
                     F.max((F.col("event_type") == "purchase")
                           .cast("int")).alias("p")))
    agg = per_user.agg(
        F.sum("c").alias("n1"), F.sum("p").alias("n2"),
        F.sum(F.col("c") * F.col("p")).alias("m"),
        F.count(F.lit(1)).alias("observed"))
    nhat = ((F.col("n1") + 1.0) * (F.col("n2") + 1.0)
            / (F.col("m") + 1.0) - 1.0)
    se = F.sqrt((F.col("n1") + 1.0) * (F.col("n2") + 1.0)
                * (F.col("n1") - F.col("m"))
                * (F.col("n2") - F.col("m") * F.lit(1.0))
                / ((F.col("m") + 1.0) * (F.col("m") + 1.0)
                   * (F.col("m") + 2.0)))
    return agg.select(
        F.col("n1").cast("bigint").alias("n_capture1"),
        F.col("n2").cast("bigint").alias("n_capture2"),
        F.col("m").cast("bigint").alias("n_both"),
        F.col("observed").cast("bigint").alias("n_observed"),
        F.round(nhat, 2).alias("chapman_estimate"),
        F.round(se, 4).alias("chapman_se"),
        F.round(F.col("observed") / nhat, 6).alias("observed_coverage"))


@query("quality_kanonymity_audit", sql="""
    WITH qi AS (
      SELECT c.c_mktsegment AS seg, n.n_name AS nat,
             CASE WHEN c.c_acctbal < 0 THEN 'debt'
                  WHEN c.c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS bal_band,
             COUNT(*) AS class_size
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2, 3
    )
    SELECT CAST(SUM(class_size) AS BIGINT) AS n_records,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(class_size) AS INT) AS k_anonymity,
           CAST(SUM(CASE WHEN class_size = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS singleton_classes,
           ROUND(SUM(CASE WHEN class_size < 5 THEN class_size
                          ELSE 0 END) / (SUM(class_size) * 1e0), 6)
             AS risk_share_k5,
           ROUND(SUM(CAST(class_size AS HUGEINT) * class_size)
                 / (SUM(class_size) * 1e0), 4)
             AS expected_class_size
    FROM qi
""")
def quality_kanonymity_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """k-anonymity audit of the (segment, nation, balance-band)
    quasi-identifier over customers — the privacy gate a
    training-data release runs BEFORE train_regex_redact's
    content-level pass: k = the smallest equivalence class (any
    record in a class of 1 is re-identifiable from the QI alone),
    the share of records in classes below k=5 (the conventional
    release threshold), and the size-biased expected class size
    (sum s^2 / n — the class size a RANDOM RECORD sits in, the
    attacker-centric average).

    Determinism: all counts exact; the squared-size sum accumulates
    at 128-bit (classes can be data-sized). Scale: ONE map-side-
    combined groupBy over the QI columns after the broadcast nation
    join; everything after is class-grain (bounded by the QI
    domain)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    band = (F.when(F.col("c_acctbal") < 0, "debt")
            .when(F.col("c_acctbal") < 5000, "mid")
            .otherwise("high"))
    qi = (c.join(F.broadcast(n),
                 F.col("c_nationkey") == F.col("n_nationkey"))
          .groupBy(F.col("c_mktsegment").alias("seg"),
                   F.col("n_name").alias("nat"),
                   band.alias("bal_band"))
          .agg(F.count(F.lit(1)).alias("class_size")))
    return qi.agg(
        F.sum("class_size").cast("bigint").alias("n_records"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").cast("int").alias("k_anonymity"),
        F.sum((F.col("class_size") == 1).cast("int")).cast("bigint")
        .alias("singleton_classes"),
        F.round(F.sum(F.when(F.col("class_size") < 5,
                             F.col("class_size")).otherwise(F.lit(0)))
                / (F.sum("class_size") * F.lit(1.0)), 6)
        .alias("risk_share_k5"),
        F.round(F.sum(F.col("class_size").cast("decimal(38,0)")
                      * F.col("class_size")).cast("double")
                / (F.sum("class_size") * F.lit(1.0)), 4)
        .alias("expected_class_size"))


@query("stats_cochran_armitage_trend", sql="""
    WITH base AS (
      SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INT) AS s,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), g AS (
      SELECT s, COUNT(*) AS n_i, SUM(r) AS r_i
      FROM base GROUP BY 1
    ), agg AS (
      SELECT SUM(n_i) AS n, SUM(r_i) AS r,
             SUM(s * r_i) AS t_obs,
             SUM(s * n_i) AS sn,
             SUM(s * s * n_i) AS s2n,
             COUNT(*) AS k
      FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_lines,
           CAST(r AS BIGINT) AS n_returned,
           CAST(k AS INT) AS k_levels,
           ROUND((t_obs - (r / (n * 1e0)) * sn)
                 / SQRT((r / (n * 1e0)) * (1 - r / (n * 1e0))
                        * (s2n - sn * (sn / (n * 1e0)))), 6)
             AS z_trend,
           ABS(ROUND((t_obs - (r / (n * 1e0)) * sn)
                 / SQRT((r / (n * 1e0)) * (1 - r / (n * 1e0))
                        * (s2n - sn * (sn / (n * 1e0)))), 6)) > 1.96
             AS reject_05
    FROM agg
""")
def stats_cochran_armitage_trend(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in the return rate
    across the five ORDERED priority levels (scores 1..5 from the
    priority's leading digit) — the right test when the grouping is
    ordinal: chi-square independence (stats_chi_square_independence)
    ignores the ordering and wastes power on non-monotone patterns a
    dose-response question doesn't care about. z = (T - p*Sn) /
    sqrt(p(1-p)(S2n - Sn^2/N)) with T = sum s_i r_i — every moment an
    exact integer until the final closed form.

    Scale: the lineitem x orders join is the one data-grain stage
    (co-partitioned on orderkey at scale); ONE map-side-combined
    5-level rollup and 1-row algebra follow. Determinism: exact
    integer moments, one rounding at 6 dp, verdict on the ROUNDED
    z."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    base = (li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.substring("o_orderpriority", 1, 1).cast("int")
                    .alias("s"),
                    (F.col("l_returnflag") == "R").cast("int")
                    .alias("r")))
    g = base.groupBy("s").agg(F.count(F.lit(1)).alias("n_i"),
                              F.sum("r").alias("r_i"))
    agg = g.agg(F.sum("n_i").alias("n"), F.sum("r_i").alias("r"),
                F.sum(F.col("s") * F.col("r_i")).alias("t_obs"),
                F.sum(F.col("s") * F.col("n_i")).alias("sn"),
                F.sum(F.col("s") * F.col("s") * F.col("n_i"))
                .alias("s2n"),
                F.count(F.lit(1)).alias("k"))
    p = F.col("r") / (F.col("n") * F.lit(1.0))
    z = F.round((F.col("t_obs") - p * F.col("sn"))
                / F.sqrt(p * (1 - p)
                         * (F.col("s2n") - F.col("sn")
                            * (F.col("sn")
                               / (F.col("n") * F.lit(1.0))))), 6)
    return agg.select(
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("r").cast("bigint").alias("n_returned"),
        F.col("k").cast("int").alias("k_levels"),
        z.alias("z_trend"),
        (F.abs(z) > 1.96).alias("reject_05"))


@query("stats_odds_ratio_risk", sql="""
    WITH blocks AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CASE WHEN EXTRACT(isodow FROM MIN(ts)) >= 6
                  THEN 1 ELSE 0 END AS exposed,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS outcome
      FROM events GROUP BY 1, 2
    ), cells AS (
      SELECT SUM(exposed * outcome) AS a,
             SUM(exposed * (1 - outcome)) AS b,
             SUM((1 - exposed) * outcome) AS c,
             SUM((1 - exposed) * (1 - outcome)) AS d
      FROM blocks
    )
    SELECT CAST(a AS BIGINT) AS n_exp_pos,
           CAST(b AS BIGINT) AS n_exp_neg,
           CAST(c AS BIGINT) AS n_unexp_pos,
           CAST(d AS BIGINT) AS n_unexp_neg,
           ROUND((a * d) / (b * c * 1e0), 6) AS odds_ratio,
           ROUND(EXP(LN((a * d) / (b * c * 1e0))
                     - 1.96 * SQRT(1e0/a + 1e0/b + 1e0/c + 1e0/d)),
                 6) AS or_ci_lo,
           ROUND(EXP(LN((a * d) / (b * c * 1e0))
                     + 1.96 * SQRT(1e0/a + 1e0/b + 1e0/c + 1e0/d)),
                 6) AS or_ci_hi,
           ROUND((a / ((a + b) * 1e0)) / (c / ((c + d) * 1e0)), 6)
             AS relative_risk,
           ROUND(EXP(LN((a / ((a + b) * 1e0))
                        / (c / ((c + d) * 1e0)))
                     - 1.96 * SQRT(1e0/a - 1e0/(a + b)
                                   + 1e0/c - 1e0/(c + d))), 6)
             AS rr_ci_lo,
           ROUND(EXP(LN((a / ((a + b) * 1e0))
                        / (c / ((c + d) * 1e0)))
                     + 1.96 * SQRT(1e0/a - 1e0/(a + b)
                                   + 1e0/c - 1e0/(c + d))), 6)
             AS rr_ci_hi
    FROM cells
""")
def stats_odds_ratio_risk(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Odds ratio and relative risk of a purchase on weekend vs
    weekday (user, day) activity blocks, each with its Woolf/Katz
    log-scale 95% CI — the 2x2 effect measures epidemiology and
    growth teams quote where ab_test_proportions quotes a z (the CI
    on the RATIO is what a 'weekends convert 1.3x better' claim
    actually needs). Exposure = the block's day is a weekend;
    outcome = the user purchased that day; all four cells are exact
    integers and both intervals are single closed forms of them.

    Scale: ONE map-side-combined (user, day) rollup computing
    exposure and outcome in the same pass, then a 1-row reduction —
    identical cost to a single groupBy at any scale."""
    ev = load_table(spark, sf_dir, "events")
    blocks = (ev.groupBy("user_id",
                         F.date_trunc("day", "ts").alias("day"))
              .agg((F.weekday(F.min("ts")) >= 5).cast("int")
                   .alias("exposed"),
                   F.max((F.col("event_type") == "purchase")
                         .cast("int")).alias("outcome")))
    cells = blocks.agg(
        F.sum(F.col("exposed") * F.col("outcome")).alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
        .alias("d"))
    a, b, c, d = (F.col(x) * F.lit(1.0) for x in "abcd")
    or_ = (F.col("a") * F.col("d")) / (F.col("b") * F.col("c")
                                       * F.lit(1.0))
    se_or = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    rr = (F.col("a") / ((F.col("a") + F.col("b")) * F.lit(1.0))) \
        / (F.col("c") / ((F.col("c") + F.col("d")) * F.lit(1.0)))
    se_rr = F.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d))
    return cells.select(
        F.col("a").cast("bigint").alias("n_exp_pos"),
        F.col("b").cast("bigint").alias("n_exp_neg"),
        F.col("c").cast("bigint").alias("n_unexp_pos"),
        F.col("d").cast("bigint").alias("n_unexp_neg"),
        F.round(or_, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(or_) - 1.96 * se_or), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(or_) + 1.96 * se_or), 6).alias("or_ci_hi"),
        F.round(rr, 6).alias("relative_risk"),
        F.round(F.exp(F.log(rr) - 1.96 * se_rr), 6).alias("rr_ci_lo"),
        F.round(F.exp(F.log(rr) + 1.96 * se_rr), 6).alias("rr_ci_hi"))


@query("stats_cohens_kappa", sql="""
    WITH flags AS (
      SELECT CASE WHEN len(text) >= 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN len(regexp_split_to_array(text, '\\s+')) >= 55
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ), cells AS (
      SELECT COUNT(*) AS n,
             SUM(a * b) AS n11,
             SUM(a * (1 - b)) AS n10,
             SUM((1 - a) * b) AS n01,
             SUM((1 - a) * (1 - b)) AS n00
      FROM flags
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n11 AS BIGINT) AS both_keep,
           CAST(n10 AS BIGINT) AS only_len,
           CAST(n01 AS BIGINT) AS only_words,
           CAST(n00 AS BIGINT) AS both_drop,
           ROUND((n11 + n00) / (n * 1e0), 6) AS observed_agreement,
           ROUND(((n11 + n10) * (n11 + n01)
                  + (n01 + n00) * (n10 + n00)) / (n * n * 1e0), 6)
             AS chance_agreement,
           ROUND(((n11 + n00) / (n * 1e0)
                  - ((n11 + n10) * (n11 + n01)
                     + (n01 + n00) * (n10 + n00)) / (n * n * 1e0))
                 / (1 - ((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00))
                    / (n * n * 1e0)), 6) AS cohens_kappa
    FROM cells
""")
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two cheap keep/drop document filters
    (char-length >= 300 vs word-count >= 55) — the inter-rater
    agreement statistic that answers the training-data question 'are
    my two quality heuristics actually measuring the same thing, or
    do they agree only because most docs are easy?': raw agreement
    is inflated by marginal prevalence; kappa = (po - pe)/(1 - pe)
    corrects for it. All four cells are exact integers from ONE scan
    pass; the statistic is a single closed form.

    Scale: one map-side-combined aggregate over the documents scan;
    1-row algebra after."""
    docs = load_table(spark, sf_dir, "documents")
    a = (F.length("text") >= 300).cast("int")
    b = (F.size(F.split(F.col("text"), r"\s+")) >= 55).cast("int")
    flags = docs.select(a.alias("a"), b.alias("b"))
    cells = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"))
    n = F.col("n") * F.lit(1.0)
    po = (F.col("n11") + F.col("n00")) / n
    pe = ((F.col("n11") + F.col("n10"))
          * (F.col("n11") + F.col("n01"))
          + (F.col("n01") + F.col("n00"))
          * (F.col("n10") + F.col("n00"))) / (n * n)
    return cells.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("n11").cast("bigint").alias("both_keep"),
        F.col("n10").cast("bigint").alias("only_len"),
        F.col("n01").cast("bigint").alias("only_words"),
        F.col("n00").cast("bigint").alias("both_drop"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.round((po - pe) / (1 - pe), 6).alias("cohens_kappa"))


@query("stats_jarque_bera", sql="""
    WITH base AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ), m AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS s1,
             SUM(CAST(x AS HUGEINT) * x) AS s2,
             SUM(CAST(x AS HUGEINT) * x * x) AS s3,
             SUM(CAST(x * x AS HUGEINT) * (x * x)) AS s4
      FROM base
    ), c AS (
      SELECT n,
             s1 / (n * 1e0) AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM m
    ), k AS (
      SELECT n, mu,
             r2 - mu * mu AS m2,
             r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
             r4 - 4 * mu * r3 + 6 * mu * mu * r2
                - 3 * mu * mu * mu * mu AS m4
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(m3 / POW(m2, 1.5), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
           ROUND(n / 6.0 * (POW(m3 / POW(m2, 1.5), 2)
                            + POW(m4 / (m2 * m2) - 3, 2) / 4.0), 4)
             AS jb_stat,
           ROUND(n / 6.0 * (POW(m3 / POW(m2, 1.5), 2)
                            + POW(m4 / (m2 * m2) - 3, 2) / 4.0), 4)
             > 5.991 AS reject_05
    FROM k
""")
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of order totals: JB = n/6 (S^2 +
    K^2/4) from the sample skewness and excess kurtosis — the
    moment-based screen that tells a pipeline whether normal-theory
    machinery (Bartlett, the z/t family, 3-sigma alerting) is even
    admissible on this column, and the natural companion to
    quality_benford_digits' digit-law screen. df = 2, 95% critical
    value 5.991 compared on the ROUNDED statistic.

    Determinism: all four raw moments accumulate EXACTLY in 128-bit
    integers (the 4th power of max cents ~6e30 per row, ~1e36
    summed — inside decimal(38,0)/HUGEINT range through sf 1; the
    4th power is built as (x*x) HUGEINT * (x*x) so no intermediate
    overflows BIGINT), and the central-moment expansion is one
    shared IEEE closed form of those exact integers; cents cancel
    in both S and K, so the statistic is scale-free. Scale: ONE
    map-side-combined aggregate over the orders scan; 1-row algebra
    after."""
    o = load_table(spark, sf_dir, "orders")
    x = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.select(x.alias("x"))
    x2 = (F.col("x") * F.col("x"))
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double").alias("s2d"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")
              * F.col("x")).cast("double").alias("s3d"),
        F.sum(x2.cast("decimal(38,0)") * x2).cast("double")
        .alias("s4d"))
    mu = F.col("s1") / (F.col("n") * F.lit(1.0))
    r2 = F.col("s2d") / F.col("n")
    r3 = F.col("s3d") / F.col("n")
    r4 = F.col("s4d") / F.col("n")
    m2 = r2 - mu * mu
    m3 = r3 - 3 * mu * r2 + 2 * mu * mu * mu
    m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
    s_ = m3 / F.pow(m2, 1.5)
    k_ = m4 / (m2 * m2) - 3
    jb = F.round(F.col("n") / 6.0
                 * (F.pow(s_, 2) + F.pow(k_, 2) / 4.0), 4)
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(s_, 6).alias("skewness"),
        F.round(k_, 6).alias("excess_kurtosis"),
        jb.alias("jb_stat"),
        (jb > 5.991).alias("reject_05"))


# ------------------------------------------------ Wilson score CI

_WILSON_Z = 1.96   # 95% two-sided normal quantile


@query("ab_test_wilson_ci", sql=f"""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), v AS (
      SELECT CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS conversions
      FROM u GROUP BY 1
    ), w AS (
      SELECT variant, n_users, conversions,
             conversions / (n_users * 1e0) AS p,
             {_WILSON_Z} * {_WILSON_Z} / n_users AS z2n
      FROM v
    ), ci AS (
      SELECT variant, n_users, conversions,
             ROUND(p, 6) AS cvr,
             ROUND((p + z2n / 2
                    - {_WILSON_Z} * sqrt(p * (1 - p) / n_users
                                         + z2n / (4 * n_users)))
                   / (1 + z2n), 6) AS wilson_lo,
             ROUND((p + z2n / 2
                    + {_WILSON_Z} * sqrt(p * (1 - p) / n_users
                                         + z2n / (4 * n_users)))
                   / (1 + z2n), 6) AS wilson_hi
      FROM w
    )
    SELECT variant, n_users, conversions, cvr, wilson_lo, wilson_hi,
           MAX(wilson_lo) OVER () > MIN(wilson_hi) OVER ()
             AS intervals_disjoint
    FROM ci ORDER BY variant
""")
def ab_test_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for per-variant
    conversion rate (Wilson 1927; Agresti-Coull's recommended
    small-n/extreme-p interval — the industry default over the Wald
    interval, whose coverage collapses near 0/1), plus the
    quick-read overlap flag: disjoint intervals are the
    back-of-envelope significance screen experiment dashboards show
    before any formal test. Completes the ab_test_* family's
    interval-estimate leg (SRM, power, SPRT, diff-in-diff, CUPED,
    clustered SE are point/test legs). Users hash to variants by the
    family's shared md5 first-hex-char rule.

    Determinism: conversions/n are exact integers; the interval is
    one closed-form expression per variant evaluated in IEEE double
    (sqrt is correctly rounded, so both engines see identical
    doubles), rounded at 6 dp. Plan: ONE data-grain stage (the
    user-grain converted flag agg); everything after runs on the
    2-row variant frame — the bounded-frame class; the overlap flag
    broadcasts a 1-row extrema agg back over the variant frame (the
    srm_check shape), so no global window anywhere."""
    z = _WILSON_Z
    ev = load_table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("converted")))
    v = (u.groupBy(
            F.when(F.substring(F.md5(F.col("user_id").cast("string")),
                               1, 1) < "8", "A").otherwise("B")
            .alias("variant"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
              F.sum("converted").cast("bigint").alias("conversions")))
    p = F.col("conversions") / (F.col("n_users") * F.lit(1.0))
    z2n = F.lit(z) * F.lit(z) / F.col("n_users")
    hw = F.lit(z) * F.sqrt(p * (1 - p) / F.col("n_users")
                           + z2n / (4 * F.col("n_users")))
    ci = (v.select(
        "variant", "n_users", "conversions",
        F.round(p, 6).alias("cvr"),
        F.round((p + z2n / 2 - hw) / (1 + z2n), 6).alias("wilson_lo"),
        F.round((p + z2n / 2 + hw) / (1 + z2n), 6).alias("wilson_hi"))
        # persisted: ext below is a broadcast consumer of this
        # frame (cache, not checkpoint — no deadlock-class lock)
        .persist())
    ext = ci.agg(F.max("wilson_lo").alias("max_lo"),
                 F.min("wilson_hi").alias("min_hi"))
    return (ci.crossJoin(F.broadcast(ext))
            .select("variant", "n_users", "conversions", "cvr",
                    "wilson_lo", "wilson_hi",
                    (F.col("max_lo") > F.col("min_hi"))
                    .alias("intervals_disjoint"))
            .orderBy("variant"))
