package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.core.{PrefixScan, Skew, Tables}

/** Relational / analytics query surface (SURVEY.md §2.B).
  *
  * These are the pipeline-level query capabilities a user of the reference
  * composes around per-record transforms. Shapes follow TPC-H (adapted to
  * the 1995-2001 date range of the synthetic data); every query is
  * declarative DataFrame API so Catalyst handles pushdown, join strategy
  * (dims broadcast automatically at TPC-H size ratios), and AQE re-planning
  * at scale.
  *
  * Determinism contract with the DuckDB oracle:
  *   - doubles are never summed directly: every SUM aggregates an
  *     exactly-scaled integer (see [[dsum]]) so both engines accumulate
  *     the same exact values and round back to the same IEEE double;
  *   - every query ends in a total-order sort (unique key suffix).
  */
object Relational {

  /** Exact cross-engine sum of ≤6-decimal monetary/quantity doubles.
    *
    * Scale to integers with pure IEEE ops (floor(x·1e6 + 0.5) — identical
    * bits in any engine) giving v with |v| < 2^37 for any money·quantity
    * domain, then sum v as TWO PLAIN LONGS — hi = v >> 19 and
    * lo = v & (2^19−1), an identity for every two's-complement long —
    * and recombine hi·2^19 + lo once per group in DECIMAL(38,0), exact.
    * The long accumulators keep the whole partial/final aggregate in
    * primitive codegen (measured 3.4× over a DECIMAL(38,0) per-row sum
    * on the x100 q1: 2.89 s → 0.85 s against a 0.47 s scan floor, see
    * Q1Probe); the decimal recombine restores the never-overflows
    * guarantee for the TOTAL. Per-accumulator overflow bound: |hi| <
    * 2^18 and |lo| < 2^19 per row, so a single group overflows a long
    * only past ~1.7e13 rows — ≥30× beyond 100 TB lineitem (~5e11 rows);
    * beyond that, bump the scale split or re-shard groups. Both engines
    * still accumulate the same exact integers and round back to the
    * same IEEE double, so results hash-match. */
  private[queries] val DecSum = DecimalType(38, 0)
  private[queries] def scaled(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast(LongType).cast(DecSum)
  private[queries] def dsum(c: Column): Column = {
    val v = floor(c * lit(1000000.0) + lit(0.5)).cast(LongType)
    val total = sum(shiftright(v, 19)).cast(DecSum) *
      lit(524288L).cast(DecSum) +
      sum(v.bitwiseAND(lit(524287L))).cast(DecSum)
    total.cast(DoubleType) / lit(1000000.0)
  }

  private def ts(s: String): Column = lit(s).cast(TimestampType)

  /** TPC-H Q1 shape: pricing summary report. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= ts("2001-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(floor((l_quantity) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_qty,
      |  CAST(sum(CAST(floor((l_extendedprice) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_base_price,
      |  CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_disc_price,
      |  CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: shipping-priority top-k. The date/segment filters
    * prune before the joins. No broadcast hint on customer: it scales
    * with SF (fact-sized at 100 TB) — AQE broadcasts it while it's small
    * and shuffle-joins it when it isn't. Hints are reserved for true
    * dimension tables (region/nation). */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1997-03-15"))
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1997-03-15"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinAggSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-03-15'
      |  AND l_shipdate > TIMESTAMP '1997-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: 6-way star join. Only the fixed-size dims
    * (region: 5 rows, nation: 25) carry broadcast hints; customer and
    * supplier grow with SF, so their join strategy is left to AQE. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5MultiJoinSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6 shape: tight-range filter + agg; everything pushes to the scan. */
  def q6Filter(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(
        col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n"))
  }

  val q6FilterSql: String =
    """SELECT CAST(sum(CAST(floor((l_extendedprice * l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** Window functions: per-customer order sequence with rank and deltas. */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    ord.select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("order_seq"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        (sum(scaled(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType) / lit(1000000.0)).as("running_spend"))
      .filter(col("order_seq") <= 3)
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  val qWindowSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER w AS order_seq,
      |    lag(o_orderkey, 1) OVER w AS prev_orderkey,
      |    CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
      |      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000.0 AS running_spend
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |) WHERE order_seq <= 3 ORDER BY o_custkey, order_seq""".stripMargin

  /** Ranking-function suite: rank/dense_rank/ntile/percent_rank/cume_dist
    * over one window — the full ordered-analytics surface in one pass. */
  def qRanking(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"))
      .filter(col("rnk") <= 5)
      .orderBy(col("o_orderpriority"), col("rnk"))
  }

  val qRankingSql: String =
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk,
      |    ntile(4) OVER w AS quartile,
      |    percent_rank() OVER w AS prnk,
      |    cume_dist() OVER w AS cdist
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey)
      |) WHERE rnk <= 5 ORDER BY o_orderpriority, rnk""".stripMargin

  /** ROLLUP aggregation over return flag / line status. */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Distinct-count + exact interpolated percentiles per group — the
    * "stats profile" aggregation shape. percentile() sorts within each
    * group: exact, deterministic, identical to DuckDB's quantile_cont. */
  def qStats(spark: SparkSession, dir: String): DataFrame = {
    // Percentiles over TWO columns ride ONE pass of the two-scan
    // selection machinery (quantileInterp — the built-in percentile
    // sort-agg buffers every group's values and was 17x DuckDB at the
    // heavy tier): unpivot (qty, price) into (group/column, value) rows
    // so the composite group key carries both columns through one
    // histogram + one probe. The distincts stay a separate agg: mixing
    // countDistinct into other aggregates makes Catalyst Expand every
    // row per distinct column (the q_approx lesson); min/max join that
    // pass, where the Expand branch they add is a narrow projection.
    val li = Tables.lineitem(spark, dir)
    val up = li.select(col("l_returnflag").as("_rf"),
        explode(array(
          struct(lit("q").as("c"), col("l_quantity").as("v")),
          struct(lit("p").as("c"), col("l_extendedprice").as("v")))).as("_e"))
      .select(concat(col("_rf"), lit("/"), col("_e.c")).as("_gc"),
        col("_e.v").as("_v"))
    val interp = quantileInterp(up, "_gc", "_v",
      Seq(("p50", 0.5), ("p90", 0.9)))
    val qmap = interp.select(
        substring_index(col("_gc"), "/", 1).as("l_returnflag"),
        substring_index(col("_gc"), "/", -1).as("_c"),
        col("p50"), col("p90"))
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("_c") === "q", col("p50"))).as("p50_qty"),
        max(when(col("_c") === "p", col("p90"))).as("p90_price"))
    val distincts = li.groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
    qmap
      .join(distincts, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
        col("p50_qty"), col("p90_price"), col("min_qty"), col("max_qty"))
      .orderBy(col("l_returnflag"))
  }

  val qStatsSql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate aggregates — the only way to count distincts on 100 TB
    * without a full shuffle of the key space: HLL++ sketches merge
    * map-side, so the shuffle carries one sketch per partition per group.
    *
    * Sketch values differ across engines, so the driver-visible output
    * carries (a) the exact distinct counts, hash-checked bit-for-bit, and
    * (b) booleans asserting each engine's own sketch lands within 10% of
    * its own exact count — both engines emit `true`, so the oracle also
    * verifies the sketch's error bound, not just rows. (The tighter 5%
    * band on this data is asserted in OperatorsSpec.) Exact distincts are
    * computed one column per pass: two distinct columns in one aggregate
    * make Catalyst Expand the input N-fold — the q_stats lesson. */
  def qApprox(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val approx = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("_ap"),
        approx_count_distinct(col("l_suppkey")).as("_as"),
        count(lit(1)).as("n"))
    val exactParts = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    val exactSupps = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("exact_supps"))
    approx.join(exactParts, Seq("l_returnflag"))
      .join(exactSupps, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"), col("exact_parts"), col("exact_supps"),
        (abs(col("_ap") - col("exact_parts")) <= col("exact_parts") * 0.1)
          .as("parts_within_10pct"),
        (abs(col("_as") - col("exact_supps")) <= col("exact_supps") * 0.1)
          .as("supps_within_10pct"))
      .orderBy(col("l_returnflag"))
  }

  val qApproxSql: String =
    """WITH a AS (
      |  SELECT l_returnflag, approx_count_distinct(l_partkey) AS ap,
      |    approx_count_distinct(l_suppkey) AS asu, count(*) AS n
      |  FROM lineitem GROUP BY l_returnflag),
      |e AS (
      |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |    count(DISTINCT l_suppkey) AS exact_supps
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT a.l_returnflag, n, exact_parts, exact_supps,
      |  abs(ap - exact_parts) <= exact_parts * 0.1 AS parts_within_10pct,
      |  abs(asu - exact_supps) <= exact_supps * 0.1 AS supps_within_10pct
      |FROM a JOIN e USING (l_returnflag) ORDER BY l_returnflag""".stripMargin

  /** Approximate quantiles (mergeable sketch — the 100 TB shape where an
    * exact per-group sort is off the table) with the q_approx contract:
    * the hash-compared outputs are the EXACT interpolated percentiles
    * (engine-portable bit-for-bit, as q_stats proves), plus booleans
    * asserting each engine's own sketch lands within 2% relative of its
    * own exact — so the sketch's error bound itself is oracle-verified
    * even though the two engines' sketches (GK here, t-digest there)
    * need not agree with each other. */
  def qApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // BOTH halves come from the two-scan bucket-selection machinery: the
    // exact half interpolates the two bracketing order statistics (see
    // quantileInterp — bit-identical to the built-in percentile at a
    // fraction of its sort-agg cost), and the APPROXIMATE half is the
    // selection histogram itself: the target bucket's min value (_bmin,
    // free in the probe pass) is a histogram-sketch quantile within one
    // bucket width (~0.4% relative) of the truth. An earlier version ran
    // Spark's GK approx_percentile as an independent third scan — the
    // histogram the machinery already builds is a strictly cheaper
    // sketch at better accuracy, so the whole query is two scans.
    val qs = Seq(("p50_exact", 0.5), ("p90_exact", 0.9))
    val g = col("l_returnflag")
    val v = col("l_extendedprice")
    val targetsOf = (n: Column) => array(qs.flatMap { case (lbl, q) =>
      val p = lit(q) * (n - lit(1)).cast(DoubleType)
      Seq(
        struct(lit(lbl + "/lo").as("ql"), (floor(p) + lit(1L)).as("k")),
        struct(lit(lbl + "/hi").as("ql"), (ceil(p) + lit(1L)).as("k")))
    }: _*)
    val wide = valueAtRanks(li, "l_returnflag", "l_extendedprice",
        targetsOf, 1 << 20)
      .groupBy(g).agg(
        max(col("n")).as("n"),
        qs.flatMap { case (lbl, _) =>
          Seq(max(when(col("_ql") === lbl + "/lo", v)).as(s"_lo_$lbl"),
            max(when(col("_ql") === lbl + "/hi", v)).as(s"_hi_$lbl"),
            max(when(col("_ql") === lbl + "/lo", col("_bmin"))).as(s"_ap_$lbl"))
        }: _*)
    val exact = qs.map { case (lbl, q) =>
      val p = lit(q) * (col("n") - lit(1)).cast(DoubleType)
      val lo = floor(p)
      val hi = ceil(p)
      lbl -> when(lo === hi, col(s"_lo_$lbl"))
        .otherwise((hi.cast(DoubleType) - p) * col(s"_lo_$lbl") +
          (p - lo.cast(DoubleType)) * col(s"_hi_$lbl"))
    }.toMap
    wide.select(g, col("n"),
        exact("p50_exact").as("p50_exact"),
        exact("p90_exact").as("p90_exact"),
        (abs(col("_ap_p50_exact") - exact("p50_exact")) <=
          exact("p50_exact") * 0.02).as("p50_within_2pct"),
        (abs(col("_ap_p90_exact") - exact("p90_exact")) <=
          exact("p90_exact") * 0.02).as("p90_within_2pct"))
      .orderBy(g)
  }

  val qApproxQuantilesSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_exact,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_exact,
      |  abs(approx_quantile(l_extendedprice, 0.5) -
      |      quantile_cont(l_extendedprice, 0.5))
      |    <= quantile_cont(l_extendedprice, 0.5) * 0.02 AS p50_within_2pct,
      |  abs(approx_quantile(l_extendedprice, 0.9) -
      |      quantile_cont(l_extendedprice, 0.9))
      |    <= quantile_cont(l_extendedprice, 0.9) * 0.02 AS p90_within_2pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact per-group order statistics WITHOUT a per-group sort: the
    * classic distributed selection algorithm. `percentile(...)` (and
    * q_approx_quantiles' exact verification half) funnels every group's
    * rows through one sort-aggregate buffer — the single-reducer shape
    * that dies at 100 TB. Selection instead does TWO corpus scans total:
    *
    *   pass 1  histogram: each value maps to a FIXED bucket — the high
    *           bits of its order-preserving IEEE bit pattern
    *           ([[org.apache.spark.sql.graft.VectorExprs.sortableBits]]),
    *           a monotone bucketing of the whole double line with no
    *           data-dependent bounds, so there is NO (count,min,max)
    *           pre-pass and no broadcast-stats join against the corpus.
    *           Result: (group, bucket, count), one row per REALIZED
    *           bucket (≈ values-per-binade, a few hundred per group).
    *           Per-group n is the histogram row-sum; a prefix sum over
    *           the same tiny table (the designed single-partition-per-
    *           group window) locates the bucket holding each target
    *           rank produced by `targetsOf(n)`;
    *   pass 2  probe: rows of the target buckets only (~n/buckets per
    *           target, broadcast semi-join on (group, bucket)) get a
    *           row_number and the k-th smallest VALUE is read off
    *           exactly.
    *
    * Returns one row per (group, matched target): groupCol, valCol,
    * n, _ql (target label), _k (its rank). `buckets` bounds the bucket
    * id space (2^ceil(log2 buckets) over all doubles); realized buckets
    * are far fewer. Probe partitions are per-(group,target) slices of
    * one bucket — recurse the same machinery inside a bucket for
    * extreme n/buckets. */
  private def valueAtRanks(rows0: DataFrame, groupCol: String,
                           valCol: String, targetsOf: Column => Column,
                           buckets: Int): DataFrame = {
    val g = col(groupCol)
    val v = col(valCol)
    // bucket = top log2(buckets) bits of the sortable-bits map
    val shift = 64 - (64 - java.lang.Long.numberOfLeadingZeros(
      math.max(buckets, 2).toLong - 1))
    // Null values are excluded from the population up front: counting
    // them into n while they can never land in a bucket would compute
    // target ranks against rows the probe phase cannot reach (a rank
    // falling "inside" the phantom null mass would return no row, and
    // every real quantile would shift). Order statistics over the
    // non-null multiset — the same population DuckDB's row_number
    // oracle ranks.
    val rows = rows0.filter(v.isNotNull)
    def bucketed = rows.select(g, v,
      shiftright(org.apache.spark.sql.graft.VectorExprs.sortableBits(v),
        shift).as("_b"))
    val hist = bucketed.groupBy(g.as("_g"), col("_b"))
      .agg(count(lit(1)).as("_cnt"))
    val wg = Window.partitionBy(col("_g"))
    val off = hist
      .withColumn("n", sum(col("_cnt")).over(wg))
      .withColumn("_lo", sum(col("_cnt")).over(wg.orderBy(col("_b")))
        - col("_cnt"))
    val targets = off.select(col("_g"), col("n"), col("_lo"), col("_cnt"),
        col("_b"), explode(targetsOf(col("n"))).as("_t"))
      .filter(col("_t.k") > col("_lo") &&
        col("_t.k") <= col("_lo") + col("_cnt"))
      .select(col("_g").as("_tg"), col("n"), col("_t.ql").as("_ql"),
        col("_t.k").as("_k"), col("_b").as("_tb"),
        (col("_t.k") - col("_lo")).as("_rib"))
    // The probe's (group, bucket) semi-join key is a COMPOSITE with a
    // string — and a composite-string BHJ probe costs ~11x a long-key
    // probe (measured on the x100 corpus: 3.4 s vs 0.30 s for the same
    // scan, QProfile3): every probe row pays an UnsafeRow key build +
    // byte-wise hash against a generic HashedRelation. The targets
    // table is tiny BY CONTRACT (#groups × #quantiles rows), so when it
    // fits `maxLiteralTargets` the pairs are planted as a LITERAL
    // OR-chain filter — pure whole-stage codegen, no per-row relation
    // probe — and the survivors (the bucket slices) attach target
    // metadata through a broadcast of the already-collected rows. The
    // ivfTopK maxLiteralCells pattern: the collect is bounded by the
    // same contract that bounds the broadcast, and the unbounded-groups
    // fallback below keeps the machinery scale-safe for group counts
    // past the cutoff (per-host percentiles etc).
    // NOTE the collect makes plan CONSTRUCTION eager: the histogram pass
    // runs here, and the target ranks/buckets are frozen as literals
    // against the source as of this call. Re-executing the returned
    // DataFrame after the source mutates would filter on stale buckets —
    // the static-source contract shared with ivfTopK's literal-cell fold
    // (quantileSelect/quantileInterp/qApproxQuantiles inherit it).
    val maxLiteralTargets = 1024
    // An OR-chain of (group-string equality AND long equality) disjuncts
    // is the fastest probe but its generated code grows linearly — past
    // ~64 disjuncts it risks the JIT/codegen method-size cliff (the exact
    // failure LshBuckets fixed). Beyond that, a conjunctive isin pair
    // (hash-set semantics via OptimizeIn/InSet, codegen'd at any size) is
    // a SUPERSET filter — it may pass a row whose (group, bucket) pair
    // crosses two different targets — and the broadcast join right after
    // restores exactness, so only the pre-prune selectivity loosens.
    val maxOrChain = 64
    val lim = targets.limit(maxLiteralTargets + 1).collect()
    val probed = if (lim.nonEmpty && lim.length <= maxLiteralTargets) {
      val pred =
        if (lim.length <= maxOrChain)
          lim.map(r =>
              g === lit(r.getAs[Any]("_tg")) && col("_b") === lit(r.getAs[Long]("_tb")))
            .reduce(_ || _)
        else
          col("_b").isin(lim.map(_.getAs[Long]("_tb")).distinct.toSeq: _*) &&
            g.isin(lim.map(_.getAs[Any]("_tg")).distinct.toSeq: _*)
      val litTargets = rows0.sparkSession.createDataFrame(
        java.util.Arrays.asList(lim: _*), targets.schema)
      bucketed.filter(pred).join(broadcast(litTargets),
        g === col("_tg") && col("_b") === col("_tb"))
    } else {
      bucketed.join(broadcast(targets),
        g === col("_tg") && col("_b") === col("_tb"))
    }
    probed
      // _bmin rides along for free (same window partitioning, no extra
      // exchange): the target bucket's smallest value IS a histogram-
      // sketch quantile — within one bucket width (~2^-8 relative at the
      // default 2^20 buckets) of the true quantile, which is what
      // qApproxQuantiles serves as its approximate half without a third
      // corpus scan
      .withColumn("_bmin", min(v).over(Window.partitionBy(g, col("_ql"))))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(g, col("_ql")).orderBy(v)))
      .filter(col("_rn") === col("_rib"))
  }

  /** Discrete order statistics (rank k = (n-1)·num div den + 1, pure
    * integer arithmetic — no double rounding cross-engine) via
    * [[valueAtRanks]]. Output values are raw column doubles — order
    * statistics, no interpolation — so the DuckDB oracle (row_number
    * window) matches bit-for-bit; with value ties the k-th smallest is
    * still a unique multiset statistic. Construction is EAGER (the
    * histogram pass runs inside [[valueAtRanks]] to fold target ranks to
    * literals); the result is correct for the source as of this call —
    * the static-source contract. */
  def quantileSelect(rows0: DataFrame, groupCol: String, valCol: String,
                     qs: Seq[(String, Int, Int)],
                     buckets: Int = 1 << 20): DataFrame = {
    val g = col(groupCol)
    val v = col(valCol)
    // `n` resolves against the histogram frame valueAtRanks explodes
    // targets over
    val targetsOf = (_: Column) => array(qs.map { case (lbl, num, den) =>
      struct(lit(lbl).as("ql"), expr(s"((n - 1) * $num) div $den + 1").as("k"))
    }: _*)
    valueAtRanks(rows0, groupCol, valCol, targetsOf, buckets)
      .groupBy(g).agg(
        max(col("n")).as("n"),
        qs.flatMap { case (lbl, _, _) =>
          Seq(max(when(col("_ql") === lbl, col("_k"))).as(s"k_$lbl"),
            max(when(col("_ql") === lbl, v)).as(s"${lbl}_disc"))
        }: _*)
  }

  /** Exact INTERPOLATED percentiles (the `percentile`/`quantile_cont`
    * contract) via the same two-scan selection machinery — each quantile
    * q needs only the two order statistics bracketing position
    * p = q·(n−1), fetched as ranks floor(p)+1 and ceil(p)+1, then the
    * finalizer applies Spark `Percentile`'s exact formula
    * (hi−p)·v_lo + (p−lo)·v_hi (v_lo when the position is integral) on
    * the tiny result — bit-identical to the built-in sort-aggregate
    * `percentile(...)` (property-pinned in OperatorsSpec) at a fraction
    * of its cost, and scale-safe where the sort-agg's per-group value
    * buffer is not. Same eager-construction/static-source contract as
    * [[quantileSelect]]. */
  def quantileInterp(rows0: DataFrame, groupCol: String, valCol: String,
                     qs: Seq[(String, Double)],
                     buckets: Int = 1 << 20): DataFrame = {
    val g = col(groupCol)
    val v = col(valCol)
    val targetsOf = (n: Column) => array(qs.flatMap { case (lbl, q) =>
      val p = lit(q) * (n - lit(1)).cast(DoubleType)
      Seq(
        struct(lit(lbl + "/lo").as("ql"), (floor(p) + lit(1L)).as("k")),
        struct(lit(lbl + "/hi").as("ql"), (ceil(p) + lit(1L)).as("k")))
    }: _*)
    val wide = valueAtRanks(rows0, groupCol, valCol, targetsOf, buckets)
      .groupBy(g).agg(
        max(col("n")).as("n"),
        qs.flatMap { case (lbl, _) =>
          Seq(max(when(col("_ql") === lbl + "/lo", v)).as(s"_lo_$lbl"),
            max(when(col("_ql") === lbl + "/hi", v)).as(s"_hi_$lbl"))
        }: _*)
    wide.select(g +: col("n") +: qs.map { case (lbl, q) =>
      val p = lit(q) * (col("n") - lit(1)).cast(DoubleType)
      val lo = floor(p)
      val hi = ceil(p)
      when(lo === hi, col(s"_lo_$lbl"))
        .otherwise((hi.cast(DoubleType) - p) * col(s"_lo_$lbl") +
          (p - lo.cast(DoubleType)) * col(s"_hi_$lbl"))
        .as(lbl)
    }: _*)
  }

  def qQuantileSelect(spark: SparkSession, dir: String): DataFrame =
    quantileSelect(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice", Seq(("p50", 1, 2), ("p90", 9, 10)))
      .orderBy(col("l_returnflag"))

  val qQuantileSelectSql: String =
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice AS v,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_extendedprice) AS rk,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag, n,
      |  (n-1)//2 + 1 AS k_p50,
      |  max(CASE WHEN rk = (n-1)//2 + 1 THEN v END) AS p50_disc,
      |  ((n-1)*9)//10 + 1 AS k_p90,
      |  max(CASE WHEN rk = ((n-1)*9)//10 + 1 THEN v END) AS p90_disc
      |FROM r GROUP BY l_returnflag, n ORDER BY l_returnflag""".stripMargin

  /** CUBE aggregation: all grouping-set combinations of flag x status. */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(floor((l_quantity) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** INTERSECT / EXCEPT set operations over nation membership. */
  def qSetops(spark: SparkSession, dir: String): DataFrame = {
    val custN = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val supN = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    custN.intersect(supN).withColumn("which", lit("both"))
      .unionByName(custN.except(supN).withColumn("which", lit("cust_only")))
      .orderBy(col("which"), col("nationkey"))
  }

  val qSetopsSql: String =
    """SELECT nationkey, 'both' AS which FROM
      |  (SELECT c_nationkey AS nationkey FROM customer
      |   INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT nationkey, 'cust_only' AS which FROM
      |  (SELECT c_nationkey AS nationkey FROM customer
      |   EXCEPT SELECT s_nationkey FROM supplier)
      |ORDER BY which, nationkey""".stripMargin

  /** Explicit GROUPING SETS (beyond rollup/cube): exactly the requested
    * grouping combinations, via the SQL path. */
  def qGsets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    // Spark-side text diverges from the oracle here on purpose: a raw
    // BIGINT sum silently wraps under non-ANSI Spark at corpus scale, so
    // sum in DECIMAL(38,0) like dsum. (DuckDB sums BIGINT into HUGEINT,
    // so the oracle text below stays on the plain BIGINT sum.)
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(CAST(floor((l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
        .stripMargin)
  }

  val qGsetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(floor((l_quantity) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** FULL OUTER join: every customer and every order, matched where
    * possible — null-extension semantics on both sides. */
  def qOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"), col("c_name"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  val qOuterJoinSql: String =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0) c
      |FULL OUTER JOIN
      |  (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |   WHERE o_totalprice > 400000.0) o
      |ON c_custkey = o_custkey
      |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin

  /** Left-semi join: customers that have at least one open order. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val qSemiJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Left-anti join: customers with no large order (NOT EXISTS). */
  def qExists(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0)
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val qExistsSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Pivot: quantity by line status (rows) x return flag (columns). */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum(col("l_quantity")))
      .orderBy(col("l_linestatus"))
  }

  val qPivotSql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(floor((l_quantity) * 1000000.0 + 0.5) AS BIGINT) END) AS DOUBLE) / 1000000.0 AS "A",
      |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(floor((l_quantity) * 1000000.0 + 0.5) AS BIGINT) END) AS DOUBLE) / 1000000.0 AS "N",
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(floor((l_quantity) * 1000000.0 + 0.5) AS BIGINT) END) AS DOUBLE) / 1000000.0 AS "R"
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** UNION + DISTINCT: all nations that have either a customer or a supplier. */
  def qUnionDistinct(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val sup = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    val nation = Tables.nation(spark, dir)
    cust.union(sup).distinct()
      .join(broadcast(nation), col("nationkey") === col("n_nationkey"))
      .select(col("nationkey"), col("n_name"))
      .orderBy(col("nationkey"))
  }

  val qUnionDistinctSql: String =
    """SELECT nationkey, n_name FROM (
      |  SELECT DISTINCT nationkey FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    UNION ALL SELECT s_nationkey AS nationkey FROM supplier))
      |JOIN nation ON nationkey = n_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Top-k per group: 3 most expensive orders per market segment. */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  val qTopkPerGroupSql: String =
    """SELECT * FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |) WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin

  /** Session windows over the events stream table (batch form; the
    * streaming twin lives in graft.streaming.EventStreams). A session
    * groups a user's events with < 10 min gaps; end = last event + gap. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           (sum(scaled(col("value"))).cast(DoubleType) / lit(1000000.0)).as("total_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val qSessionizeSql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM main.events),
      |marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              >= INTERVAL 10 MINUTE OR
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM ev),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) + INTERVAL 10 MINUTE AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Semi-structured extraction: parse the JSON props column with a
    * declared schema (from_json — typed, codegen'd, no per-row JSON
    * library round trip) and aggregate on the extracted field. */
  def qJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(col("event_type"),
        from_json(col("props"),
          StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val qJsonSql: String =
    """WITH t AS (
      |  SELECT event_type, CAST(props->>'$.k' AS INTEGER) AS k FROM events)
      |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Scalar-function surface: string/date/math functions with
    * engine-exact semantics (sqrt is correctly rounded per IEEE; no
    * transcendentals — exp/log differ in the last ulp across libms). */
  def qFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    ord.select(
        col("o_orderkey"),
        upper(col("o_orderstatus")).as("status_u"),
        lpad(col("o_orderkey").cast(StringType), 12, "0").as("key_pad"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
        reverse(col("o_orderpriority")).as("prio_rev"),
        length(col("o_orderpriority")).as("prio_len"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        datediff(lit("2002-01-01").cast(DateType), col("o_orderdate").cast(DateType))
          .as("days_to_2002"),
        abs(col("o_totalprice") * -1).as("abs_price"),
        ceil(col("o_totalprice")).as("ceil_price"),
        floor(col("o_totalprice")).as("floor_price"),
        round(col("o_totalprice"), 1).as("round_price"),
        sqrt(col("o_totalprice")).as("sqrt_price"))
      .orderBy(col("o_orderkey"))
  }

  val qFuncsSql: String =
    """SELECT o_orderkey,
      |  upper(o_orderstatus) AS status_u,
      |  lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_pad,
      |  substr(o_orderpriority, 1, 1) AS prio_code,
      |  o_orderstatus || '-' || o_orderpriority AS tag,
      |  reverse(o_orderpriority) AS prio_rev,
      |  length(o_orderpriority) AS prio_len,
      |  EXTRACT(year FROM o_orderdate) AS y,
      |  EXTRACT(month FROM o_orderdate) AS m,
      |  EXTRACT(day FROM o_orderdate) AS d,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
      |  abs(o_totalprice * -1) AS abs_price,
      |  CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
      |  CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
      |  round(o_totalprice, 1) AS round_price,
      |  sqrt(o_totalprice) AS sqrt_price
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** The SQL entry path: the same engine surface through `spark.sql` on
    * registered views — here a correlated scalar subquery (decorrelated
    * by Catalyst into an aggregate + join, never a per-row loop). */
  def qSqlCorr(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
        |    AS max_order
        |FROM customer
        |ORDER BY c_custkey""".stripMargin)
  }

  val qSqlCorrSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
      |    AS max_order
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** q_collections: the array/collection scalar-function surface
    * (construct, sort, membership, index, slice, position) — the
    * complement of q_funcs' string/date/math coverage. All codegen'd
    * array primitives over small per-row arrays; no higher-order
    * functions (those are CodegenFallback — banned from hot paths). */
  def qCollections(spark: SparkSession, dir: String): DataFrame = {
    val arr = array(col("l_quantity"), col("l_discount"), col("l_tax"))
    // array-typed OUTPUT columns are avoided (the driver comparator
    // round-trips through pandas, where arrays don't hash) — the array
    // ops run for real and the verified columns are their scalar reads
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        element_at(sort_array(arr), 1).as("min_val"),
        element_at(sort_array(arr), 3).as("max_val"),
        array_contains(arr, 0.05).as("has005"),
        element_at(arr, 2).as("second_val"),
        size(arr).as("n_vals"),
        element_at(slice(sort_array(arr), 2, 2), 1).as("mid_val"),
        array_position(arr, 0.05).as("pos005"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val qCollectionsSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  list_sort([l_quantity, l_discount, l_tax])[1] AS min_val,
      |  list_sort([l_quantity, l_discount, l_tax])[3] AS max_val,
      |  list_contains([l_quantity, l_discount, l_tax], 0.05) AS has005,
      |  [l_quantity, l_discount, l_tax][2] AS second_val,
      |  len([l_quantity, l_discount, l_tax]) AS n_vals,
      |  list_slice(list_sort([l_quantity, l_discount, l_tax]), 2, 3)[1] AS mid_val,
      |  coalesce(list_position([l_quantity, l_discount, l_tax], 0.05), 0) AS pos005
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q_regr: least-squares regression (slope/intercept/R²) of price on
    * quantity per group, from the same exact scaled-integer moments as
    * [[qCorr]] — regr_slope/regr_intercept without the engine-native
    * accumulation-order drift. Scale factors cancel in slope and R²;
    * the intercept unscales the means explicitly. */
  def qRegr(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(scaled(col("l_quantity"))).as("sx"),
        sum(scaled(col("l_extendedprice"))).as("sy"),
        sum(scaled(col("l_quantity")) * scaled(col("l_quantity"))).as("sxx"),
        sum(scaled(col("l_extendedprice")) * scaled(col("l_extendedprice"))).as("syy"),
        sum(scaled(col("l_quantity")) * scaled(col("l_extendedprice"))).as("sxy"))
    def d(c: String) = col(c).cast(DoubleType)
    val nD = col("n").cast(DoubleType)
    val slope = (nD * d("sxy") - d("sx") * d("sy")) /
      (nD * d("sxx") - d("sx") * d("sx"))
    m.select(col("l_returnflag"), col("n"),
        slope.as("slope"),
        ((d("sy") / (nD * lit(1000000.0))) -
          slope * (d("sx") / (nD * lit(1000000.0)))).as("intercept"),
        (((nD * d("sxy") - d("sx") * d("sy")) * (nD * d("sxy") - d("sx") * d("sy"))) /
          ((nD * d("sxx") - d("sx") * d("sx")) *
            (nD * d("syy") - d("sy") * d("sy")))).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val qRegrSql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS xs,
      |    CAST(CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS ys
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(xs) AS sx, sum(ys) AS sy,
      |    sum(xs * xs) AS sxx, sum(ys * ys) AS syy, sum(xs * ys) AS sxy
      |  FROM s GROUP BY l_returnflag),
      |c AS (
      |  SELECT l_returnflag, n,
      |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
      |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
      |    CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
      |  FROM m)
      |SELECT l_returnflag, n,
      |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
      |  (syd / (nd * 1000000.0)) -
      |    ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * (sxd / (nd * 1000000.0))
      |    AS intercept,
      |  ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) /
      |    ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) AS r2
      |FROM c ORDER BY l_returnflag""".stripMargin

  /** q_unpivot: wide → long reshaping (the inverse of q_pivot) — three
    * measure columns melt into (measure, value) rows. A pure projection
    * + generator (Expand): no shuffle at all before the presentation
    * sort, output 3x the input rows regardless of corpus size. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_discount").as("disc"),
        col("l_tax").as("tax"))
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("qty"), col("disc"), col("tax")), "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
  }

  val qUnpivotSql: String =
    """SELECT l_orderkey, l_linenumber, measure, value FROM (
      |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity AS qty,
      |           l_discount AS disc, l_tax AS tax FROM lineitem)
      |  ON qty, disc, tax INTO NAME measure VALUE value)
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  /** q_corr: correlation / covariance / standard deviation per group —
    * the second-moment statistics of a profiling pass. Each engine's
    * native corr()/stddev() accumulates doubles in its own order (libm-
    * style last-ulp drift), so instead the MOMENTS are accumulated as
    * exactly-scaled integers (the dsum trick, plus integer products for
    * the second moments — DECIMAL(38,0) holds Σ(x·y) at 3e24 for a
    * trillion-row corpus) and the closed-form combination runs in double
    * with the identical operation order in both engines: bit-exact corr
    * without giving up one-pass map-side-combined aggregation. Scale
    * factors cancel in corr; covar/stddev unscale by 1e12 / 1e6. */
  def qCorr(spark: SparkSession, dir: String): DataFrame = {
    val sx = sum(scaled(col("l_quantity"))).as("sx")
    val sy = sum(scaled(col("l_extendedprice"))).as("sy")
    val sxx = sum(scaled(col("l_quantity")) * scaled(col("l_quantity"))).as("sxx")
    val syy = sum(scaled(col("l_extendedprice")) * scaled(col("l_extendedprice"))).as("syy")
    val sxy = sum(scaled(col("l_quantity")) * scaled(col("l_extendedprice"))).as("sxy")
    val m = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sx, sy, sxx, syy, sxy)
    def d(c: String) = col(c).cast(DoubleType)
    val nD = col("n").cast(DoubleType)
    m.select(col("l_returnflag"), col("n"),
        ((nD * d("sxy") - d("sx") * d("sy")) /
          (sqrt(nD * d("sxx") - d("sx") * d("sx")) *
            sqrt(nD * d("syy") - d("sy") * d("sy")))).as("corr_qty_price"),
        ((nD * d("sxy") - d("sx") * d("sy")) / (nD * (nD - 1.0)) /
          lit(1000000000000.0)).as("covar_qty_price"),
        (sqrt((nD * d("sxx") - d("sx") * d("sx")) / (nD * (nD - 1.0))) /
          lit(1000000.0)).as("stddev_qty"))
      .orderBy(col("l_returnflag"))
  }

  val qCorrSql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS xs,
      |    CAST(CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS ys
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(xs) AS sx, sum(ys) AS sy,
      |    sum(xs * xs) AS sxx, sum(ys * ys) AS syy, sum(xs * ys) AS sxy
      |  FROM s GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    AS corr_qty_price,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1000000000000.0
      |    AS covar_qty_price,
      |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 1000000.0
      |    AS stddev_qty
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q_window_range: RANGE-framed (time-interval) running aggregates —
    * per-customer trailing-30-day spend and order count, the rolling
    * feature-engineering window keyed by TIME DISTANCE, not row count
    * (ROWS frames are a different, already-covered shape: q_window).
    * RANGE frames include order-key peers (equal timestamps) in both
    * engines, so results are deterministic without a tiebreak. One
    * key-partitioned sort per customer, no corpus-wide sort. */
  def qWindowRange(spark: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ; the session is pinned to UTC, so
    // NTZ → timestamp → long yields the same epoch seconds DuckDB's
    // epoch() computes on the naive value
    val epoch = col("o_orderdate").cast(TimestampType).cast(LongType)
    val w = Window.partitionBy(col("o_custkey")).orderBy(epoch)
      .rangeBetween(-2592000L, 0L) // trailing 30 days in seconds
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        (sum(scaled(col("o_totalprice"))).over(w).cast(DoubleType) /
          lit(1000000.0)).as("sum30d"),
        count(lit(1)).over(w).as("n30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qWindowRangeSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) OVER w
      |    AS DOUBLE) / 1000000.0 AS sum30d,
      |  count(*) OVER w AS n30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
      |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q_anomaly: robust daily-volume anomaly detection per event type —
    * flag days whose count deviates from the type's median by more than
    * 3x the median absolute deviation (MAD). The median/MAD pair is the
    * standard robust alternative to mean/stddev (a single spike day
    * cannot drag the threshold toward itself). Everything is DISCRETE
    * order statistics on integers (lower median at rank (n+1) DIV 2) —
    * no interpolation, no doubles, hash-exact cross-engine.
    *
    * Scale: the corpus-sized work is one (type, day) count with map-side
    * combine; medians/MADs run on the aggregated table (types x days —
    * monitoring-dashboard-sized by construction), so the per-type
    * windows are bounded, never corpus windows. */
  def qAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wT = Window.partitionBy(col("event_type"))
    def lowerMedian(df: DataFrame, v: String, out: String) = df
      .withColumn("_rk", row_number().over(wT.orderBy(col(v), col("day"))))
      .withColumn("_cnt", count(lit(1)).over(wT))
      .filter(col("_rk") === expr("(_cnt + 1) DIV 2"))
      .select(col("event_type"), col(v).as(out))
    val med = lowerMedian(daily, "n", "med")
    val dev = daily.join(med, Seq("event_type"))
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(mad, Seq("event_type"))
      .filter(col("dev") > lit(3) * col("mad"))
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"))
      .orderBy(col("event_type"), col("day"))
  }

  val qAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |med AS (
      |  SELECT event_type, n AS med FROM (
      |    SELECT event_type, n, day,
      |      row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS rk,
      |      count(*) OVER (PARTITION BY event_type) AS cnt
      |    FROM daily)
      |  WHERE rk = (cnt + 1) // 2),
      |dev AS (
      |  SELECT d.event_type, day, n, med, abs(n - med) AS dev
      |  FROM daily d JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, dev AS mad FROM (
      |    SELECT event_type, dev, day,
      |      row_number() OVER (PARTITION BY event_type ORDER BY dev, day) AS rk,
      |      count(*) OVER (PARTITION BY event_type) AS cnt
      |    FROM dev)
      |  WHERE rk = (cnt + 1) // 2)
      |SELECT event_type, day, n, med, mad
      |FROM dev JOIN mad USING (event_type)
      |WHERE dev > 3 * mad
      |ORDER BY event_type, day""".stripMargin

  /** q_skyline: the 2-D Pareto frontier (skyline operator) — parts not
    * dominated on (cheaper retail price, larger size) by any other part.
    * Spark has no native SKYLINE; the 2-D case reduces to ONE ordered
    * window: sort by price asc (ties: size desc), keep rows whose size
    * strictly exceeds the running max size over all strictly-cheaper
    * rows — dominance by a later row is impossible, dominance by an
    * equal-price row is excluded by definition (strict on price).
    *
    * Scale: the window runs over the PART dimension table (catalog-
    * bounded, not fact-bounded) after a 6x-selective brand filter; the
    * general fact-scale skyline would use the same local-skyline →
    * merge shape as the bucket-split prefix machinery (each bucket's
    * skyline is computed locally; only candidates survive to the tiny
    * cross-bucket filter). Dominance tests are pure DECIMAL/integer
    * comparisons — no doubles, hash-exact. */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    // one row per distinct price (dominance is strict on price, so all
    // equal-price rows share the same dominator set — pre-aggregating
    // per price makes the rows-frame window exactly "strictly cheaper")
    val perPrice = p.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("_gmax"))
    val w = Window.orderBy(col("p_retailprice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("_pmax", max(col("_gmax")).over(w))
      .select(col("p_retailprice"), col("_pmax"))
    p.join(frontier, Seq("p_retailprice"))
      .filter(col("_pmax").isNull || col("p_size") > col("_pmax"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  val qSkylineSql: String =
    """WITH f AS (
      |  SELECT p_partkey, p_retailprice, p_size FROM part
      |  WHERE p_brand = 'Brand#23')
      |SELECT p_partkey, p_retailprice, p_size FROM f a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM f b
      |  WHERE b.p_retailprice < a.p_retailprice AND b.p_size >= a.p_size)
      |ORDER BY p_retailprice, p_partkey""".stripMargin

  /** q_listagg: ordered string aggregation (LISTAGG ... WITHIN GROUP)
    * over BOUNDED groups — nations per region, suppliers per nation
    * would be the unbounded anti-pattern; the members list here is
    * dimension-bounded by construction, which is the only shape this
    * aggregate is safe in at 100 TB. */
  def qListagg(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    spark.sql(
      """SELECT n_regionkey,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS members,
        |  count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
  }

  val qListaggSql: String =
    """SELECT n_regionkey,
      |  string_agg(n_name, ',' ORDER BY n_name) AS members,
      |  count(*) AS n
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  /** q_not_in: NOT IN with a subquery — semantically distinct from the
    * plain anti join (q_semijoin): a single NULL in the inner side makes
    * NOT IN return no rows, so Catalyst plans a NULL-AWARE anti join
    * (broadcast with isNullAwareAntiJoin) rather than a simple
    * left_anti. The inner side here is an aggregate-filtered key set —
    * the "exclude everything matching this blocklist" pipeline shape. */
  def qNotIn(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin)
  }

  val qNotInSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Time-series regularization — densify each key's event history onto
    * an hourly grid (sequence + explode: a pure projection, no cross
    * join against a calendar table) and forward-fill gaps with the last
    * observed hourly total. Shuffles are one per-user span agg + one
    * per-user window, both key-partitioned — no corpus-wide sort.
    *
    * GRID-SIZE CAVEAT: the uncapped grid (maxGapHours = 0) grows with
    * each key's active SPAN, not its event count — one sparse key
    * spanning 3 years inflates to ~26k rows on its own. Fine for the
    * bounded spans of this corpus; for open-ended retention windows
    * pass maxGapHours > 0: each observed point then forward-fills at
    * most that many empty slots (longer gaps stay absent instead of
    * being filled), bounding output to events × (maxGapHours+1) —
    * event-proportional at any span. The capped path needs no
    * span aggregate and no grid join at all: lead() bounds each
    * point's fill run, one window + one explode. On slots both paths
    * produce, the filled values agree (spec-pinned). */
  def resampleHourly(ev0: DataFrame, maxGapHours: Int = 0): DataFrame = {
    val ev = ev0.select(col("user_id"), col("ts"), col("value"))
    val hourly = ev.groupBy(col("user_id"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(dsum(col("value")).as("v"))
    if (maxGapHours > 0) {
      val wl = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      hourly
        .withColumn("_nxt", lead(col("hour"), 1).over(wl))
        .withColumn("_end", least(
          coalesce(col("_nxt") - expr("interval 1 hour"), col("hour")),
          col("hour") + expr(s"interval $maxGapHours hours")))
        .select(col("user_id"), col("hour").as("_h0"), col("v").as("_v"),
          explode(sequence(col("hour"), col("_end"),
            expr("interval 1 hour"))).as("hour"))
        .select(col("user_id"), col("hour"),
          when(col("hour") === col("_h0"), col("_v")).as("v"),
          col("_v").as("v_ff"))
        .orderBy(col("user_id"), col("hour"))
    } else {
      val spans = ev.groupBy(col("user_id")).agg(
        date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      val grid = spans.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour"), "left_outer")
        .withColumn("v_ff", last(col("v"), ignoreNulls = true).over(w))
        .orderBy(col("user_id"), col("hour"))
    }
  }

  /** q_resample: [[resampleHourly]] with the PRODUCTION-BOUNDED cap
    * (maxGapHours = 24) as the hash-checked driver configuration — the
    * tx_lm_score_pruned pattern: output is bounded by events × 25 at
    * ANY key span, so one adversarial key with events decades apart
    * cannot explode the grid the way the uncapped full-span densify
    * would (~26k rows for a 3-year gap). The oracle replays the cap
    * analytically with lead()-bounded fill runs. The exact uncapped
    * form stays oracle-checked as [[qResampleFull]] — fine for corpora
    * whose spans are structurally bounded. */
  def qResample(spark: SparkSession, dir: String): DataFrame =
    resampleHourly(Tables.events(spark, dir), maxGapHours = 24)

  val qResampleSql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM events),
      |hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hour,
      |    CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS v
      |  FROM ev GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, hour, v,
      |    lead(hour) OVER (PARTITION BY user_id ORDER BY hour) AS nxt
      |  FROM hourly),
      |g AS (
      |  SELECT user_id, hour AS h0, v AS v0,
      |    unnest(generate_series(hour,
      |      least(coalesce(nxt - INTERVAL 1 HOUR, hour),
      |            hour + INTERVAL 24 HOUR), INTERVAL 1 HOUR)) AS hour
      |  FROM b)
      |SELECT user_id, hour, CASE WHEN hour = h0 THEN v0 END AS v, v0 AS v_ff
      |FROM g ORDER BY 1, 2""".stripMargin

  /** q_resample_full: the exact uncapped full-span grid (maxGapHours =
    * 0) — the events table's bounded span keeps it safe here; see the
    * GRID-SIZE CAVEAT on [[resampleHourly]]. */
  def qResampleFull(spark: SparkSession, dir: String): DataFrame =
    resampleHourly(Tables.events(spark, dir))

  val qResampleFullSql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM events),
      |spans AS (
      |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
      |    date_trunc('hour', max(ts)) AS h1
      |  FROM ev GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM spans),
      |hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hour,
      |    CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS v
      |  FROM ev GROUP BY 1, 2)
      |SELECT g.user_id, g.hour, hourly.v,
      |  last_value(hourly.v IGNORE NULLS) OVER (PARTITION BY g.user_id
      |    ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff
      |FROM grid g LEFT JOIN hourly
      |  ON g.user_id = hourly.user_id AND g.hour = hourly.hour
      |ORDER BY 1, 2""".stripMargin

  /** q_skew_salted: the skew-mitigation path as a first-class,
    * driver-verified operator. [[graft.core.Skew.saltedJoin]] spreads
    * each (possibly hot) left key over 8 salt shards and replicates the
    * right side per shard; salting is RESULT-INVARIANT by construction,
    * and this query proves it — the oracle is the plain unsalted join.
    * At 100 TB this is the planner-level fallback when one key carries a
    * disproportionate share of rows and AQE's runtime skew splitting
    * can't apply (broadcast-ineligible shapes). */
  def qSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val pt = Tables.part(spark, dir)
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    Skew.saltedJoin(li, pt, "partkey", salts = 8)
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("p_brand"))
  }

  val qSkewSaltedSql: String =
    """SELECT p_brand,
      |  CAST(sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_qty,
      |  count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** q_histogram: equi-width histogram with explicit bin bounds — the
    * numeric-profiling shape every dataset report runs. Binning is a
    * pure projection (floor division), the count a map-side-combined
    * aggregate: one bounded shuffle of (bin, partials) whatever the
    * corpus size. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    val binW = 50000.0
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / lit(binW)).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(col("bucket"), (col("bucket") * lit(binW)).as("lo"),
        ((col("bucket") + 1) * lit(binW)).as("hi"), col("n"), col("sum_price"))
      .orderBy("bucket")
  }

  val qHistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      |  CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000.0 AS lo,
      |  (CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1) * 50000.0 AS hi,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_price
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q_skew_distinct: the two-phase salted exact distinct count —
    * [[graft.core.Skew.saltedDistinctCount]] splits each (possibly hot)
    * group across 16 salt shards for the raw-row shuffle, then sums the
    * shard-level distinct counts (value-hash salting makes shards
    * disjoint, so the sum is exact). The oracle is the plain
    * count(DISTINCT) — driver-proving the rewrite is result-invariant,
    * like q_skew_salted does for the salted join. */
  def qSkewDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.core.Skew.saltedDistinctCount(
        Tables.events(spark, dir), "event_type", "user_id", salts = 16)
      .orderBy(col("event_type"))

  val qSkewDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_distinct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** st_sliding: SLIDING (hopping) windows — 1-hour windows advancing
    * every 30 minutes, each event contributing to exactly two windows.
    * The overlap factor multiplies shuffle volume by size/slide, which
    * is why the engine exposes tumbling (q: st_window_agg) as the
    * default and sliding as the opt-in; the streaming twin is the same
    * `window()` call under `readStream`. */
  def stSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(scaled(col("value"))).cast(DoubleType) / lit(1000000.0)).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val stSlidingSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(make_timestamp(epoch_ns(ts) // 1000))) AS BIGINT) AS es, value
      |  FROM events),
      |assigned AS (
      |  SELECT event_type, value,
      |    unnest([(es // 1800) * 1800, (es // 1800) * 1800 - 1800]) AS ws
      |  FROM ev)
      |SELECT make_timestamp(ws * 1000000) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
      |FROM assigned GROUP BY ws, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** st_dedup: batch twin of the streaming exactly-once dedup
    * (EventStreams.dedupEvents / dropDuplicatesWithinWatermark). An
    * at-least-once delivery is simulated by re-delivering every 10th
    * event; dedup restores exactly-once. Duplicate rows are bitwise
    * identical, so distinct() is deterministic; the shuffle carries the
    * event key space once, never payloads twice. */
  /** q_inc_stats: INCREMENTAL statistics maintenance — the property that
    * lets a 100 TB deployment keep profile/correlation tables fresh by
    * folding in each day's delta instead of re-scanning history. The
    * exact scaled-integer moment vectors (n, Σx, Σy, Σx², Σy², Σxy —
    * the q_corr machinery) form a commutative monoid: the query
    * computes them separately over a "historical" and a "delta"
    * partition of lineitem, MERGES by plain addition, and finalizes
    * corr/covar/stddev from the merged vector. The oracle computes the
    * same statistics over the whole table in one pass — the compare
    * gate therefore PROVES merge == full recompute bit-for-bit (exact
    * integer sums are associative; doubles appear only in the one
    * shared finalization). A deployment stores the per-group vectors
    * (#groups rows) and never re-reads history. */
  def qIncStats(spark: SparkSession, dir: String): DataFrame = {
    def moments(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(scaled(col("l_quantity"))).as("sx"),
          sum(scaled(col("l_extendedprice"))).as("sy"),
          sum(scaled(col("l_quantity")) * scaled(col("l_quantity"))).as("sxx"),
          sum(scaled(col("l_extendedprice")) * scaled(col("l_extendedprice"))).as("syy"),
          sum(scaled(col("l_quantity")) * scaled(col("l_extendedprice"))).as("sxy"))
    val li = Tables.lineitem(spark, dir)
    val hist = moments(li.filter(pmod(col("l_orderkey"), lit(2)) === 0))
    val delta = moments(li.filter(pmod(col("l_orderkey"), lit(2)) === 1))
    val merged = hist.unionByName(delta)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
        sum(col("syy")).as("syy"), sum(col("sxy")).as("sxy"))
    def d(c: String) = col(c).cast(DoubleType)
    val nD = col("n").cast(DoubleType)
    merged.select(col("l_returnflag"), col("n"),
        ((nD * d("sxy") - d("sx") * d("sy")) /
          (sqrt(nD * d("sxx") - d("sx") * d("sx")) *
            sqrt(nD * d("syy") - d("sy") * d("sy")))).as("corr_qty_price"),
        ((nD * d("sxy") - d("sx") * d("sy")) / (nD * (nD - 1.0)) /
          lit(1000000000000.0)).as("covar_qty_price"),
        (sqrt((nD * d("sxx") - d("sx") * d("sx")) / (nD * (nD - 1.0))) /
          lit(1000000.0)).as("stddev_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Oracle: ONE pass over the whole table — bit-equality with the
    * merged two-partition computation is the incrementality proof. */
  val qIncStatsSql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS xs,
      |    CAST(CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS ys
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(xs) AS sx, sum(ys) AS sy,
      |    sum(xs * xs) AS sxx, sum(ys * ys) AS syy, sum(xs * ys) AS sxy
      |  FROM s GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    AS corr_qty_price,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1000000000000.0
      |    AS covar_qty_price,
      |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 1000000.0
      |    AS stddev_qty
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q_zorder: Z-ORDER (Morton) layout planning — the multi-dimensional
    * clustering pass a lakehouse runs so file-level min/max statistics
    * prune scans on EITHER predicate dimension. Each dim buckets to 4
    * bits over its observed range, the bits interleave into an 8-bit
    * Morton key, and rows land in 64 files by key range; the output is
    * the per-file stats table itself (n_rows + both dims' min/max) —
    * the artifact data skipping actually consults, and the proof the
    * layout works: every file's span is ~1/8 of each dimension, where a
    * single-dim sort gives perfect custkey spans but full-range date
    * spans. Cost: one tiny min/max agg (broadcast back) + one pure
    * projection + a 64-group aggregate — no sort, no window; at 100 TB
    * the same plan writes files with repartitionByRange(zkey). All
    * arithmetic is nonnegative integer division, bit-exact both
    * engines. */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      (unix_micros(col("o_orderdate")
        .cast(org.apache.spark.sql.types.TimestampType)) / lit(86400000000L))
        .cast(LongType).as("_day"))
    val rng = o.agg(min(col("o_custkey")).as("_minc"),
      max(col("o_custkey")).as("_maxc"),
      min(col("_day")).as("_mind"), max(col("_day")).as("_maxd"))
    val z = o.crossJoin(broadcast(rng))
      .withColumn("_bx", least(lit(15L),
        expr("((o_custkey - _minc) * 16) DIV (_maxc - _minc + 1)")))
      .withColumn("_by", least(lit(15L),
        expr("((_day - _mind) * 16) DIV (_maxd - _mind + 1)")))
      .withColumn("zkey", (0 until 4).map(b =>
        shiftleft(shiftright(col("_bx"), b).bitwiseAND(lit(1L)), 2 * b + 1) +
          shiftleft(shiftright(col("_by"), b).bitwiseAND(lit(1L)), 2 * b))
        .reduce(_ + _))
    z.withColumn("file_id", expr("zkey DIV 4"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
        min(col("_day")).as("min_day"), max(col("_day")).as("max_day"))
      .orderBy(col("file_id"))
  }

  val qZorderSql: String =
    """WITH o AS (
      |  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day
      |  FROM orders),
      |r AS (SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
      |             min(day) AS mind, max(day) AS maxd FROM o),
      |b AS (
      |  SELECT o_custkey, day,
      |    least(15, (o_custkey - minc) * 16 // (maxc - minc + 1)) AS bx,
      |    least(15, (day - mind) * 16 // (maxd - mind + 1)) AS by
      |  FROM o, r),
      |z AS (
      |  SELECT o_custkey, day,
      |    ((bx & 1) << 1) | ((by & 1) << 0)
      |      | (((bx >> 1) & 1) << 3) | (((by >> 1) & 1) << 2)
      |      | (((bx >> 2) & 1) << 5) | (((by >> 2) & 1) << 4)
      |      | (((bx >> 3) & 1) << 7) | (((by >> 3) & 1) << 6) AS zkey
      |  FROM b)
      |SELECT zkey // 4 AS file_id, count(*) AS n_rows,
      |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
      |  CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day
      |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin

  /** st_late_audit: the late-arrival audit a streaming deployment runs
    * to size its watermark — for each event, how far its EVENT time
    * lags the maximum event time already seen in ARRIVAL order
    * (event_id = the ingest sequence), then per-type counts of events
    * later than the 1-hour watermark and the worst lag observed. An
    * event with lag > watermark is exactly the event
    * withWatermark would drop; this table says how many and how bad.
    *
    * Scale shape: the running max over arrival order is an exclusive
    * [[PrefixScan]] running MAX, bucketed by the leading two hex digits of
    * the arrival hash (contiguous ranges of the arrival order). No global
    * sort, no single-reducer window. Lags are exact epoch-micros
    * integers. */
  def stLateAudit(spark: SparkSession, dir: String): DataFrame = {
    // the generator's events arrive in perfect event-time order
    // (event_id order == ts order), which would make the audit
    // trivially all-zero — so ARRIVAL order is a deterministic md5
    // permutation of the ingest sequence, the standard planted stand-in
    // (the tx_pii pattern) for an out-of-order feed. A deployment
    // passes its real arrival sequence instead.
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("_tm"))
      .withColumn("_h", md5(concat(col("event_id").cast("string"), lit(":arr"))))
    val lagged = PrefixScan.running(ev, Nil,
        bucket = conv(substring(col("_h"), 1, 2), 16, 10).cast("long"),
        order = Seq(col("_h"), col("event_id")),
        aggs = Seq(PrefixScan.Max(col("_tm"), "_prevmax")), exclusive = true)
      // first arrival overall: no predecessor (null) → lag 0 by definition
      .withColumn("lag_us",
        greatest(coalesce(col("_prevmax") - col("_tm"), lit(0L)), lit(0L)))
    lagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("lag_us") > 3600L * 1000000L, 1L).otherwise(0L))
          .as("n_late"),
        max(col("lag_us")).as("max_lag_us"))
      .orderBy(col("event_type"))
  }

  /** Oracle = the single running-max window over the same arrival
    * permutation, which the two-phase split must reproduce bit-for-bit. */
  val stLateAuditSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |    epoch_us(make_timestamp(epoch_ns(ts) // 1000)) AS tm,
      |    md5(CAST(event_id AS VARCHAR)||':arr') AS h
      |  FROM events),
      |m AS (
      |  SELECT event_type,
      |    greatest(coalesce(max(tm) OVER (ORDER BY h, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - tm, 0), 0)
      |      AS lag_us
      |  FROM ev)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN lag_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  CAST(max(lag_us) AS BIGINT) AS max_lag_us
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Scalar anomaly law shared by the batch twin and the streaming
    * state machine (EventStreams.anomalyState): value v is anomalous
    * against prior exact moments (n, s = Σv, s2 = Σv²) when n ≥ warmup
    * and (n·v − s)² > k²·(n·s2 − s²) — the 3-sigma test cleared of its
    * divisions, so it is pure integer arithmetic (bit-identical across
    * engines; no stddev/sqrt libm drift). */
  private[graft] def anomalousLaw(n: Long, s: BigInt, s2: BigInt, v: Long,
      warmup: Int = 30, k: Int = 3): Boolean =
    n >= warmup && {
      val lhs = BigInt(n) * v - s
      lhs * lhs > BigInt(k.toLong * k) * (BigInt(n) * s2 - s * s)
    }

  /** Streaming z-score anomaly counts per event type — the alerting
    * pass an ingest pipeline runs on a firehose: an event is anomalous
    * when it deviates more than 3σ from the PRIOR (event-time-ordered)
    * running mean of its type, with a 30-event warm-up. Exact integer
    * moments (1e-6-scaled values; Σv and Σv² accumulate in
    * DECIMAL(38,0), and v is cast to decimal BEFORE the v·v multiply —
    * a LongType v² wraps past |v| ≈ 3.04e9, i.e. |value| ≈ 3037 at the
    * 1e-6 scale, well inside plausible event values; the decimal
    * product is exact to |v| ≤ 9.2e18), so the decision is
    * [[anomalousLaw]] exactly, never a float stddev — and it cannot
    * drift from the streaming twin's exact BigInt accumulation.
    *
    * Scale shape: running (n, Σv, Σv²) per type over (ts, event_id)
    * order is an exclusive [[PrefixScan]] running sum bucketed by the
    * hour — never a per-type corpus-sized window partition. The
    * streaming twin (EventStreams.anomalyState, flatMapGroupsWithState)
    * carries (n, Σv, Σv², count) per key — constant state — and the
    * spec asserts its final counts equal this batch result across
    * micro-batch splits. */
  def anomalyCounts(ev0: DataFrame, warmup: Int = 30, k: Int = 3): DataFrame = {
    val dec = DataTypes.createDecimalType(38, 0)
    val ev = ev0.select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("_tm"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast(LongType).as("_v"))
    val vD = col("_v").cast(dec)
    val run = PrefixScan.running(ev, Seq(col("event_type")),
      bucket = expr("_tm div 3600000000"),
      order = Seq(col("_tm"), col("event_id")),
      aggs = Seq(PrefixScan.Sum(lit(1L), "_rn"), PrefixScan.Sum(vD, "_rs"),
        PrefixScan.Sum(vD * vD, "_rs2")),
      exclusive = true)
    val nD = col("_rn").cast(dec)
    val lhs = (nD * vD - col("_rs")).cast(dec)
    val anom = col("_rn") >= warmup.toLong &&
      (lhs * lhs).cast(dec) >
        (lit(k.toLong * k).cast(dec) *
          (nD * col("_rs2") - col("_rs") * col("_rs")).cast(dec)).cast(dec)
    run.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(anom, 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy(col("event_type"))
  }

  def stAnomaly(spark: SparkSession, dir: String): DataFrame =
    anomalyCounts(Tables.events(spark, dir))

  /** Oracle = the single running-moment window over the same
    * (ts, event_id) order, HUGEINT-exact, which the two-phase split
    * must reproduce bit-for-bit. */
  val stAnomalySql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    epoch_us(make_timestamp(epoch_ns(ts) // 1000)) AS tm,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    count(*) OVER w AS n,
      |    CAST(coalesce(sum(v) OVER w, 0) AS HUGEINT) AS s,
      |    CAST(coalesce(sum(CAST(v AS HUGEINT)*v) OVER w, 0) AS HUGEINT) AS s2
      |  FROM ev
      |  WINDOW w AS (PARTITION BY event_type ORDER BY tm, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN n >= 30 AND
      |      (CAST(n AS HUGEINT)*v - s)*(CAST(n AS HUGEINT)*v - s)
      |        > 9*(CAST(n AS HUGEINT)*s2 - s*s)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  def stDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val redelivered = ev.union(ev.filter(pmod(col("event_id"), lit(10)) === 0))
    redelivered.distinct().orderBy("event_id")
  }

  val stDedupSql: String =
    """WITH ev AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    user_id, event_type, value
      |  FROM events),
      |redelivered AS (
      |  SELECT * FROM ev
      |  UNION ALL SELECT * FROM ev WHERE event_id % 10 = 0)
      |SELECT DISTINCT event_id, ts, user_id, event_type, value
      |FROM redelivered ORDER BY event_id""".stripMargin

  /** Tumbling-window event counts (batch form of the streaming agg). */
  def stWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           (sum(scaled(col("value"))).cast(DoubleType) / lit(1000000.0)).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val stWindowAggSql: String =
    """WITH ev AS (
      |  SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM main.events)
      |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
      |FROM ev GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Terminal rank over an already-windowed count table — the shared
    * stage between [[stTopk]] and the streaming twin (StreamingSpec
    * ranks EventStreams.windowedCounts' state table with THIS function,
    * so batch and stream cannot drift). Input is window-count ×
    * type-count rows, never events; each rank partition holds at most
    * one row per event type, and WindowGroupLimit prunes to ≤k rows per
    * window before the final exchange. */
  def rankWindowTopk(counts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type"))
    counts.select(col("window_start"), col("event_type"), col("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy(col("window_start"), col("rk"))
  }

  /** Per-window top-k event types (tumbling 1-hour windows, top 3 by
    * count, ties to the lexicographically first type) — the streaming-
    * dashboard staple. The split matters for the 100 TB stream: the
    * COUNTS are what streaming maintains incrementally (state =
    * windows × types, independent of event volume); the rank is a
    * read-time projection over that tiny table, never a stateful
    * top-k over events. */
  def stTopk(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    rankWindowTopk(
      ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n")),
      k = 3)
  }

  val stTopkSql: String =
    """WITH ev AS (
      |  SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts
      |  FROM main.events),
      |c AS (
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
      |    count(*) AS n
      |  FROM ev GROUP BY 1, 2),
      |r AS (
      |  SELECT window_start, event_type, n, CAST(row_number() OVER (
      |      PARTITION BY window_start ORDER BY n DESC, event_type)
      |    AS INTEGER) AS rk
      |  FROM c)
      |SELECT window_start, event_type, n, rk FROM r WHERE rk <= 3
      |ORDER BY window_start, rk""".stripMargin

  /** Purchase attribution — batch twin of the event-time-bounded
    * stream-stream join in EventStreams: each purchase joins the most
    * recent click by the same user within the preceding 30 minutes.
    * Equi-join on user_id (per-user fan-in is session-bounded) + window;
    * the unbounded-history variant is [[graft.operators.AsOfJoin]]. */
  def stAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
    val w = Window.partitionBy(col("purchase_id"))
      .orderBy(col("c_ts").desc, col("click_id").desc)
    purchases.join(clicks, Seq("user_id"))
      .filter(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("click_id"), col("c_ts"), col("value"))
      .orderBy(col("purchase_id"))
  }

  val stAttributionSql: String =
    """WITH ev AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    user_id, event_type, value
      |  FROM events),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
      |      FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
      |      FROM ev WHERE event_type = 'click'),
      |j AS (
      |  SELECT purchase_id, p.user_id, p_ts, click_id, c_ts, value,
      |    row_number() OVER (PARTITION BY purchase_id
      |      ORDER BY c_ts DESC, click_id DESC) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id
      |  WHERE c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 30 MINUTE)
      |SELECT purchase_id, user_id, p_ts, click_id, c_ts, value
      |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  /** LEFT OUTER purchase attribution — batch twin of
    * [[graft.streaming.EventStreams.purchaseAttributionOuter]]: every
    * purchase emits, paired with EACH same-user click in the preceding
    * 30 minutes, or once with null click columns when no such click
    * exists (the unmatched rows the inner st_attribution drops — the
    * first thing an attribution user asks for). Same scale shape as
    * st_attribution: equi-join on user_id, per-user fan-in bounded by
    * session click density; the streaming twin emits the null rows
    * watermark-driven (StreamingSpec). */
  def stAttributionOut(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"), "left")
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("click_id"), col("c_ts"), col("value"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Batch twin of [[graft.streaming.EventStreams.purchaseAttributionFull]]:
    * the two-sided funnel audit in one FULL OUTER join — purchases with
    * their attributing clicks, purchases with none (null click side),
    * AND clicks that never converted (null purchase side — the half a
    * left-outer audit misses). Same 30-minute attribution window as
    * st_attribution_out; user_id coalesces from whichever side exists. */
  def stAttributionFull(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"), "full")
      .select(col("purchase_id"),
        coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("p_ts"), col("click_id"), col("c_ts"), col("value"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  val stAttributionFullSql: String =
    """WITH ev AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    user_id, event_type, value
      |  FROM events),
      |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts, value
      |      FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
      |      FROM ev WHERE event_type = 'click')
      |SELECT purchase_id, coalesce(p_user, c_user) AS user_id, p_ts,
      |  click_id, c_ts, value
      |FROM p FULL JOIN c ON p_user = c_user
      |  AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 30 MINUTE
      |ORDER BY purchase_id, click_id""".stripMargin

  val stAttributionOutSql: String =
    """WITH ev AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    user_id, event_type, value
      |  FROM events),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
      |      FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
      |      FROM ev WHERE event_type = 'click')
      |SELECT purchase_id, p.user_id, p_ts, click_id, c_ts, value
      |FROM p LEFT JOIN c ON p.user_id = c.user_id
      |  AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 30 MINUTE
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Join-key skew diagnostics — the planning input for the salting /
    * AQE-skew-join decisions the other operators make ([[Skew]],
    * q_skew_salted): per-key frequency top-k plus the corpus-level skew
    * coefficient max/avg (×1000, integer floor division — bit-exact
    * cross-engine). A pipeline runs this BEFORE choosing a partition
    * strategy for a 100 TB join: skew_x1000 near 1000 means uniform
    * keys (plain hash join), large values mean the top keys need
    * salting or a broadcast carve-out.
    *
    * Scale: one map-side-combined key count (the only corpus-sized
    * shuffle), a TakeOrdered top-k (never a global sort or a
    * single-partition window over the key space — rank is assigned
    * AFTER the limit, over ≤ k rows), and a 1-row stats broadcast. */
  def skewReport(df: DataFrame, key: Column, topK: Int = 20): DataFrame = {
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).cast(LongType).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val top = counts.orderBy(col("cnt").desc, col("key")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("key"))))
    top.crossJoin(broadcast(stats))
      .withColumn("share_x10000", expr("cnt * 10000 DIV n_rows"))
      .withColumn("skew_x1000", expr("max_cnt * n_keys * 1000 DIV n_rows"))
      .select(col("rank"), col("key"), col("cnt"), col("share_x10000"),
        col("n_keys"), col("n_rows"), col("max_cnt"), col("skew_x1000"))
      .orderBy(col("rank"))
  }

  /** q_skew_report: the diagnostic over events.user_id — the key the
    * salted-join and sessionization queries shuffle on. */
  def qSkewReport(spark: SparkSession, dir: String): DataFrame =
    skewReport(Tables.events(spark, dir), col("user_id"))

  val qSkewReportSql: String =
    """WITH counts AS (
      |  SELECT user_id AS "key", count(*) AS cnt FROM events GROUP BY user_id),
      |stats AS (
      |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    max(cnt) AS max_cnt
      |  FROM counts),
      |top AS (
      |  SELECT "key", cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, "key") AS INTEGER) AS rank
      |  FROM counts ORDER BY cnt DESC, "key" LIMIT 20)
      |SELECT rank, "key", cnt, cnt * 10000 // n_rows AS share_x10000,
      |  n_keys, n_rows, max_cnt,
      |  max_cnt * n_keys * 1000 // n_rows AS skew_x1000
      |FROM top, stats ORDER BY rank""".stripMargin

  /** Ordered conversion funnel: how many users performed view, then
    * click AT OR AFTER their first view, then purchase at or after that
    * click — the event-ORDER-aware funnel (a purchase before any view
    * does not count), which plain per-type counts get wrong. Each stage
    * is a per-user min-timestamp aggregate chained through a key join:
    * three bounded (user_id) shuffles, no window over the event stream,
    * no self-join explosion — per-user fan-in only.  */
  def qUserFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  val qUserFunnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |    make_timestamp(epoch_ns(ts) // 1000) AS ts
      |  FROM events),
      |v AS (SELECT user_id, min(ts) AS t1 FROM ev
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND e.ts >= t1 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND e.ts >= t2 GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_view_click,
      |       (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin

  /** Cohort retention matrix: users grouped by first-activity week
    * (cohort), then for each week offset k the count of cohort members
    * still active — the standard product-analytics retention triangle.
    * Week arithmetic is exact integer (both engines truncate to the ISO
    * Monday and difference in whole days / 7); the rate is one per-row
    * IEEE division. Shuffle shape: a per-user min (map-side combined),
    * one user-keyed join, one (cohort, offset) distinct-count — all
    * key-hashed exchanges, no windows, no corpus-wide sort. */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("cohort"), expr("datediff(wk, cohort) DIV 7").as("week_k"),
        col("user_id"))
      .groupBy(col("cohort"), col("week_k"))
      .agg(countDistinct(col("user_id")).as("active"))
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("week_k"), col("cohort_users"), col("active"),
        (col("active").cast(DoubleType) / col("cohort_users").cast(DoubleType))
          .as("retention"))
      .orderBy(col("cohort"), col("week_k"))
  }

  val qRetentionSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
      |s AS (SELECT cohort, count(*) AS cohort_users FROM c GROUP BY cohort),
      |r AS (
      |  SELECT cohort, datediff('day', cohort, wk) // 7 AS week_k,
      |    count(DISTINCT ev.user_id) AS active
      |  FROM ev JOIN c USING (user_id)
      |  GROUP BY cohort, datediff('day', cohort, wk) // 7)
      |SELECT cohort, week_k, cohort_users, active,
      |  CAST(active AS DOUBLE) / CAST(cohort_users AS DOUBLE) AS retention
      |FROM r JOIN s USING (cohort)
      |ORDER BY cohort, week_k""".stripMargin

  /** Shared first-failing stage expression for the stream-quality funnel
    * twins (st_funnel here, EventStreams.qualityFunnel on the stream):
    * ONE definition so the batch oracle and the streaming pipeline cannot
    * drift. Stateless projection → trivially incremental. */
  val funnelStage: Column =
    when(col("event_type") === "error", 0)
      .when(col("value") < 0.1, 1)
      .when(col("value") > 300.0, 2)
      .otherwise(3)

  def funnelFilterName(stage: Column): Column =
    element_at(map(lit(0), lit("drop_error"), lit(1), lit("value_floor"),
      lit(2), lit("value_cap"), lit(3), lit("kept")), stage)

  /** st_funnel: windowed stream-quality monitoring — per 1-hour window,
    * first-failing drop attribution of events through a filter cascade
    * (drop errors, value floor, value cap), plus the kept count. The
    * batch twin of the streaming funnel: a stateless stage projection +
    * a windowed count, so the streaming form is a plain watermarked
    * groupBy with identical results (StreamingSpec asserts equality). */
  def stFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.withColumn("stage", funnelStage)
      .groupBy(window(col("ts"), "1 hour"), col("stage"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("stage"),
        funnelFilterName(col("stage")).as("filter"), col("n"))
      .orderBy(col("window_start"), col("stage"))
  }

  val stFunnelSql: String =
    """WITH ev AS (
      |  SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM events),
      |st AS (
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
      |    CASE WHEN event_type = 'error' THEN 0
      |         WHEN value < 0.1 THEN 1
      |         WHEN value > 300.0 THEN 2 ELSE 3 END AS stage
      |  FROM ev)
      |SELECT window_start, CAST(stage AS INT) AS stage,
      |  CASE stage WHEN 0 THEN 'drop_error' WHEN 1 THEN 'value_floor'
      |             WHEN 2 THEN 'value_cap' ELSE 'kept' END AS filter,
      |  count(*) AS n
      |FROM st GROUP BY window_start, stage
      |ORDER BY window_start, stage""".stripMargin

  /** q_survivorship: golden-record consolidation (the MDM "merge" step
    * after entity resolution) — per entity, the surviving value of each
    * attribute under per-attribute rules: most-recent-wins with null
    * skip (last_event_type, last_purchase_value), coverage extremes
    * (first/last seen), and additive facts (n_events, total spend).
    *
    * One map-side-combined aggregate over the entity key — no window,
    * no self-join: every rule is an order-free aggregate (max over a
    * (ts, value) struct = arg-max-by-recency because ts leads the
    * struct), so the shuffle carries one partial row per (partition,
    * entity) at any corpus size. Determinism: (user_id, ts) is unique
    * in the generator (the q_asof_nearest precondition), so struct-max
    * tiebreaks never fire; money sums via [[dsum]].
    *
    * Reference seam: this is the consolidation a pipeline user composes
    * AFTER dd_* clustering — rules here are recency/extremes/additive;
    * source-priority rules are the same struct-max with a priority
    * column leading the struct. */
  def qSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchase = col("event_type") === "purchase" && col("value").isNotNull
    ev.groupBy(col("user_id"))
      .agg(
        min(col("ts")).as("first_seen"),
        max(col("ts")).as("last_seen"),
        count(lit(1)).as("n_events"),
        max(struct(col("ts"), col("event_type")))
          .getField("event_type").as("last_event_type"),
        max(when(purchase, struct(col("ts"), col("value"))))
          .getField("value").as("last_purchase_value"),
        dsum(when(purchase, col("value")).otherwise(lit(0.0)))
          .as("total_purchase"))
      .orderBy(col("user_id"))
  }

  val qSurvivorshipSql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    event_type, value
      |  FROM events)
      |SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
      |  count(*) AS n_events,
      |  arg_max(event_type, ts) AS last_event_type,
      |  arg_max(value, ts) FILTER (WHERE event_type = 'purchase'
      |    AND value IS NOT NULL) AS last_purchase_value,
      |  CAST(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
      |    THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
      |    ELSE 0 END) AS DOUBLE) / 1000000.0 AS total_purchase
      |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q_hier_rollup: hierarchy (transitive-closure) rollup via pointer
    * doubling — category trees, org charts, BOM explosions. Each part's
    * parent is arithmetic (k div 7; keys < 70 are roots), and the query
    * finds every node's ROOT plus its depth, then rolls up counts and
    * value per root.
    *
    * The naive per-level iteration is O(depth) full-table joins; pointer
    * DOUBLING squares the pointer each round (ptr ← ptr[ptr], depth ←
    * depth + depth[ptr]) so a depth-d forest converges in ceil(log2 d)
    * rounds — at 100 TB each round is ONE |V|-row equi-join on the
    * current pointer (AQE-handled like any shuffle join), and a
    * 12-round budget covers depth 4096. Roots are absorbing (ptr=self,
    * depth 0), so converged rows pass through unchanged; convergence is
    * an aggregate count on the checkpointed round result, not a
    * collect (the connectedComponents pattern, Dedup.scala).
    *
    * Oracle: DuckDB recursive CTE walking parents one level at a time —
    * an independent formulation of the same closure. */
  def qHierRollup(spark: SparkSession, dir: String): DataFrame = {
    var f = Tables.part(spark, dir).select(
        col("p_partkey").as("node"),
        when(col("p_partkey") >= 70, expr("p_partkey div 7"))
          .otherwise(col("p_partkey")).as("ptr"),
        when(col("p_partkey") >= 70, lit(1L)).otherwise(lit(0L)).as("depth"),
        col("p_retailprice"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < 12) {
      val g = f.select(col("node").as("_jn"), col("ptr").as("_jptr"),
        col("depth").as("_jd"))
      val next = f.join(g, col("ptr") === col("_jn"))
        .select(col("node"), col("_jptr").as("ptr"),
          (col("depth") + col("_jd")).as("depth"), col("p_retailprice"),
          (col("ptr") === col("_jptr")).as("_stable"))
        .localCheckpoint()
      converged = next.filter(!col("_stable")).count() == 0
      f = next.drop("_stable")
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      "hierRollup: pointer doubling did not converge in 12 rounds " +
        "(depth > 4096) — raise the round budget")
    f.groupBy(col("ptr").as("root"))
      .agg(count(lit(1)).as("n_nodes"),
        max(col("depth")).as("max_depth"),
        dsum(col("p_retailprice")).as("total_price"))
      .orderBy(col("root"))
  }

  val qHierRollupSql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT p_partkey AS node, p_partkey AS cur, CAST(0 AS BIGINT) AS d
      |  FROM part
      |  UNION ALL
      |  SELECT node, cur // 7, d + 1 FROM anc WHERE cur >= 70),
      |rooted AS (SELECT node, cur AS root, d AS depth FROM anc WHERE cur < 70)
      |SELECT root, count(*) AS n_nodes, max(depth) AS max_depth,
      |  CAST(sum(CAST(floor(p_retailprice * 1000000.0 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 1000000.0 AS total_price
      |FROM rooted JOIN part ON node = p_partkey
      |GROUP BY root ORDER BY root""".stripMargin

  /** The (table, string column) list q_profile audits — ONE definition
    * drives both the Spark plan and the interpolated oracle SQL, so the
    * two can never drift. */
  private val profileCols: Seq[(String, String)] = Seq(
    "orders" -> "o_orderstatus",
    "orders" -> "o_orderpriority",
    "customer" -> "c_mktsegment",
    "documents" -> "lang",
    "documents" -> "source")

  /** q_profile: data-quality profiling (the Deequ / dbt-test shape) —
    * per audited column: row count, null count, distinct count, and the
    * modal value with its frequency (ties broken by the LARGEST value,
    * so the winner is a pure struct-max — order-free and exact).
    *
    * Scale shape: each column contributes ONE map-side-combined
    * (value, count) aggregate — the shuffle is value-cardinality-sized,
    * never row-count-sized — and the per-column rollup then aggregates
    * those tiny grouped tables (union of value-distinct rows). No
    * windows, no sorts on the corpus, profile cost ∝ Σ column
    * cardinalities. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val perCol = profileCols.map { case (t, c) =>
      Tables.load(spark, dir, t)
        .groupBy(col(c).as("value")).agg(count(lit(1)).as("n"))
        .select(lit(t).as("tbl"), lit(c).as("col_name"),
          col("value"), col("n"))
    }.reduce(_ unionByName _)
    perCol.groupBy(col("tbl"), col("col_name"))
      .agg(
        sum(col("n")).as("n_rows"),
        sum(when(col("value").isNull, col("n")).otherwise(lit(0L))).as("n_null"),
        count(when(col("value").isNotNull, lit(1))).as("n_distinct"),
        max(when(col("value").isNotNull, struct(col("n"), col("value"))))
          .getField("value").as("top_value"),
        max(when(col("value").isNotNull, struct(col("n"), col("value"))))
          .getField("n").as("top_n"))
      .orderBy(col("tbl"), col("col_name"))
  }

  val qProfileSql: String = {
    val branches = profileCols.map { case (t, c) =>
      s"""  SELECT '$t' AS tbl, '$c' AS col_name, CAST($c AS VARCHAR) AS value,
         |    count(*) AS n FROM $t GROUP BY $c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH per_col AS (
       |$branches)
       |SELECT tbl, col_name, CAST(sum(n) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN value IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_null,
       |  CAST(count(CASE WHEN value IS NOT NULL THEN 1 END) AS BIGINT)
       |    AS n_distinct,
       |  max(CASE WHEN value IS NOT NULL
       |    THEN {'n': n, 'value': value} END)['value'] AS top_value,
       |  max(CASE WHEN value IS NOT NULL
       |    THEN {'n': n, 'value': value} END)['n'] AS top_n
       |FROM per_col GROUP BY tbl, col_name ORDER BY tbl, col_name""".stripMargin
  }

  /** q_paths: top user journeys — each user's first `k` events in time
    * order joined into a path string, then the corpus-wide path
    * frequency table (the product-analytics "common flows" report and
    * the Markov-chain input for session modeling).
    *
    * Sequence building is a row_number-over-(user_id, ts) window
    * filtered to rn <= k BEFORE any per-user collection: Catalyst's
    * InferWindowGroupLimit rewrites that filter into a
    * WindowGroupLimit that runs PARTIALLY below the exchange, so each
    * map task forwards at most k rows per user — a 10M-event bot user
    * crosses the wire as k rows, and the post-window collect_list
    * buffer holds at most k (ts, type) structs per key. (A bare
    * collect-then-slice materializes the bot's 10M structs in ONE
    * aggregation buffer; AQE cannot split a single aggregation key, so
    * the window-limit pushdown is the only shape that bounds it.) The
    * filtered stream reuses the window's (user_id) partitioning for the
    * per-user assembly — no second shuffle — and the path frequency
    * aggregate is path-cardinality-sized, map-combined. */
  def qPaths(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    topPaths(Tables.events(spark, dir), k)

  /** Core of [[qPaths]] over any (user_id, ts, event_type) stream.
    * The window orders by (ts, event_id) — the unique id breaks
    * same-timestamp ties so rn assignment (and therefore the path
    * strings) is deterministic across partitionings and engines. */
  def topPaths(ev: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("rn"), col("event_type"))).as("es"))
      .select(concat_ws(">",
        expr("transform(array_sort(es), x -> x.event_type)")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)
  }

  val qPathsSql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    event_id, event_type
      |  FROM events),
      |r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM ev),
      |p AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 5 GROUP BY user_id)
      |SELECT path, count(*) AS n_users FROM p GROUP BY path
      |ORDER BY n_users DESC, path LIMIT 10""".stripMargin

  /** q_ivm_join: incremental view maintenance for a join view (the
    * DBSP / Materialize algebra) — V = orders ⋈ customer maintained
    * under simultaneous base-table deltas without recomputing:
    * V_new = V_old ∪ (ΔO ⋈ C_old) ∪ (O_old ⋈ ΔC) ∪ (ΔO ⋈ ΔC).
    * The three delta terms join a DELTA side (batch-sized, broadcast
    * when small) against a base or delta — at 100 TB the nightly batch
    * touches |Δ|·selectivity rows, never |V|. Deltas here are key-mod
    * slices so both engines agree on the split.
    *
    * The ORACLE is the full recompute on the merged tables, so the hash
    * gate itself certifies the four-term algebra is disjoint and
    * exhaustive — same self-certifying design as q_inc_stats (moments)
    * and q_compact_shards (tape law), extended to joins. */
  def qIvmJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val oOld = o.filter(col("o_orderkey") % 10 =!= 0)
    val dO = o.filter(col("o_orderkey") % 10 === 0)
    val cOld = c.filter(col("c_custkey") % 7 =!= 0)
    val dC = c.filter(col("c_custkey") % 7 === 0)
    def j(of: DataFrame, cf: DataFrame): DataFrame =
      of.join(cf, col("o_custkey") === col("c_custkey"))
    j(oOld, cOld)
      .unionByName(j(dO, cOld))
      .unionByName(j(oOld, broadcast(dC)))
      .unionByName(j(dO, broadcast(dC)))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  val qIvmJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 1000000.0 AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q_cdc_apply: change-data-capture log application (the Debezium-
    * consumer / Delta-CDF contract) — reconstruct current entity state
    * from an ordered op log: last op wins, a trailing DELETE tombstones
    * the key (an upsert after a delete resurrects it — only the FINAL
    * op decides). Events are read as the log: 'error' = DELETE, any
    * other type an UPSERT carrying `value` (which may legitimately be
    * NULL — the chosen row's payload is kept as-is, which is why the
    * winner is ONE struct-max over (ts, op, value), never per-field
    * arg_max aggregates whose null-skipping would resurrect an older
    * value). One map-combined aggregate, no window; (user_id, ts)
    * unique per the generator, so the max is deterministic. */
  /** Core log-apply: `log` columns (user_id, ts, event_type, value);
    * 'error' rows are DELETEs, everything else an UPSERT. */
  def cdcApply(log: DataFrame): DataFrame =
    log.groupBy(col("user_id"))
      .agg(
        max(struct(col("ts"), col("event_type").as("op"), col("value"))).as("m"),
        count(lit(1)).as("n_ops"),
        sum(when(col("event_type") === "error", lit(1L)).otherwise(lit(0L)))
          .as("n_deletes"))
      .filter(col("m.op") =!= "error")
      .select(col("user_id"), col("m.ts").as("last_ts"),
        col("m.value").as("value"), col("n_ops"), col("n_deletes"))

  def qCdcApply(spark: SparkSession, dir: String): DataFrame =
    cdcApply(Tables.events(spark, dir)).orderBy(col("user_id"))

  val qCdcApplySql: String =
    """WITH ev AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    event_type, value
      |  FROM events),
      |last AS (
      |  SELECT user_id,
      |    max({'ts': ts, 'op': event_type, 'value': value}) AS m,
      |    count(*) AS n_ops,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_deletes
      |  FROM ev GROUP BY user_id)
      |SELECT user_id, m.ts AS last_ts, m.value AS value, n_ops, n_deletes
      |FROM last WHERE m.op <> 'error' ORDER BY user_id""".stripMargin

  /** q_ohlc: resample an irregular value stream to OHLC bars (open/
    * high/low/close per event_type per hour) — the standard
    * time-series downsampling for dashboards and feature windows.
    * Open/close are struct-min/max with ts LEADING the struct (arg-min/
    * max-by-time without arg_min's null-skipping trap — a null value on
    * the boundary row must win as null, q_cdc_apply's lesson); high/low
    * are plain extremes; everything is an order-free aggregate, so the
    * whole query is ONE map-side-combined shuffle of (bucket, partials)
    * at any corpus size — never a window over the stream. */
  def qOhlc(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
    ev.groupBy(date_trunc("hour", col("ts")).as("bar_ts"), col("event_type"))
      .agg(
        max(struct(col("ts"), col("value"))).getField("value").as("close"),
        min(struct(col("ts"), col("value"))).getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_ticks"))
      .select(col("bar_ts"), col("event_type"), col("open"), col("high"),
        col("low"), col("close"), col("n_ticks"))
      .orderBy(col("bar_ts"), col("event_type"))
  }

  val qOhlcSql: String =
    """WITH ev AS (
      |  SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM events WHERE value IS NOT NULL)
      |SELECT date_trunc('hour', ts) AS bar_ts, event_type,
      |  min({'ts': ts, 'value': value})['value'] AS open,
      |  max(value) AS high, min(value) AS low,
      |  max({'ts': ts, 'value': value})['value'] AS close,
      |  count(*) AS n_ticks
      |FROM ev GROUP BY date_trunc('hour', ts), event_type
      |ORDER BY bar_ts, event_type""".stripMargin

  /** q_twap: time-weighted average value per event_type — the correct
    * mean over IRREGULARLY sampled series (a value holds until the next
    * observation; a plain AVG over-weights bursts). Each observation is
    * weighted by its holding duration in whole seconds (epoch-micros
    * diff DIV 1e6 — exact integer in both engines; the last observation
    * per type has no successor and contributes no held time).
    *
    * Exactness: weight·value products are summed in DECIMAL(38,0)
    * (scaled-integer value × long seconds — a long accumulator would
    * overflow at 2^37·2^28; the q1 dsum precedent says decimal partials
    * cost ~3×, irrelevant off the hot path), final division one
    * int→double cast each. The successor timestamp is a per-type LEAD —
    * one hash shuffle of (type, ts, value) triples; at 100 TB the
    * window key is the series key, exactly how a deployment partitions
    * tick storage. */
  /** Core TWAP: `ev` columns (event_type, ts, value), value non-null. */
  def twap(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"))
    val held = ev
      .withColumn("dur_s",
        (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
          .cast(LongType)./(lit(1000000L)).cast(LongType))
      .filter(col("dur_s").isNotNull)
    held
      .select(col("event_type"),
        (floor(col("value") * lit(1000000.0) + lit(0.5)).cast(LongType)
          .cast(DecSum) * col("dur_s").cast(DecSum)).as("wv"),
        col("dur_s"))
      .groupBy(col("event_type"))
      .agg(sum(col("wv")).as("swv"), sum(col("dur_s")).as("sw"))
      .select(col("event_type"),
        (col("swv").cast(DoubleType) / lit(1000000.0) /
          col("sw").cast(DoubleType)).as("twap"),
        col("sw").cast(LongType).as("total_held_s"))
      .orderBy(col("event_type"))
  }

  def qTwap(spark: SparkSession, dir: String): DataFrame =
    twap(Tables.events(spark, dir).filter(col("value").isNotNull))

  val qTwapSql: String =
    """WITH ev AS (
      |  SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts, value
      |  FROM events WHERE value IS NOT NULL),
      |d AS (
      |  SELECT event_type, value,
      |    (epoch_us(lead(ts) OVER (PARTITION BY event_type ORDER BY ts))
      |      - epoch_us(ts)) // 1000000 AS dur_s
      |  FROM ev),
      |h AS (SELECT * FROM d WHERE dur_s IS NOT NULL)
      |SELECT event_type,
      |  CAST(sum(CAST(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
      |      AS HUGEINT) * dur_s) AS DOUBLE) / 1000000.0
      |    / CAST(sum(dur_s) AS DOUBLE) AS twap,
      |  CAST(sum(dur_s) AS BIGINT) AS total_held_s
      |FROM h GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_ab_test: two-proportion experiment readout — assignment by user
    * parity, conversion = any LARGE purchase (value > 250; "any
    * purchase" is degenerate on this corpus — every user converts, the
    * pooled variance is 0 and z is undefined); emits per-arm rates, the
    * pooled two-proportion z-score, and the 95% significance flag. The
    * product-experimentation primitive on the events stream.
    *
    * Exactness: counts are exact integers; every division divides exact
    * ints (correctly-rounded IEEE), sqrt is IEEE-exact (the q_funcs
    * rule: sqrt is in the oracle set, transcendentals are not), and the
    * z expression is written in the SAME operation order in both
    * engines — so even the significance boolean hash-matches. One
    * map-combined per-user aggregate + a 2-row arm rollup: at 100 TB
    * the shuffle carries (user, flags) partials only. */
  def qAbTest(spark: SparkSession, dir: String): DataFrame =
    abTest(Tables.events(spark, dir))

  /** Core of [[qAbTest]] over any (user_id, event_type, value) stream. */
  def abTest(ev: DataFrame): DataFrame = {
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 250.0, 1)
        .otherwise(0)).as("converted"))
      .select((col("user_id") % 2).as("arm"), col("converted"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).cast(LongType).as("x"))
    val d = (c: Column) => c.cast(DoubleType)
    val wide = arms.groupBy()
      .agg(
        max(when(col("arm") === 0, col("n"))).as("n_a"),
        max(when(col("arm") === 0, col("x"))).as("x_a"),
        max(when(col("arm") === 1, col("n"))).as("n_b"),
        max(when(col("arm") === 1, col("x"))).as("x_b"))
    val pa = d(col("x_a")) / d(col("n_a"))
    val pb = d(col("x_b")) / d(col("n_b"))
    val pool = (d(col("x_a")) + d(col("x_b"))) / (d(col("n_a")) + d(col("n_b")))
    // degenerate arms (all-or-none conversion pooled across both arms)
    // make the variance 0; float 0/0 semantics differ across engines
    // (NaN vs NULL), so the undefined case is an EXPLICIT NULL in both
    // — the readout is corpus-robust, not threshold-protected
    val zRaw = (pa - pb) /
      sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))
    val z = when(pool === lit(0.0) || pool === lit(1.0),
      lit(null).cast(DoubleType)).otherwise(zRaw)
    wide.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      pa.as("p_a"), pb.as("p_b"), z.as("z"),
      (abs(z) > lit(1.96)).as("significant"))
  }

  val qAbTestSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 250.0
      |        THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id),
      |arms AS (
      |  SELECT user_id % 2 AS arm, count(*) AS n,
      |    CAST(sum(converted) AS BIGINT) AS x
      |  FROM u GROUP BY user_id % 2),
      |w AS (
      |  SELECT
      |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
      |    max(CASE WHEN arm = 0 THEN x END) AS x_a,
      |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
      |    max(CASE WHEN arm = 1 THEN x END) AS x_b
      |  FROM arms),
      |zc AS (
      |  SELECT *,
      |    (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
      |  FROM w),
      |zs AS (
      |  SELECT n_a, x_a, n_b, x_b,
      |    CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
      |    CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
      |    CASE WHEN pool = 0.0 OR pool = 1.0 THEN NULL
      |      ELSE (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |      / sqrt(pool * (1.0 - pool)
      |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |      END AS z
      |  FROM zc)
      |SELECT n_a, x_a, n_b, x_b, p_a, p_b, z, abs(z) > 1.96 AS significant
      |FROM zs""".stripMargin

  /** q_merge_intervals: per-key union of overlapping [start, end)
    * intervals (gaps-and-islands over EXPLICIT spans — the sibling of
    * q_sessionize, which infers spans from point-event gaps): coverage
    * audits, on-call/contract overlap, effective-uptime rollups.
    * Intervals here are [ts, ts + value seconds) per user.
    *
    * The classic island method: an interval starts a new island iff its
    * start exceeds the RUNNING MAX of all previous ends (max, not lag —
    * an interval can swallow several successors); island id = running
    * count of starts; per-island extent is then a plain aggregate. ONE
    * user-keyed window (sort by start within user) + one aggregate —
    * partitioned by the entity key, so it scales like any keyed window;
    * all arithmetic in epoch micros, exact in both engines. */
  /** Core island merge: `iv` columns (user_id, s, e) as longs. */
  def mergeIntervals(iv: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tagged = iv
      .withColumn("_maxe", max(col("e")).over(w))
      .withColumn("_new",
        when(col("_maxe").isNull || col("s") > col("_maxe"), 1L).otherwise(0L))
      .withColumn("island", sum(col("_new")).over(
        Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    tagged.groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("start_us"), max(col("e")).as("end_us"),
        count(lit(1)).as("n_merged"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("n_merged")).cast(LongType).as("n_intervals"),
        sum(col("end_us") - col("start_us")).cast(LongType).as("covered_us"),
        max(col("end_us") - col("start_us")).as("longest_us"))
      .orderBy(col("user_id"))
  }

  def qMergeIntervals(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
    // duration scaled with an explicit floor: a bare double→long CAST
    // truncates in Spark but rounds in DuckDB — floor is exact in both
    mergeIntervals(ev.select(col("user_id"), unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) +
        floor(col("value") * lit(1000000.0)).cast(LongType)).as("e")))
  }

  val qMergeIntervalsSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(make_timestamp(epoch_ns(ts) // 1000)) AS s,
      |    epoch_us(make_timestamp(epoch_ns(ts) // 1000))
      |      + CAST(floor(value * 1000000.0) AS BIGINT) AS e
      |  FROM events WHERE value IS NOT NULL),
      |t AS (
      |  SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
      |  FROM ev),
      |n AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS new_island
      |  FROM t),
      |isl AS (
      |  SELECT user_id, s, e,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM n),
      |m AS (
      |  SELECT user_id, island, min(s) AS start_us, max(e) AS end_us,
      |    count(*) AS n_merged
      |  FROM isl GROUP BY user_id, island)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(n_merged) AS BIGINT) AS n_intervals,
      |  CAST(sum(end_us - start_us) AS BIGINT) AS covered_us,
      |  max(end_us - start_us) AS longest_us
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_attribution" -> (stAttribution _),
    "st_attribution_out" -> (stAttributionOut _),
    "st_attribution_full" -> (stAttributionFull _),
    "q_survivorship" -> (qSurvivorship _),
    "q_hier_rollup" -> (qHierRollup _),
    "q_profile" -> (qProfile _),
    "q_paths" -> ((s: SparkSession, d: String) => qPaths(s, d)),
    "q_ivm_join" -> (qIvmJoin _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_ohlc" -> (qOhlc _),
    "q_twap" -> (qTwap _),
    "q_ab_test" -> (qAbTest _),
    "q_merge_intervals" -> (qMergeIntervals _),
    "q1_agg" -> (q1Agg _),
    "q3_join_agg" -> (q3JoinAgg _),
    "q5_multijoin" -> (q5MultiJoin _),
    "q6_filter" -> (q6Filter _),
    "q_window" -> (qWindow _),
    "q_ranking" -> (qRanking _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_stats" -> (qStats _),
    "q_approx" -> (qApprox _),
    "q_approx_quantiles" -> (qApproxQuantiles _),
    "q_quantile_select" -> (qQuantileSelect _),
    "q_setops" -> (qSetops _),
    "q_semijoin" -> (qSemiJoin _),
    "q_gsets" -> (qGsets _),
    "q_outer_join" -> (qOuterJoin _),
    "q_exists" -> (qExists _),
    "q_pivot" -> (qPivot _),
    "q_union_distinct" -> (qUnionDistinct _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_sessionize" -> (qSessionize _),
    "q_json" -> (qJson _),
    "q_sql_corr" -> (qSqlCorr _),
    "q_funcs" -> (qFuncs _),
    "q_skew_salted" -> (qSkewSalted _),
    "q_histogram" -> (qHistogram _),
    "q_not_in" -> (qNotIn _),
    "q_resample" -> (qResample _),
    "q_resample_full" -> (qResampleFull _),
    "q_listagg" -> (qListagg _),
    "q_window_range" -> (qWindowRange _),
    "q_corr" -> (qCorr _),
    "q_regr" -> (qRegr _),
    "q_unpivot" -> (qUnpivot _),
    "q_collections" -> (qCollections _),
    "st_dedup" -> (stDedup _),
    "st_late_audit" -> (stLateAudit _),
    "q_zorder" -> (qZorder _),
    "q_inc_stats" -> (qIncStats _),
    "q_skew_distinct" -> (qSkewDistinct _),
    "st_sliding" -> (stSliding _),
    "st_funnel" -> (stFunnel _),
    "q_skew_report" -> (qSkewReport _),
    "q_user_funnel" -> (qUserFunnel _),
    "q_retention" -> (qRetention _),
    "q_skyline" -> (qSkyline _),
    "q_anomaly" -> (qAnomaly _),
    "st_window_agg" -> (stWindowAgg _),
    "st_topk" -> (stTopk _),
    "st_anomaly" -> (stAnomaly _))

  val oracles: Map[String, String] = Map(
    "st_attribution" -> stAttributionSql,
    "st_attribution_out" -> stAttributionOutSql,
    "st_attribution_full" -> stAttributionFullSql,
    "q_survivorship" -> qSurvivorshipSql,
    "q_hier_rollup" -> qHierRollupSql,
    "q_profile" -> qProfileSql,
    "q_paths" -> qPathsSql,
    "q_ivm_join" -> qIvmJoinSql,
    "q_cdc_apply" -> qCdcApplySql,
    "q_ohlc" -> qOhlcSql,
    "q_twap" -> qTwapSql,
    "q_ab_test" -> qAbTestSql,
    "q_merge_intervals" -> qMergeIntervalsSql,
    "q_approx" -> qApproxSql,
    "q_approx_quantiles" -> qApproxQuantilesSql,
    "q_quantile_select" -> qQuantileSelectSql,
    "q1_agg" -> q1AggSql,
    "q3_join_agg" -> q3JoinAggSql,
    "q5_multijoin" -> q5MultiJoinSql,
    "q6_filter" -> q6FilterSql,
    "q_window" -> qWindowSql,
    "q_ranking" -> qRankingSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_stats" -> qStatsSql,
    "q_setops" -> qSetopsSql,
    "q_semijoin" -> qSemiJoinSql,
    "q_gsets" -> qGsetsSql,
    "q_outer_join" -> qOuterJoinSql,
    "q_exists" -> qExistsSql,
    "q_pivot" -> qPivotSql,
    "q_union_distinct" -> qUnionDistinctSql,
    "q_topk_per_group" -> qTopkPerGroupSql,
    "q_sessionize" -> qSessionizeSql,
    "q_json" -> qJsonSql,
    "q_sql_corr" -> qSqlCorrSql,
    "q_funcs" -> qFuncsSql,
    "q_skew_salted" -> qSkewSaltedSql,
    "q_histogram" -> qHistogramSql,
    "q_not_in" -> qNotInSql,
    "q_resample" -> qResampleSql,
    "q_resample_full" -> qResampleFullSql,
    "q_listagg" -> qListaggSql,
    "q_window_range" -> qWindowRangeSql,
    "q_corr" -> qCorrSql,
    "q_regr" -> qRegrSql,
    "q_unpivot" -> qUnpivotSql,
    "q_collections" -> qCollectionsSql,
    "st_dedup" -> stDedupSql,
    "st_late_audit" -> stLateAuditSql,
    "q_zorder" -> qZorderSql,
    "q_inc_stats" -> qIncStatsSql,
    "q_skew_distinct" -> qSkewDistinctSql,
    "st_sliding" -> stSlidingSql,
    "st_funnel" -> stFunnelSql,
    "q_skew_report" -> qSkewReportSql,
    "q_user_funnel" -> qUserFunnelSql,
    "q_retention" -> qRetentionSql,
    "q_skyline" -> qSkylineSql,
    "q_anomaly" -> qAnomalySql,
    "st_window_agg" -> stWindowAggSql,
    "st_topk" -> stTopkSql,
    "st_anomaly" -> stAnomalySql)
}
