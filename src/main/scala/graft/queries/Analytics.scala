package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.core.{PrefixScan, Tables}
import Relational.{scaled, dsum, DecSum}

/** Business-analytics query surface (SURVEY.md §2.B, round-11 batch):
  * segmentation, concentration, seasonality, sequence and graph
  * diagnostics a pipeline user runs NEXT TO the curation operators.
  *
  * Same determinism contract as [[Relational]]: doubles are never summed
  * directly (exact scaled-integer accumulation, [[Relational.dsum]]
  * pattern), no transcendental functions in any output column (sqrt and
  * single divisions are IEEE-exact; ln/exp/pow are not guaranteed
  * bit-identical across engines), and every query ends in a total-order
  * sort.
  *
  * Scale signature: nothing here materializes an unbounded per-key
  * buffer or an unpartitioned corpus-sized window. Global order
  * statistics (RFM quartiles, the Gini rank-weighted sum) run on
  * [[withRunningTotal]], a [[graft.core.PrefixScan]] over a fixed
  * monotone bucketing of the value line.
  */
object Analytics {

  // ---- distributed exact running totals ---------------------------------

  /** Appends `outCol` = INCLUSIVE running sum of `weight` over the
    * total order (`v`, `tie`) — rank when weight == 1 — as a
    * [[PrefixScan]] running sum bucketed by the high bits of the
    * order-preserving IEEE bit pattern of `v` (VectorExprs.sortableBits —
    * a fixed monotone map of the whole double line, no data-dependent
    * bounds). Spark's window sort spills, so a hot bucket (many rows
    * sharing one value) degrades to disk, not OOM.
    *
    * `v` must be exactly representable as double (|v| < 2^53 for
    * integer metrics — callers here scale within that) and `tie` must
    * complete a total order for a deterministic result; ranks among
    * EQUAL `v` depend on `tie` but weight-sums over them commute, so
    * order-statistic consumers (quartile cuts, the Gini Σrank·x) are
    * tie-stable either way. A null `v` ranks first. */
  private[graft] def withRunningTotal(rows: DataFrame, v: Column,
      tie: Column, weight: Column, outCol: String,
      buckets: Int = 4096): DataFrame = {
    val shift = 64 - (64 - java.lang.Long.numberOfLeadingZeros(
      math.max(buckets, 2).toLong - 1))
    PrefixScan.running(rows, Nil,
      bucket = shiftright(org.apache.spark.sql.graft.VectorExprs
        .sortableBits(v.cast(DoubleType)), shift),
      order = Seq(v, tie),
      aggs = Seq(PrefixScan.Sum(weight.cast(LongType), outCol)))
  }

  /** Rank 1..n over the total order (`v`, `tie`) — running count. */
  private def withGlobalRank(rows: DataFrame, v: Column, tie: Column,
      outCol: String): DataFrame =
    withRunningTotal(rows, v, tie, lit(1L), outCol)

  // ---- q_rfm -------------------------------------------------------------

  /** RFM segmentation: recency/frequency/monetary quartile scores per
    * customer (4 = best on every axis). Quartile = exact global-rank
    * cut (rank ≤ ceil(q·n/4)), not ntile over one partition: three
    * [[withGlobalRank]] passes over the customer AGGREGATE (one row per
    * customer), so nothing corpus-sized crosses a single window.
    * Recency ranks by NEGATED days-since-last-order (freshest = highest
    * rank = score 4). */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val ref = o.agg(max(to_date(col("o_orderdate"))).as("_ref"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("_last"),
        count(lit(1)).as("frequency"),
        sum(scaled(col("o_totalprice"))).as("_m_mu"))
      .join(broadcast(ref))
      .select(col("o_custkey").as("c_custkey"),
        datediff(col("_ref"), col("_last")).as("recency_days"),
        col("frequency"), col("_m_mu"))
    val nRow = cust.agg(count(lit(1)).as("_n"))
    val ranked = withGlobalRank(
      withGlobalRank(
        withGlobalRank(cust,
          -col("recency_days"), col("c_custkey"), "_rr"),
        col("frequency").cast(DoubleType), col("c_custkey"), "_fr"),
      col("_m_mu").cast(DoubleType), col("c_custkey"), "_mr")
      .join(broadcast(nRow))
    def score(r: Column): Column = {
      def cut(q: Int): Column = (col("_n") * q + 3) // ceil(qn/4) = (qn+3) div 4
      lit(1) + (r > floor(cut(1) / 4)).cast(IntegerType) +
        (r > floor(cut(2) / 4)).cast(IntegerType) +
        (r > floor(cut(3) / 4)).cast(IntegerType)
    }
    ranked.select(col("c_custkey"), col("recency_days"), col("frequency"),
        (col("_m_mu").cast(DoubleType) / lit(1000000.0)).as("monetary"),
        score(col("_rr")).as("r_score"), score(col("_fr")).as("f_score"),
        score(col("_mr")).as("m_score"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy(col("c_custkey"))
  }

  val qRfmSql: String =
    """WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS r FROM orders),
      |c AS (
      |  SELECT o_custkey,
      |    datediff('day', max(CAST(o_orderdate AS DATE)), (SELECT r FROM ref)) AS rec,
      |    count(*) AS freq,
      |    sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS m_mu
      |  FROM orders GROUP BY o_custkey),
      |n AS (SELECT count(*) AS n FROM c),
      |rk AS (
      |  SELECT c.*, n.n,
      |    row_number() OVER (ORDER BY -rec, o_custkey) AS rr,
      |    row_number() OVER (ORDER BY freq, o_custkey) AS fr,
      |    row_number() OVER (ORDER BY m_mu, o_custkey) AS mr
      |  FROM c, n)
      |SELECT o_custkey AS c_custkey, rec AS recency_days, freq AS frequency,
      |  CAST(m_mu AS DOUBLE) / 1000000.0 AS monetary,
      |  1 + CAST(rr > (n*1+3)//4 AS INT) + CAST(rr > (n*2+3)//4 AS INT)
      |    + CAST(rr > (n*3+3)//4 AS INT) AS r_score,
      |  1 + CAST(fr > (n*1+3)//4 AS INT) + CAST(fr > (n*2+3)//4 AS INT)
      |    + CAST(fr > (n*3+3)//4 AS INT) AS f_score,
      |  1 + CAST(mr > (n*1+3)//4 AS INT) + CAST(mr > (n*2+3)//4 AS INT)
      |    + CAST(mr > (n*3+3)//4 AS INT) AS m_score,
      |  (1 + CAST(rr > (n*1+3)//4 AS INT) + CAST(rr > (n*2+3)//4 AS INT)
      |     + CAST(rr > (n*3+3)//4 AS INT)) * 100 +
      |  (1 + CAST(fr > (n*1+3)//4 AS INT) + CAST(fr > (n*2+3)//4 AS INT)
      |     + CAST(fr > (n*3+3)//4 AS INT)) * 10 +
      |  (1 + CAST(mr > (n*1+3)//4 AS INT) + CAST(mr > (n*2+3)//4 AS INT)
      |     + CAST(mr > (n*3+3)//4 AS INT)) AS segment
      |FROM rk ORDER BY c_custkey""".stripMargin

  // ---- q_gini ------------------------------------------------------------

  /** Gini coefficient of customer revenue concentration,
    * G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over ascending-sorted revenue.
    * Rank comes from [[withGlobalRank]] (no single-partition window);
    * rank·x products and both sums accumulate in DECIMAL(38,0) off
    * exactly-scaled longs (headroom: n·Σx_scaled < 10^38 holds past
    * 10^9 customers × 10^20 total scaled revenue), and the two casts to
    * double happen once, on the final exact numerator/denominator —
    * ties in x commute inside Σrank·x, so the result is
    * tie-order-independent. */
  def qGini(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cust = o.groupBy(col("o_custkey"))
      .agg(sum(scaled(col("o_totalprice"))).as("_x_mu"))
    val ranked = withGlobalRank(cust,
      col("_x_mu").cast(DoubleType), col("o_custkey"), "_r")
    val m = ranked.agg(
      count(lit(1)).as("n_customers"),
      sum(col("_x_mu")).as("_s"),
      sum(col("_r").cast(DecSum) * col("_x_mu")).as("_a"))
    m.select(col("n_customers"),
        (col("_s").cast(DoubleType) / lit(1000000.0)).as("total_revenue"),
        ((lit(2).cast(DecSum) * col("_a") -
          (col("n_customers").cast(DecSum) + lit(1).cast(DecSum)) * col("_s"))
          .cast(DoubleType) /
          (col("n_customers").cast(DecSum) * col("_s")).cast(DoubleType))
          .as("gini"))
  }

  val qGiniSql: String =
    """WITH c AS (
      |  SELECT o_custkey,
      |    sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS x_mu
      |  FROM orders GROUP BY o_custkey),
      |r AS (SELECT x_mu, row_number() OVER (ORDER BY x_mu, o_custkey) AS rk FROM c)
      |SELECT count(*) AS n_customers,
      |  CAST(sum(CAST(x_mu AS HUGEINT)) AS DOUBLE) / 1000000.0 AS total_revenue,
      |  CAST(2 * sum(CAST(rk AS HUGEINT) * CAST(x_mu AS HUGEINT))
      |       - (count(*) + 1) * sum(CAST(x_mu AS HUGEINT)) AS DOUBLE)
      |    / CAST(count(*) * sum(CAST(x_mu AS HUGEINT)) AS DOUBLE) AS gini
      |FROM r""".stripMargin

  // ---- q_yoy -------------------------------------------------------------

  /** Year-over-year monthly revenue growth: month key m = y·12+(mon−1),
    * previous year via SELF-JOIN on m−12 (an equi-join two tiny
    * aggregates wide — no 12-row window frame, no global sort until the
    * final month-count-sized ORDER BY). */
  def qYoy(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val m = o.groupBy(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("_mk"))
      .agg(sum(scaled(col("o_totalprice"))).as("_rev_mu"))
    m.as("c").join(m.as("p"), col("c._mk") === col("p._mk") + 12, "left")
      .select(
        expr("c._mk DIV 12").as("year"),
        (col("c._mk") % 12 + 1).as("month"),
        (col("c._rev_mu").cast(DoubleType) / lit(1000000.0)).as("revenue"),
        (col("p._rev_mu").cast(DoubleType) / lit(1000000.0)).as("prev_revenue"),
        ((col("c._rev_mu") - col("p._rev_mu")).cast(DoubleType) /
          col("p._rev_mu").cast(DoubleType)).as("yoy_frac"))
      .orderBy(col("year"), col("month"))
  }

  val qYoySql: String =
    """WITH m AS (
      |  SELECT year(o_orderdate)*12 + month(o_orderdate) - 1 AS mk,
      |    sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS rev_mu
      |  FROM orders GROUP BY 1)
      |SELECT c.mk // 12 AS year, c.mk % 12 + 1 AS month,
      |  CAST(c.rev_mu AS DOUBLE) / 1000000.0 AS revenue,
      |  CAST(p.rev_mu AS DOUBLE) / 1000000.0 AS prev_revenue,
      |  CAST(c.rev_mu - p.rev_mu AS DOUBLE) / CAST(p.rev_mu AS DOUBLE) AS yoy_frac
      |FROM m c LEFT JOIN m p ON c.mk = p.mk + 12
      |ORDER BY year, month""".stripMargin

  // ---- q_autocorr ---------------------------------------------------------

  /** Lag-1 autocorrelation of the daily event-value series: exact
    * scaled daily sums, consecutive days paired by EQUI-JOIN on epoch
    * day + 1 (the daily table is #days rows at any corpus size — the
    * aggregate, not the events, crosses the join), and the Pearson
    * moments accumulate exactly in DECIMAL(38,0) with the qCorr
    * cast-then-sqrt tail (sqrt is IEEE-exact). Headroom: Σx² < 10^38
    * holds to ~10^17 scaled daily totals over a century of days. */
  def qAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(
        datediff(to_date(col("ts")), lit("1970-01-01").cast(DateType)).as("_dn"))
      .agg(sum(scaled(col("value"))).as("_v"))
    val pairs = daily.as("a")
      .join(daily.as("b"), col("a._dn") + 1 === col("b._dn"))
      .select(col("a._v").as("_x"), col("b._v").as("_y"))
    val m = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_x") * col("_y")).as("_sxy"))
    val nD = col("n_pairs").cast(DecSum)
    m.select(col("n_pairs"),
      ((nD * col("_sxy") - col("_sx") * col("_sy")).cast(DoubleType) /
        (sqrt((nD * col("_sxx") - col("_sx") * col("_sx")).cast(DoubleType)) *
          sqrt((nD * col("_syy") - col("_sy") * col("_sy")).cast(DoubleType))))
        .as("autocorr_lag1"))
  }

  val qAutocorrSql: String =
    """WITH d AS (
      |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
      |    sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS v
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT CAST(a.v AS HUGEINT) AS x, CAST(b.v AS HUGEINT) AS y
      |  FROM d a JOIN d b ON a.dn + 1 = b.dn),
      |m AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM p)
      |SELECT n AS n_pairs,
      |  CAST(n*sxy - sx*sy AS DOUBLE) /
      |    (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
      |     sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS autocorr_lag1
      |FROM m""".stripMargin

  // ---- q_hhi --------------------------------------------------------------

  /** Per-user event-type concentration (Herfindahl index): HHI =
    * Σ c_t² / n² from exact integer counts — the rational-arithmetic
    * stand-in for Shannon entropy (ln is not bit-stable across
    * engines; 1/HHI is the same "effective number of types" diversity
    * family). Two map-combined aggregates, no windows. */
  def qHhi(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("user_id"))
      .agg(sum(col("_c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("_c") * col("_c")).as("_s2"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (col("_s2").cast(DoubleType) /
          (col("n_events").cast(DoubleType) * col("n_events").cast(DoubleType)))
          .as("hhi"))
      .orderBy(col("user_id"))
  }

  val qHhiSql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events, count(*) AS n_types,
      |  CAST(sum(c*c) AS DOUBLE) /
      |    (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS hhi
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q_benford -----------------------------------------------------------

  /** Leading-digit distribution of order totals (the Benford fraud
    * screen). The digit is derived in EXACT integer space — cents =
    * floor(100x+0.5), leading digit = first char of the integer's
    * decimal string (integer formatting is engine-stable; log10 is
    * not) — then one exact count ratio per digit. */
  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val d = o.select(
      substring(floor(col("o_totalprice") * 100 + lit(0.5))
        .cast(LongType).cast(StringType), 1, 1).cast(IntegerType).as("digit"))
    val tot = d.agg(count(lit(1)).as("_n"))
    d.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .join(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast(DoubleType) / col("_n").cast(DoubleType)).as("share"))
      .orderBy(col("digit"))
  }

  val qBenfordSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |    AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders),
      |t AS (SELECT count(*) AS tot FROM d)
      |SELECT digit, count(*) AS n,
      |  CAST(count(*) AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE) AS share
      |FROM d GROUP BY digit ORDER BY digit""".stripMargin

  // ---- q_markov -------------------------------------------------------------

  /** Event-type transition matrix: lead() within (user, ts, event_id)
    * order pairs each event with its successor, then exact count
    * ratios. The window is PARTITIONED per user (Spark's window sort
    * spills; a bot user degrades to disk, never to an in-memory
    * buffer), and only (from, to) pairs — not events — reach the
    * second aggregate. */
  def qMarkov(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val cnt = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("_tot"))
    cnt.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast(DoubleType) / col("_tot").cast(DoubleType)).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val qMarkovSql: String =
    """WITH s AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n FROM s
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
      |FROM c JOIN t ON c.from_type = t.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  // ---- q_changepoint ------------------------------------------------------------

  /** CUSUM changepoint localization on the daily event-value series.
    * The classic statistic C_t = Σ_{i≤t}(x_i − x̄) is kept EXACT by
    * scaling out the mean's division: n·C_t = n·S_t − t·T (S_t = prefix
    * sum, T = total, all scaled longs in DECIMAL(38,0)), so the argmax
    * day — the most likely changepoint — is an exact integer
    * comparison, and the reported curve pays ONE double division at the
    * end. The cumulative window runs over the DAILY AGGREGATE (#days
    * rows at any corpus size — bounded, the q_anomaly dashboard-table
    * contract), never over events. */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(
        datediff(to_date(col("ts")), lit("1970-01-01").cast(DateType)).as("dn"))
      .agg(sum(scaled(col("value"))).as("_v"))
    val tot = daily.agg(sum(col("_v")).as("_t"),
      count(lit(1)).cast(DecSum).as("_n"))
    val w = Window.orderBy(col("dn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cur = daily.withColumn("_s", sum(col("_v")).over(w))
      .withColumn("_i", row_number().over(Window.orderBy(col("dn"))))
      .crossJoin(broadcast(tot))
      .withColumn("_nc",
        col("_n") * col("_s") - col("_i").cast(DecSum) * col("_t"))
    val peak = cur.agg(max(abs(col("_nc"))).as("_peak"))
    cur.crossJoin(broadcast(peak))
      .select(col("dn"),
        (col("_v").cast(DoubleType) / lit(1000000.0)).as("daily_value"),
        (col("_nc").cast(DoubleType) /
          (col("_n") * lit(1000000L).cast(DecSum)).cast(DoubleType))
          .as("cusum"),
        (abs(col("_nc")) === col("_peak")).as("is_changepoint"))
      .orderBy(col("dn"))
  }

  val qChangepointSql: String =
    """WITH d AS (
      |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
      |    CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(v) AS HUGEINT) AS t, CAST(count(*) AS HUGEINT) AS n FROM d),
      |c AS (
      |  SELECT dn, v,
      |    n * sum(v) OVER (ORDER BY dn ROWS UNBOUNDED PRECEDING)
      |      - CAST(row_number() OVER (ORDER BY dn) AS HUGEINT) * t AS nc,
      |    n
      |  FROM d, t),
      |p AS (SELECT max(abs(nc)) AS peak FROM c)
      |SELECT dn, CAST(v AS DOUBLE) / 1000000.0 AS daily_value,
      |  CAST(nc AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS cusum,
      |  abs(nc) = (SELECT peak FROM p) AS is_changepoint
      |FROM c ORDER BY dn""".stripMargin

  // ---- q_seasonality --------------------------------------------------------------

  /** Day-of-week seasonality index of order revenue: per ISO weekday,
    * order count, exact revenue, and the seasonality index
    * (day average ÷ overall average — two exact-operand IEEE divisions
    * in identical order both engines). */
  def qSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select((weekday(to_date(col("o_orderdate"))) + 1).as("isodow"),
        scaled(col("o_totalprice")).as("_v"))
    val tot = o.agg(sum(col("_v")).as("_tv"), count(lit(1)).as("_tn"))
    o.groupBy(col("isodow"))
      .agg(count(lit(1)).as("n_orders"), sum(col("_v")).as("_dv"))
      .crossJoin(broadcast(tot))
      .select(col("isodow"), col("n_orders"),
        (col("_dv").cast(DoubleType) / lit(1000000.0)).as("revenue"),
        ((col("_dv").cast(DoubleType) / col("n_orders").cast(DoubleType)) /
          (col("_tv").cast(DoubleType) / col("_tn").cast(DoubleType)))
          .as("seasonality_index"))
      .orderBy(col("isodow"))
  }

  val qSeasonalitySql: String =
    """WITH o AS (
      |  SELECT isodow(CAST(o_orderdate AS DATE)) AS isodow,
      |    CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |t AS (SELECT CAST(sum(v) AS BIGINT) AS tv, count(*) AS tn FROM o)
      |SELECT isodow, count(*) AS n_orders,
      |  CAST(sum(v) AS DOUBLE) / 1000000.0 AS revenue,
      |  (CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) /
      |    (CAST((SELECT tv FROM t) AS DOUBLE) /
      |     CAST((SELECT tn FROM t) AS DOUBLE)) AS seasonality_index
      |FROM o GROUP BY isodow ORDER BY isodow""".stripMargin

  // ---- q_growth_accounting ----------------------------------------------------------

  /** Weekly growth accounting (the new/retained/resurrected/churned
    * user ledger): each user's active weeks classify against their
    * previous active week — new (no prior), retained (exactly one week
    * prior), resurrected (gap > 1 week) — and churned(w) = active(w−1)
    * − retained(w), derived on the week-level aggregate. Per-user lag
    * windows are bounded by a user's own activity; the final lag runs
    * on the #weeks-sized ledger. Week arithmetic is exact integers
    * (Monday truncation, whole-day diffs — the q_retention contract). */
  def qGrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val uw = ev.select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk")).distinct()
    val lagw = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val classified = uw
      .withColumn("_prev", lag(col("wk"), 1).over(lagw))
      .select(col("wk"),
        when(col("_prev").isNull, "new")
          .when(datediff(col("wk"), col("_prev")) === 7, "retained")
          .otherwise("resurrected").as("_cls"))
    val ledger = classified.groupBy(col("wk"))
      .agg(count(lit(1)).as("active"),
        sum(when(col("_cls") === "new", 1L).otherwise(0L)).as("new_users"),
        sum(when(col("_cls") === "retained", 1L).otherwise(0L)).as("retained"),
        sum(when(col("_cls") === "resurrected", 1L).otherwise(0L))
          .as("resurrected"))
    ledger
      .withColumn("churned",
        coalesce(lag(col("active"), 1).over(Window.orderBy(col("wk"))), lit(0L))
          - col("retained"))
      .orderBy(col("wk"))
  }

  val qGrowthAccountingSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |c AS (
      |  SELECT wk,
      |    CASE WHEN lag(wk) OVER w IS NULL THEN 'new'
      |         WHEN datediff('day', lag(wk) OVER w, wk) = 7 THEN 'retained'
      |         ELSE 'resurrected' END AS cls
      |  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk)),
      |l AS (
      |  SELECT wk, count(*) AS active,
      |    CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |    CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |    CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS resurrected
      |  FROM c GROUP BY wk)
      |SELECT wk, active, new_users, retained, resurrected,
      |  coalesce(lag(active) OVER (ORDER BY wk), 0) - retained AS churned
      |FROM l ORDER BY wk""".stripMargin

  // ---- q_decay_score ----------------------------------------------------------

  /** Recency-decayed engagement score per user: each event contributes
    * value halved per 30-day age bucket (the standard exponential-decay
    * ranking signal). The decay is PURE INTEGER arithmetic — scaled
    * value right-shifted by age/30 (halving = shift; no pow(), which is
    * not bit-stable cross-engine) — so the score is exact at any scale.
    * One broadcast of the 1-row max-ts reference, one map-combined
    * aggregate. */
  def qDecayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val ref = ev.agg(max(to_date(col("ts"))).as("_ref"))
    ev.join(broadcast(ref))
      .withColumn("_v",
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast(LongType))
      .withColumn("_k",
        least(expr("datediff(_ref, to_date(ts)) DIV 30"), lit(62))
          .cast(IntegerType))
      .select(col("user_id"), expr("shiftright(_v, _k)").as("_dv"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("_dv")).cast(DoubleType) / lit(1000000.0)).as("decayed_value"))
      .orderBy(col("user_id"))
  }

  val qDecayScoreSql: String =
    """WITH ref AS (SELECT max(CAST(ts AS DATE)) AS r FROM events),
      |d AS (
      |  SELECT user_id,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT)
      |      >> least(datediff('day', CAST(ts AS DATE), (SELECT r FROM ref)) // 30,
      |                62) AS dv
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(dv) AS DOUBLE) / 1000000.0 AS decayed_value
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- st_session -----------------------------------------------------------

  /** Per-user session aggregation via Spark's native session_window
    * (dynamic-gap session windows merge in the aggregate — the batch
    * twin of the streaming sessionization in EventStreams; watermarked
    * state eviction makes the identical plan unbounded-safe). A new
    * session starts when an event is ≥ 30 minutes after the previous
    * one; session_end = last event + gap, Spark's session contract. */
  def stSession(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        (sum(scaled(col("value"))).cast(DoubleType) / lit(1000000.0))
          .as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val stSessionSql: String =
    """WITH m AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n,
      |  CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 1000000.0 AS total_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---- q_attribution ----------------------------------------------------------

  /** Batch multi-touch attribution: each purchase distributes its value
    * LINEARLY over its last ≤3 non-purchase touches within the 7-day
    * lookback, and credit rolls up per channel. The touch→purchase join
    * is per-user and time-bounded (a user-week of touches × purchases —
    * bounded at any corpus size), the per-purchase top-3 is a
    * row_number window over that bounded join (WindowGroupLimit pushes
    * the ≤3 cut below the exchange), and the credit division happens
    * per row BEFORE the exact scaled channel sum. */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("_pts"),
        col("event_id").as("_pid"), col("value"))
    val t = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("_tts"),
        col("event_id").as("_tid"), col("event_type").as("channel"))
    val j = t.join(p, Seq("user_id"))
      .filter(col("_tts") < col("_pts") &&
        col("_tts") >= col("_pts") - expr("INTERVAL 7 DAYS"))
    val top = j.withColumn("_rk", row_number().over(
        Window.partitionBy(col("_pid"))
          .orderBy(col("_tts").desc, col("_tid").desc)))
      .filter(col("_rk") <= 3)
      .withColumn("_k", count(lit(1)).over(Window.partitionBy(col("_pid"))))
    top.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        dsum(col("value") / col("_k")).as("credit"))
      .orderBy(col("channel"))
  }

  val qAttributionSql: String =
    """WITH p AS (
      |  SELECT user_id, ts AS pts, event_id AS pid, value
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts AS tts, event_id AS tid, event_type AS channel
      |  FROM events WHERE event_type <> 'purchase'),
      |j AS (
      |  SELECT t.channel, p.pid, p.value, t.tts, t.tid
      |  FROM t JOIN p ON t.user_id = p.user_id
      |    AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rk
      |  FROM j),
      |top AS (
      |  SELECT *, count(*) OVER (PARTITION BY pid) AS k FROM r WHERE rk <= 3)
      |SELECT channel, count(*) AS n_touches,
      |  CAST(sum(CAST(floor(value / k * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 1000000.0 AS credit
      |FROM top GROUP BY channel ORDER BY channel""".stripMargin

  // ---- q_min_cost_supplier (TPC-H Q2 shape) -------------------------------------

  /** Minimum-cost supplier per small part (the Q2 correlated-min shape,
    * re-expressed as aggregate + equi-join instead of a correlated
    * subquery): per (part, supplier) unit cost from lineitem, per-part
    * min, suppliers achieving it. Unit cost is a single IEEE division
    * (exact cross-engine); the min-equality join back is on that exact
    * double. Dims broadcast at TPC-H ratios; the lineitem aggregate is
    * the only corpus-sized shuffle. */
  def qMinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val cost = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
    // r15: the separate per-part min aggregate joined back referenced
    // `cost` twice, re-running the lineitem scan + (pk, sk) aggregate
    // (two Scan+HashAggregate subtrees in the before-plan). A window
    // min over the SAME exact doubles is value-identical, runs off one
    // scan, and replaces the agg+join-back with one pk-keyed exchange:
    // 2 scans + 3 exchanges -> 1 scan + 2 exchanges (guide §2.4).
    val wp = Window.partitionBy(col("l_partkey"))
    cost.withColumn("_mc", min(col("cost")).over(wp))
      .filter(col("cost") === col("_mc"))
      .join(Tables.part(spark, dir).filter(col("p_size") <= 5),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("cost"))
      .orderBy(col("p_partkey"), col("s_name"))
  }

  val qMinCostSupplierSql: String =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(l_extendedprice / l_quantity) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |mc AS (SELECT l_partkey, min(cost) AS mc FROM cost GROUP BY 1)
      |SELECT p.p_partkey, p.p_name, s.s_name, c.cost
      |FROM cost c
      |JOIN mc ON c.l_partkey = mc.l_partkey AND c.cost = mc.mc
      |JOIN part p ON c.l_partkey = p.p_partkey AND p.p_size <= 5
      |JOIN supplier s ON c.l_suppkey = s.s_suppkey
      |ORDER BY p.p_partkey, s.s_name""".stripMargin

  // ---- q_small_qty_rev (TPC-H Q17 shape) ----------------------------------------

  /** Small-quantity order revenue (Q17 shape): weekly revenue from
    * lineitems of one brand whose quantity is below HALF the part's
    * average quantity. The correlated avg becomes a per-part aggregate
    * joined back, and the < 0.5·avg comparison runs in EXACT integer
    * space (2·qty_scaled·n < Σqty_scaled — no division anywhere), so
    * both engines cut identically. */
  def qSmallQtyRev(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val qs = floor(col("l_quantity") * lit(1000000.0) + lit(0.5))
      .cast(LongType)
    val brand = li
      .join(Tables.part(spark, dir).filter(col("p_brand") === "Brand#12"),
        col("l_partkey") === col("p_partkey"))
    // r15: the per-part aggregate joined back referenced `brand` twice,
    // re-running the lineitem scan + part join (two subtrees in the
    // before-plan). Window sums over the same exact longs are
    // value-identical off one scan: 2 scans + agg + join-back ->
    // 1 scan + one pk-keyed window exchange (guide §2.4).
    val wp = Window.partitionBy(col("l_partkey"))
    brand
      .withColumn("_sq", sum(qs.cast(DecSum)).over(wp))
      .withColumn("_n", count(lit(1)).over(wp))
      .filter(qs.cast(DecSum) * lit(2).cast(DecSum) *
        col("_n").cast(DecSum) < col("_sq"))
      .agg(count(lit(1)).as("n_lines"),
        (dsum(col("l_extendedprice")) / lit(7.0)).as("avg_weekly_rev"))
  }

  val qSmallQtyRevSql: String =
    """WITH b AS (
      |  SELECT l_partkey, l_extendedprice,
      |    CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT) AS qs
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#12'),
      |a AS (
      |  SELECT l_partkey AS pk, CAST(sum(qs) AS HUGEINT) AS sq,
      |    count(*) AS n
      |  FROM b GROUP BY 1)
      |SELECT count(*) AS n_lines,
      |  CAST(sum(CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 1000000.0 / 7.0 AS avg_weekly_rev
      |FROM b JOIN a ON b.l_partkey = a.pk
      |WHERE CAST(qs AS HUGEINT) * 2 * n < sq""".stripMargin

  // ---- q_sole_late_supplier (TPC-H Q21 shape) ------------------------------------

  /** Suppliers who were the SOLE late shipper on multi-supplier orders
    * (Q21 shape). The classic double EXISTS/NOT-EXISTS self-joins
    * collapse into ONE per-order aggregate — distinct suppliers,
    * distinct LATE suppliers (late = shipped >60 days after order
    * date), and the max late supplier key, which IS the sole offender
    * exactly when the late-distinct count is 1. One corpus shuffle on
    * orderkey; everything after is order-count-sized. */
  def qSoleLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    val late = col("l_shipdate") >
      (col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    // r15: the two countDistincts + max in ONE aggregate made Catalyst
    // Expand every joined row 3-fold before the exchange (before-plan
    // node (9): Expand ×3 feeding Exchange (11) — the whole corpus
    // shuffle tripled). Two-level aggregation is value-identical and
    // shuffles each (order, supplier) pair once, un-expanded: level 1
    // collapses lines to distinct pairs with an any-late flag
    // (map-combined), level 2 counts pairs (= distinct suppliers by
    // construction), sums flags (= distinct late suppliers), and takes
    // the max flagged key (guide §2.3: aggregate before you shuffle).
    val per = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(late, lit(1)).otherwise(lit(0))).as("_anylate"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("_nsupp"),
        sum(col("_anylate")).as("_nlate"),
        max(when(col("_anylate") === 1, col("l_suppkey"))).as("_late_supp"))
      .filter(col("_nsupp") >= 2 && col("_nlate") === 1)
    // key-level aggregate FIRST (shrinks to supplier cardinality before
    // the dim join), then a NAME-level re-aggregate: Q21 reports by
    // s_name, and two suppkeys sharing a name must merge — grouping by
    // key alone silently diverges the moment names aren't unique
    per.groupBy(col("_late_supp")).agg(count(lit(1)).as("_nw"))
      .join(Tables.supplier(spark, dir),
        col("_late_supp") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(sum(col("_nw")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  val qSoleLateSupplierSql: String =
    """WITH per AS (
      |  SELECT l_orderkey,
      |    count(DISTINCT l_suppkey) AS nsupp,
      |    count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |      THEN l_suppkey END) AS nlate,
      |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |      THEN l_suppkey END) AS late_supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY 1)
      |SELECT s.s_name, count(*) AS numwait
      |FROM per JOIN supplier s ON per.late_supp = s.s_suppkey
      |WHERE nsupp >= 2 AND nlate = 1
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name LIMIT 25""".stripMargin

  // ---- q_idle_customers (TPC-H Q22 shape) -----------------------------------------

  /** Above-average-balance customers with NO orders, by nation (Q22
    * shape): the global positive-balance average becomes an exact
    * integer CROSS-MULT comparison (bal_scaled·n > Σbal_scaled — no
    * division), the "never ordered" test is a left-anti join, and the
    * nation rollup sums exactly-scaled balances. */
  def qIdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val bs = floor(col("c_acctbal") * lit(1000000.0) + lit(0.5))
      .cast(LongType)
    val thr = c.filter(col("c_acctbal") > 0)
      .agg(sum(bs.cast(DecSum)).as("_s"), count(lit(1)).as("_n"))
    c.join(broadcast(thr))
      .filter(bs.cast(DecSum) * col("_n").cast(DecSum) > col("_s"))
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  val qIdleCustomersSql: String =
    """WITH t AS (
      |  SELECT CAST(sum(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT))
      |      AS HUGEINT) AS s,
      |    count(*) AS n
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_nationkey, count(*) AS numcust,
      |  CAST(sum(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 1000000.0 AS totacctbal
      |FROM customer, t
      |WHERE CAST(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT) AS HUGEINT)
      |    * n > s
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---- q_triangles ------------------------------------------------------------------

  /** Triangle count of the co-purchase graph (parts are nodes; an edge
    * joins two parts appearing in the same order). Edges are bounded
    * per order (≤ lines² pair expansion against TPC-H's ≤7-line orders)
    * and deduplicated once; counting uses DEGREE ORDERING — each edge
    * oriented from its lower-(degree, id) endpoint — so every wedge
    * join fans out by out-degree, which the orientation bounds by
    * O(√|E|) (the classic node-iterator-with-ordering argument), and
    * each triangle is counted exactly once from its lowest-order apex.
    * Node ids must fit 31 bits (the (deg, id) order key packs as
    * deg·2^32 + id in a long). */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.as("a").join(li.as("b"), col("a.ok") === col("b.ok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
    triangleCount(edges)
  }

  /** Core triangle counter over a deduplicated undirected edge table
    * (columns u < v, ids < 2^31) — see [[qTriangles]] for the
    * degree-ordering scale argument.
    *
    * Physical shape: the edge table is PERSISTED (it feeds degrees, the
    * orientation, the wedge self-join, the closure probe and the edge
    * count — unpersisted, Spark would recompute the upstream pair
    * expansion five times); degrees broadcast onto the edges (the node
    * table is dimension-sized); and the wedge→edge closure check is a
    * BROADCAST left-semi probe — the wedge stream (Σ out-deg², the
    * dominant cardinality: 41M wedges over 1.2M edges on the sf0.1
    * graph) flows map-side through a broadcast of the edge set and
    * never crosses an exchange.
    *
    * The broadcast hints are GATED IN CODE, not by a comment: the
    * returned frame is a DeferredDF whose first action counts the
    * (persisted) edge table — needed for the n_edges output anyway —
    * and compares it against `graft.triangles.maxBroadcastEdges`
    * (default 100M, ~1.6 GB of packed longs). At or under the gate the
    * edge-table hints apply and the wedge stream never crosses an
    * exchange; OVER the gate the hints are omitted and the same
    * node-iterator plan runs as shuffled joins (AQE may still pick
    * broadcast from RUNTIME sizes, which cannot driver-OOM the way a
    * forced hint on a 100x graph would). */
  private[graft] def triangleCount(edges0: DataFrame): DataFrame =
    org.apache.spark.sql.graft.DeferredDF(edges0.sparkSession,
      StructType(Seq(
        StructField("n_nodes", LongType, nullable = false),
        StructField("n_edges", LongType, nullable = false),
        StructField("n_triangles", LongType, nullable = false))),
      () => {
        val edges = edges0.persist()
        val ne = edges.count() // materializes the persist; reused as n_edges
        triangleCountPlan(edges, ne)
      })

  /** The gated plan body: `ne` is the known edge count (decides the
    * broadcast hints); exposed for PlanSpec to pin BOTH paths. */
  private[graft] def triangleCountPlan(edges: DataFrame, ne: Long): DataFrame = {
    val maxBroadcastEdges = edges.sparkSession.conf
      .getOption("graft.triangles.maxBroadcastEdges")
      .map(_.toLong).getOrElse(100000000L)
    val hint = ne <= maxBroadcastEdges
    def gated(df: DataFrame): DataFrame = if (hint) broadcast(df) else df
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // the degree table is node-sized (<= 2|E| before grouping, |V| after)
    // — gate it with the same edge-count signal
    val keyed = edges
      .join(gated(deg.withColumnRenamed("node", "u")
        .withColumnRenamed("d", "du")), Seq("u"))
      .join(gated(deg.withColumnRenamed("node", "v")
        .withColumnRenamed("d", "dv")), Seq("v"))
      .select(
        (col("du") * lit(4294967296L) + col("u")).as("ku"),
        (col("dv") * lit(4294967296L) + col("v")).as("kv"))
    val oriented = keyed.select(
        when(col("ku") < col("kv"), col("ku")).otherwise(col("kv")).as("src"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("dst"))
      .persist()
    // wedge generation is ALSO a gated join (same size argument as the
    // closure probe): under the gate the 41M-wedge stream exists only
    // map-side between two broadcast hash joins and a partial count —
    // zero wedge-sized exchanges anywhere in the plan
    val wedges = oriented.as("e1").join(gated(oriented.as("e2")),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
    val tri = wedges.join(gated(oriented),
        col("b") === col("src") && col("c") === col("dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    nn.join(tri).select(col("n_nodes"), lit(ne).as("n_edges"),
      col("n_triangles"))
  }

  val qTrianglesSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT node, count(*) AS d FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      |  GROUP BY node),
      |keyed AS (
      |  SELECT du.d * 4294967296 + e.u AS ku, dv.d * 4294967296 + e.v AS kv
      |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
      |o AS (
      |  SELECT least(ku, kv) AS src, greatest(ku, kv) AS dst FROM keyed),
      |w AS (
      |  SELECT e1.dst AS b, e2.dst AS c
      |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst)
      |SELECT
      |  (SELECT count(*) FROM deg) AS n_nodes,
      |  (SELECT count(*) FROM e) AS n_edges,
      |  -- closure probe as a JOIN, not EXISTS: o's (src, dst) rows are
      |  -- unique (distinct edges, one orientation), so the join count
      |  -- equals the semi-join count — and it hash-joins instead of the
      |  -- nested probe the EXISTS form planned (28+ min vs seconds at
      |  -- the heavy tier's 10x graph)
      |  (SELECT count(*) FROM w JOIN o ON o.src = w.b AND o.dst = w.c)
      |    AS n_triangles""".stripMargin

  // ---- q_bloom_semijoin ----------------------------------------------------------

  /** Bloom-prefiltered semi-join: revenue of orders from high-balance
    * BUILDING customers. The filter-side keys fold into a FIXED-SIZE
    * bloom filter via one distributed map-combined aggregate (Spark's
    * own BloomFilterAggregate — only numBits/8 bytes reach the driver
    * at any corpus size), the probe side prefilters in pure whole-stage
    * codegen against the planted literal, and an exact left-semi join
    * clears the false positives — so the result equals the plain
    * semi-join while the big side's shuffle input shrinks by the bloom
    * selectivity. Construction is eager (the build-side aggregate runs
    * when the DataFrame is BUILT — the valueAtRanks static-source
    * contract). */
  def qBloomSemijoin(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000)
      .select(col("c_custkey"))
    val bloomBytes = keys.agg(org.apache.spark.sql.graft.VectorExprs
        .bloomAgg(col("c_custkey"), 1000000L, 1L << 23).as("_bf"))
      .head().getAs[Array[Byte]](0)
    Tables.orders(spark, dir)
      .filter(org.apache.spark.sql.graft.VectorExprs
        .bloomMightContain(bloomBytes, col("o_custkey")))
      .join(keys, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val qBloomSemijoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 1000000.0 AS revenue
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM customer
      |  WHERE c_custkey = o_custkey
      |    AND c_mktsegment = 'BUILDING' AND c_acctbal > 5000)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- q_expectations --------------------------------------------------------

  /** Rule-based data-expectation suite (the Deequ / Great-Expectations
    * assertion shape — the gate a pipeline runs BEFORE training export,
    * complementing q_profile's per-column statistics): each output row
    * is one named rule with its checked/violated counts and a pass flag.
    *
    * Scale shape: every rule reduces to a 1-row aggregate, so the
    * result is rule-count-sized regardless of input volume. All
    * row-level rules on a table FUSE into ONE map-combined scan
    * (conditional sums — adding a rule costs a column, not a pass);
    * PK uniqueness is one keyed aggregate (excess rows beyond the first
    * per key, map-combinable); referential rules are anti-joins whose
    * build side AQE sizes (broadcast for dimension-shaped parents,
    * shuffled for fact-to-fact like lineitem→orders). */
  def expectations(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame): DataFrame = {
    def rule(name: String, tbl: String, checked: Column, viol: Column) =
      struct(lit(name).as("rule"), lit(tbl).as("tbl"),
        checked.cast(LongType).as("n_checked"),
        viol.cast(LongType).as("n_violations"))
    def violWhen(bad: Column) = sum(when(bad, 1L).otherwise(0L))

    // one fused scan: every row-level orders rule + the count the
    // referential rule reuses (1 row × 1 row cross joins, never data)
    val ordAgg = orders.agg(
      count(lit(1)).as("n_ord"),
      // NULL status is a VIOLATION (matching the oracle's CASE WHEN x
      // IN (...) THEN 0 ELSE 1): a bare !isin yields NULL for NULL
      // input, which when(bad, 1) would silently count as a pass
      violWhen(col("o_orderstatus").isNull ||
        !col("o_orderstatus").isin("O", "F", "P")).as("v_status"),
      violWhen(col("o_totalprice").isNull || col("o_totalprice") <= 0)
        .as("v_price"))
    val ordRi = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_ri"))
    val ordRules = ordAgg.crossJoin(ordRi)
      .select(explode(array(
        rule("orders_status_domain", "orders", col("n_ord"), col("v_status")),
        rule("orders_totalprice_positive", "orders", col("n_ord"),
          col("v_price")),
        rule("orders_custkey_ri", "orders", col("n_ord"), col("v_ri")))).as("r"))

    val pkRule = orders.groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n"), sum(col("c") - lit(1L)).as("v"))
      .select(rule("orders_pk_unique", "orders", col("n"), col("v")).as("r"))

    val liAgg = lineitem.agg(
      count(lit(1)).as("n_li"),
      violWhen(col("l_quantity").isNull ||
        col("l_quantity") < 1 || col("l_quantity") > 50).as("v_qty"),
      violWhen(col("l_discount").isNull ||
        col("l_discount") < 0 || col("l_discount") > 0.1).as("v_disc"),
      violWhen(col("l_shipdate").isNull).as("v_ship"))
    val liRi = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v_ri"))
    val liRules = liAgg.crossJoin(liRi)
      .select(explode(array(
        rule("lineitem_quantity_range", "lineitem", col("n_li"), col("v_qty")),
        rule("lineitem_discount_range", "lineitem", col("n_li"), col("v_disc")),
        rule("lineitem_shipdate_present", "lineitem", col("n_li"),
          col("v_ship")),
        rule("lineitem_orderkey_ri", "lineitem", col("n_li"), col("v_ri"))))
        .as("r"))

    ordRules.unionByName(pkRule).unionByName(liRules)
      .select(col("r.rule").as("rule"), col("r.tbl").as("tbl"),
        col("r.n_checked").as("n_checked"),
        col("r.n_violations").as("n_violations"))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("rule"))
  }

  def qExpectations(spark: SparkSession, dir: String): DataFrame =
    expectations(Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      Tables.customer(spark, dir))

  val qExpectationsSql: String =
    """WITH o AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS v_status,
      |    sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_price
      |  FROM orders),
      |ori AS (
      |  SELECT count(*) AS v FROM orders
      |  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
      |pk AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(c - 1) AS BIGINT) AS v
      |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)),
      |li AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v_qty,
      |    sum(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS v_disc,
      |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v_ship
      |  FROM lineitem),
      |lri AS (
      |  SELECT count(*) AS v FROM lineitem
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
      |rules AS (
      |  SELECT 'orders_status_domain' AS rule, 'orders' AS tbl,
      |    n AS n_checked, v_status AS n_violations FROM o
      |  UNION ALL SELECT 'orders_totalprice_positive', 'orders', n, v_price FROM o
      |  UNION ALL SELECT 'orders_custkey_ri', 'orders', o.n, ori.v FROM o, ori
      |  UNION ALL SELECT 'orders_pk_unique', 'orders', n, v FROM pk
      |  UNION ALL SELECT 'lineitem_quantity_range', 'lineitem', n, v_qty FROM li
      |  UNION ALL SELECT 'lineitem_discount_range', 'lineitem', n, v_disc FROM li
      |  UNION ALL SELECT 'lineitem_shipdate_present', 'lineitem', n, v_ship FROM li
      |  UNION ALL SELECT 'lineitem_orderkey_ri', 'lineitem', li.n, lri.v FROM li, lri)
      |SELECT rule, tbl, CAST(n_checked AS BIGINT) AS n_checked,
      |  CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS pass
      |FROM rules ORDER BY rule""".stripMargin

  // ---- q_chisq ---------------------------------------------------------------

  /** Chi-square independence decomposition for two categorical columns
    * (documents lang × source) — the composition-bias check a curation
    * team runs before mixing sources: which (language, source) cells
    * are over/under-represented vs independence, and by how much.
    *
    * Per-cell output instead of one statistic: `dev` = N·obs − row·col
    * is the EXACT integer deviation (zero ⇔ cell exactly independent),
    * `contrib` the cell's χ² term dev²/(N·row·col). Each contrib is a
    * fixed dag of IEEE ops (two casts, one multiply, two multiplies,
    * one terminal division — no order-dependent double summation), so
    * it is bit-identical cross-engine; consumers that want the scalar
    * χ² sum the column (or the exact integer dev² table).
    *
    * Scale shape: ONE map-combined corpus aggregate to the contingency
    * table; margins re-aggregate that tiny table (never a second corpus
    * pass) and join back broadcast. */
  def chisq(rows: DataFrame, a: Column, b: Column): DataFrame = {
    val obs = rows.groupBy(a.as("a"), b.as("b")).agg(count(lit(1)).as("n_obs"))
    val rowT = obs.groupBy(col("a")).agg(sum(col("n_obs")).as("n_row"))
    val colT = obs.groupBy(col("b")).agg(sum(col("n_obs")).as("n_col"))
    val tot = obs.agg(sum(col("n_obs")).as("n_total"))
    val dev = col("n_total") * col("n_obs") - col("n_row") * col("n_col")
    obs.join(broadcast(rowT), "a").join(broadcast(colT), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_obs"), col("n_row"), col("n_col"),
        col("n_total"), dev.as("dev"))
      .withColumn("contrib",
        (col("dev").cast(DoubleType) * col("dev").cast(DoubleType)) /
          ((col("n_total").cast(DoubleType) * col("n_row").cast(DoubleType)) *
            col("n_col").cast(DoubleType)))
      .orderBy(col("a"), col("b"))
  }

  def qChisq(spark: SparkSession, dir: String): DataFrame =
    chisq(Tables.documents(spark, dir), col("lang"), col("source"))
      .withColumnRenamed("a", "lang").withColumnRenamed("b", "source")

  val qChisqSql: String =
    """WITH obs AS (
      |  SELECT lang, source, count(*) AS n_obs FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS n_row FROM obs GROUP BY 1),
      |c AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS n_col FROM obs GROUP BY 1),
      |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs)
      |SELECT obs.lang, obs.source, n_obs, n_row, n_col, n_total,
      |  n_total * n_obs - n_row * n_col AS dev,
      |  (CAST(n_total * n_obs - n_row * n_col AS DOUBLE)
      |     * CAST(n_total * n_obs - n_row * n_col AS DOUBLE)) /
      |  ((CAST(n_total AS DOUBLE) * CAST(n_row AS DOUBLE))
      |     * CAST(n_col AS DOUBLE)) AS contrib
      |FROM obs JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t
      |ORDER BY lang, source""".stripMargin

  // ---- q_kanon ---------------------------------------------------------------

  /** k-anonymity audit over a quasi-identifier tuple — the privacy-risk
    * report a release pipeline runs before exporting event-level data:
    * how many rows sit in quasi-identifier groups smaller than k (each
    * such row is re-identifiable by joining the quasi columns against
    * an external source). Quasi tuple here: (event_type, hour-of-day,
    * value decade) on events.
    *
    * Output is the group-SIZE histogram (size, n_groups, n_rows,
    * at_risk) rather than the groups themselves — the report stays
    * size-distribution-sized (≤ max group cardinality rows) and never
    * leaks a quasi tuple, and the k decision is a filter on it.
    *
    * Scale shape: one map-combined aggregate to the quasi-group table
    * (cardinality = the quasi DOMAIN, bounded by design — auditing an
    * unbounded-cardinality tuple is the degenerate every-row-unique
    * case where the report is trivially "all at risk"), then a second
    * tiny aggregate over group sizes. */
  def kAnonymity(rows: DataFrame, quasi: Seq[Column], k: Int = 5): DataFrame =
    rows.groupBy(quasi: _*)
      .agg(count(lit(1)).as("_gs"))
      .groupBy(col("_gs").as("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("_gs")).as("n_rows"))
      .withColumn("at_risk", col("group_size") < k.toLong)
      .orderBy(col("group_size"))

  def qKanon(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    kAnonymity(ev, Seq(
      col("event_type"),
      hour(col("ts")).as("hod"),
      floor(col("value") / lit(10.0)).cast(LongType).as("vdec")))
  }

  val qKanonSql: String =
    """WITH g AS (
      |  SELECT event_type, extract(hour FROM make_timestamp(epoch_ns(ts) // 1000)) AS hod,
      |    CAST(floor(value / 10.0) AS BIGINT) AS vdec, count(*) AS gs
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT gs AS group_size, count(*) AS n_groups,
      |  CAST(sum(gs) AS BIGINT) AS n_rows, gs < 5 AS at_risk
      |FROM g GROUP BY gs ORDER BY group_size""".stripMargin

  // ---- registry --------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rfm" -> (qRfm _),
    "q_gini" -> (qGini _),
    "q_yoy" -> (qYoy _),
    "q_autocorr" -> (qAutocorr _),
    "q_hhi" -> (qHhi _),
    "q_benford" -> (qBenford _),
    "q_markov" -> (qMarkov _),
    "q_attribution" -> (qAttribution _),
    "q_min_cost_supplier" -> (qMinCostSupplier _),
    "q_small_qty_rev" -> (qSmallQtyRev _),
    "q_sole_late_supplier" -> (qSoleLateSupplier _),
    "q_idle_customers" -> (qIdleCustomers _),
    "q_triangles" -> (qTriangles _),
    "q_bloom_semijoin" -> (qBloomSemijoin _),
    "q_decay_score" -> (qDecayScore _),
    "q_changepoint" -> (qChangepoint _),
    "q_seasonality" -> (qSeasonality _),
    "q_growth_accounting" -> (qGrowthAccounting _),
    "st_session" -> (stSession _),
    "q_expectations" -> (qExpectations _),
    "q_chisq" -> (qChisq _),
    "q_kanon" -> (qKanon _))

  val oracles: Map[String, String] = Map(
    "q_rfm" -> qRfmSql,
    "q_gini" -> qGiniSql,
    "q_yoy" -> qYoySql,
    "q_autocorr" -> qAutocorrSql,
    "q_hhi" -> qHhiSql,
    "q_benford" -> qBenfordSql,
    "q_markov" -> qMarkovSql,
    "q_attribution" -> qAttributionSql,
    "q_min_cost_supplier" -> qMinCostSupplierSql,
    "q_small_qty_rev" -> qSmallQtyRevSql,
    "q_sole_late_supplier" -> qSoleLateSupplierSql,
    "q_idle_customers" -> qIdleCustomersSql,
    "q_triangles" -> qTrianglesSql,
    "q_bloom_semijoin" -> qBloomSemijoinSql,
    "q_decay_score" -> qDecayScoreSql,
    "q_changepoint" -> qChangepointSql,
    "q_seasonality" -> qSeasonalitySql,
    "q_growth_accounting" -> qGrowthAccountingSql,
    "st_session" -> stSessionSql,
    "q_expectations" -> qExpectationsSql,
    "q_chisq" -> qChisqSql,
    "q_kanon" -> qKanonSql)
}
