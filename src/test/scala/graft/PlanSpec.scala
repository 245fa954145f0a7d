package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.operators.{Dedup, Similarity}
import graft.queries.Relational

/** Physical-plan assertions: the properties that make these operators hold
  * up at 100 TB — filters reaching the scan, column pruning, dimension
  * broadcasts, codegen'd hot paths — checked on the actual executed plans
  * so a regression (e.g. an optimizer barrier creeping in) fails loudly. */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).appName("plan-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Collected rows, order-free: the two sides of a gate must match. */
  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("q6: range filters push down to the parquet scan") {
    val p = plan(Relational.q6Filter(spark, dir))
    assert(p.contains("PushedFilters:"))
    // the shipdate range must reach the scan, not sit in a post-scan filter only
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("GreaterThanOrEqual(`l_shipdate`"), s"no pushed shipdate filter in:\n$p")
  }

  test("q1: money sums aggregate primitive longs, not per-row decimals") {
    // the dsum split-long shape (hi=v>>19 / lo=v&(2^19-1) partials,
    // decimal recombine once per group) — 3.4x over a DECIMAL(38,0)
    // per-row sum; a silent revert would show sum(cast(...decimal))
    // partials instead of shiftright
    val p = plan(Relational.q1Agg(spark, dir))
    assert(p.contains("shiftright"), s"q1 partials no longer split-long:\n$p")
    assert(!p.contains("partial_sum(cast(FLOOR"),
      "q1 reverted to per-row decimal accumulation")
  }

  test("quantile probe: bounded targets plant as literals, not a corpus-side string join") {
    // the literal-fold path replaces the (string,long)-keyed broadcast
    // probe (11x slower, QProfile3) with a codegen'd literal filter and
    // a LocalTableScan attach join; fallback (>1024 targets) is
    // spec-exercised in OperatorsSpec
    val p = plan(Relational.qQuantileSelect(spark, dir))
    assert(p.contains("LocalTableScan"),
      s"probe targets not literal-folded (no LocalTableScan build side):\n$p")
  }

  test("skew report: top-k is TakeOrdered, no window over the key space") {
    // rank is assigned AFTER the limit: the key-count table reaches the
    // top-k through a TakeOrderedAndProject (distributed partial top-k),
    // and the only Window in the plan runs over the <= k surviving rows.
    // A revert to row_number-then-filter would put a single-partition
    // Window over every distinct key — the scale killer skewReport's
    // scaladoc rules out
    val p = plan(Relational.qSkewReport(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"skewReport top-k is not a TakeOrdered:\n$p")
    assert(!p.contains("WindowGroupLimit"),
      s"unexpected pre-shuffle window limit replaced the TakeOrdered:\n$p")
  }

  test("tfidf joins df against a broadcast vocab table; fallback is shuffled-hash") {
    // round-10 shape: the vocabulary-sized df table broadcasts, so
    // corpus tokens never cross an exchange before the group-limit
    // prune (x100: 3.4 s -> 2.2 s over the shuffled-hash join)
    val p = plan(graft.operators.TextAnalysis.tfidf(Tables.documents(spark, dir)))
    assert(p.contains("BroadcastHashJoin"),
      s"tfidf df join is not broadcast:\n$p")
    // the unbounded-vocab escape hatch computes df as a window count
    // over the term-hash exchange — one shuffle, no join at all
    val pf = plan(graft.operators.TextAnalysis.tfidf(
      Tables.documents(spark, dir), broadcastDf = false))
    assert(!pf.contains("SortMergeJoin") && !pf.contains("Join"),
      s"tfidf broadcastDf=false fallback grew a join:\n$pf")
    assert(pf.contains("Window"),
      s"tfidf broadcastDf=false fallback lost its window-count df:\n$pf")
  }

  test("bm25 fused serve: no joins, no explode — one corpus pass + the top-k window") {
    // under both counted gates the hit pass is the fused mapPartitions
    // kernel probing broadcast qt/df maps: the corpus never explodes
    // into token rows and never crosses a join or (q,doc) groupBy
    // exchange — the only Exchange left is the top-k window's
    val p = plan(graft.operators.TextAnalysis.bm25Plan(
      Tables.documents(spark, dir), 101, 3, 5, None, Some(0L), Some(0L)))
    assert(!p.contains("Join"), s"bm25 fused serve grew a join:\n$p")
    assert(!p.contains("Generate"), s"bm25 fused serve still explodes tokens:\n$p")
    // formatted plans print each operator twice (tree + details); count
    // tree occurrences ("Exchange (n)") only
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).length == 1,
      s"bm25 fused serve should shuffle only the top-k window:\n$p")
  }

  test("bm25 fallback: query-term join broadcast with the vocab over its gate") {
    // qt under its gate, df over: the declarative plan must still filter
    // the corpus token stream map-side by the broadcast (Q x qterms)
    // query-term table — a sort-merge join there would put every token
    // row through an exchange before the hit-bounded (q_id, doc_id)
    // aggregate. (bm25() itself is a DeferredDF; the plan variant with
    // forced overrides exposes the inner shape without running the gate
    // counts.)
    val p = plan(graft.operators.TextAnalysis.bm25Plan(
      Tables.documents(spark, dir), 101, 3, 5, None, Some(0L), Some(Long.MaxValue)))
    assert(p.contains("BroadcastHashJoin"),
      s"bm25 lost its query-term broadcast join:\n$p")
  }

  test("bm25: query-term and vocab broadcasts gated on counted size, both paths") {
    // under both gates the plan is the fused kernel (its own spec above).
    // qt UNDER and df OVER: the qt join and the 1-row stats crossJoin
    // carry broadcast hints, the df join does not; BOTH OVER: only the
    // stats hint remains — the forced hint on a corpus-proportional query
    // set (|Q| = 3N/qmod) or an unbounded vocabulary must disappear so
    // the join degrades to a shuffle instead of a driver OOM (AQE may
    // still broadcast from RUNTIME sizes, which is safe)
    val docs = Tables.documents(spark, dir)
    def hints(p: String): Int =
      "strategy=broadcast".r.findAllIn(p).length
    val under = graft.operators.TextAnalysis
      .bm25Plan(docs, 101, 3, 5, None, Some(0L), Some(Long.MaxValue))
    val underP = under.queryExecution.optimizedPlan.toString
    assert(hints(underP) == 2, s"expected only the qt and stats hints:\n$underP")
    val over = graft.operators.TextAnalysis.bm25Plan(docs, 101, 3, 5, None,
      Some(Long.MaxValue), Some(Long.MaxValue))
    val overP = over.queryExecution.optimizedPlan.toString
    assert(hints(overP) == 1,
      s"forced qt/df broadcast hints survive over the gate:\n$overP")
    val underRows = sortedRows(under)
    assert(underRows.nonEmpty)
    assert(sortedRows(over) === underRows, "bm25 over-gate rows differ from under-gate rows")
  }

  test("rrf vector leg: probe/query broadcasts gated on counted size, both paths") {
    val emb = Tables.embeddings(spark, dir)
    val isQ = org.apache.spark.sql.functions
      .pmod(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(101)) === 0
    def hints(p: String): Int =
      "strategy=broadcast".r.findAllIn(p).length
    val under = Similarity.lshMultiTopKGatedPlan(emb, isQ, k = 20,
        nQueriesOverride = Some(0L))
    val underP = under.queryExecution.optimizedPlan.toString
    assert(hints(underP) >= 2, s"probe/query hints missing under the gate:\n$underP")
    val over = Similarity.lshMultiTopKGatedPlan(emb, isQ, k = 20,
      nQueriesOverride = Some(Long.MaxValue))
    val overP = over.queryExecution.optimizedPlan.toString
    assert(hints(overP) == 0,
      s"forced probe/query broadcast hints survive over the gate:\n$overP")
    // the shuffled candidate join returns the broadcast path's rows
    val underRows = sortedRows(under)
    assert(underRows.nonEmpty)
    assert(sortedRows(over) === underRows, "rrf vector leg over-gate rows differ")
  }

  test("q1: scan reads only the columns the query needs") {
    val p = plan(Relational.q1Agg(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    // 7 needed columns, and specifically not l_orderkey/l_partkey
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q3/q5: dimension sides broadcast, no shuffle of small tables") {
    assert(plan(Relational.q3JoinAgg(spark, dir)).contains("BroadcastHashJoin"))
    val p5 = plan(Relational.q5MultiJoin(spark, dir))
    assert(p5.contains("BroadcastHashJoin"))
    // region/nation/supplier/customer are all broadcast: the only
    // sort-merge-join-free shape for a star schema
    assert(!p5.contains("SortMergeJoin"), "star-schema dims fell out of broadcast")
  }

  test("text analysis is shuffle-free whole-stage codegen") {
    val df = graft.operators.TextAnalysis.quality(Tables.documents(spark, dir))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"per-row projection introduced a shuffle:\n$p")
    // executedPlan stars mark whole-stage codegen; the scoring Project
    // must carry one (an interpreted HOF in the projection would drop it).
    // Execute first: with AQE the plan only finalizes (and gets codegen
    // wrapping) on run.
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"projection fell out of codegen:\n$ex")
  }

  test("native dot product stays inside whole-stage codegen") {
    val df = Similarity.bruteTopK(Tables.embeddings(spark, dir),
      org.apache.spark.sql.functions.col("vec_id") < 3, 2)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("graft_dot"), s"custom expression missing:\n$ex")
    val scoreLine = ex.linesIterator.find(l => l.contains("graft_dot") && l.contains("Project"))
    assert(scoreLine.exists(_.contains("*(")),
      s"scoring projection fell out of codegen:\n$ex")
  }

  test("hamming sign-pack projection stays inside whole-stage codegen") {
    // the 100 TB pitch of ann_hamming_topk is the packing SCAN (64x
    // compression happens there) — it must be the native SignPack
    // kernel inside codegen, not the CodegenFallback HOF fold
    val df = Similarity.hammingTopK(Tables.embeddings(spark, dir),
      org.apache.spark.sql.functions.col("vec_id") < 3, 2)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    // only the Final Plan carries codegen stars (the Initial Plan
    // rendering never does, whatever executes)
    val ex = full.split("== Initial Plan ==")(0)
    assert(ex.contains("graft_sign_pack"), s"custom expression missing:\n$ex")
    ex.linesIterator.filter(_.contains("graft_sign_pack")).foreach { l =>
      assert(l.contains("*("),
        s"sign-pack projection fell out of codegen:\n$ex")
    }
    assert(!full.contains("aggregate(transform"),
      s"HOF pack survived in the executed plan:\n$full")
  }

  test("exact dedup shuffles hashes, not text") {
    val df = Dedup.exact(Tables.documents(spark, dir))
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    // partial aggregation before the exchange: the shuffle carries
    // (hash, min_id, count), never the text column
    assert(ex.contains("partial_min"),
      s"no map-side combine before dedup shuffle:\n$ex")
    // the shuffle is keyed on the md5 grouping expression, and the partial
    // aggregate's output row (what actually shuffles) carries no text
    val partialLine = ex.linesIterator.find(_.contains("partial_min")).get
    assert(!partialLine.substring(partialLine.indexOf("output=")).contains("text#"),
      s"shuffle carries raw text: $partialLine")
  }

  test("as-of join is one shuffle + window, never a range join") {
    for (df <- Seq(graft.operators.AsOfJoin.qAsof(spark, dir),
                   graft.operators.AsOfJoin.qAsofFwd(spark, dir))) {
      df.collect()
      val ex = df.queryExecution.executedPlan.toString
      assert(!ex.contains("BroadcastNestedLoopJoin") && !ex.contains("CartesianProduct"),
        s"as-of degenerated into a product join:\n$ex")
      assert(ex.contains("Window"), "expected the running last/first window")
      // every hash exchange is on the join key (one per union branch =
      // one shuffle pass over |L|+|R| rows); no second shuffle on other keys
      val exchanges = ex.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.nonEmpty && exchanges.forall(_.contains("_k#")),
        s"unexpected shuffle keys:\n${exchanges.mkString("\n")}")
    }
  }

  test("runtime bloom-filter join injection prunes the probe side at the scan") {
    // Spark's runtime row-level filtering: a selective filter on one
    // join side gets compiled into a bloom_filter_agg subquery whose
    // might_contain() is injected into the OTHER side's scan stage —
    // the shuffle then carries only probable matches. At 100 TB this is
    // the difference between shuffling the whole fact table and
    // shuffling the join's actual footprint; the production thresholds
    // (10 GB probe scan) exist so small joins skip the sketch cost, so
    // the test pins the MECHANISM with the thresholds lowered to fire
    // on test data, and restores them after.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // broadcasts bypass runtime filters
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, dir)
      val ord = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
      val p = plan(joined)
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        s"no runtime bloom filter injected into the probe side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("range join executes as a bucket equi-join, not a theta join") {
    val df = graft.operators.RangeJoin.qRange(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(!ex.contains("BroadcastNestedLoopJoin") && !ex.contains("CartesianProduct"),
      s"range join degenerated into a product join:\n$ex")
    assert(ex.contains("_bucket") || ex.contains("hashpartitioning"),
      s"no bucket equi-join found:\n$ex")
  }

  test("stratified sampling pushes top-k below the shuffle (WindowGroupLimit)") {
    val df = graft.operators.Sampling.qSample(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("WindowGroupLimit"),
      s"rank filter not pushed down map-side:\n$ex")
  }

  test("token budget: corpus-side window is bucket-split, never per-stratum single-partition") {
    val df = graft.operators.Sampling.qTokenBudget(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    val winLines = ex.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, s"no window in token-budget plan:\n$ex")
    // the running sum over corpus rows must partition by (stratum,
    // bucket) — a stratum-only partition spec is the single-reducer
    // scale cliff this operator's two-phase design forbids. The only
    // stratum-alone window allowed is the offsets pass over the tiny
    // per-bucket totals table (its partition key is the _s alias).
    assert(winLines.exists(_.contains("_bkt")),
      s"no bucket-split window found:\n$ex")
    assert(winLines.filter(_.contains("lang#")).forall(_.contains("_bkt")),
      s"corpus window partitions by stratum alone:\n$ex")
    // phase-3 offsets rejoin the corpus by broadcast — a stats
    // misestimate must never shuffle the corpus on (stratum, bucket)
    assert(ex.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast back:\n$ex")
    assert(!ex.contains("SortMergeJoin"),
      s"corpus shuffled for the tiny offsets table:\n$ex")
  }

  test("KS drift: cumulative windows are bucket-split; bucket offsets broadcast") {
    val df = graft.operators.TextAnalysis.txKsDrift(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    val winLines = ex.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, s"no window in KS plan:\n$ex")
    // the per-value cumulative counts must partition by the value-range
    // bucket; the only unpartitioned window allowed is the offsets pass
    // over the <= nBuckets-row totals table (ordering key _b alias)
    assert(winLines.exists(_.contains("_bkt")),
      s"no bucket-split window found:\n$ex")
    assert(winLines.filter(l => !l.contains("_bkt")).forall(_.contains("_b#")),
      s"per-value cumulative window is not bucket-split:\n$ex")
    assert(ex.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast back:\n$ex")
    assert(!ex.contains("SortMergeJoin"),
      s"per-value table shuffled for the tiny offsets side:\n$ex")
  }

  test("next-fit packing: one bucket exchange, local sort only, bases broadcast") {
    val df = graft.operators.Sampling.nextFitPack(
      graft.core.Tables.documents(spark, dir),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("n_chars"), 2048L)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    // the imperative scan runs on bucket-hash-partitioned, LOCALLY sorted
    // rows — a global corpus sort here is the single-reducer cliff
    val sortLines = ex.linesIterator
      .filter(l => l.contains("Sort [") && !l.contains("SortMergeJoin")).toSeq
    assert(sortLines.nonEmpty, s"no sort before the scan stage:\n$ex")
    assert(sortLines.forall(_.contains("false, 0")),
      s"global sort in next-fit plan:\n$ex")
    // bucket bases rejoin via broadcast; the corpus must never shuffle
    // for the 16-row bases table
    assert(ex.contains("BroadcastHashJoin"),
      s"bucket bases not broadcast back:\n$ex")
    assert(!ex.contains("SortMergeJoin"),
      s"corpus shuffled against the tiny bases table:\n$ex")
  }

  test("sequence packing: corpus-side window is bucket-split; bucket offsets broadcast") {
    val df = graft.operators.Sampling.qPack(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    val winLines = ex.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, s"no window in pack plan:\n$ex")
    // the per-document running sum must partition by the hash-range
    // bucket — a global (empty-partition-spec) window over corpus rows is
    // the single-reducer sort this design exists to avoid. The one
    // unpartitioned window allowed is the offsets pass over the tiny
    // per-bucket aggregate (its ordering key is the _b alias).
    assert(winLines.exists(_.contains("_bkt")),
      s"no bucket-split window found:\n$ex")
    assert(winLines.filter(l => !l.contains("_bkt")).forall(_.contains("_b#")),
      s"corpus-side window is not bucket-partitioned:\n$ex")
    // offsets rejoin the corpus by broadcast, not a corpus shuffle
    assert(ex.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast:\n$ex")
  }

  test("mixture solver: rate table broadcasts back; no corpus sort-merge join") {
    val df = graft.operators.Sampling.qMixture(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("BroadcastHashJoin"),
      s"per-stratum rates not broadcast:\n$ex")
    assert(!ex.contains("SortMergeJoin"),
      s"corpus shuffled for a #strata-row rate table:\n$ex")
    // both corpus passes pre-aggregate map-side before their exchange
    assert(ex.contains("partial_count") || ex.contains("partial_sum"),
      s"no map-side combine before the totals shuffle:\n$ex")
  }

  test("chunking is a shuffle-free generator") {
    val df = graft.operators.TextAnalysis.chunks(Tables.documents(spark, dir))
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(!ex.contains("Exchange"),
      s"chunk explode introduced a shuffle:\n$ex")
    assert(ex.contains("Generate"), s"no generator in chunk plan:\n$ex")
  }

  test("embed-cosine dedup is a bucket equi-join, not an all-pairs product") {
    val df = Dedup.embedCosinePairs(Tables.embeddings(spark, dir))
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(!ex.contains("BroadcastNestedLoopJoin") && !ex.contains("CartesianProduct"),
      s"embed-cosine degenerated into a product join:\n$ex")
    // the (table, bucket) key must drive a hash-based equi-join
    assert(ex.contains("HashJoin") || ex.contains("SortMergeJoin"),
      s"no equi-join on the LSH bucket key:\n$ex")
  }

  test("ml-quality scorer: codegen'd hash-agg, no HOFs, no sort aggregate") {
    val df = graft.operators.TextAnalysis.mlQuality(Tables.documents(spark, dir))
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    // feature hashing + weight lookup are arithmetic inside codegen; the
    // per-doc mean is a map-side-combined HashAggregate (long buffer) —
    // a SortAggregate or interpreted lambda here would be the scale bug
    assert(ex.contains("HashAggregate") && !ex.contains("SortAggregate"),
      s"ml-quality aggregation not hash-based:\n$ex")
    assert(ex.contains("partial_"), s"no map-side combine:\n$ex")
    assert(!ex.contains("LambdaFunction"), s"HOF crept into scoring:\n$ex")
    assert(ex.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("*(")),
      s"aggregation fell out of codegen:\n$ex")
  }

  test("url normalization is shuffle-free whole-stage codegen") {
    val docs = Tables.documents(spark, dir)
    val df = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      graft.operators.TextAnalysis.normalizeUrl(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("https://Ex.COM:443/p/"),
          org.apache.spark.sql.functions.col("doc_id"))).as("u"))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"url canonicalization introduced a shuffle:\n$p")
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"url projection fell out of codegen:\n$ex")
  }

  test("PII scrub is shuffle-free whole-stage codegen") {
    // the masking chain itself (driver query minus its presentation
    // sort) must be a single codegen'd projection
    val masked = graft.operators.TextAnalysis.scrub(Tables.documents(spark, dir))
    val p = plan(masked)
    assert(!p.contains("Exchange"), s"regex masking introduced a shuffle:\n$p")
    masked.collect()
    val ex = masked.queryExecution.executedPlan.toString
    assert(ex.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"masking projection fell out of codegen:\n$ex")
  }

  test("IVF cell assignment is a pure projection (no shuffle before the probe join)") {
    val df = Similarity.annIvfTopK(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    // no aggregate-based assignment: the only aggregates allowed are the
    // tiny centroid build (collected driver-side before planning) — the
    // executed probe plan must contain no aggregate at all, and no
    // nested-loop fallback
    assert(!ex.contains("BroadcastNestedLoopJoin") && !ex.contains("CartesianProduct"),
      s"IVF probe degenerated into a product join:\n$ex")
    assert(ex.contains("array_min"), s"literal-centroid argmin projection missing:\n$ex")
    assert(!ex.contains("HashAggregate"),
      s"aggregate-based cell assignment crept back into the probe plan:\n$ex")
  }

  test("IVF composition is action-free: no Spark job runs before the caller's action") {
    // reading a fresh parquet table runs a footer-listing job — that is
    // the source's cost, not the operator's; warm it before listening
    val emb = Tables.embeddings(spark, dir)
    emb.schema
    emb.count()
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // no hint, no maxLiteralCells override — the default composition
      // must not fall back to an eager corpus count to pick its path
      val df = Similarity.ivfTopK(emb, v => v < 3)
      assert(df.columns.contains("neighbor_id")) // analysis only
      Thread.sleep(500) // let any stray job-start event land
      assert(jobs === 0,
        s"composing ivfTopK launched $jobs job(s) before any action")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("IVF broadcast assignment: no literal fold, map-side combined, linear shuffle") {
    val emb = Tables.embeddings(spark, dir)
    // maxLiteralCells = 0 forces the large-nlist path
    val df = Similarity.ivfTopK(emb, v => v < 10, maxLiteralCells = 0)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    // the quantizer must NOT be folded into the expression tree (that is
    // the literal path's 64 KB-codegen scale ceiling)
    assert(!ex.contains("array_min"),
      s"literal-folded quantizer leaked into the broadcast path:\n$ex")
    // assignment = corpus x broadcast(single packed centroid row): the
    // only acceptable nested-loop join is against the broadcast quantizer
    assert(ex.contains("BroadcastNestedLoopJoin"),
      s"broadcast centroid join missing:\n$ex")
    // assignment is the native argmin projection: no aggregate over the
    // N x nlist candidate space (min(struct) would be a SortAggregate
    // sorting N x nlist rows) and no Generate/explode of the centroid
    // array against the corpus
    assert(ex.contains("graft_nearest_cell"),
      s"native argmin assignment expression missing:\n$ex")
    assert(!ex.contains("SortAggregate"),
      s"sort-based aggregate crept into the broadcast path:\n$ex")
    assert(!ex.contains("Generate explode"),
      s"corpus-side explode crept into assignment:\n$ex")
  }

  test("media dedup joins band keys hash-wise, never an all-pairs product") {
    val df = Dedup.mediaPairs(Tables.documents(spark, dir))
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(!ex.contains("BroadcastNestedLoopJoin") && !ex.contains("CartesianProduct"),
      s"media dedup degenerated into a product join:\n$ex")
    // candidate pairs come from an equi-join on the (band, key) columns —
    // the fingerprint payload shuffled is 24 bytes/row, never media bytes
    assert(ex.contains("HashJoin") || ex.contains("SortMergeJoin"),
      s"no equi-join on the band key:\n$ex")
    assert(!ex.contains("payload#"), s"media payload bytes reached the join:\n$ex")
  }

  test("IVF-PQ: broadcast argmin + native residual kernels, no sort aggregate") {
    val df = Similarity.annIvfPqTopK(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    // assignment must be the broadcast-quantizer native argmin (the
    // 100 TB path — PQ has no literal variant), residual pack and ADC
    // reconstruction must be the native kernels, and nothing may fall
    // back to a sort-based aggregate or a corpus-side explode
    assert(ex.contains("graft_nearest_cell"),
      s"native argmin assignment missing:\n$ex")
    assert(ex.contains("graft_quantize_int8_pair") && ex.contains("graft_sub_vec"),
      s"fused residual quantization kernel missing:\n$ex")
    assert(ex.contains("graft_dequantize_int8"),
      s"ADC reconstruction kernel missing:\n$ex")
    assert(!ex.contains("SortAggregate"),
      s"sort-based aggregate crept into the PQ plan:\n$ex")
    assert(!ex.contains("Generate explode"),
      s"corpus-side explode crept into the PQ plan:\n$ex")
  }

  test("semantic dedup: within-cell equi-join, broadcast argmin assignment") {
    val df = Dedup.ddSemantic(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    // the pair join must be an equi-join on the cell id — an all-pairs
    // product here would be the N² SemDeDup explicitly avoids; the only
    // nested-loop joins allowed are the broadcast quantizer attaches
    assert(ex.contains("graft_nearest_cell"),
      s"native argmin assignment missing:\n$ex")
    assert(!ex.contains("CartesianProduct"),
      s"semantic pairing degenerated into a product join:\n$ex")
    assert(ex.contains("SortMergeJoin") || ex.contains("ShuffledHashJoin") ||
      ex.contains("BroadcastHashJoin"),
      s"no equi-join on the cell id:\n$ex")
    assert(!ex.contains("SortAggregate"),
      s"sort-based aggregate crept into the semantic plan:\n$ex")
  }

  test("salted join stays an equi-join and spreads keys over salt shards") {
    val li = Tables.lineitem(spark, dir)
      .select(org.apache.spark.sql.functions.col("l_partkey").as("partkey"),
        org.apache.spark.sql.functions.col("l_quantity"))
    val pt = Tables.part(spark, dir)
      .select(org.apache.spark.sql.functions.col("p_partkey").as("partkey"),
        org.apache.spark.sql.functions.col("p_brand"))
    val df = graft.core.Skew.saltedJoin(li, pt, "partkey", 8)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(!ex.contains("BroadcastNestedLoopJoin") && !ex.contains("CartesianProduct"),
      s"salted join degenerated:\n$ex")
    assert(ex.contains("_salt"), s"salt key missing from the join:\n$ex")
  }

  test("curation pipeline: no exchange carries the text column") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = graft.operators.TextAnalysis.qCurationE2e(spark, dir)
    df.collect()
    // walk through AQE wrappers (their children are empty, hiding the
    // real tree from TreeNode.collect)
    def nodes(p: SparkPlan): Seq[SparkPlan] = graft.core.Util.planNodes(p)
    val exchanges = nodes(df.queryExecution.executedPlan)
      .collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, "expected the pipeline's bounded exchanges")
    // text is consumed at the scan (md5 + score projection); every
    // shuffle and broadcast must move slim key rows only — a corpus-text
    // exchange here is the 100 TB regression this test exists to catch
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"exchange carries raw text: ${e.simpleStringWithNodeId()} " +
          s"output=${e.child.output.map(_.name).mkString(",")}")
    }
  }

  test("paragraph dedup: block text never shuffles, doc text at most once") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = Dedup.ddParagraphs(spark, dir)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = graft.core.Util.planNodes(p)
    val exchanges = nodes(df.queryExecution.executedPlan)
      .collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    // the count + decision + position stages move (hash, packed-long)
    // rows only; block content is consumed at the scan projection
    assert(!exchanges.exists(_.child.output.exists(_.name == "block")),
      "an exchange carries block text")
    // corpus text crosses the wire once at most (the rebuild join; zero
    // when AQE broadcasts the kept-position side at this sf)
    val textEx = exchanges.filter(_.child.output.exists(_.name == "text"))
    assert(textEx.size <= 1,
      s"doc text shuffled ${textEx.size}x: ${textEx.map(_.simpleStringWithNodeId())}")
  }

  test("quantile selection: corpus rows never shuffle, probes broadcast") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = Relational.qQuantileSelect(spark, dir)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = graft.core.Util.planNodes(p)
    val ex = nodes(df.queryExecution.executedPlan)
      .collect { case e: Exchange => e }
    // histogram/offset/target exchanges move (group, bucket, count) rows;
    // value rows reach an exchange only AFTER the probe join pinned them
    // to a target bucket (marked by _ql) — a corpus-wide value shuffle
    // here is the global-sort regression this operator exists to avoid
    val corpusEx = ex.filter { e =>
      val names = e.child.output.map(_.name)
      names.contains("l_extendedprice") && !names.contains("_ql")
    }
    assert(corpusEx.isEmpty,
      s"corpus value rows shuffled pre-probe: ${corpusEx.map(_.simpleStringWithNodeId())}")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "probe join is not broadcast")
    assert(!p.contains("SortAggregate"), "selection fell into a sort aggregate")
  }

  test("minhash band keys are a pure projection (zero exchange, no aggregate)") {
    val p = Dedup.bandKeysKernel(Tables.documents(spark, dir))
      .queryExecution.executedPlan
    // the per-row signature kernel means band-key construction never
    // shuffles and never aggregates: scan → project → generate only
    val ex = p.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(ex.isEmpty, s"band-key construction shuffles: $ex")
    val aggs = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
    assert(aggs.isEmpty, s"band-key construction aggregates: $aggs")
    assert(p.toString.contains("graft_minhash_sigs"),
      "signature kernel missing from band-key plan")
  }

  test("multi-table LSH buckets come from the per-row kernel, not an expression fold") {
    // the round-9 win: 144 plane dots per vector in ONE LshBuckets call;
    // the equivalent per-plane when(dot>0) expression tree outgrew
    // codegen and fell back to ~500 µs/row interpretation. Pin the
    // kernel so a refactor can't silently revert to the fold.
    import org.apache.spark.sql.functions.col
    val p = Similarity.lshMultiTopK(Tables.embeddings(spark, dir),
      col("vec_id") < 10).queryExecution.executedPlan
    val s = p.toString
    assert(s.contains("graft_lsh_buckets"),
      "LshBuckets kernel missing from the multi-probe LSH plan")
    // graft_dot legitimately appears for the candidate cosine scoring;
    // a revert to the fold would plant ~144 of them per projection
    val dots = "graft_dot".r.findAllIn(s).size
    assert(dots <= 8, s"$dots graft_dot calls — the per-plane dot fold is back")
  }

  test("lm score: broadcast-model mapPartitions serve — no joins, no scoring shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // inspect the EAGER serve plan (the deferred wrapper is an opaque
    // leaf by design — its zero-job construction is pinned separately)
    val df = graft.operators.TextAnalysis
      .lmScoreEager(Tables.documents(spark, dir)).orderBy("doc_id")
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = graft.core.Util.planNodes(p)
    val ns = nodes(df.queryExecution.executedPlan)
    // the serve path is ONE scan through the broadcast-model loop: any
    // join or scoring-side exchange means the explode+probe formulation
    // (3.0 s at x100 vs 1.35 s) crept back
    assert(!ns.exists(_.isInstanceOf[BaseJoinExec]),
      "lm score serve grew a join — the broadcast-model loop is gone")
    assert(ns.exists(_.nodeName.contains("MapPartitions")),
      "lm score serve is not a mapPartitions scan")
    assert(!ns.exists(n => n.isInstanceOf[ShuffleExchangeLike] &&
      n.asInstanceOf[ShuffleExchangeLike].child.output.exists(_.name == "text")),
      "document text crossed an exchange in the lm serve")
  }

  test("lm score / ngram jaccard: construction and explain trigger zero Spark jobs") {
    // plan-only callers (PlanDump, PLANS.md regeneration, registry
    // enumeration) must pay nothing: the lm model collect is deferred to
    // first action (DeferredDF) and the ngram telemetry count became an
    // on-demand thunk + in-plan observe metric
    val docs = Tables.documents(spark, dir)
    docs.count() // warm the parquet footer listing — the source's cost
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // same-df construction, as the IVF action-free test: a fresh
      // spark.read.parquet runs a footer/schema job — the SOURCE's cost
      val lm = graft.operators.TextAnalysis.lmScore(docs).orderBy("doc_id")
      lm.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val (nj, _) = Dedup.ngramJaccardWithStats(docs)
      nj.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      Thread.sleep(500) // let any stray job-start event land
      assert(jobs === 0,
        s"plan-only construction launched $jobs job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the deferred lm frame still EXECUTES correctly (model built at
    // first action, memoized): spot-check row count parity with the
    // eager serve
    val lazyRows = graft.operators.TextAnalysis.txLmScore(spark, dir).count()
    val eagerRows = graft.operators.TextAnalysis
      .lmScoreEager(docs).count()
    assert(lazyRows === eagerRows && lazyRows > 0)
  }

  test("triangles: broadcast hints gated on edge count, both paths agree") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import spark.implicits._
    // triangle 1-2-3 plus pendant edge 3-4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // UNDER the gate (default 100M): edge/degree sides carry the hint
    val below = graft.queries.Analytics.triangleCountPlan(edges, ne = 4L)
    assert(hints(below).nonEmpty,
      "broadcast hints missing under the edge-count gate")
    // OVER the gate: hints absent — the shuffled node-iterator fallback
    // is taken automatically (AQE may still broadcast from runtime sizes,
    // which cannot driver-OOM the way a forced hint can)
    spark.conf.set("graft.triangles.maxBroadcastEdges", "3")
    try {
      val above = graft.queries.Analytics.triangleCountPlan(edges, ne = 4L)
      assert(hints(above).isEmpty,
        "broadcast hint forced past the edge-count gate")
      val want = Seq((4L, 4L, 1L))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows(below) === want && rows(above) === want,
        "gated paths disagree on the triangle count")
    } finally spark.conf.unset("graft.triangles.maxBroadcastEdges")
  }

  test("winnow: per-row kernel projection — no exchange carries text") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = Dedup.ddWinnow(spark, dir)
    df.collect()
    // fingerprints come from the fused WinnowFps kernel, not the
    // per-window HOF slice fold (the round-10 win — pin it)
    assert(df.queryExecution.executedPlan.toString.contains("graft_winnow_fps"),
      "WinnowFps kernel missing from the winnow plan")
    def nodes(p: SparkPlan): Seq[SparkPlan] = graft.core.Util.planNodes(p)
    val exchanges = nodes(df.queryExecution.executedPlan)
      .collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"winnow exchange carries raw text: " +
          e.child.output.map(_.name).mkString(","))
    }
  }

  test("paths: WindowGroupLimit bounds per-user rows below the exchange") {
    // the rn <= k filter must become a WindowGroupLimit with a Partial
    // mode instance running BEFORE the user_id exchange — that is what
    // turns a 10M-event bot user into <= k rows on the wire and <= k
    // structs in the collect buffer (AQE cannot split an aggregation
    // key; this pushdown is the only shape that bounds per-key state)
    val df = Relational.qPaths(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"qPaths lost the WindowGroupLimit pushdown:\n$p")
    assert(p.contains("Partial"),
      s"qPaths WindowGroupLimit is not partially pushed below the exchange:\n$p")
  }

  test("winnow: collect buffers are the capped aggregate, never plain collect_list") {
    val df = Dedup.ddWinnow(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_collect_sorted_capped"),
      s"winnow pair build lost the capped collect aggregate:\n$p")
    assert(!p.contains("collect_list"),
      s"an unbounded collect_list crept back into winnow:\n$p")
  }

  test("bloom semijoin: literal might_contain prefilter sits below the exact join") {
    val df = graft.queries.Analytics.qBloomSemijoin(spark, dir)
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("might_contain"),
      s"bloom prefilter missing from the probe side:\n$ex")
    assert(ex.contains("LeftSemi"),
      s"exact semi-join missing (bloom alone admits false positives):\n$ex")
  }

  test("tx_keywords: per-doc top-3 pushes a partial group-limit below the exchange") {
    val df = graft.operators.TextAnalysis.txKeywords(spark, dir)
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("WindowGroupLimit"),
      s"keywords top-3 lost the WindowGroupLimit pushdown:\n$ex")
  }

  test("langid eval: one corpus scan feeds the whole confusion rollup") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.operators.TextAnalysis.txLangidEval(spark, dir)
    df.collect()
    val scans = graft.core.Util.planNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    // labels/preds/tp as separate conf consumers re-ran the 4-regexp
    // corpus scan per branch; the role-explode rollup must keep it at 1
    assert(scans.length === 1,
      s"expected a single documents scan, got ${scans.length}")
    // and only (text, lang) are read — never the full row
    assert(scans.head.schema.fieldNames.sorted.toSeq === Seq("lang", "text"))
  }

  test("st_topk: rank prunes to k per window below the final exchange") {
    val df = Relational.stTopk(spark, dir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("st_anomaly: corpus rows shuffle on (type, bucket), offsets broadcast") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Relational.stAnomaly(spark, dir)
    df.collect()
    val nodes = graft.core.Util.planNodes(df.queryExecution.executedPlan)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    // every corpus-row exchange (rows still carrying the value column)
    // must partition by (event_type, _bkt) — event_type alone is the
    // unbounded per-key window partition this operator exists to avoid
    val corpus = shuffles.filter(_.child.output.exists(_.name == "_v"))
    assert(corpus.nonEmpty)
    corpus.foreach { e =>
      val part = e.outputPartitioning.toString
      assert(part.contains("_bkt"),
        s"corpus rows partitioned without the hour bucket: $part")
    }
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "prefix offsets joined by shuffle, not broadcast")
  }

  test("mm_blur: map-only decode — no exchange before the final sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = graft.operators.Multimodal.queries("mm_blur")(spark, dir)
    df.collect()
    val shuffles = graft.core.Util
      .planNodes(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    // the only allowed exchange is the terminal orderBy range partition
    assert(shuffles.length <= 1, s"decode pass shuffles: $shuffles")
    shuffles.foreach(e => assert(
      e.outputPartitioning.toString.contains("rangepartitioning"),
      s"non-sort exchange in a map-only operator: ${e.outputPartitioning}"))
  }

  test("q_expectations: row-level rules fuse — bounded scans per table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.queries.Analytics.qExpectations(spark, dir)
    df.collect()
    val scans = graft.core.Util.planNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    def of(t: String) = scans.count(_.toString.contains(s"$t.parquet"))
    // orders: fused row-rule agg + PK agg + its own RI probe + the
    // lineitem RI's parent side; lineitem: fused row-rule agg + RI child.
    // More means a rule stopped fusing and bought its own pass.
    assert(of("orders") <= 4, s"orders scanned ${of("orders")}x")
    assert(of("lineitem") <= 2, s"lineitem scanned ${of("lineitem")}x")
  }

  test("substr dedup: involved-set broadcast gated on counted size, both paths") {
    val docs = Tables.documents(spark, dir)
    // UNDER the gate the dup-touched id prune carries a broadcast hint;
    // the hint shows in the optimized logical join (robust against the
    // planner also choosing broadcast from size estimates at this sf)
    val under = Dedup.substrDedupPlan(docs, 8, 50, Some(0L))
    val hinted = under.queryExecution.optimizedPlan.toString
    assert(hinted.contains("strategy=broadcast"),
      s"no broadcast hint under the gate:\n$hinted")
    // OVER the gate the hint is absent — the prune plans as a plain
    // shuffled semi-join (AQE may still broadcast from RUNTIME sizes,
    // which cannot driver-OOM the way a forced hint on a corpus-scale
    // id set would; what must never appear is the forced hint)
    val over = Dedup.substrDedupPlan(docs, 8, 50, Some(Long.MaxValue))
    assert(!over.queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"),
      "forced broadcast hint survives over the involved-set gate")
    // the shuffled semi-join keeps exactly the broadcast path's rows
    val underRows = sortedRows(under)
    assert(underRows.nonEmpty)
    assert(sortedRows(over) === underRows, "substr dedup over-gate rows differ")
  }

  test("span dedup: split() never evaluates inside a block HOF lambda") {
    // round-7 corollary: an expression referenced inside a HOF lambda
    // re-evaluates per element — the block-construction lambdas must
    // read the split as a BOUND attribute (projected once per row), or
    // long documents pay O(n_words * n_blocks) char work per doc. A
    // CollapseProject regression would re-inline the split here.
    for ((name, df) <- Seq(
        "paragraphDedup" -> Dedup.paragraphDedup(Tables.documents(spark, dir)),
        "substrDedup" ->
          Dedup.substrDedupPlan(Tables.documents(spark, dir), 8, 50, Some(0L)))) {
      val bad = df.queryExecution.optimizedPlan.toString.linesIterator
        .filter(_.contains("lambdafunction")).filter(_.contains("split("))
        .toSeq
      assert(bad.isEmpty,
        s"$name re-evaluates split per block element:\n${bad.mkString("\n")}")
    }
  }
}
