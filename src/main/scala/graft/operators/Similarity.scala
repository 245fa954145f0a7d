package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.core.Tables

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2.D).
  *
  * Brute force is the exact baseline: O(N·Q) dot products, correct when
  * the query set is small enough to broadcast (the common case — probe
  * vectors vs a 100 TB corpus scans the corpus once, embarrassingly
  * parallel, no shuffle). The scale path is random-hyperplane LSH: bucket
  * id is a projection on both sides, so probing touches only one bucket's
  * partition — a co-partitioned equi-join instead of a cross product.
  */
object Similarity {

  /** Sequential left-fold dot product over array<double> — same operation
    * order as DuckDB's list_dot_product, so oracles match bit-for-bit.
    * Backed by a native codegen'd Catalyst expression
    * ([[graft.functions.VectorExprs]]); the equivalent
    * `aggregate(zip_with(...))` higher-order formulation is
    * CodegenFallback and ~100x slower on all-pairs sweeps. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExprs.dotp(a, b)

  private def normed(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))

  /** Broadcast-queries exact scoring sweep: every (query, corpus) cosine
    * except self-pairs — the shared scan-once core of [[bruteTopK]] and
    * [[rangeSearch]] (one definition so the cosine expression and the
    * self-match filter cannot diverge between operators). */
  private def scoredPairs(emb: DataFrame, isQuery: Column): DataFrame = {
    val all = normed(emb)
    val queries = all.filter(isQuery)
    broadcast(queries.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2")))
      .join(all, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("cos"))
  }

  /** Exact top-k neighbors for each query vector (queries broadcast). */
  def bruteTopK(emb: DataFrame, isQuery: Column, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scoredPairs(emb, isQuery)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
  }

  def annBruteTopK(spark: SparkSession, dir: String): DataFrame =
    bruteTopK(Tables.embeddings(spark, dir), col("vec_id") < 10)
      .orderBy("q_id", "rk")

  val annBruteTopKSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos
      |  FROM q JOIN n ON q_id <> vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  /** Radius (range) search: every corpus vector within a cosine
    * threshold of each query — the retrieval shape when the caller
    * needs "everything this similar", not a fixed k (e.g. contamination
    * sweeps: find all training docs near a benchmark item). Same
    * broadcast-queries/scan-once structure as [[bruteTopK]] but with no
    * window at all: a pure scan→filter, embarrassingly parallel, zero
    * shuffle beyond the final presentation sort. */
  def rangeSearch(emb: DataFrame, isQuery: Column, minCos: Double): DataFrame =
    scoredPairs(emb, isQuery)
      .filter(col("cos") >= minCos)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"))

  def annRange(spark: SparkSession, dir: String): DataFrame =
    rangeSearch(Tables.embeddings(spark, dir), col("vec_id") < 10, 0.3)
      .orderBy("q_id", "neighbor_id")

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack/Clarke/Büttcher,
    * the standard score-free fusion) of the lexical BM25 ranking
    * ([[TextAnalysis.bm25]] over documents) and the cosine ranking over
    * the id-aligned embeddings for the same query set (id ≡ 0 mod 101).
    * Each doc in either top-`k` list scores Σ 1/(60 + rank) over the
    * lists that returned it — rank fusion needs no score calibration
    * between BM25 points and cosine, which is why production hybrid
    * search ships RRF. Both inputs are top-k-bounded per query, so the
    * fusion join + window are negligible beside the two retrievals;
    * arithmetic is two exact 1/(60+r) doubles added in a fixed order —
    * cross-engine identical.
    *
    * The vector leg routes through the PRODUCTION retriever by default
    * ([[lshMultiTopKGatedPlan]] — multi-table multi-probe LSH with
    * counted broadcast gates): the query set here is corpus-derived
    * (|Q| ∝ N/101), so a brute-force leg would be O(N²/101) dot
    * products — corpus-quadratic — while LSH candidates are
    * bucket-collision-bounded. The md5-plane construction is
    * deterministic, so the DuckDB oracle rebuilds the identical
    * candidate sets and the fused output stays hash-exact.
    * `vectorLeg = "brute"` keeps the exact leg for truth-side use
    * (OperatorsSpec measures the fused top-k recall against it). Both
    * legs gate their query-side broadcasts on counted thresholds;
    * construction runs zero jobs (DeferredDF — the gate counts run at
    * first action). */
  def rrfFusion(spark: SparkSession, dir: String, k: Int = 20,
                topk: Int = 5, vectorLeg: String = "lsh"): DataFrame =
    org.apache.spark.sql.graft.DeferredDF(spark,
      StructType(Seq(
        StructField("q_id", LongType, nullable = true),
        StructField("rank", IntegerType, nullable = false),
        StructField("doc_id", LongType, nullable = true),
        StructField("lex_rank", IntegerType, nullable = true),
        StructField("vec_rank", IntegerType, nullable = true),
        StructField("rrf", DoubleType, nullable = true))),
      () => rrfFusionPlan(spark, dir, k, topk, vectorLeg))

  private[graft] def rrfFusionPlan(spark: SparkSession, dir: String,
      k: Int, topk: Int, vectorLeg: String): DataFrame = {
    val lex = TextAnalysis
      .bm25(Tables.documents(spark, dir), qmod = 101, qterms = 3, topk = k)
      .select(col("q_id"), col("doc_id"), col("rank").as("lex_rank"))
    val isQ = pmod(col("vec_id"), lit(101)) === 0
    val emb = Tables.embeddings(spark, dir)
    val vecTopK =
      if (vectorLeg == "brute") bruteTopK(emb, isQ, k)
      else lshMultiTopKGatedPlan(emb, isQ, k)
    val vec = vecTopK.select(col("q_id"),
      col("neighbor_id").as("doc_id"), col("rk").as("vec_rank"))
    val fused = lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("rank"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), col("rrf"))
  }

  def qRrf(spark: SparkSession, dir: String): DataFrame =
    rrfFusion(spark, dir).orderBy("q_id", "rank")

  val qRrfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      |  GROUP BY doc_id, term),
      |dl AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM dl),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qt AS (
      |  SELECT doc_id AS q_id, term FROM (
      |    SELECT doc_id, term,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS qr
      |    FROM tf WHERE doc_id % 101 = 0) WHERE qr <= 3),
      |hit AS (
      |  SELECT qt.q_id, tf.doc_id,
      |    FLOOR(CAST(1048576.0 AS DOUBLE) *
      |      (length(bin(stats.n_docs)) - length(bin(dfx.df))) *
      |      (tf.tf * CAST(2.2 AS DOUBLE)) /
      |      (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
      |        CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))) AS fp
      |  FROM tf JOIN qt USING (term) JOIN dfx USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |  WHERE qt.q_id <> tf.doc_id),
      |sc AS (
      |  SELECT q_id, doc_id, CAST(sum(fp) AS BIGINT) AS score_fp
      |  FROM hit GROUP BY q_id, doc_id),
      |lx AS (
      |  SELECT q_id, doc_id, lex_rank FROM (
      |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
      |      ORDER BY score_fp DESC, doc_id) AS lex_rank FROM sc)
      |  WHERE lex_rank <= 20),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v),
      |planesm AS (
      |  SELECT p,
      |    [CASE WHEN ('0x'||substr(md5(p::VARCHAR||','||d::VARCHAR),1,2))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] AS pw
      |  FROM range(200, 344) t(p)),
      |sbm AS (
      |  SELECT vec_id, any_value(v) AS v, any_value(n2) AS n2,
      |    (p - 200) // 12 AS t,
      |    sum(CASE WHEN list_dot_product(v, pw) > 0
      |             THEN 1 << ((p - 200) % 12) ELSE 0 END) AS bk
      |  FROM n CROSS JOIN planesm GROUP BY vec_id, (p - 200) // 12),
      |qbm AS (SELECT vec_id AS q_id, t, bk FROM sbm WHERE vec_id % 101 = 0),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n
      |      WHERE vec_id % 101 = 0),
      |candm AS (
      |  SELECT DISTINCT qbm.q_id, sbm.vec_id
      |  FROM qbm JOIN sbm ON qbm.t = sbm.t AND bit_count(xor(qbm.bk, sbm.bk)) <= 3
      |  WHERE qbm.q_id <> sbm.vec_id),
      |vx AS (
      |  SELECT q_id, doc_id, vec_rank FROM (
      |    SELECT c.q_id, c.vec_id AS doc_id,
      |      row_number() OVER (PARTITION BY c.q_id ORDER BY
      |        list_dot_product(q.qv, nb.v) / (sqrt(q.qn2) * sqrt(nb.n2)) DESC,
      |        c.vec_id) AS vec_rank
      |    FROM candm c JOIN q ON c.q_id = q.q_id JOIN n nb ON c.vec_id = nb.vec_id)
      |  WHERE vec_rank <= 20),
      |fused AS (
      |  SELECT coalesce(lx.q_id, vx.q_id) AS q_id,
      |    coalesce(lx.doc_id, vx.doc_id) AS doc_id,
      |    lx.lex_rank, vx.vec_rank,
      |    coalesce(CAST(1.0 AS DOUBLE) / (60 + lx.lex_rank),
      |      CAST(0.0 AS DOUBLE)) +
      |    coalesce(CAST(1.0 AS DOUBLE) / (60 + vx.vec_rank),
      |      CAST(0.0 AS DOUBLE)) AS rrf
      |  FROM lx FULL OUTER JOIN vx
      |    ON lx.q_id = vx.q_id AND lx.doc_id = vx.doc_id),
      |rk AS (
      |  SELECT q_id, doc_id, lex_rank, vec_rank, rrf,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY rrf DESC, doc_id) AS rank
      |  FROM fused)
      |SELECT q_id, rank, doc_id, lex_rank, vec_rank, rrf FROM rk
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Filtered vector search: exact top-k among corpus vectors passing a
    * metadata predicate — the production serving shape ("nearest docs
    * in English", "same tenant only"). Strategy is PRE-filtering: the
    * predicate cuts the corpus BEFORE scoring, so recall is exact and k
    * results always fill (post-filtering a plain top-k under-fills
    * whenever fewer than k of the unfiltered neighbors pass — the
    * classic filtered-ANN trap). The predicate is a plain column
    * condition, so Catalyst pushes it into the parquet scan
    * (PushedFilters) and the selectivity is paid at I/O, not compute.
    * At IVF scale the same pre-filter applies inside each probed cell.
    * Queries qualify regardless of their own metadata. */
  def filteredTopK(emb: DataFrame, isQuery: Column, corpusPred: Column,
                   k: Int = 5): DataFrame = {
    val all = emb.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"),
        corpusPred.as("_keep"))
      .withColumn("n2", dot(col("v"), col("v")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    broadcast(all.filter(isQuery).select(col("vec_id").as("q_id"),
        col("v").as("qv"), col("n2").as("qn2")))
      .join(all.filter(col("_keep")), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
  }

  def annFiltered(spark: SparkSession, dir: String): DataFrame =
    filteredTopK(Tables.embeddings(spark, dir), col("vec_id") < 10,
      col("label") % 2 === 0)
      .orderBy("q_id", "rk")

  val annFilteredSql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
      |n AS (SELECT vec_id, v, label, list_dot_product(v, v) AS n2 FROM v),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos
      |  FROM q JOIN n ON q_id <> vec_id
      |  WHERE label % 2 = 0),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  val annRangeSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 10)
      |SELECT q_id, vec_id AS neighbor_id,
      |  list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos
      |FROM q JOIN n ON q_id <> vec_id
      |WHERE list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) >= 0.3
      |ORDER BY q_id, neighbor_id""".stripMargin

  /** Offline ANN evaluation: per-query recall of an approximate top-k
    * list against the exact ground truth — the table a production
    * retrieval deployment computes on a sampled query set before
    * shipping an index configuration (and the generic form of the
    * recall assertions SimilaritySpec makes pointwise). Both inputs are
    * (q_id, neighbor_id[, ...]) result sets; the join is per-query and
    * k-bounded, so evaluation cost is |Q|·k however large the corpus
    * behind the candidates was. */
  def recallEval(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hit = exact.select(col("q_id"), col("neighbor_id"))
      .join(approx.select(col("q_id"), col("neighbor_id"))
          .withColumn("_hit", lit(1L)),
        Seq("q_id", "neighbor_id"), "left_outer")
    hit.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_true"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_true").cast(DoubleType))
          .as("recall"))
  }

  /** ann_recall_eval: both LSH configs measured against brute-force truth
    * at k=10 — `lsh1` is the minimal single-table demo (4 planes, no
    * probing; recall 0–0.6 on near-random data, kept as the honest
    * lower bound) and `lsh_mp` is the production multi-table multi-probe
    * config ([[lshMultiTopK]]; min recall ≥ 0.8 at every SF, pinned by
    * SimilaritySpec). */
  def annRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val isQ = col("vec_id") < 10
    // the exact ground truth feeds BOTH method evaluations, and Spark
    // re-executes shared subtrees per reference — without this lazy
    // checkpoint the brute-force corpus pass (the expensive leg, O(|Q|·N)
    // dot products) runs twice. Its result is |Q|·k rows (~100), so the
    // materialization is bounded at any corpus size (guide §3.3 — the
    // r15 no-action note rejected a CORPUS-sized checkpoint; this is the
    // bounded side).
    val truth = bruteTopK(emb, isQ, k = 10).localCheckpoint(false)
    recallEval(lshTopK(emb, isQ, k = 10), truth)
      .withColumn("method", lit("lsh1"))
      .unionByName(
        recallEval(lshMultiTopK(emb, isQ, k = 10), truth)
          .withColumn("method", lit("lsh_mp")))
      .orderBy("method", "q_id")
  }

  /** Oracle splices the brute, single-table-LSH, and multi-probe CTE
    * chains (identical cosine and tie-break text) and replays the same
    * hit join per method. */
  val annRecallEvalSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 10),
      |exact AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT q_id, vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY
      |        list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) DESC, vec_id) AS rk
      |    FROM q JOIN n ON q_id <> vec_id)
      |  WHERE rk <= 10),
      |planes AS (
      |  SELECT p,
      |    [CASE WHEN ('0x'||substr(md5(p::VARCHAR||','||d::VARCHAR),1,2))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] AS pw
      |  FROM (SELECT unnest([0,1,2,3]) AS p)),
      |b AS (
      |  SELECT vec_id, any_value(v) AS v, any_value(n2) AS n2,
      |    sum(CASE WHEN list_dot_product(v, pw) > 0 THEN 1 << p ELSE 0 END) AS bk
      |  FROM n CROSS JOIN planes GROUP BY vec_id),
      |qb AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, bk FROM b WHERE vec_id < 10),
      |approx1 AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT q_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY
      |        list_dot_product(qv, b.v) / (sqrt(qn2) * sqrt(b.n2)) DESC, b.vec_id) AS rk
      |    FROM qb JOIN b ON qb.bk = b.bk AND qb.q_id <> b.vec_id)
      |  WHERE rk <= 10),
      |planesm AS (
      |  SELECT p,
      |    [CASE WHEN ('0x'||substr(md5(p::VARCHAR||','||d::VARCHAR),1,2))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] AS pw
      |  FROM range(200, 344) t(p)),
      |sbm AS (
      |  SELECT vec_id, any_value(v) AS v, any_value(n2) AS n2,
      |    (p - 200) // 12 AS t,
      |    sum(CASE WHEN list_dot_product(v, pw) > 0
      |             THEN 1 << ((p - 200) % 12) ELSE 0 END) AS bk
      |  FROM n CROSS JOIN planesm GROUP BY vec_id, (p - 200) // 12),
      |qbm AS (SELECT vec_id AS q_id, t, bk FROM sbm WHERE vec_id < 10),
      |candm AS (
      |  SELECT DISTINCT qbm.q_id, sbm.vec_id
      |  FROM qbm JOIN sbm ON qbm.t = sbm.t AND bit_count(xor(qbm.bk, sbm.bk)) <= 3
      |  WHERE qbm.q_id <> sbm.vec_id),
      |approxm AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT c.q_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY c.q_id ORDER BY
      |        list_dot_product(q.qv, nb.v) / (sqrt(q.qn2) * sqrt(nb.n2)) DESC,
      |        c.vec_id) AS rk
      |    FROM candm c JOIN q ON c.q_id = q.q_id JOIN n nb ON c.vec_id = nb.vec_id)
      |  WHERE rk <= 10),
      |approx AS (
      |  SELECT 'lsh1' AS method, q_id, neighbor_id FROM approx1
      |  UNION ALL
      |  SELECT 'lsh_mp' AS method, q_id, neighbor_id FROM approxm),
      |methods AS (SELECT DISTINCT method FROM approx)
      |SELECT m.method, e.q_id, count(*) AS n_true,
      |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hit,
      |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS recall
      |FROM methods m CROSS JOIN exact e LEFT JOIN approx a
      |  ON a.method = m.method AND e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY m.method, e.q_id ORDER BY m.method, e.q_id""".stripMargin

  /** Deterministic ±1 hyperplane weights derived from md5 — no RNG, so
    * every engine (and every test run) builds the same planes. */
  private[operators] def planeWeights(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$plane,$d".getBytes("UTF-8"))
      if ((digest(0) & 1) == 0) 1.0 else -1.0
    }

  /** Random-hyperplane LSH bucket id: sign bit per plane, packed to int.
    * A pure projection — computing it shuffles nothing. `planeOffset`
    * selects a disjoint plane family, so callers can build L independent
    * hash tables (multi-table LSH) for recall. */
  def lshBucket(v: Column, nPlanes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until nPlanes).map { p =>
      val plane = array(planeWeights(planeOffset + p, dim).map(lit): _*)
      when(dot(v, plane) > 0, 1 << p).otherwise(0)
    }.reduce(_ + _)

  /** LSH-bucketed ANN: candidates come only from the query's bucket, so
    * the scan-vs-probe cross product becomes a bucket equi-join. Recall
    * is tested against [[bruteTopK]] in SimilaritySpec; semantics are not
    * portably SQL-expressible (rows-only oracle). */
  def lshTopK(emb: DataFrame, isQuery: Column, k: Int = 5,
              nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val all = normed(emb).withColumn("bucket", lshBucket(col("v"), nPlanes, dim))
    val queries = all.filter(isQuery)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    broadcast(queries.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket")))
      .join(all, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
  }

  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    lshTopK(Tables.embeddings(spark, dir), col("vec_id") < 10)
      .orderBy("q_id", "rk")

  /** All `nPlanes`-bit probe masks within Hamming radius `maxHam` of the
    * query bucket (multi-probe LSH, Lv et al. VLDB'07): flipping ≤maxHam
    * sign bits reaches every bucket a near-neighbor could have landed in
    * after ≤maxHam "wrong side of the plane" events. */
  private[operators] def probeMasks(nPlanes: Int, maxHam: Int): Seq[Int] =
    (0 until (1 << nPlanes)).filter(m => Integer.bitCount(m) <= maxHam)

  /** Production LSH config: `nTables` independent hash tables (disjoint
    * md5 plane families starting at `planeBase`, clear of the single-table
    * planes 0..3 and ann_rp's 100..163) probed at Hamming radius `maxHam`.
    * Candidate generation stays a bucket EQUI-join — the query side
    * pre-expands its probe set (q_id, table, bucket^mask), so the corpus
    * is touched only through (table, bucket) hash lookups, never scanned
    * per query. Shuffle audit for 100 TB: probes are a slim broadcast
    * (q_id, t, bucket) with no vectors; the corpus side is a pure
    * projection (nTables rows per vector, map-side only); scoring happens
    * before the one candidate-sized shuffle, which carries (q_id, vec_id,
    * cos) triplets into a partial-max dedup agg — corpus vectors never
    * cross an exchange. Recall at k=10 on the near-random test embeddings
    * (the hardest case for sign LSH — top-10 cosine ≈ 0.3): min 0.8 /
    * avg ≥ 0.9 at every SF, measured by [[annRecallEval]]. */
  def lshMultiTopK(emb: DataFrame, isQuery: Column, k: Int = 10,
                   nTables: Int = 12, nPlanes: Int = 12, maxHam: Int = 3,
                   dim: Int = 64, planeBase: Int = 200): DataFrame =
    lshMultiTopKImpl(emb, isQuery, k, nTables, nPlanes, maxHam, dim,
      planeBase, gated = false, nQueriesOverride = None)

  /** [[lshMultiTopK]] with the two query-side broadcasts GATED on the
    * COUNTED query-set size (the substrDedup involved-set pattern): the
    * probe table is nQ·nTables·|masks| slim rows and the query-vector
    * table nQ rows, so when the caller's query set derives from the
    * corpus (|Q| ∝ N — [[rrfFusion]]'s mod-sampled queries) a forced
    * broadcast would scale with the corpus and OOM the driver. Under
    * `graft.ann.maxBroadcastProbes` (default 10M probe rows) both sides
    * carry the hint exactly as [[lshMultiTopK]]; over it the candidate
    * join plans as a shuffled (t, bucket) equi-join — both sides
    * co-partition on the bucket key, the scale-correct fallback. The
    * query set is counted once off a lazy checkpoint, which the probe
    * and scoring branches then reuse. */
  private[graft] def lshMultiTopKGatedPlan(emb: DataFrame, isQuery: Column,
      k: Int = 10, nTables: Int = 12, nPlanes: Int = 12, maxHam: Int = 3,
      dim: Int = 64, planeBase: Int = 200,
      nQueriesOverride: Option[Long] = None): DataFrame =
    lshMultiTopKImpl(emb, isQuery, k, nTables, nPlanes, maxHam, dim,
      planeBase, gated = true, nQueriesOverride = nQueriesOverride)

  private def lshMultiTopKImpl(emb: DataFrame, isQuery: Column, k: Int,
      nTables: Int, nPlanes: Int, maxHam: Int, dim: Int, planeBase: Int,
      gated: Boolean, nQueriesOverride: Option[Long]): DataFrame = {
    // The signature projection is compute-heavy (nTables·nPlanes = 144
    // plane dots per vector), so its parallelism must not be capped by
    // the SCAN's split count — a single ~30 MB parquet file arrives as
    // one partition and serializes the whole corpus pass onto one core
    // (measured: the 1.5 s single-task stage dominating the sf0.1 run).
    // Spread only when the scan has fewer splits than cores; at cluster
    // scale inputs arrive with thousands of splits and this branch is a
    // no-op, so no corpus exchange is added where it matters.
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val spread = if (emb.rdd.getNumPartitions < par) emb.repartition(par) else emb
    val all = normed(spread)
    // one per-row kernel call for all nTables bucket ids: the expanded
    // 144-dot expression tree outgrew codegen and fell back to ~500 µs/
    // row interpretation (see VectorExprs.lshBuckets) — bit-identical
    // signs, same plane family
    val planesFlat: Seq[Double] = (0 until nTables).flatMap(t =>
      (0 until nPlanes).flatMap(p =>
        planeWeights(planeBase + t * nPlanes + p, dim)))
    def tableBuckets(v: Column): Column =
      org.apache.spark.sql.graft.VectorExprs
        .lshBuckets(v, planesFlat, nTables, nPlanes)
    val corpus = all.select(col("vec_id"), col("v"), col("n2"),
      posexplode(tableBuckets(col("v")))).toDF("vec_id", "v", "n2", "t", "bucket")
    val qs0 = all.filter(isQuery).select(col("vec_id").as("q_id"),
      col("v").as("qv"), col("n2").as("qn2"))
    // gated mode counts the query set, so checkpoint it lazily: the
    // count materializes Q rows once and the probe + scoring branches
    // reuse them instead of replaying the corpus scan twice
    val qs = if (gated) qs0.localCheckpoint(false) else qs0
    val masks = probeMasks(nPlanes, maxHam)
    val probes = qs.select(col("q_id"), posexplode(tableBuckets(col("qv"))))
      .toDF("q_id", "t", "qb")
      .select(col("q_id"), col("t"),
        explode(array(masks.map(m => col("qb").bitwiseXOR(lit(m))): _*))
          .as("bucket"))
    val underGate = !gated || {
      val maxProbes = emb.sparkSession.conf
        .getOption("graft.ann.maxBroadcastProbes")
        .map(_.toLong).getOrElse(10000000L)
      val nQ = nQueriesOverride.getOrElse(qs.count())
      // divide, don't multiply: nQ * nTables * |masks| could overflow
      nQ <= maxProbes / (nTables.toLong * masks.size)
    }
    val probesGated = if (underGate) broadcast(probes) else probes
    val qsGated = if (underGate) broadcast(qs) else qs
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    probesGated.join(corpus, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(qsGated, Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("cos"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("cos")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
  }

  def annLshMulti(spark: SparkSession, dir: String): DataFrame =
    lshMultiTopK(Tables.embeddings(spark, dir), col("vec_id") < 10)
      .orderBy("q_id", "rk")

  /** Oracle for the multi-probe path: DuckDB rebuilds the 144 md5 planes
    * (200..343), buckets per table, and replaces the probe expansion with
    * its set-equivalent — a per-table join filtered to Hamming ≤ 3 via
    * bit_count(xor(...)) — then reranks the identical candidate set. */
  val annLshMultiSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v),
      |planes AS (
      |  SELECT p,
      |    [CASE WHEN ('0x'||substr(md5(p::VARCHAR||','||d::VARCHAR),1,2))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] AS pw
      |  FROM range(200, 344) t(p)),
      |sb AS (
      |  SELECT vec_id, any_value(v) AS v, any_value(n2) AS n2,
      |    (p - 200) // 12 AS t,
      |    sum(CASE WHEN list_dot_product(v, pw) > 0
      |             THEN 1 << ((p - 200) % 12) ELSE 0 END) AS bk
      |  FROM n CROSS JOIN planes GROUP BY vec_id, (p - 200) // 12),
      |qb AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, t, bk
      |       FROM sb WHERE vec_id < 10),
      |cand AS (
      |  SELECT DISTINCT qb.q_id, sb.vec_id
      |  FROM qb JOIN sb ON qb.t = sb.t AND bit_count(xor(qb.bk, sb.bk)) <= 3
      |  WHERE qb.q_id <> sb.vec_id),
      |q AS (SELECT DISTINCT q_id, qv, qn2 FROM qb),
      |scored AS (
      |  SELECT c.q_id, c.vec_id,
      |    list_dot_product(q.qv, nb.v) / (sqrt(q.qn2) * sqrt(nb.n2)) AS cos
      |  FROM cand c JOIN q ON c.q_id = q.q_id JOIN n nb ON c.vec_id = nb.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 10
      |ORDER BY q_id, rk""".stripMargin

  /** Full SQL oracle for the LSH path: the hyperplanes are deterministic
    * md5 constructions ([[planeWeights]]: +1 iff the first md5 byte of
    * "p,d" is even), so DuckDB rebuilds the identical planes and buckets
    * and the "approximate" query hash-matches bit-for-bit. */
  val annLshTopKSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v),
      |planes AS (
      |  SELECT p,
      |    [CASE WHEN ('0x'||substr(md5(p::VARCHAR||','||d::VARCHAR),1,2))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] AS pw
      |  FROM (SELECT unnest([0,1,2,3]) AS p)),
      |b AS (
      |  SELECT vec_id, any_value(v) AS v, any_value(n2) AS n2,
      |    sum(CASE WHEN list_dot_product(v, pw) > 0 THEN 1 << p ELSE 0 END) AS bk
      |  FROM n CROSS JOIN planes GROUP BY vec_id),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, bk FROM b WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, b.vec_id,
      |    list_dot_product(qv, b.v) / (sqrt(qn2) * sqrt(b.n2)) AS cos
      |  FROM q JOIN b ON q.bk = b.bk AND q.q_id <> b.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  /** Per-label centroids — the coarse-quantizer building block of IVF
    * ANN. posexplode makes the aggregation a flat (label, dim) shape:
    * the shuffle carries n_labels x dim groups, partition-parallel.
    *
    * The double sum is made order-FREE by accumulating exactly-scaled
    * integers: floor(v·2^40) is a pure IEEE op (identical bits in any
    * engine) and integer sums commute, so no ordered fold, no window
    * sort, and map-side partial aggregation works — one plain shuffle.
    * The 2^-40 quantization (~1e-12 on unit-scale embeddings) is
    * irrelevant to a coarse quantizer; what matters is both engines
    * compute the identical mean. (The previous ordered-window
    * formulation matched DuckDB's `sum(v ORDER BY vec_id)` at ~2x the
    * cost of this one.) */
  private val CentScale = 1099511627776.0 // 2^40
  def centroids(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        posexplode(col("embedding").cast(ArrayType(DoubleType))))
      .toDF("label", "dim", "v")
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v") * lit(CentScale)).cast(LongType)
          .cast(DecimalType(38, 0))).as("sum_s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("sum_s").cast(DoubleType) / col("n") / lit(CentScale)).as("mean_v"))

  def annCentroids(spark: SparkSession, dir: String): DataFrame =
    centroids(Tables.embeddings(spark, dir)).orderBy("label", "dim")

  val annCentroidsSql: String =
    """WITH tall AS (
      |  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i))
      |SELECT label, dim,
      |  (CAST(sum(CAST(floor(v * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      |    / count(*)) / 1099511627776.0 AS mean_v
      |FROM tall GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** Per-cell squared distance, shared verbatim by every assignment path
    * so the two paths (and the query-side multi-probe ranking) compute
    * bit-identical d2: ||v||^2 - 2 v.c + ||c||^2 with the same operation
    * order everywhere. */
  private def cellDist(cvec: Column, c2: Column): Column =
    col("n2") - lit(2.0) * dot(col("v"), cvec) + c2

  /** Centroids as one row per cell: (c_label, cvec ordered by dim, c2).
    * c2 = sequential self-dot via the native [[dot]], the same
    * left-to-right fold the literal path computes driver-side — so both
    * assignment paths see identical (cvec, c2) values. nlist rows total:
    * broadcast-dimension-table footprint. */
  private[operators] def centroidVectors(cent: DataFrame): DataFrame =
    cent.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_v")))).as("dm"))
      .select(col("label").cast(LongType).as("c_label"),
        col("dm").getField("mean_v").as("cvec"))
      .withColumn("c2", dot(col("cvec"), col("cvec")))

  /** Literal-fold assignment (nlist <= maxLiteralCells): the quantizer is
    * collected driver-side and folded into the plan as literals, making
    * assignment a pure codegen'd projection (array_min over per-cell
    * (d2, label) structs) — no join, no aggregate, nothing materialized
    * corpus-side. Right only while nlist x dim stays in the tens of
    * thousands of literals (codegen's 64 KB method ceiling). */
  private[operators] def assignCellsLiteral(all0: DataFrame, cent: DataFrame): DataFrame = {
    // Null embeddings are dropped here, exactly like the broadcast path:
    // without the filter a null v makes every per-cell struct
    // (d2=null, label), and array_min's struct ordering sorts null FIELDS
    // first, so the row would silently land in the minimum label —
    // diverging from assignCellsBroadcast (which must pre-filter for
    // NearestCell's null-free contract). One filter definition per path,
    // same predicate, keeps the "purely physical switch" invariant true
    // even on corpora with null vectors (parity spec covers it).
    val all = all0.filter(col("v").isNotNull)
    // nlist x dim — tiny by contract here, ordered by (label, dim);
    // c2 = sequential self-dot, the same left-to-right fold the native
    // dotp / DuckDB list_dot_product performs
    val cents: Array[(Long, Array[Double])] =
      cent.collect()
        .groupBy(_.getAs[Number]("label").longValue())
        .toArray
        .map { case (lbl, rows) =>
          lbl -> rows.sortBy(_.getAs[Number]("dim").longValue())
            .map(_.getAs[Double]("mean_v"))
        }
        .sortBy(_._1)
    val cellStructs = cents.map { case (lbl, cv) =>
      var c2 = 0.0
      var i = 0
      while (i < cv.length) { c2 += cv(i) * cv(i); i += 1 }
      val cvec = array(cv.map(lit).toIndexedSeq: _*)
      struct(cellDist(cvec, lit(c2)).as("d2"), lit(lbl).as("label"))
    }
    all.withColumn("cell",
      array_min(array(cellStructs.toIndexedSeq: _*)).getField("label"))
  }

  /** Broadcast-join assignment (nlist > maxLiteralCells): centroids stay
    * a broadcast DataFrame — never collected to the driver, never folded
    * into the expression tree. The whole quantizer is packed into ONE
    * broadcast row holding array<struct<label, cvec, c2>>, attached to
    * every corpus row by a broadcast nested-loop join (a pointer into the
    * broadcast block, nothing copied), and assignment is the native
    * codegen'd argmin loop [[org.apache.spark.sql.graft.NearestCell]]:
    * O(nlist*dim) register arithmetic per row, zero shuffle, zero
    * aggregation, no N x nlist intermediate rows anywhere. (The obvious
    * alternatives both fail at scale: min(struct) per vec_id is a
    * SortAggregate — struct buffers aren't hash-aggregable, so Spark
    * sorts all N x nlist candidate rows — and the literal fold blows
    * codegen's 64 KB method limit past a few hundred cells.) This is the
    * path that survives production IVF parameters
    * (nlist ~ sqrt(N) ~ 1e4-1e5, dim 768+). Same d2 operation order and
    * (d2, label) tie-break as the literal path, so the two produce
    * identical cells. */
  private[operators] def assignCellsBroadcast(all: DataFrame, cvecs: DataFrame): DataFrame = {
    val packed = cvecs.agg(collect_list(
      struct(col("c_label"), col("cvec"), col("c2"))).as("cents"))
    // NearestCell is non-nullable (a nullable join key would push an
    // isnotnull(argmin) condition into the quantizer-attach join —
    // codegen loss + double eval) and so requires null-free inputs;
    // drop null-embedding rows explicitly here. assignCellsLiteral
    // applies the identical filter, so the two paths agree row-for-row
    // on corpora with null vectors (parity spec covers it).
    all.filter(col("v").isNotNull)
      .crossJoin(broadcast(packed))
      .withColumn("cell", org.apache.spark.sql.graft.VectorExprs.nearestCell(
        col("v"), col("n2"), col("cents")))
      .drop("cents")
  }

  /** Hierarchical (two-level) cell assignment — the scale path when
    * nlist itself grows with the corpus (SemDeDup's k ~ N/cellSize):
    * flat broadcast-argmin assignment is O(nlist·dim) PER ROW, so once k
    * scales with N the quantizer — not the data — dominates (measured:
    * 174 s of the 369 s 2M/k=2048 rehearsal is training+assignment).
    * The standard IVF answer: cluster the CENTROIDS into ~sqrt(nlist)
    * super-cells (a quantizer-sized job — input rows = nlist), route
    * each corpus vector to its nearest super-cell (O(branch·dim)), then
    * argmin only over that super-cell's member centroids
    * (O((nlist/branch)·dim) expected) — ~2·sqrt(nlist)·dim per row
    * instead of nlist·dim. Assignment is APPROXIMATE at super-cell
    * boundaries (the documented IVF trade); near-identical vectors still
    * co-assign — the property semantic dedup rests on, spec-asserted on
    * planted duplicates. */
  private[operators] def assignCellsTwoLevel(all: DataFrame, cvecs: DataFrame,
                                             branch: Int): DataFrame = {
    // level-1 quantizer: kmeans over the centroid table itself
    val superVecs = centroidVectors(
      kmeans(cvecs.select(col("c_label").as("vec_id"),
          col("cvec").as("embedding")), branch, 2)
        .select(col("cell").as("label"), col("dim"), col("mean_v")))
      .localCheckpoint(false) // branch rows, feeds two joins
    // route every trained centroid to its super-cell; pack the member
    // subsets (branch rows of array<struct>, ~nlist entries total)
    val subsets = assignCellsBroadcast(
        cvecs.select(col("c_label"), col("cvec").as("v"), col("c2").as("n2")),
        superVecs)
      .select(col("cell").as("_sc2"),
        struct(col("c_label"), col("v").as("cvec"), col("n2").as("c2")).as("e"))
      .groupBy(col("_sc2")).agg(collect_list(col("e")).as("cents"))
      .localCheckpoint(false)
    // Route the corpus only against LIVE super-cells (ones that own at
    // least one trained centroid): the subsets table is keyed by a
    // RE-assignment of the centroids to the final post-mean-update
    // super-centroids, so a drifted super-cell can end up memberless —
    // a corpus vector routed there would vanish through the inner join
    // below (silent row loss on the scale path). Restricting pass 1 to
    // live super-cells keeps every-non-null-vector-assigned true; the
    // vector just routes to its nearest NON-EMPTY super-cell, the same
    // boundary approximation the two-level trade already documents.
    val liveSuper = superVecs.join(
      subsets.select(col("_sc2")), col("c_label") === col("_sc2"), "left_semi")
    // corpus pass 1: nearest live super-cell; pass 2: argmin within its
    // subset (guaranteed non-empty)
    assignCellsBroadcast(all, liveSuper).withColumnRenamed("cell", "_sc")
      .join(broadcast(subsets), col("_sc") === col("_sc2"))
      .withColumn("cell", org.apache.spark.sql.graft.VectorExprs.nearestCell(
        col("v"), col("n2"), col("cents")))
      .drop("_sc", "_sc2", "cents")
  }

  /** IVF ANN: assign every vector to its nearest centroid cell, then
    * probe only the query's nProbe nearest cells (default 1: the cell it
    * sits in). The complement of [[lshTopK]]: data-adaptive cells instead
    * of fixed hyperplanes.
    *
    * Two assignment paths, chosen by quantizer size: literals folded
    * into a codegen'd projection while nlist <= maxLiteralCells
    * ([[assignCellsLiteral]]), a broadcast-join min-by above that
    * ([[assignCellsBroadcast]]) — identical semantics, so the switch is
    * purely physical. At 100 TB the corpus is scanned once and every
    * operation before the per-cell probe join is map-side (literal path)
    * or one linear shuffle (broadcast path). Deterministic by
    * construction (exact integer-sum centroids, (d2, label) tie-break)
    * → full SQL oracle below.
    *
    * nProbe > 1 ranks cells by the same d2 for the (tiny, broadcast)
    * query set only and probes the nProbe nearest — the standard IVF
    * recall knob; corpus vectors are never duplicated, so result rows
    * stay unique per (q_id, neighbor_id).
    *
    * Laziness: composition NEVER runs an action (PlanSpec asserts zero
    * jobs). The literal path is opt-in via `nlistHint` (the known cell
    * count — IVF deployments always know their nlist): with a hint
    * <= maxLiteralCells the quantizer folds into the projection;
    * without one the broadcast-argmin path is the default — it needs no
    * nlist at all (the packed-quantizer aggregate sizes itself), and it
    * is the right call at scale regardless. Earlier rounds derived the
    * path from an eager countDistinct when the hint was absent; that
    * made every no-hint composition run a corpus job — wrong for
    * streaming/unmaterialized input and useless work everywhere else. */
  def ivfTopK(emb: DataFrame, isQuery: Column => Column, k: Int = 5,
              maxLiteralCells: Int = 256, nProbe: Int = 1,
              nlistHint: Option[Long] = None,
              quantizerSource: Option[DataFrame] = None): DataFrame = {
    val all = normed(emb)
    // quantizerSource (default: the corpus itself) lets a caller search
    // with a FROZEN quantizer — e.g. after ivfAppend lands a batch, the
    // index keeps serving on the base-trained centroids until a
    // recenter is scheduled
    val cent = centroids(quantizerSource.getOrElse(emb))
    // path pick is pure: literal only on an explicit small hint; the
    // no-hint default is the broadcast path, which never needs the count
    val literal = maxLiteralCells > 0 && nlistHint.exists(_ <= maxLiteralCells)
    lazy val cvecs = centroidVectors(cent)
    val cells =
      if (literal) assignCellsLiteral(all, cent)
      else assignCellsBroadcast(all, cvecs)
    val queries0 = cells.filter(isQuery(col("vec_id")))
    // query-side probe list: the nProbe nearest cells by the shared d2.
    // Queries are a broadcast-sized set by contract, so the ranking join
    // below (queries x nlist) is dimension-table work, not corpus work.
    val queries =
      if (nProbe <= 1) queries0.withColumn("probe_cell", col("cell"))
      else {
        val ranked = queries0.select(col("vec_id"), col("v"), col("n2"))
          .crossJoin(broadcast(cvecs))
          .select(col("vec_id"), col("v"), col("n2"),
            struct(cellDist(col("cvec"), col("c2")).as("d2"),
              col("c_label").as("label")).as("cand"))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("cand"))
        ranked.withColumn("cr", row_number().over(w))
          .filter(col("cr") <= nProbe)
          .select(col("vec_id"), col("v"), col("n2"),
            col("cand").getField("label").as("probe_cell"))
      }
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    broadcast(queries.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("probe_cell").as("cell")))
      .join(cells, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
  }

  def annIvfTopK(spark: SparkSession, dir: String): DataFrame =
    // nlist is part of the index contract (10 trained labels in the test
    // tables at every SF) — the hint keeps this query on the literal
    // showcase path without any composition-time action
    ivfTopK(Tables.embeddings(spark, dir), v => v < 10, nlistHint = Some(10L))
      .orderBy("q_id", "rk")

  /** IVF oracle: rebuild the integer-sum centroids, assign each vector
    * to its nearest cell with the same (d2, label) tie-break, probe the
    * query's cell — deterministic end to end, hash-matches Spark. */
  val annIvfTopKSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
      |  FROM embeddings),
      |tall AS (
      |  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)),
      |cent AS (
      |  SELECT label, dim,
      |    (CAST(sum(CAST(floor(val * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      |      / count(*)) / 1099511627776.0 AS mean_v
      |  FROM tall GROUP BY label, dim),
      |cvecs AS (SELECT label, list(mean_v ORDER BY dim) AS cvec FROM cent GROUP BY label),
      |dists AS (
      |  SELECT n.vec_id, n.v, n.n2, c.label,
      |    n.n2 - 2.0 * list_dot_product(n.v, c.cvec) + list_dot_product(c.cvec, c.cvec) AS d2
      |  FROM n CROSS JOIN cvecs c),
      |assign AS (
      |  SELECT vec_id, v, n2, label AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
      |    FROM dists) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, cell FROM assign WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, a.vec_id,
      |    list_dot_product(qv, a.v) / (sqrt(qn2) * sqrt(a.n2)) AS cos
      |  FROM q JOIN assign a ON q.cell = a.cell AND q.q_id <> a.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  /** Per-vector symmetric int8 quantization: (vec_id, qv BINARY, scale).
    * qv is 1/8 the bytes of the double array — at 100 TB of embeddings
    * the difference between a 100 TB and a 12.5 TB ANN scan — and
    * cosine is scale-invariant, so quantized similarity needs no
    * dequantization (store `scale` to reconstruct values: v_i ~
    * qv_i / scale). All three kernels are native codegen'd expressions
    * ([[org.apache.spark.sql.graft.QuantizeInt8]] etc.), deterministic
    * in any engine. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val v = col("embedding").cast(ArrayType(DoubleType))
    // fused kernel: one max-abs pass produces both outputs (two separate
    // expressions would each rescan the vector — codegen can't CSE
    // across distinct expression classes)
    emb.select(col("vec_id"),
      org.apache.spark.sql.graft.VectorExprs.quantizeInt8Pair(v).as("_q"))
      .select(col("vec_id"),
        col("_q").getField("qv").as("qv"),
        col("_q").getField("scale").as("scale"))
  }

  /** Exact top-k under the int8-quantized cosine — the memory-bandwidth-
    * bound sweep shape: same broadcast-queries scan-once plan as
    * [[bruteTopK]], but each corpus row moves 64 bytes instead of 512
    * and the kernel is integer multiply-adds. Integer dots are exact, so
    * the result is deterministic and fully SQL-oracle-checkable; recall
    * vs the float baseline is asserted in OperatorsSpec. */
  def int8TopK(emb: DataFrame, isQuery: Column, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graft.VectorExprs.dotInt8
    // Zero-norm vectors (undefined cosine: 0/0 = NaN ranks ABOVE 1.0
    // under desc in both engines) are excluded — from query and corpus
    // sides alike. Non-finite vectors too: NaN passes a bare `> 0` in
    // BOTH engines (NaN compares greater than everything), but Spark's
    // quantizer maps NaN components to byte 0 ((byte)floor(NaN) == 0)
    // while a double engine keeps the NaN — so NaN/Inf inputs are out
    // of contract and filtered identically here and in the oracle
    // (`n2 < infinity` is false for NaN and Inf under the shared
    // NaN-is-greatest ordering). The filter tests the FLOAT vector
    // BEFORE quantization (equivalent: the max element always packs to
    // byte 127, so qv has a non-zero byte iff v does): filtering on the
    // quantized output instead would push the predicate into the plan as
    // extra copies of the pack kernel (measured 3 evals/row via PLANS.md).
    val n2f = dot(col("embedding").cast(ArrayType(DoubleType)),
      col("embedding").cast(ArrayType(DoubleType)))
    val all = quantizeInt8(emb.filter(
        n2f > 0 && n2f < lit(Double.PositiveInfinity)))
      .withColumn("n2q", dotInt8(col("qv"), col("qv")))
    val queries = all.filter(isQuery)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosq").desc, col("vec_id"))
    broadcast(queries.select(col("vec_id").as("q_id"), col("qv").as("qa"),
        col("n2q").as("qn2")))
      .join(all, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (dotInt8(col("qa"), col("qv")).cast(DoubleType) /
          (sqrt(col("qn2").cast(DoubleType)) * sqrt(col("n2q").cast(DoubleType))))
          .as("cosq"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cosq"))
  }

  def annInt8TopK(spark: SparkSession, dir: String): DataFrame =
    int8TopK(Tables.embeddings(spark, dir), col("vec_id") < 10)
      .orderBy("q_id", "rk")

  /** 1-bit sign quantization + Hamming top-k — the 64x-compression ANN
    * tier below int8 (a 64-dim float vector becomes 8 BYTES; at 100 TB
    * of embeddings the sweep reads 1.6 TB) with XOR+popcount as the
    * whole distance kernel. Sign bits pack into TWO 32-bit halves
    * (sig_lo bits 0..31, sig_hi 32..63) — the simhash/dHash signed-safe
    * carriage, because a bit-63 long pack wraps negative in Spark while
    * DuckDB sums into HUGEINT, and the halves keep both engines in
    * exact positive integers. Same broadcast-queries scan-once plan as
    * bruteTopK; ties broken by vec_id so top-k is deterministic in the
    * heavily-collided Hamming space. Recall vs the float baseline is a
    * spec concern (OperatorsSpec), not an oracle one — the oracle pins
    * the quantized result bit-for-bit. */
  def hammingTopK(emb: DataFrame, isQuery: Column, k: Int = 5): DataFrame = {
    // native SignPack codegen kernel, not the aggregate(transform(...))
    // HOF (CodegenFallback — interpreted lambda per corpus row, and the
    // packing projection falls out of whole-stage codegen; the HOF
    // formulation is spec-pinned bit-equal in OperatorsSpec)
    import org.apache.spark.sql.graft.VectorExprs.signPack
    val sigs = emb.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("_v"))
      .filter(size(col("_v")) === 64)
      .select(col("vec_id"), signPack(col("_v"), 0).as("sig_lo"),
        signPack(col("_v"), 32).as("sig_hi"))
    val queries = sigs.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("sig_lo").as("qlo"),
        col("sig_hi").as("qhi"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    broadcast(queries)
      .join(sigs, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("qlo").bitwiseXOR(col("sig_lo"))) +
          bit_count(col("qhi").bitwiseXOR(col("sig_hi"))))
          .cast(LongType).as("hamming"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"),
        col("hamming"))
  }

  def annHammingTopK(spark: SparkSession, dir: String): DataFrame =
    hammingTopK(Tables.embeddings(spark, dir), col("vec_id") < 10)
      .orderBy("q_id", "rk")

  val annHammingTopKSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |           WHERE len(embedding) = 64),
      |s AS (SELECT vec_id,
      |        CAST(list_sum(list_transform(range(0, 32), d ->
      |          CASE WHEN v[d + 1] > 0 THEN (1::BIGINT << d) ELSE 0 END))
      |          AS BIGINT) AS sig_lo,
      |        CAST(list_sum(list_transform(range(32, 64), d ->
      |          CASE WHEN v[d + 1] > 0 THEN (1::BIGINT << (d - 32)) ELSE 0 END))
      |          AS BIGINT) AS sig_hi
      |      FROM v),
      |q AS (SELECT vec_id AS q_id, sig_lo AS qlo, sig_hi AS qhi FROM s
      |      WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, s.vec_id,
      |    CAST(bit_count(xor(qlo, s.sig_lo)) + bit_count(xor(qhi, s.sig_hi))
      |      AS BIGINT) AS hamming
      |  FROM q JOIN s ON q_id <> s.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id, hamming, CAST(
      |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id)
      |    AS INTEGER) AS rk
      |  FROM scored)
      |SELECT q_id, vec_id AS neighbor_id, rk, hamming FROM ranked
      |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** DuckDB rebuilds the identical quantization (same IEEE scale and
    * floor(x*scale + 0.5) bytes) and the integer dots are exact, so the
    * quantized ANN hash-matches bit-for-bit. */
  val annInt8TopKSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      |             AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |                 < 'infinity'::DOUBLE),
      |m AS (SELECT vec_id, v,
      |        list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
      |q AS (SELECT vec_id,
      |        list_transform(v, x -> floor(x *
      |          (CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END) + 0.5)) AS qv
      |      FROM m),
      |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS n2 FROM q),
      |qs AS (SELECT vec_id AS q_id, qv AS qa, n2 AS qn2 FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, n.vec_id,
      |    list_dot_product(qa, n.qv) / (sqrt(qn2) * sqrt(n.n2)) AS cosq
      |  FROM qs JOIN n ON q_id <> n.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, cosq,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosq DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, cosq FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  /** Lloyd k-means — trains the IVF coarse quantizer itself (the
    * [[centroids]]/[[ivfTopK]] pair consumes labels; this PRODUCES them
    * when no labels exist, which is the normal case for a raw embedding
    * corpus). Each iteration is the scale-safe pair already proven at
    * 2M rows: broadcast packed-quantizer + native argmin assignment
    * (zero shuffle), then order-free integer-scaled means (one linear
    * shuffle of (cell, dim) partial sums). Deterministic end to end —
    * seeds are the k vectors with the smallest md5(vec_id) (a TakeOrdered
    * top-k, no global sort), assignment ties break by (d2, label), means
    * are exact — so a fixed-iteration run is bit-reproducible in any
    * engine and the full SQL oracle below replays it. A cell that loses
    * every member simply disappears (k shrinks), identically everywhere.
    * iters is small and fixed by contract (each iteration re-scans the
    * corpus; a long-running trainer would checkpoint between rounds). */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val all = normed(emb)
    val hashOrder = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
    val seeds = all.orderBy(hashOrder: _*).limit(k) // TakeOrdered: top-k, scale-safe
    val w = Window.orderBy(hashOrder: _*) // over k rows only
    var cent = seeds
      .withColumn("label", row_number().over(w).cast(LongType) - 1)
      .select(col("label"), posexplode(col("v")))
      .toDF("label", "dim", "mean_v")
    for (_ <- 1 to iters) {
      val assigned = assignCellsBroadcast(all, centroidVectors(cent))
      cent = centroids(
        assigned.select(col("cell").as("label"), col("v").as("embedding")))
    }
    cent.select(col("label").as("cell"), col("dim"), col("mean_v"))
  }

  def annKmeans(spark: SparkSession, dir: String): DataFrame =
    kmeans(Tables.embeddings(spark, dir)).orderBy("cell", "dim")

  /** Replays both Lloyd iterations: same seed order (md5 rank), same d2
    * operation order, same (d2, label) tie-break, same integer-scaled
    * means — hash-matches Spark bit-for-bit. */
  val annKmeansSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
      |  FROM embeddings),
      |ranked AS (
      |  SELECT vec_id, v,
      |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS label
      |  FROM n),
      |c0 AS (
      |  SELECT label, i - 1 AS dim, CAST(v[i] AS DOUBLE) AS mean_v
      |  FROM ranked, unnest(range(1, len(v) + 1)) r(i)
      |  WHERE label < 8),
      |cv0 AS (SELECT label, list(mean_v ORDER BY dim) AS cvec FROM c0 GROUP BY label),
      |d0 AS (
      |  SELECT n.vec_id, n.v, c.label,
      |    n.n2 - 2.0 * list_dot_product(n.v, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec) AS d2
      |  FROM n CROSS JOIN cv0 c),
      |a0 AS (
      |  SELECT vec_id, v, label AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
      |    FROM d0) WHERE rn = 1),
      |c1 AS (
      |  SELECT cell AS label, i - 1 AS dim,
      |    (CAST(sum(CAST(floor(v[i] * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      |      / count(*)) / 1099511627776.0 AS mean_v
      |  FROM a0, unnest(range(1, len(v) + 1)) r(i)
      |  GROUP BY cell, i),
      |cv1 AS (SELECT label, list(mean_v ORDER BY dim) AS cvec FROM c1 GROUP BY label),
      |d1 AS (
      |  SELECT n.vec_id, n.v, c.label,
      |    n.n2 - 2.0 * list_dot_product(n.v, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec) AS d2
      |  FROM n CROSS JOIN cv1 c),
      |a1 AS (
      |  SELECT vec_id, v, label AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
      |    FROM d1) WHERE rn = 1),
      |c2 AS (
      |  SELECT cell, i - 1 AS dim,
      |    (CAST(sum(CAST(floor(v[i] * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      |      / count(*)) / 1099511627776.0 AS mean_v
      |  FROM a1, unnest(range(1, len(v) + 1)) r(i)
      |  GROUP BY cell, i)
      |SELECT cell, dim, mean_v FROM c2 ORDER BY cell, dim""".stripMargin

  /** IVF-PQ: the production memory-bound ANN index — coarse IVF cells
    * plus int8-quantized RESIDUALS (v - centroid). Residuals are an
    * order of magnitude smaller than raw vectors, so a symmetric int8
    * grid loses far less than quantizing v directly; the stored index
    * row is (vec_id, cell, qr BINARY, rscale) ≈ 80 bytes vs 512 — the
    * difference between scanning 100 TB and 15 TB. Queries stay float
    * (asymmetric distance, ADC): each candidate is scored against the
    * reconstruction x̃ = cvec + qr/rscale via the algebraic split
    * dot(q,x̃) = dot(q,c) + dot(q,r̃) and |x̃|² = c² + 2·dot(c,r̃) + |r̃|²,
    * so the scan reads only index bytes and the per-cell dot(q,c) terms
    * come from the broadcast (nlist-row) quantizer. Every step —
    * broadcast argmin assignment, SubVec residual, the fused int8 pack,
    * IEEE dequantization, sequential-fold dots — is deterministic, so
    * the full SQL oracle replays it bit-for-bit. The quantizer is
    * lazily localCheckpoint'ed (nlist rows, tiny): composition stays
    * action-free, the three uses share one materialization, and the
    * blocks are freed when the plan is GC'd — unlike cache(), whose
    * CacheManager entries would accumulate across invocations in a
    * long-lived session. */
  def ivfPqTopK(emb: DataFrame, isQuery: Column => Column, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graft.VectorExprs.{dequantizeInt8, quantizeInt8Pair, subVec}
    // zero-norm / non-finite vectors out of contract — same guard and
    // rationale as int8TopK, applied before anything else
    val n2f = dot(col("embedding").cast(ArrayType(DoubleType)),
      col("embedding").cast(ArrayType(DoubleType)))
    val femb = emb.filter(n2f > 0 && n2f < lit(Double.PositiveInfinity))
    val all = normed(femb)
    val cvecs = centroidVectors(centroids(femb)).localCheckpoint(false)
    val assigned = assignCellsBroadcast(all, cvecs)
    // the stored index: quantized residual per row, nothing float-wide
    val index = assigned
      .join(broadcast(cvecs), col("cell") === col("c_label"))
      .withColumn("_rq", quantizeInt8Pair(subVec(col("v"), col("cvec"))))
      .select(col("vec_id"), col("cell"),
        col("_rq").getField("qv").as("qr"),
        col("_rq").getField("scale").as("rscale"))
    val queries = assigned.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv2"),
        col("n2").as("qn2"), col("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cospq").desc, col("vec_id"))
    broadcast(queries)
      .join(index, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(cvecs), col("cell") === col("c_label"))
      .withColumn("rt", dequantizeInt8(col("qr"), col("rscale")))
      .select(col("q_id"), col("vec_id"),
        ((dot(col("qv2"), col("cvec")) + dot(col("qv2"), col("rt"))) /
          (sqrt(col("qn2")) * sqrt(col("c2") +
            lit(2.0) * dot(col("cvec"), col("rt")) + dot(col("rt"), col("rt")))))
          .as("cospq"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cospq"))
  }

  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopK(Tables.embeddings(spark, dir), v => v < 10).orderBy("q_id", "rk")

  /** Replays the whole IVF-PQ chain: integer-sum centroids, (d2, label)
    * argmin assignment, elementwise residual, max-abs int8 pack, IEEE
    * reconstruction, and the ADC cosine with the identical operation
    * order — hash-matches Spark bit-for-bit. */
  /** Shared IVF-PQ oracle CTE chain, through `ranked` — a NAMED
    * constant so the rerank oracles extend it structurally instead of
    * splicing the rendered SQL at an indexOf anchor (where a reworded
    * final select returns -1 and substring throws during object init,
    * killing every Similarity registration). */
  private val annIvfPqCtes: String =
    """WITH n AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
      |  FROM embeddings
      |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |        < 'infinity'::DOUBLE),
      |tall AS (
      |  SELECT label, i - 1 AS dim, CAST(v[i] AS DOUBLE) AS val
      |  FROM n, unnest(range(1, len(v) + 1)) r(i)),
      |cent AS (
      |  SELECT label, dim,
      |    (CAST(sum(CAST(floor(val * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      |      / count(*)) / 1099511627776.0 AS mean_v
      |  FROM tall GROUP BY label, dim),
      |cv AS (SELECT label, list(mean_v ORDER BY dim) AS cvec FROM cent GROUP BY label),
      |cv2 AS (SELECT label, cvec, list_dot_product(cvec, cvec) AS c2 FROM cv),
      |dists AS (
      |  SELECT n.vec_id, n.v, n.n2, c.label,
      |    n.n2 - 2.0 * list_dot_product(n.v, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec) AS d2
      |  FROM n CROSS JOIN cv2 c),
      |assign AS (
      |  SELECT vec_id, v, n2, label AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
      |    FROM dists) WHERE rn = 1),
      |rq AS (
      |  SELECT a.vec_id, a.cell,
      |    [a.v[i + 1] - c.cvec[i + 1] for i in range(0, 64)] AS r
      |  FROM assign a JOIN cv2 c ON a.cell = c.label),
      |rs AS (
      |  SELECT vec_id, cell, r,
      |    list_max(list_transform(r, x -> abs(x))) AS mx
      |  FROM rq),
      |rb AS (
      |  SELECT vec_id, cell,
      |    CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS rscale,
      |    list_transform(r, x ->
      |      floor(x * (CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END) + 0.5)) AS qr
      |  FROM rs),
      |rt AS (
      |  SELECT vec_id, cell,
      |    list_transform(qr, b ->
      |      CASE WHEN rscale = 0 THEN 0.0 ELSE b / rscale END) AS rv
      |  FROM rb),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, cell
      |      FROM assign WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, t.vec_id,
      |    (list_dot_product(qv, c.cvec) + list_dot_product(qv, t.rv)) /
      |    (sqrt(qn2) * sqrt(c.c2 + 2.0 * list_dot_product(c.cvec, t.rv)
      |       + list_dot_product(t.rv, t.rv))) AS cospq
      |  FROM q JOIN rt t ON q.cell = t.cell AND q.q_id <> t.vec_id
      |  JOIN cv2 c ON t.cell = c.label),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, cospq,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cospq DESC, vec_id) AS rk
      |  FROM scored)""".stripMargin

  val annIvfPqTopKSql: String = annIvfPqCtes + "\n" +
    """SELECT q_id, neighbor_id, rk, cospq FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  /** Random-projection dimensionality reduction + search: project 64-dim
    * embeddings onto `rDim` deterministic ±1 hyperplanes (disjoint md5
    * plane family, offset 100) and run the exact sweep in the REDUCED
    * space — the Johnson-Lindenstrauss preprocessing that cuts ANN scan
    * bytes 4x (16 doubles/row instead of 64) while approximately
    * preserving angles. At corpus scale the reduced table is
    * materialized once and every downstream stage (LSH tables, IVF
    * training, brute rerank candidates) reads it instead of the full
    * vectors. The reduction is a pure projection (zero shuffle); the
    * sweep is the broadcast-queries scan-once shape of [[bruteTopK]].
    *
    * What 16 dims preserves (and what not): genuine near-dups keep their
    * margin (planted cos≈0.999 partners surface at the top of the
    * reduced sweep — OperatorsSpec asserts >= 0.9 recall), while
    * near-tie background orderings (this corpus's random positive
    * vectors sit at cos 0.75 ± 0.02) are NOT preserved — measured 0.14-
    * 0.16 top-5 agreement regardless of rDim, which is the data regime,
    * not the operator: no projection can rank ties. Use it as the
    * near-dup / candidate-generation front end, not as a ranker. */
  def rpTopK(emb: DataFrame, isQuery: Column, k: Int = 5, rDim: Int = 16,
             dim: Int = 64, planeOffset: Int = 100): DataFrame = {
    // zero-norm / non-finite vectors out of contract — same guard as
    // int8TopK/ivfPqTopK: a zero vector's reduced norm is 0, its cosine
    // NaN, and NaN ranks FIRST under desc in both engines
    val n2f = dot(col("embedding").cast(ArrayType(DoubleType)),
      col("embedding").cast(ArrayType(DoubleType)))
    val femb = emb.filter(n2f > 0 && n2f < lit(Double.PositiveInfinity))
    val reduced = femb.select(col("vec_id"),
        array((0 until rDim).map { p =>
          dot(col("embedding").cast(ArrayType(DoubleType)),
            array(planeWeights(planeOffset + p, dim).map(lit): _*))
        }: _*).as("rv"))
      .withColumn("rn2", dot(col("rv"), col("rv")))
    val queries = reduced.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("rv").as("qv"), col("rn2").as("qn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rcos").desc, col("vec_id"))
    broadcast(queries).join(reduced, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("rv")) / (sqrt(col("qn2")) * sqrt(col("rn2")))).as("rcos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("rcos"))
  }

  def annRp(spark: SparkSession, dir: String): DataFrame =
    rpTopK(Tables.embeddings(spark, dir), col("vec_id") < 10)
      .orderBy("q_id", "rk")

  val annRpSql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |        < 'infinity'::DOUBLE),
      |planes AS (
      |  SELECT p,
      |    [CASE WHEN ('0x'||substr(md5((100 + p)::VARCHAR||','||d::VARCHAR),1,2))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] AS pw
      |  FROM (SELECT unnest(range(0, 16)) AS p)),
      |r0 AS (
      |  SELECT vec_id, p, list_dot_product(v, pw) AS x
      |  FROM v CROSS JOIN planes),
      |r AS (SELECT vec_id, list(x ORDER BY p) AS rv FROM r0 GROUP BY vec_id),
      |rn AS (SELECT vec_id, rv, list_dot_product(rv, rv) AS rn2 FROM r),
      |q AS (SELECT vec_id AS q_id, rv AS qv, rn2 AS qn2 FROM rn WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    list_dot_product(qv, rv) / (sqrt(qn2) * sqrt(rn2)) AS rcos
      |  FROM q JOIN rn ON q_id <> vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id AS neighbor_id, rcos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY rcos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT q_id, neighbor_id, rk, rcos FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  /** Two-stage retrieval: IVF-PQ candidate generation + exact float
    * rerank — the production ANN serving shape. The ADC scan over ~80-byte
    * index rows overfetches `overfetch` candidates per query (cheap, reads
    * no float vectors), then ONLY those |Q|·overfetch candidates fetch
    * their full vectors for an exact cosine rerank to the final top-k.
    * Guarantee the spec asserts: any true top-k neighbor that survives
    * candidate generation is in the reranked top-k (rerank keeps the best
    * k of the candidate set by TRUE cosine), so rerank recall >= raw ADC
    * recall, pointwise.
    *
    * Scale: stage 1 is [[ivfPqTopK]] (broadcast quantizer, cell-join,
    * index-bytes scan); stage 2 broadcasts the tiny candidate list
    * against the corpus — per-query cost overfetch float dots, not a
    * corpus rescan. */
  def ivfPqRerank(emb: DataFrame, isQuery: Column => Column, k: Int = 5,
                  overfetch: Int = 20): DataFrame = {
    val n2f = dot(col("embedding").cast(ArrayType(DoubleType)),
      col("embedding").cast(ArrayType(DoubleType)))
    val all = normed(emb.filter(n2f > 0 && n2f < lit(Double.PositiveInfinity)))
    val cand = ivfPqTopK(emb, isQuery, overfetch)
      .select(col("q_id"), col("neighbor_id"))
    val qv = all.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(cand.join(qv, Seq("q_id")))
      .join(all, col("neighbor_id") === col("vec_id"))
      .select(col("q_id"), col("neighbor_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rk"), col("cos"))
  }

  def annRerank(spark: SparkSession, dir: String): DataFrame =
    ivfPqRerank(Tables.embeddings(spark, dir), v => v < 10).orderBy("q_id", "rk")

  /** Stage 1 replays the full IVF-PQ chain (same CTEs as ann_ivfpq_topk)
    * at overfetch depth; stage 2 joins candidates back to the float
    * vectors for the exact-cosine rerank. */
  val annRerankSql: String =
    annIvfPqCtes + ",\n" +
      """cand AS (SELECT q_id, neighbor_id FROM ranked WHERE rk <= 20),
        |ex AS (
        |  SELECT c.q_id, c.neighbor_id,
        |    list_dot_product(q.qv, nb.v) / (sqrt(q.qn2) * sqrt(nb.n2)) AS cos
        |  FROM cand c JOIN q ON c.q_id = q.q_id
        |  JOIN n nb ON c.neighbor_id = nb.vec_id),
        |rr AS (
        |  SELECT q_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
        |  FROM ex)
        |SELECT q_id, neighbor_id, rk, cos FROM rr WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin

  /** Broadcast-weight LINEAR reranker over the overfetch candidates —
    * the learned-reranker serving shape that closes the two-stage
    * retrieval loop (stage 1 recalls, stage 2 REORDERS by a model, not
    * just by exact distance). Features per (query, candidate) pair are
    * all computable from columns the exact rerank already touches —
    * exact cosine, the stage-1 ADC approximate cosine (how much the
    * index flattered this candidate), and the norm ratio
    * qn2/(qn2+n2) — so the plan is ivfPqRerank's plan with three extra
    * arithmetic columns: zero new shuffle shape, and the "model" is
    * three broadcast weight constants (a trained reranker swaps in its
    * coefficients, nothing else changes — the tx_mlquality contract).
    *
    * Default weights are the mlQuality md5 chain (w_i =
    * md5Long("rw:i") 40-bit / 2^40 * 2 - 1): deterministic constants
    * both engines derive identically, constant-folded by Catalyst.
    * Every feature is cross-engine bit-exact (cos and cospq already
    * hash-checked by ann_rerank/ann_ivfpq_topk; the ratio and the
    * weighted sum use one fixed association order in both engines), so
    * the score hash-matches the oracle. With weights (1, 0, 0) the
    * ranking equals [[ivfPqRerank]]'s pointwise (spec-pinned). */
  def ivfPqRerankMl(emb: DataFrame, isQuery: Column => Column, k: Int = 5,
                    overfetch: Int = 20,
                    weights: Option[(Column, Column, Column)] = None)
      : DataFrame = {
    import org.apache.spark.sql.graft.VectorExprs.md5Long
    def wMd5(i: Int): Column =
      (md5Long(lit(s"rw:$i"), 1, 10).cast(DoubleType) /
        lit(1099511627776.0)) * lit(2.0) - lit(1.0)
    val (w0, w1, w2) = weights.getOrElse((wMd5(0), wMd5(1), wMd5(2)))
    val n2f = dot(col("embedding").cast(ArrayType(DoubleType)),
      col("embedding").cast(ArrayType(DoubleType)))
    val all = normed(emb.filter(n2f > 0 && n2f < lit(Double.PositiveInfinity)))
    val cand = ivfPqTopK(emb, isQuery, overfetch)
      .select(col("q_id"), col("neighbor_id"), col("cospq"))
    val qv = all.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("mlscore").desc, col("neighbor_id"))
    broadcast(cand.join(qv, Seq("q_id")))
      .join(all, col("neighbor_id") === col("vec_id"))
      .select(col("q_id"), col("neighbor_id"),
        // one fixed association order — (w0·cos + w1·cospq) + w2·nr —
        // mirrored verbatim in the oracle so the double is bit-exact
        ((w0 * (dot(col("qv"), col("v")) /
            (sqrt(col("qn2")) * sqrt(col("n2")))) +
          w1 * col("cospq")) +
          w2 * (col("qn2") / (col("qn2") + col("n2")))).as("mlscore"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rk"), col("mlscore"))
  }

  def annRerankMl(spark: SparkSession, dir: String): DataFrame =
    ivfPqRerankMl(Tables.embeddings(spark, dir), v => v < 10)
      .orderBy("q_id", "rk")

  /** Same IVF-PQ stage-1 prefix as ann_rerank; the rerank CTE carries
    * cospq through and scores the fixed-order weighted sum. */
  val annRerankMlSql: String =
    annIvfPqCtes + ",\n" +
      """cand AS (SELECT q_id, neighbor_id, cospq FROM ranked WHERE rk <= 20),
        |wts AS (SELECT
        |  ('0x'||substr(md5('rw:0'),1,10))::BIGINT / 1099511627776.0 * 2.0 - 1.0 AS w0,
        |  ('0x'||substr(md5('rw:1'),1,10))::BIGINT / 1099511627776.0 * 2.0 - 1.0 AS w1,
        |  ('0x'||substr(md5('rw:2'),1,10))::BIGINT / 1099511627776.0 * 2.0 - 1.0 AS w2),
        |ex AS (
        |  SELECT c.q_id, c.neighbor_id,
        |    (w0 * (list_dot_product(q.qv, nb.v) / (sqrt(q.qn2) * sqrt(nb.n2)))
        |      + w1 * c.cospq)
        |      + w2 * (q.qn2 / (q.qn2 + nb.n2)) AS mlscore
        |  FROM cand c JOIN q ON c.q_id = q.q_id
        |  JOIN n nb ON c.neighbor_id = nb.vec_id CROSS JOIN wts),
        |rr AS (
        |  SELECT q_id, neighbor_id, mlscore,
        |    row_number() OVER (PARTITION BY q_id ORDER BY mlscore DESC, neighbor_id) AS rk
        |  FROM ex)
        |SELECT q_id, neighbor_id, rk, mlscore FROM rr WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin

  /** Incremental IVF index maintenance — the steady-state production
    * loop beside dd_incr_near/q_curation_incr: a NEW BATCH of vectors is
    * assigned to the EXISTING trained quantizer (no retrain — the
    * centroids are frozen from the base corpus), and the audit output is
    * per-cell occupancy drift: how the cell's share of the index moved
    * once the batch landed, plus a recenter-needed flag when the drift
    * exceeds the threshold (the signal to schedule a quantizer retrain).
    *
    * Scale shape: the only corpus-sized work is one broadcast-argmin
    * assignment pass over base+batch (the same [[assignCellsBroadcast]]
    * kernel ivf_topk uses — map-only against a broadcast quantizer) into
    * a map-combined per-cell count; the drift arithmetic runs on nlist
    * rows. The batch never sees the base VECTORS — only the nlist-sized
    * quantizer — which is what makes appending cheap at 100 TB.
    *
    * Determinism: counts are exact; each share is one IEEE division and
    * drift one subtraction — bit-identical cross-engine. Append-then-
    * search equivalence (assigning base and batch separately, then
    * searching the union, equals one-shot assignment of the merged
    * corpus under the same frozen quantizer) is spec-pinned. */
  /** Frozen-quantizer cell assignment, public for the append loop:
    * (vec_id, cell) for every vector of `emb` against centroids trained
    * on `quantizerSource`. Per-row deterministic, so assigning a base
    * corpus and a later batch separately and unioning equals one-shot
    * assignment of the merged corpus (spec-pinned) — the property that
    * makes retrain-free appends sound. */
  def ivfAssign(emb: DataFrame, quantizerSource: DataFrame): DataFrame =
    assignCellsBroadcast(normed(emb),
      centroidVectors(centroids(quantizerSource)))
      .select(col("vec_id"), col("cell"))

  def ivfAppend(emb: DataFrame, isNew: Column => Column,
                driftThreshold: Double = 0.1): DataFrame = {
    val all = normed(emb)
    // frozen quantizer: per-label integer-sum centroids of the BASE only
    val cvecs = centroidVectors(centroids(emb.filter(!isNew(col("vec_id")))))
    val cells = assignCellsBroadcast(all, cvecs)
    val occ = cells.groupBy(col("cell")).agg(
      sum(when(isNew(col("vec_id")), 0L).otherwise(1L)).as("n_base"),
      sum(when(isNew(col("vec_id")), 1L).otherwise(0L)).as("n_new"))
    // nlist rows by contract — the single-partition window is index
    // metadata, never corpus data
    val w = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    occ
      .withColumn("tot_base", sum(col("n_base")).over(w))
      .withColumn("tot_all", sum(col("n_base") + col("n_new")).over(w))
      .select(col("cell"), col("n_base"), col("n_new"),
        (col("n_base").cast(DoubleType) / col("tot_base").cast(DoubleType))
          .as("share_base"),
        ((col("n_base") + col("n_new")).cast(DoubleType) /
          col("tot_all").cast(DoubleType)).as("share_all"))
      .withColumn("drift", col("share_all") - col("share_base"))
      .withColumn("recenter", abs(col("drift")) > lit(driftThreshold))
  }

  def annIvfAppend(spark: SparkSession, dir: String): DataFrame =
    ivfAppend(Tables.embeddings(spark, dir), v => v % 5 === 0)
      .orderBy("cell")

  /** Replays the frozen-quantizer append: centroids from the base rows
    * only, assignment of ALL rows against them (same (d2, label)
    * tie-break as ann_ivf_topk), per-cell occupancy and drift. */
  val annIvfAppendSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
      |  FROM embeddings),
      |tall AS (
      |  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)
      |  WHERE vec_id % 5 <> 0),
      |cent AS (
      |  SELECT label, dim,
      |    (CAST(sum(CAST(floor(val * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      |      / count(*)) / 1099511627776.0 AS mean_v
      |  FROM tall GROUP BY label, dim),
      |cvecs AS (SELECT label, list(mean_v ORDER BY dim) AS cvec FROM cent GROUP BY label),
      |dists AS (
      |  SELECT n.vec_id, c.label,
      |    n.n2 - 2.0 * list_dot_product(n.v, c.cvec) + list_dot_product(c.cvec, c.cvec) AS d2
      |  FROM n CROSS JOIN cvecs c),
      |assign AS (
      |  SELECT vec_id, label AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
      |    FROM dists) WHERE rn = 1),
      |occ AS (
      |  SELECT cell,
      |    sum(CASE WHEN vec_id % 5 = 0 THEN 0 ELSE 1 END) AS n_base,
      |    sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS n_new
      |  FROM assign GROUP BY cell),
      |tot AS (
      |  SELECT *, sum(n_base) OVER () AS tot_base,
      |    sum(n_base + n_new) OVER () AS tot_all
      |  FROM occ),
      |s AS (
      |  SELECT cell, CAST(n_base AS BIGINT) AS n_base,
      |    CAST(n_new AS BIGINT) AS n_new,
      |    CAST(n_base AS DOUBLE) / CAST(tot_base AS DOUBLE) AS share_base,
      |    CAST(n_base + n_new AS DOUBLE) / CAST(tot_all AS DOUBLE) AS share_all
      |  FROM tot)
      |SELECT cell, n_base, n_new, share_base, share_all,
      |  share_all - share_base AS drift,
      |  abs(share_all - share_base) > 0.1 AS recenter
      |FROM s ORDER BY cell""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_append" -> (annIvfAppend _),
    "ann_recall_eval" -> (annRecallEval _),
    "ann_ivfpq_topk" -> (annIvfPqTopK _),
    "ann_rerank" -> (annRerank _),
    "ann_rerank_ml" -> (annRerankMl _),
    "ann_rp" -> (annRp _),
    "ann_kmeans" -> (annKmeans _),
    "ann_int8_topk" -> (annInt8TopK _),
    "ann_hamming_topk" -> (annHammingTopK _),
    "ann_brute_topk" -> (annBruteTopK _),
    "q_rrf" -> (qRrf _),
    "ann_filtered" -> (annFiltered _),
    "ann_lsh_topk" -> (annLshTopK _),
    "ann_lsh_multi" -> (annLshMulti _),
    "ann_ivf_topk" -> (annIvfTopK _),
    "ann_range" -> (annRange _),
    "ann_centroids" -> (annCentroids _))

  val oracles: Map[String, String] = Map(
    "ann_ivf_append" -> annIvfAppendSql,
    "ann_recall_eval" -> annRecallEvalSql,
    "ann_ivfpq_topk" -> annIvfPqTopKSql,
    "ann_rerank" -> annRerankSql,
    "ann_rerank_ml" -> annRerankMlSql,
    "ann_rp" -> annRpSql,
    "ann_kmeans" -> annKmeansSql,
    "ann_int8_topk" -> annInt8TopKSql,
    "ann_hamming_topk" -> annHammingTopKSql,
    "ann_brute_topk" -> annBruteTopKSql,
    "q_rrf" -> qRrfSql,
    "ann_filtered" -> annFilteredSql,
    "ann_lsh_topk" -> annLshTopKSql,
    "ann_lsh_multi" -> annLshMultiSql,
    "ann_ivf_topk" -> annIvfTopKSql,
    "ann_range" -> annRangeSql,
    "ann_centroids" -> annCentroidsSql)
}
