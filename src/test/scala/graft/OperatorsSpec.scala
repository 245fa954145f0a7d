package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Properties of the dedup/similarity/text operators that the DuckDB
  * oracle can't express: LSH recall vs the exact baseline, planted
  * near-duplicate detection, cross-operator agreement. */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).appName("operators-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a rerun of the curation pipeline reuses its compiled generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val before = compiles
      val docs = Tables.documents(spark, dir)
      TextAnalysis.curationPipeline(docs).write.format("noop").mode("overwrite").save()
      Dedup.ngramJaccard(docs).write.format("noop").mode("overwrite").save()
      compiles - before
    }
    val first = pass()
    val rerun = pass()
    // one pass needs ~115 cache entries; Spark's default cache (100
    // entries) made every rerun compile most of them again
    assert(rerun * 10 < first,
      s"rerun compiled $rerun classes, the first run $first")
  }

  test("minhash LSH finds every planted near-duplicate pair (J >= 0.9)") {
    // ground truth: the generator plants ~25 high-Jaccard pairs; the exact
    // ngram-Jaccard operator at threshold 0.9 defines the truth set
    val truth = Dedup.ngramJaccard(Tables.documents(spark, dir), 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashLsh(Tables.documents(spark, dir))
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "expected planted near-dup pairs in the corpus")
    assert(truth.subsetOf(found),
      s"LSH missed planted pairs: ${truth.diff(found)}")
  }

  test("simhash pairs at hamming<=3 are high-Jaccard documents") {
    val sim = Dedup.simhashPairs(Tables.documents(spark, dir))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Dedup.ngramJaccard(Tables.documents(spark, dir), 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    // every simhash candidate should be a genuinely similar pair
    val precision = sim.count(truth.contains).toDouble / sim.size
    assert(precision >= 0.9, s"simhash precision $precision")
  }

  /** ngramJaccard's result against a driver-side all-pairs Jaccard over
    * the same hashed shingle sets and the same double arithmetic; also
    * checks that each pair comes out once. */
  private def assertNgramExact(docs: org.apache.spark.sql.DataFrame,
                               t: Double): Set[(Long, Long)] = {
    import org.apache.spark.sql.graft.VectorExprs
    val sets = docs.select(col("doc_id"),
        array_distinct(VectorExprs.shingle3Md5Long(col("text"), 1, 15)).as("hs"))
      .filter(col("hs").isNotNull).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    val brute = (for {
      (a, sa) <- sets.iterator; (b, sb) <- sets.iterator if a < b
      o = (sa & sb).size if o > 0
      j = o.toDouble / (sa.size + sb.size - o).toDouble if j >= t
    } yield (a, b, o.toLong, j)).toSet
    val got = Dedup.ngramJaccard(docs, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === got.toSet.size, s"t=$t: a pair came out twice")
    assert(got.toSet === brute, s"t=$t: missing ${brute.diff(got.toSet)}, " +
      s"extra ${got.toSet.diff(brute)}")
    brute.map(r => (r._1, r._2))
  }

  test("ngramJaccard is exact past a hot shingle: a planted pair that needs it is found") {
    import spark.implicits._
    // 1,100 docs open with one boilerplate 3-gram (df 1,102: hot enough
    // for any posting-list cap) and end in words of their own
    val boiler = (0 until 1100).map(i => (i.toLong, s"lorem ipsum dolor u${i}a u${i}b"))
    // each planted pair clears 0.5 only when the boilerplate shingle
    // counts: 2/4 = 0.5 (exactly t) and 3/5 = 0.6, vs 1/4 and 2/5 without
    val planted = Seq(
      (5000L, "lorem ipsum dolor a b"), (5001L, "lorem ipsum dolor a c"),
      (5002L, "lorem ipsum dolor m n o"), (5003L, "lorem ipsum dolor m n p"))
    val pairs = assertNgramExact((boiler ++ planted).toDF("doc_id", "text"), 0.5)
    assert(pairs === Set((5000L, 5001L), (5002L, 5003L)))
  }

  test("ngramJaccard and contamination run the shingle kernel once per input") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import spark.implicits._
    // the plan nodes that evaluate the kernel, a self-join's two copies of
    // one subtree counted once: a filter over the kernel's column that the
    // optimizer pushes below its projection would add a Filter here
    def kernelNodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case p if p.expressions.exists(_.exists(_.prettyName == "graft_shingle3_md5_long")) =>
          p.canonicalized
      }.distinct
    val docs = Tables.documents(spark, dir)
    val pairs = kernelNodes(Dedup.ngramJaccard(docs))
    assert(pairs.size === 1 && pairs.forall(_.isInstanceOf[Project]), pairs)
    // the corpus and the benchmark
    val swept = kernelNodes(Dedup.contamination(docs, docs.filter($"doc_id" % 2 === 0)))
    assert(swept.size === 2 && swept.forall(_.isInstanceOf[Project]), swept)
    val tiny = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a b")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccard(tiny, 0.0).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === Seq((1L, 2L)))
    assert(Dedup.contamination(tiny, tiny.filter($"doc_id" === 2L), 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq ===
      Seq((1L, 1L, 2L), (2L, 2L, 2L)))
  }

  test("ngramJaccard equals brute force across thresholds, pairs at exactly t included") {
    import spark.implicits._
    val ts = Seq(0.1, 0.3, 0.5, 0.55, 2.0 / 3, 0.7, 0.9, 1.0)
    // shared prefix of c words, own tails of x and y words:
    // J = (c - 2) / (c - 2 + x + y), one pair at exactly each t. At 0.55
    // a 100-shingle doc holds a 55-shingle one: 0.55 * 100 rounds to
    // 55.00000000000001, so a prefix from ceil(t * n) alone misses it
    val exactAt = Seq((3, 4, 5), (5, 3, 4), (4, 1, 1), (57, 45, 0), (4, 0, 1),
      (9, 1, 2), (11, 0, 1), (6, 0, 0))
    val planted = exactAt.zipWithIndex.flatMap { case ((c, x, y), k) =>
      val head = (0 until c).map(i => s"e${k}c$i")
      Seq((9000L + 2 * k, (head ++ (0 until x).map(i => s"e${k}x$i")).mkString(" ")),
        (9001L + 2 * k, (head ++ (0 until y).map(i => s"e${k}y$i")).mkString(" ")))
    }
    for (seed <- Seq(7L, 11L)) {
      // a 12-word vocabulary with a skew: common 3-grams, every df from
      // 1 up, and near-duplicates made by editing one word of a doc
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"w$i")
      def word() = vocab(math.min(rnd.nextInt(12), rnd.nextInt(12)))
      val base = (0 until 120).map(_ => Seq.fill(4 + rnd.nextInt(14))(word()))
      val edits = base.take(40).map(ws => ws.updated(rnd.nextInt(ws.size), word()))
      val random = (base ++ edits).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val docs = (random ++ planted).toDF("doc_id", "text")
      for (t <- ts) {
        val pairs = assertNgramExact(docs, t)
        val k = ts.indexOf(t)
        assert(pairs.contains((9000L + 2 * k, 9001L + 2 * k)),
          s"t=$t: the pair at exactly t was not found")
      }
    }
  }

  test("substrDedup drops only duplicated runs clearing the token threshold") {
    import spark.implicits._
    // doc 0: 64 unique words + a 56-word passage P (7 blocks)
    // doc 1: P lifted verbatim (>=50-word dup run -> dropped from doc 1,
    //        kept in doc 0 as the first occurrence) + its own tail
    // doc 2: repeats just one 8-word block of P (8 < 50 -> kept), + tail
    val passage = (0 until 56).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (0L, (0 until 64).map(i => s"a$i").mkString(" ") + " " + passage),
      (1L, passage + " " + (0 until 24).map(i => s"b$i").mkString(" ")),
      (2L, (0 until 8).map(i => s"p$i").mkString(" ") + " " +
        (0 until 24).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.substrDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 0 keeps everything (first occurrence of P)
    assert(out(0L).getAs[Long]("n_dropped_runs") === 0L)
    assert(out(0L).getAs[Long]("words_dropped") === 0L)
    // doc 1 loses exactly the 56-word passage as ONE maximal run
    assert(out(1L).getAs[Long]("n_dropped_runs") === 1L)
    assert(out(1L).getAs[Long]("words_dropped") === 56L)
    assert(!out(1L).getAs[String]("clean_text").contains("p0"))
    assert(out(1L).getAs[String]("clean_text").contains("b0"))
    // doc 2's single duplicated block is below the 50-word bar: kept —
    // the refinement over paragraphDedup, which drops it
    assert(out(2L).getAs[Long]("n_dropped_runs") === 0L)
    assert(out(2L).getAs[String]("clean_text").contains("p0"))
    val para = Dedup.paragraphDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("clean_text")).toMap
    assert(!para(2L).contains("p0"), "paragraphDedup should drop the lone block")
  }

  test("substrDedup catches a 52-word span offset 3 words off the block grid") {
    import spark.implicits._
    // Lee et al.'s >=50-token rule, boundary-exact: a 52-word span S
    // sits at word offset 3 in BOTH docs (same block phase — the
    // anchored case), so only 5 interior 8-word blocks (40 words) are
    // block-detectable; the pre-extension rule would miss the span
    // entirely (40 < 50). Word-level edge extension must recover the 5
    // left + 7 right edge words and drop EXACTLY the 52 span words.
    val s = (1 to 52).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (100L, "a1 a2 a3 " + s + " " + (4 to 20).map(i => s"a$i").mkString(" ")),
      (101L, "c1 c2 c3 " + s + " " + (4 to 20).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.substrDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 100 is the first occurrence: untouched
    assert(out(100L).getAs[Long]("n_dropped_runs") === 0L)
    assert(out(100L).getAs[Long]("words_dropped") === 0L)
    assert(out(100L).getAs[String]("clean_text").contains("s1 s2"))
    // doc 101 loses exactly the 52 span words — not the 40 interior
    // block words, not the enclosing 56-word block range
    assert(out(101L).getAs[Long]("n_dropped_runs") === 1L)
    assert(out(101L).getAs[Long]("words_dropped") === 52L)
    val clean = out(101L).getAs[String]("clean_text")
    assert(clean === "c1 c2 c3 " + (4 to 20).map(i => s"c$i").mkString(" "),
      s"clean_text not span-exact: $clean")
    // a 48-word span (same 3-word offset) stays: 40 block words + 5 left
    // + 3 right extension = 48 < 50
    val s48 = (1 to 48).map(i => s"t$i").mkString(" ")
    val docs48 = Seq(
      (200L, "a1 a2 a3 " + s48 + " " + (4 to 20).map(i => s"a$i").mkString(" ")),
      (201L, "c1 c2 c3 " + s48 + " " + (4 to 20).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out48 = Dedup.substrDedup(docs48).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out48(201L).getAs[Long]("words_dropped") === 0L)
    assert(out48(201L).getAs[String]("clean_text").contains("t1"))
  }

  test("connected components label chains, triangles and pairs transitively") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), triangle
    // 10-11-12, pair 20-21: transitive closure a pairwise policy misses
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L), s"chain: $cc")
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L), s"triangle: $cc")
    assert(Seq(20L, 21L).forall(cc(_) == 20L), s"pair: $cc")
    assert(cc.size === 9)
  }

  test("bucketed embed-cosine finds planted near-duplicate vectors") {
    import spark.implicits._
    // plant near-dups: vector i+1000 is vector i with one coordinate
    // nudged — cosine ~0.999, the regime a real near-dup sweep targets
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val planted = base.map { case (id, v) =>
      val w = v.clone(); w(0) += 0.01 * math.abs(w(0)) + 1e-3; (id + 1000000L, w)
    }
    val all = (base ++ planted).toSeq
      .toDF("vec_id", "embedding")
    val found = Dedup.embedCosinePairs(all, minCos = 0.99)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = base.count(b => found.contains((b._1, b._1 + 1000000L))).toDouble / base.length
    // 4 tables x 8 planes: near-identical vectors share at least one
    // bucket with high probability
    assert(recall >= 0.85, s"bucketed embed-cosine recall $recall")
  }

  test("LSH ANN recall vs brute-force top-5 is usable and cheaper") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, col("vec_id") < 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(lsh.contains).toDouble / brute.size
    // random vectors + 4 hyperplanes: same-bucket ≈ similar direction.
    // Exact recall isn't the point at this corpus size; the property is
    // "finds a meaningful fraction while probing 1/16th of the space".
    assert(recall >= 0.2, s"LSH recall $recall")
    assert(lsh.size <= brute.size)
  }

  test("multi-table multi-probe LSH hits production recall at k=10") {
    // The production config (12 tables x 12 planes, Hamming<=3 probes)
    // must clear min 0.8 / avg 0.9 per-query recall on the NEAR-RANDOM
    // test embeddings (top-10 cosine ~0.3 — sign-LSH's hardest case);
    // deterministic md5 planes make this a fixed number, not a flake.
    val emb = Tables.embeddings(spark, dir)
    val recalls = Similarity.recallEval(
        Similarity.lshMultiTopK(emb, col("vec_id") < 10),
        Similarity.bruteTopK(emb, col("vec_id") < 10, k = 10))
      .select("recall").collect().map(_.getDouble(0))
    assert(recalls.length == 10)
    assert(recalls.min >= 0.8, s"min recall ${recalls.min}")
    assert(recalls.sum / recalls.length >= 0.9,
      s"avg recall ${recalls.sum / recalls.length}")
  }

  test("IVF ANN probes one cell and keeps usable recall") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, v => v < 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.2, s"IVF recall $recall")
    assert(ivf.size <= brute.size)
  }

  test("IVF-PQ: quantized-residual ranking tracks the exact same-cell ranking") {
    val emb = Tables.embeddings(spark, dir)
    // same candidate set as exact IVF (identical cells), only the
    // ranking runs on int8 residual reconstructions — so recall vs the
    // exact-IVF top-5 isolates the quantization loss, which for
    // residuals (an order of magnitude smaller than raw vectors on a
    // symmetric 127-step grid) should be near-lossless
    val exact = Similarity.ivfTopK(emb, v => v < 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopK(emb, v => v < 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.8, s"IVF-PQ recall vs exact IVF $recall")
    assert(pq.size === exact.size, "PQ candidate set diverged from IVF cells")
  }

  test("IVF broadcast-join assignment path matches the literal-fold path exactly") {
    val emb = Tables.embeddings(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val literal = rows(Similarity.ivfTopK(emb, v => v < 10, maxLiteralCells = 256))
    // maxLiteralCells = 0 forces the broadcast-join path on the same data:
    // the switch must be purely physical — identical rows, identical cos
    // bits (shared cellDist expression + (d2, label) tie-break)
    val bcast = rows(Similarity.ivfTopK(emb, v => v < 10, maxLiteralCells = 0))
    assert(bcast === literal)
  }

  test("IVF assignment paths agree on corpora containing null embeddings") {
    import spark.implicits._
    // pre-fix divergence: the literal path's array_min sorted the
    // (d2=null, label) structs null-field-FIRST, silently assigning a
    // null embedding to the minimum label, while the broadcast path
    // dropped the row — both paths must now drop it identically,
    // including when the null row is itself a query
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val withNull = base.unionByName(
      Seq((5L + 1000000L, null.asInstanceOf[Seq[Float]], 0))
        .toDF("vec_id", "embedding", "label"))
    val isQ = (v: org.apache.spark.sql.Column) => v < 10 || v === 1000005L
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val literal = rows(Similarity.ivfTopK(withNull, isQ, maxLiteralCells = 256))
    val bcast = rows(Similarity.ivfTopK(withNull, isQ, maxLiteralCells = 0))
    assert(literal === bcast, "null-embedding corpus broke path parity")
    assert(!literal.exists(t => t._1 == 1000005L || t._2 == 1000005L),
      "null-embedding row surfaced in IVF results")
    assert(literal.nonEmpty)
  }

  test("int8 ANN excludes non-finite vectors from query and corpus sides") {
    import spark.implicits._
    val dim = Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).head.getInt(0)
    val nanVec = Seq.tabulate(dim)(i => if (i == 0) Float.NaN else 0.5f)
    val infVec = Seq.tabulate(dim)(i =>
      if (i == 0) Float.PositiveInfinity else 0.5f) // dot(v,v) = Inf
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val withBad = base.unionByName(
      Seq((1000001L, nanVec, 0), (2L + 1000000L, infVec, 0))
        .toDF("vec_id", "embedding", "label"))
    val res = Similarity.int8TopK(withBad, col("vec_id") < 10, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(res.nonEmpty)
    assert(!res.exists(t => t._2 == 1000001L || t._2 == 1000002L),
      "non-finite vector surfaced as a neighbor")
    assert(res.forall(t => !t._3.isNaN), "NaN cosq in int8 results")
  }

  test("IVF multi-probe (nProbe) raises recall toward brute force, default stays 1-cell") {
    val emb = Tables.embeddings(spark, dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(emb, col("vec_id") < 10))
    val p1 = pairs(Similarity.ivfTopK(emb, v => v < 10))
    val pAll = pairs(Similarity.ivfTopK(emb, v => v < 10, nProbe = Int.MaxValue))
    val r1 = brute.count(p1.contains).toDouble / brute.size
    val rAll = brute.count(pAll.contains).toDouble / brute.size
    // probing every cell = brute force exactly; intermediate nProbe is
    // monotone between the two ends
    assert(rAll === 1.0, s"full-probe recall $rAll")
    assert(rAll >= r1)
    val p3 = pairs(Similarity.ivfTopK(emb, v => v < 10, nProbe = 3))
    val r3 = brute.count(p3.contains).toDouble / brute.size
    assert(r3 >= r1, s"nProbe=3 recall $r3 below nProbe=1 recall $r1")
    // multi-probe composes with the broadcast assignment path too, and
    // the two physical paths agree under nProbe just as they do at 1
    val p3b = pairs(Similarity.ivfTopK(emb, v => v < 10,
      maxLiteralCells = 0, nProbe = 3))
    assert(p3b === p3, "broadcast-path multi-probe diverged from literal path")
  }

  test("media perceptual dedup: planted one-byte-perturbed pairs all recalled") {
    import graft.operators.{Dedup, Multimodal}
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val pairs = Dedup.mediaPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the generator law plants (2k, 2k+1) with one luma byte perturbed —
    // at most 2 dHash bits move, so every planted pair must surface
    val planted = (0L until n by 2).flatMap(a =>
      if (a + 1 < n) Some((a, a + 1)) else None).toSet
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(found),
      s"missed ${(planted -- found).size} of ${planted.size} planted media pairs")
    pairs.filter(p => planted((p._1, p._2))).foreach { case (a, b, h) =>
      assert(h <= 2, s"planted pair ($a,$b) hamming $h > 2")
    }
    // md5-textured luma keeps unrelated fingerprints independent: the
    // result should be dominated by the planted pairs, not bucket noise
    assert(pairs.length <= planted.size + 5,
      s"${pairs.length} pairs vs ${planted.size} planted — fingerprints not independent")
    // fingerprint halves stay positive (signed-safe oracle carriage)
    val ph = Multimodal.phash(Multimodal.synthMedia(docs))
      .agg(min("ph_lo"), min("ph_hi")).collect().head
    assert(ph.getLong(0) >= 0L && ph.getLong(1) >= 0L)
  }

  test("curation pipeline: every stage's invariant holds on the composed output") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.qCurationE2e(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3),
        r.getInt(4), r.getLong(5)))
    assert(out.nonEmpty, "pipeline selected nothing")
    // stage 2: no domain exceeds its cap
    out.groupBy(_._3).foreach { case (dom, rows) =>
      assert(rows.length <= 10, s"domain $dom over cap: ${rows.length}")
    }
    // stage 3: only positive-scored docs survive
    assert(out.forall(_._4 > 0), "negative-score doc leaked through")
    // stage 5: per-language char budget holds on the ORIGINAL doc sizes
    val chars = Tables.documents(spark, dir).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val total = rows.map(r => chars(r._1)).sum
      assert(total <= 20000L, s"$lang over budget: $total")
    }
    // stage 6: positions dense per shard, permutation intact
    assert(out.map(_._1).distinct.length === out.length)
    out.groupBy(_._5).foreach { case (shard, rows) =>
      assert(rows.map(_._6).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $shard positions not dense")
    }
  }

  test("shuffle export: a balanced deterministic permutation into shards") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    def run() = Sampling.shuffleExport(docs, col("doc_id"))
    val a = run().collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = run().collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq, "export order not deterministic")
    // a permutation: every doc exactly once, positions dense per shard
    assert(a.map(_._1).distinct.length === a.length)
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $shard positions not dense")
    }
    // uniform hash → no shard more than ~3x the mean at this corpus size
    val sizes = a.groupBy(_._2).values.map(_.length)
    assert(sizes.max <= 3 * (a.length / 16 + 1), s"shard skew: ${sizes.toSeq.sorted}")
  }

  test("boilerplate removal: repeated spans dropped, word accounting exact") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, dir)
    val out = TextAnalysis.boilerplate(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // double-entry check: recompute the chunk-df policy in plain Scala
    // collections and demand identical per-doc keep/drop decisions
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val chunksOf = raw.map { case (id, t) =>
      id -> t.split(" ").grouped(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSeq
    }.toMap
    // document frequency: distinct docs containing the chunk (within-doc
    // repeats are not boilerplate)
    val dfCount = chunksOf.toSeq
      .flatMap { case (id, cs) => cs.distinct.map(c => (c, id)) }
      .groupBy(_._1).map { case (c, o) => c -> o.map(_._2).distinct.size }
    chunksOf.foreach { case (id, cs) =>
      val kept = cs.count(c => dfCount(c) <= 1).toLong
      assert(out(id)._2 === kept, s"doc $id kept ${out(id)._2}, expected $kept")
      assert(out(id)._3 === cs.size - kept)
    }
    assert(out.values.exists(_._3 > 0L), "corpus has no repeated spans to drop")
    // word accounting: clean words = span * n_kept + tail words
    val words = docs.select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, (txt, kept, dropped)) =>
      val nClean = if (txt.isEmpty) 0 else txt.split(" ").length
      val tailWords = words(id) % 8
      assert(nClean === 8 * kept + tailWords, s"doc $id word accounting off")
      assert(kept + dropped === words(id) / 8)
    }
    // something must survive too — the op is a filter, not a deleter
    assert(out.values.exists(_._2 > 0))
  }

  test("vocab tokenization meters the token budget (counts compose end to end)") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val counted = TextAnalysis.tokensVocab(docs)
    // every OOV word costs at least one piece, so the vocab-aware count
    // is bounded below by the word count
    val bad = counted.filter(col("n_tok_vocab") < col("n_words")).count()
    assert(bad === 0, "vocab token count below word count")
    // the budget meter consumes the vocab counts directly: per-stratum
    // token sums stay within budget, and reruns select identical rows
    val metered = docs.select("doc_id", "lang").join(counted, "doc_id")
    def sel() = Sampling.tokenBudget(metered, col("lang"), col("doc_id"),
      col("n_tok_vocab"), 30000L)
    val sums = sel().groupBy("lang").agg(sum("n_tok_vocab").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.nonEmpty)
    sums.foreach { case (l, s) => assert(s <= 30000L, s"$l over budget: $s") }
    val a = sel().select("doc_id").collect().map(_.getLong(0)).toSet
    val b = sel().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b, "vocab-metered budget selection not deterministic")
  }

  test("unigram training meters the token budget (EM pieces compose end to end)") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    // train on the corpus, then serve the trained pieces back over it
    val trained = TextAnalysis.unigramTrain(docs).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(trained.nonEmpty)
    assert(trained.keys.exists(_.length > 1), "no multi-char pieces trained")
    val counted = TextAnalysis.unigramTokenCounts(docs, trained)
    // every word is >= 1 piece and every piece covers >= 1 char, so the
    // unigram count sits between the word count and non-space chars
    val joined = docs.select(col("doc_id"), col("lang"),
        size(filter(split(col("text"), " "), w => w =!= ""))
          .cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", ""))
          .cast("long").as("n_chars_ns"))
      .join(counted, "doc_id")
    assert(joined.filter(col("n_unigram_tokens") < col("n_words")).count() === 0,
      "unigram token count below word count")
    assert(joined.filter(col("n_unigram_tokens") > col("n_chars_ns")).count() === 0,
      "unigram token count above char count")
    // the budget meter consumes unigram counts directly: per-stratum
    // sums within budget, and a budget increase only adds documents
    def sel(b: Long) = Sampling.tokenBudget(joined, col("lang"),
      col("doc_id"), col("n_unigram_tokens"), b)
    val sums = sel(20000L).groupBy("lang").agg(sum("n_unigram_tokens").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.nonEmpty)
    sums.foreach { case (l, s) => assert(s <= 20000L, s"$l over budget: $s") }
    val small = sel(10000L).select("doc_id").collect().map(_.getLong(0)).toSet
    val large = sel(30000L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(large), "budget increase must only add documents")
  }

  test("token-budget selection: per-stratum sums within budget, budget increases are supersets") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    def sel(b: Long) = Sampling.tokenBudget(docs, col("lang"), col("doc_id"),
      col("n_chars"), b)
    val sums = sel(20000L).groupBy("lang").agg(sum("n_chars").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.nonEmpty)
    sums.foreach { case (l, s) => assert(s <= 20000L, s"$l over budget: $s") }
    val small = sel(10000L).select("doc_id").collect().map(_.getLong(0)).toSet
    val large = sel(30000L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(large), "budget increase must only add documents")
  }

  test("token budget uses a ROWS frame: duplicate keys fill the budget one row at a time") {
    import spark.implicits._
    import graft.operators.Sampling
    // two copies of the same doc (epochWeighted's shape): a RANGE frame
    // would give both peers the combined running sum and drop both; the
    // ROWS frame keeps exactly as many copies as fit
    val dup = Seq((1L, "en", 60L), (1L, "en", 60L), (2L, "en", 60L))
      .toDF("doc_id", "lang", "n_chars")
    val kept = Sampling.tokenBudget(dup, col("lang"), col("doc_id"),
        col("n_chars"), 100L)
      .collect()
    assert(kept.length === 1, s"expected exactly one 60-token row under a 100 budget, got ${kept.length}")
  }

  test("epoch-weighted repetition: copy counts follow the weights, mass ~ w x corpus") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val out = Sampling.epochWeighted(docs, col("lang"), col("doc_id"),
      Map("fr" -> 2.5, "en" -> 0.5))
    val byLang = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // fr: every doc 2x or 3x; en: 0 or 1; others exactly 1x
    val frRatio = byLang("fr").toDouble / raw("fr")
    val enRatio = byLang("en").toDouble / raw("en")
    assert(frRatio >= 2.0 && frRatio <= 3.0, s"fr ratio $frRatio")
    assert(enRatio > 0.2 && enRatio < 0.8, s"en ratio $enRatio")
    assert(byLang("de") === raw("de"))
    // epoch indexes copies 0..n-1
    val maxEpoch = out.filter(col("lang") === "fr").agg(max("epoch"))
      .head.getInt(0)
    assert(maxEpoch === 2)
    // per-doc copies for fr are exactly 2 or 3
    val copies = out.filter(col("lang") === "fr").groupBy("doc_id").count()
      .select("count").distinct().collect().map(_.getLong(0)).toSet
    assert(copies.subsetOf(Set(2L, 3L)), s"fr copy counts: $copies")
  }

  test("rate-based stratified sampling: deterministic, monotone in rate, rate-accurate") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    def ids(r: Double): Set[Long] =
      Sampling.stratifiedByRate(docs, col("lang"), col("doc_id"),
          Map("en" -> r), defaultRate = 0.0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val low = ids(0.2)
    val high = ids(0.6)
    assert(ids(0.2) === low, "same rate must select identical rows")
    // raising a rate only ADDS rows (stable eval splits)
    assert(low.subsetOf(high), "rate increase must be a superset")
    assert(high.size > low.size)
    val en = docs.filter(col("lang") === "en").count().toDouble
    assert(math.abs(low.size / en - 0.2) < 0.15, s"keep rate ${low.size / en} far from 0.2")
  }

  test("kmeans training: Lloyd iterations reduce the quantization objective") {
    val emb = Tables.embeddings(spark, dir)
    // total squared distance of every vector to its nearest centroid,
    // for a given trained quantizer
    def objective(cent: org.apache.spark.sql.DataFrame): Double = {
      val cvecs = cent.select(col("cell").as("label"), col("dim"), col("mean_v"))
      val all = emb.select(col("vec_id"),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)).as("v"))
      val cents = cvecs.collect().groupBy(_.getLong(0)).map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }.toArray
      all.collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        cents.map { c =>
          var d2 = 0.0
          var i = 0
          while (i < v.length) { val d = v(i) - c(i); d2 += d * d; i += 1 }
          d2
        }.min
      }.sum
    }
    val seed = objective(Similarity.kmeans(emb, k = 8, iters = 0)
      .select(col("cell"), col("dim"), col("mean_v")))
    val one = objective(Similarity.kmeans(emb, k = 8, iters = 1))
    val two = objective(Similarity.kmeans(emb, k = 8, iters = 2))
    // Lloyd monotonicity: each iteration cannot increase the objective
    assert(one <= seed + 1e-9, s"iter1 $one > seed $seed")
    assert(two <= one + 1e-9, s"iter2 $two > iter1 $one")
    assert(two < seed, "training never improved on raw seed vectors")
    // deterministic: a rerun yields the identical quantizer
    val a = Similarity.kmeans(emb).orderBy("cell", "dim").collect().map(_.toSeq)
    val b = Similarity.kmeans(emb).orderBy("cell", "dim").collect().map(_.toSeq)
    assert(a === b)
  }

  test("int8-quantized ANN: high recall vs float brute force at 1/8 the bytes") {
    val emb = Tables.embeddings(spark, dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteTopK(emb, col("vec_id") < 10, 10))
    val quant = pairs(Similarity.int8TopK(emb, col("vec_id") < 10, 10))
    val recall = exact.count(quant.contains).toDouble / exact.size
    // int8 keeps ~7 bits of precision per dim: neighbor sets at k=10
    // stay close to the float baseline
    assert(recall >= 0.8, s"int8 recall $recall")
    // quantization facts: 1/8 the bytes, values within [-127, 127],
    // dequantization recovers the vector to within half a step
    val q = Similarity.quantizeInt8(emb).collect()
    val raw = emb.select(col("vec_id"),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    q.foreach { r =>
      val id = r.getLong(0)
      val qv = r.getAs[Array[Byte]]("qv")
      val scale = r.getDouble(2)
      val v = raw(id)
      assert(qv.length === v.length)
      if (scale > 0) {
        val maxErr = v.indices.map(i => math.abs(qv(i) / scale - v(i))).max
        assert(maxErr <= 0.5 / scale + 1e-12, s"vec $id dequant err $maxErr")
      }
    }
  }

  test("graft_dot is callable from SQL via session extensions") {
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r === 11.0)
  }

  test("int8 and argmin expressions are callable from SQL") {
    // quantize [0.5, -1.0] -> scale 127, bytes [64, -127]; int8 self-dot
    val row = spark.sql(
      """SELECT graft_quantize_int8(array(0.5D, -1.0D)) AS q,
        |  graft_int8_scale(array(0.5D, -1.0D)) AS s,
        |  graft_dot_int8(graft_quantize_int8(array(0.5D, -1.0D)),
        |                 graft_quantize_int8(array(0.5D, -1.0D))) AS d,
        |  graft_nearest_cell(array(1.0D, 0.0D), graft_dot(array(1.0D, 0.0D), array(1.0D, 0.0D)),
        |    array(named_struct('label', 7L, 'cvec', array(1.0D, 0.0D), 'c2', 1.0D),
        |          named_struct('label', 3L, 'cvec', array(0.0D, 1.0D), 'c2', 1.0D))) AS cell
        |""".stripMargin).collect()(0)
    assert(row.getAs[Array[Byte]]("q").toSeq === Seq[Byte](64, -127))
    assert(row.getAs[Double]("s") === 127.0)
    assert(row.getAs[Long]("d") === 64L * 64L + 127L * 127L)
    assert(row.getAs[Long]("cell") === 7L)
    // SQL surface is null-guarded (the raw kernel is non-nullable by
    // contract): NULL argument -> NULL result, not an NPE
    val nullCell = spark.sql(
      """SELECT graft_nearest_cell(CAST(NULL AS ARRAY<DOUBLE>), 0.0D,
        |  array(named_struct('label', 0L, 'cvec', array(1.0D), 'c2', 1.0D))) AS c
        |""".stripMargin).collect()(0)
    assert(nullCell.isNullAt(0))
  }

  test("approx_count_distinct stays within 5% of exact") {
    import graft.queries.Relational
    val approx = graft.core.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey").as("p"),
        approx_count_distinct("l_suppkey").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.core.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("p"), countDistinct("l_suppkey").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (p, s)) =>
      val (ap, as_) = approx(k)
      assert(math.abs(ap - p).toDouble / p < 0.05, s"$k parts: $ap vs $p")
      assert(math.abs(as_ - s).toDouble / s < 0.05, s"$k supps: $as_ vs $s")
    }
    // the driver-visible query asserts its own (looser, cross-engine) band
    val flags = Relational.qApprox(spark, dir).collect()
    assert(flags.forall(r => r.getAs[Boolean]("parts_within_10pct") &&
      r.getAs[Boolean]("supps_within_10pct")))
  }

  test("incremental dedup drops only already-known content") {
    import spark.implicits._
    val known = Seq("aaa", "bbb").toDF("text")
      .select(md5(col("text")).as("h"))
    val batch = Seq((1L, "aaa"), (2L, "new one"), (3L, "bbb"), (4L, "другой"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(batch, known)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 4L))
  }

  test("exact dedup keeps one representative per distinct text") {
    val docs = Tables.documents(spark, dir)
    val deduped = Dedup.exact(docs)
    assert(deduped.count() === docs.select("text").distinct().count())
  }

  test("multimodal frame sampling is deterministic with the right shape") {
    import graft.operators.Multimodal
    val withPayload = Multimodal.synthesize(Tables.documents(spark, dir))
    val frames = Multimodal.frameSample(withPayload)
    val byDoc = frames.groupBy("doc_id").count()
    // data section is 64 bytes = 8 frames of 8; every 4th kept → 2 frames
    assert(byDoc.filter(col("count") =!= 2).count() === 0)
    val f0 = frames.filter(col("doc_id") === 0 && col("frame_idx") === 0)
      .collect()(0).getAs[Array[Byte]]("frame")
    // doc 0 data bytes are (0+i)%256 → first frame is 0..7
    assert(f0.toSeq === (0 until 8).map(_.toByte))
  }

  test("real PNG/WAV codecs round-trip the generator laws exactly") {
    import graft.operators.Multimodal
    // PNG: javax.imageio encode -> decode recovers the pixel law bit-exact
    val png = Multimodal.makePng(6L) // doc 6: w=14, h=12
    assert(png.take(8).toSeq === Multimodal.PngMagic.toSeq, "not a real PNG file")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === 14 && img.getHeight === 12)
    for (y <- 0 until 12; x <- 0 until 14)
      assert(img.getRaster.getSample(x, y, 0) === ((6L + 7 * x + 13 * y) % 256).toInt)
    // WAV: RIFF/PCM through javax.sound.sampled recovers the sample law
    val wav = Multimodal.makeWav(8L) // doc 8: n = 24 samples
    val (n, sum) = Multimodal.decodeWav(wav)
    assert(n === 24)
    assert(sum === (0 until 24).map(i => (37L * 8 + 101L * i) % 65536).sum)
    // real raster resize: decoded PNG scaled into the 32-box by Java2D
    val resized = Multimodal.resizePng(png)
    assert(resized.getWidth === 32 && resized.getHeight === 27) // 14x12 * 32/14
    // upscaled corner pixel approximates the source corner (bilinear)
    assert(math.abs(resized.getRaster.getSample(0, 0, 0) -
      img.getRaster.getSample(0, 0, 0)) <= 16)
  }

  test("blurScore: flat image scores 0, checkerboard scores the exact law") {
    import graft.operators.Multimodal
    import spark.implicits._
    val flat = Array.fill[Byte](64)(100.toByte)
    val checker = Array.tabulate[Byte](64)(i =>
      if ((i % 8 + i / 8) % 2 == 0) 0.toByte else 255.toByte)
    val payloads = Seq(
      (0L, Multimodal.lumaPng(flat)), (1L, Multimodal.lumaPng(checker)))
      .toDF("doc_id", "payload")
    val got = Multimodal.blurScore(payloads).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // flat: every Laplacian is 0 — the defocused/blank signature
    assert(got(0L) === ((36L, 0L, 0.0, true)))
    // checkerboard: each interior pixel has 4 opposite-color neighbors,
    // |lap| = 4*255 = 1020 exactly, 36 interior pixels in an 8x8
    assert(got(1L) === ((36L, 36L * 1020L * 1020L, 1020.0 * 1020.0, false)))
  }

  test("real JPEG codec: exact geometry, bounded pixel error, deterministic") {
    import graft.operators.Multimodal
    // the lossy half of the mm_meta contract: the SQL oracle pins the
    // sniff + decoded dimensions (and the -1 checksum sentinel); the
    // pixel-level decode evidence lives here, where a tolerance can
    val jpg = Multimodal.makeJpeg(7L) // doc 7: w=15, h=13
    assert(jpg.take(4).toSeq === Multimodal.JpegMagic.toSeq, "not a real JPEG file")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(img.getWidth === 15 && img.getHeight === 13)
    // decoded luma tracks the generator law within DCT-quantization
    // error: a header-parse fake (no real decode) would fail this
    val errs = for (y <- 0 until 13; x <- 0 until 15) yield
      math.abs(img.getRaster.getSample(x, y, 0) -
        ((7L + 7 * x + 13 * y) % 256).toInt)
    assert(errs.sum.toDouble / errs.size <= 16.0,
      s"mean abs decode error ${errs.sum.toDouble / errs.size} too large")
    // byte-deterministic encode (same JVM): re-encode is identical
    assert(java.util.Arrays.equals(jpg, Multimodal.makeJpeg(7L)))
    // and the generic raster resize path accepts JPEG payloads too
    val resized = Multimodal.resizePng(jpg)
    assert(resized.getWidth === 32 && resized.getHeight === 27) // 15x13 * 32/15
  }

  test("scrub masks PII shapes and normalizes whitespace") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob@example.com  or +1 (555) 123-4567 now"),
      (2L, "server at 192.168.0.1 logged id 1234567890"),
      (3L, "clean text stays   untouched")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrub(docs).orderBy("doc_id")
      .select("text").as[String].collect()
    assert(got(0) === "contact <EMAIL> or <PHONE> now")
    assert(got(1) === "server at <IP> logged id <NUM>")
    assert(got(2) === "clean text stays untouched")
  }

  test("multimodal features flow end-to-end into ANN search") {
    import graft.operators.Multimodal
    val features = Multimodal.extractFeatures(
      Multimodal.synthesize(Tables.documents(spark, dir)))
      .withColumnRenamed("doc_id", "vec_id")
      .withColumn("label", lit(0))
    // byte-histogram embeddings of synthesized payloads, searched with the
    // same ANN operator used for the embeddings table
    val topk = Similarity.bruteTopK(features, col("vec_id") < 3, 3)
    val rows = topk.collect()
    assert(rows.length === 9) // 3 queries x 3 neighbors
    assert(rows.forall(r => r.getAs[Double]("cos") >= -1.0001 &&
      r.getAs[Double]("cos") <= 1.0001))
  }

  test("operators tolerate empty inputs") {
    import org.apache.spark.sql.types._
    val emptyDocs = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    val emptyEmb = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
    assert(Dedup.exact(emptyDocs).count() === 0)
    assert(Dedup.minhashLsh(emptyDocs).count() === 0)
    assert(Dedup.ngramJaccard(emptyDocs).count() === 0)
    assert(Dedup.simhashPairs(emptyDocs).count() === 0)
    assert(TextAnalysis.quality(emptyDocs).count() === 0)
    assert(TextAnalysis.langId(emptyDocs).count() === 0)
    assert(Similarity.bruteTopK(emptyEmb, col("vec_id") < 10).count() === 0)
  }

  test("quality scores are bounded and langid votes are consistent") {
    val q = TextAnalysis.quality(Tables.documents(spark, dir))
    assert(q.filter(col("quality_score") < 0 || col("quality_score") > 1).count() === 0)
    val l = TextAnalysis.langId(Tables.documents(spark, dir))
    // a doc with zero stopword hits must be 'und'
    assert(l.filter(col("h_en") + col("h_es") + col("h_fr") + col("h_de") === 0 &&
      col("lang_pred") =!= "und").count() === 0)
  }

  test("incremental near-dup drops only vs history, never within the batch") {
    import spark.implicits._
    // hist doc 1; new docs: 10 ≈ near-dup of 1 (dropped), 11 == 12
    // (identical within-batch — BOTH must survive: incremental dedup
    // compares against history only), 13 unrelated (survives)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, base),
      (10L, base + "lambda"),
      (11L, "one two three four five six seven eight nine ten " * 3),
      (12L, "one two three four five six seven eight nine ten " * 3),
      (13L, "red orange yellow green blue indigo violet umber black white " * 3))
      .toDF("doc_id", "text")
    val survivors = Dedup.incrementalNearDup(docs, col("doc_id") < 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(11L, 12L, 13L),
      s"expected within-batch dups to survive and the historical near-dup to drop, got $survivors")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("sequence packing: gapless tape, bucket-split result equals the single-window order") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val out = Sampling.packSequences(docs, col("doc_id"), col("n_chars"), 2048L)
      .select("doc_id", "n_chars", "start_off", "seq_id", "seq_off").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the tape is gapless and zero-based: sorted by offset, each document
    // starts exactly where the previous one ended
    val sorted = out.sortBy(_._3)
    assert(sorted.head._3 === 0L)
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 === a._3 + a._2, s"tape gap between docs ${a._1} and ${b._1}")
    case _ => }
    // sequence bookkeeping is pure arithmetic on the offset
    out.foreach { case (_, _, s, id, off) =>
      assert(id === s / 2048 && off === s % 2048) }
    // double-entry vs the single-window formulation the two-phase plan
    // must reproduce: same (hash, key) order, same exclusive prefix sums
    val ref = out.map(t => (t._1, t._2))
      .sortBy { case (id, _) => (md5hex(s"$id:pack"), id) }
    val refStart = ref.map(_._1)
      .zip(ref.scanLeft(0L)(_ + _._2).init).toMap
    out.foreach { case (id, _, s, _, _) =>
      assert(s === refStart(id), s"doc $id offset $s != single-window ${refStart(id)}") }
  }

  test("holdout split: disjoint, exhaustive, membership stable under corpus growth") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val full = Sampling.holdout(docs, col("doc_id"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full.size === docs.count(), "split not exhaustive")
    assert(full.values.toSet === Set("train", "val", "test"))
    // roughly 80/10/10
    val n = full.size.toDouble
    assert(full.values.count(_ == "train") / n > 0.7)
    // stability: splitting HALF the corpus assigns every shared doc the
    // same split — upstream filtering cannot migrate docs between splits
    val half = Sampling.holdout(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        col("doc_id"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) =>
      assert(full(id) === s, s"doc $id migrated on corpus change") }
  }

  test("vocab token counts feed sequence packing (tokenize -> pack composes)") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val counted = TextAnalysis.tokensVocab(docs).select("doc_id", "n_tok_vocab")
    val packed = Sampling.packSequences(counted, col("doc_id"),
        col("n_tok_vocab"), 512L)
      .select("doc_id", "n_tok_vocab", "start_off", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the tape meters REAL tokenizer tokens: gapless, and each sequence
    // holds at most 512 tokens' worth of starts
    val sorted = packed.sortBy(_._3)
    assert(sorted.head._3 === 0L)
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 === a._3 + a._2)
    case _ => }
    packed.foreach { case (_, _, s, id) => assert(id === s / 512) }
  }

  test("sequence packing keeps null-key rows on the tape") {
    import spark.implicits._
    import graft.operators.Sampling
    // a null key hashes to a null bucket: the offsets join must be
    // null-safe or the row silently vanishes from the tape
    val docs = Seq((Some(1L), 10L), (None, 7L), (Some(3L), 5L))
      .toDF("doc_id", "n_chars")
    val out = Sampling.packSequences(docs, col("doc_id"), col("n_chars"), 16L)
      .collect()
    assert(out.length === 3, s"null-key row dropped: ${out.mkString(", ")}")
    // and the tape is still gapless over all three rows
    val spans = out.map(r => (r.getLong(r.fieldIndex("start_off")),
      r.getLong(r.fieldIndex("n_chars")))).sortBy(_._1)
    assert(spans.head._1 === 0L)
    spans.sliding(2).foreach { case Array(a, b) =>
      assert(b._1 === a._1 + a._2)
    case _ => }
  }

  test("next-fit packing keeps null-key rows in the null bucket") {
    import spark.implicits._
    import graft.operators.Sampling
    // a null key hashes to the null bucket: the scan must read it and the
    // bases join must be null-safe, or the task fails or the row vanishes
    val docs = Seq((Some(1L), 10L), (None, 7L), (Some(3L), 5L))
      .toDF("doc_id", "n_chars")
    val out = Sampling.nextFitPack(docs, col("doc_id"), col("n_chars"), 16L)
      .collect()
    assert(out.length === 3, s"null-key row dropped: ${out.mkString(", ")}")
    val seqs = out.map(r => (r.getLong(r.fieldIndex("seq_id")),
      r.getLong(r.fieldIndex("seq_off")), r.getLong(r.fieldIndex("n_eff"))))
    // sequence ids stay dense and no sequence overflows the context
    val ids = seqs.map(_._1).toSet
    assert(ids === (0L until ids.size).toSet, s"sequence ids not dense: $ids")
    seqs.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(r => r._2 + r._3).max <= 16L, s"sequence $id overflows") }
    // the null bucket sorts first, so the null-key row opens sequence 0
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getLong(nullRow.fieldIndex("seq_id")) === 0L &&
      nullRow.getLong(nullRow.fieldIndex("seq_off")) === 0L)
  }

  test("mixture solver: rates solve the recipe, clamp at 1, selection matches the hash threshold") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    // recipe chosen so at sf0.001 fr clamps (28k target > 27.1k avail) and
    // every other stratum downsamples — both solver branches exercised
    val out = Sampling.mixture(docs, col("lang"), col("doc_id"), col("n_chars"),
        Map("fr" -> 0.4, "en" -> 0.2, "es" -> 0.2, "zh" -> 0.1, "de" -> 0.1),
        70000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))
    assert(out.exists { case (_, ad, _, _, rate, sd, _) => rate == 1.0 && sd == ad },
      s"no stratum clamped to keep-everything: ${out.mkString(", ")}")
    assert(out.exists(_._5 < 1.0), "no stratum actually downsampled")
    out.foreach { case (lang, availDocs, availToks, target, rate, selDocs, selToks) =>
      assert(rate > 0.0 && rate <= 1.0)
      assert(rate === math.min(1.0, target.toDouble / availToks.toDouble))
      assert(selDocs <= availDocs && selToks <= availToks)
    }
    // double-entry: recompute each stratum's selection with the same
    // hash-uniform threshold in plain Scala
    val perDoc = docs.select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val rates = out.map(t => t._1 -> t._5).toMap
    val expectSel = perDoc.groupBy(_._2).map { case (lang, rows) =>
      val kept = rows.filter { case (id, _, _) =>
        val u = java.lang.Long.parseLong(md5hex(s"$id:mix").take(15), 16)
          .toDouble / 1152921504606846976.0
        u < rates(lang)
      }
      lang -> ((kept.length.toLong, kept.map(_._3).sum))
    }
    out.foreach { case (lang, _, _, _, _, selDocs, selToks) =>
      assert((selDocs, selToks) === expectSel(lang), s"selection mismatch for $lang") }
  }

  test("threshold histogram conserves the verified pair count") {
    val hist = Dedup.ddThresholdHist(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val pairs = Dedup.ngramJaccard(Tables.documents(spark, dir), 0.5).count()
    assert(hist.map(_._2).sum === pairs, "histogram lost pairs")
    // bins are within the [0.5, 1.0] sweep range (bin 20 = exactly 1.0)
    hist.foreach { case (bin, _) => assert(bin >= 10L && bin <= 20L) }
  }

  test("user funnel is monotone and order-aware") {
    val row = graft.queries.Relational.qUserFunnel(spark, dir).head
    val (v, c, p) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(v >= c && c >= p, s"funnel not monotone: $v $c $p")
    assert(v > 0 && p > 0, "funnel stages empty on the test corpus")
    // order-awareness: the naive per-type user counts must differ from
    // the ordered chain somewhere, or the query proves nothing
    val ev = Tables.events(spark, dir)
    val naiveP = ev.filter(col("event_type") === "purchase")
      .join(ev.filter(col("event_type") === "view").select("user_id").distinct(),
        Seq("user_id"))
      .select("user_id").distinct().count()
    assert(p <= naiveP, "ordered purchases exceed unordered")
  }

  test("host rank: 3-iteration PageRank matches a hand-rolled replay bit-for-bit") {
    val out = TextAnalysis.qHostrank(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val edges = (0 until 20).map(s => (s, (s * s + 1) % 20)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = (0 until 20).map(n => n -> 1.0 / 20).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).view.mapValues { es =>
        es.map { case (s, _) =>
          math.floor(r(s) / outdeg(s) * 1.0e12 + 0.5).toLong
        }.sum.toDouble / 1.0e12
      }.toMap
      r = (0 until 20).map(n =>
        n -> (0.15 / 20 + 0.85 * contrib.getOrElse(n, 0.0))).toMap
    }
    (0 until 20).foreach { n =>
      assert(out(s"src$n") === r(n), s"node src$n rank mismatch") }
    // the quadratic link law must actually differentiate hosts
    assert(out.values.max / out.values.min > 5.0, "ranks did not spread")
  }

  test("snapshot diff inverts upsert: apply(a, diff(a, b)) == b") {
    val a = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val b = TextAnalysis.qUpsert(spark, dir)
    val ch = TextAnalysis.snapshotDiff(a, b)
    val restored = TextAnalysis.upsert(a, ch, "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val target = b.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(restored.toSeq === target.toSeq)
    // and the diff is minimal: unchanged rows produce no changeset row
    val ops = ch.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = a.count()
    assert(ops("update") === a.filter(pmod(col("doc_id"), lit(10)) === 0).count())
    assert(ops("delete") === a.filter(pmod(col("doc_id"), lit(10)) === 1).count())
    assert(ops("insert") === a.filter(pmod(col("doc_id"), lit(10)) === 2).count())
    assert(ops.values.sum < n, "diff not minimal")
  }

  test("upsert applies NULL-valued updates; diff/apply algebra survives null transitions") {
    import spark.implicits._
    val a = Seq((1L, Option("en"), Option(10L)), (2L, Option("fr"), Option(7L)))
      .toDF("doc_id", "lang", "n_chars")
    val b = Seq((1L, Option.empty[String], Option(10L)), (2L, Option("fr"), Option(7L)))
      .toDF("doc_id", "lang", "n_chars")
    val ch = TextAnalysis.snapshotDiff(a, b)
    // the null transition is a real update, and applying it yields b
    assert(ch.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "update")))
    val restored = TextAnalysis.upsert(a, ch, "doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).sortBy(_._1)
    assert(restored.toSeq === Seq((1L, None, 10L), (2L, Some("fr"), 7L)))
  }

  test("upsert applies updates, deletes, and inserts in one pass") {
    val before = Tables.documents(spark, dir)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = TextAnalysis.qUpsert(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .map(t => t._1 -> t).toMap
    before.foreach { case (id, nc) =>
      (id % 10) match {
        case 0 => assert(after(id)._3 === nc + 1000L, s"update missed $id")
        case 1 => assert(!after.contains(id), s"delete missed $id")
        case 2 => assert(after(id)._3 === nc, s"insert source $id changed")
          assert(after(id + 1000000000000L)._3 === 42L, s"insert missing for $id")
        case _ => assert(after(id)._3 === nc, s"untouched row $id changed")
      }
    }
    assert(after.size === before.size -
      before.keys.count(_ % 10 == 1) + before.keys.count(_ % 10 == 2))
  }

  test("BPE training picks the top pair and later merges build on merged symbols") {
    import spark.implicits._
    // hand-computed: words abc x3, abd x3, xy x1
    //  pass 1 pairs: "a b"=6, "b c"=3, "b d"=3, "x y"=1 → merge "a b"
    //  pass 2 (on " ab c ", " ab d "): "ab c"=3, "ab d"=3, "x y"=1
    //    → count tie broken by pair asc → "ab c" (proves pass 2 sees the
    //    MERGED symbol, not the original chars)
    val docs = Seq((1L, "abc abc abd"), (2L, "abc abd abd xy"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(docs).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((1, "a b", 6L), (2, "ab c", 3L)))
  }

  test("BPE apply tokenizes with the trained merges, rank order respected") {
    import spark.implicits._
    // same corpus as the training spec; trained merges "a b" then "ab c":
    //  abc → " a b c " → " ab c " → " abc "   = 1 token
    //  abd → " a b d " → " ab d "             = 2 tokens (merge 2 inert)
    //  xy  → " x y "                           = 2 tokens (no merge hits)
    val docs = Seq((1L, "abc abc abd"), (2L, "abc abd abd xy"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs).orderBy("rank")
      .collect().map(_.getString(1)).toSeq
    assert(merges === Seq("a b", "ab c"))
    val out = TextAnalysis.bpeApply(docs, merges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 3L, 4L), (2L, 4L, 7L)))
    // checkpoint cadence must not change the result: force a lineage
    // truncation after every single merge and compare
    val ck = TextAnalysis.bpeApply(docs, merges, ckptEvery = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ck.toSeq === out.toSeq)
  }

  test("real-BPE token counts meter the token budget (tokenizer loop closes)") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val merges = TextAnalysis.bpeTrain(docs).orderBy("rank")
      .collect().map(_.getString(1)).toSeq
    val counted = TextAnalysis.bpeApply(docs, merges)
    // merging only ever shrinks a word's symbol count, and a word is at
    // least one symbol — so chars >= bpe tokens >= words, per doc
    val joined = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(counted, "doc_id")
    assert(joined.filter(col("n_bpe_tokens") < col("n_words")).count() === 0,
      "BPE token count fell below word count")
    assert(joined.filter(col("n_bpe_tokens") > col("n_chars")).count() === 0,
      "BPE token count exceeded char count")
    // the budget meter consumes real BPE counts directly: per-stratum
    // sums stay within budget, and reruns select identical rows (the
    // tx_tokens_vocab composition contract, now on trained-merge tokens)
    def sel() = Sampling.tokenBudget(joined, col("lang"), col("doc_id"),
      col("n_bpe_tokens"), 30000L)
    val sums = sel().groupBy("lang").agg(sum("n_bpe_tokens").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.nonEmpty)
    sums.foreach { case (l, s) => assert(s <= 30000L, s"$l over budget: $s") }
    val a = sel().select("doc_id").collect().map(_.getLong(0)).toSet
    val b = sel().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b, "BPE-metered budget selection not deterministic")
  }

  test("semantic dedup production path (sampled train + two-level assign) recalls planted dups") {
    import spark.implicits._
    import graft.operators.Dedup
    // 2000 distinct base vectors + 50 planted EXACT duplicates of the
    // first 50. Identical vectors share every argmin decision, so they
    // co-assign under ANY quantizer — the property the approximate
    // production path (sampled training, two-level routing) must keep
    val base = (0L until 2000L).map { i =>
      (i, (0 until 16).map(d =>
        ((i * 131 + d * 997) % 100003).toDouble / 100003.0).toArray)
    }
    val planted = (0L until 50L).map { i => (10000L + i, base(i.toInt)._2) }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticPairs(emb, k = 32, minCos = 0.999,
        branch = Some(6), trainSample = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 50L).foreach { i =>
      assert(pairs.contains((i, 10000L + i)), s"planted dup $i not recalled")
    }
    // the two knobs must not invent pairs the exact operator would not:
    // every reported pair really clears the cosine bar (cos recomputed
    // exactly inside the operator, so this is a structural sanity check)
    assert(pairs.nonEmpty)
  }

  test("diversity selection keeps the farthest-from-centroid fraction, at least one per cell") {
    import spark.implicits._
    import graft.operators.Dedup
    val emb = (0L until 500L).map { i =>
      (i, (0 until 8).map(d =>
        ((i * 37 + d * 101) % 997).toDouble / 997.0).toArray)
    }.toDF("vec_id", "embedding")
    def rows(keepNum: Int, keepDen: Int) =
      Dedup.diversitySample(emb, k = 8, keepNum = keepNum, keepDen = keepDen)
        .select(col("cell").cast("long"), col("vec_id"), col("rk"),
          col("cell_size"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3)))
    // keepNum/keepDen = 1 ranks the whole corpus (nothing dropped):
    // the reference ranking the fractional run must be a prefix of
    val full = rows(1, 1)
    val cells = full.map(_._1).toSet
    assert(cells.size > 1, "degenerate quantizer: one cell")
    assert(full.length === 500, "full ranking dropped rows")
    val half = rows(1, 2)
    val expected = full.filter { case (_, _, rk, n) =>
      rk <= math.max(1L, n / 2L)
    }.map(t => (t._1, t._2)).toSet
    assert(half.map(t => (t._1, t._2)).toSet === expected,
      "fractional keep is not the top-of-ranking prefix")
    // every cell survives selection (the >= 1 floor)
    assert(half.map(_._1).toSet === cells, "a cell lost all members")
    // deterministic end to end (trained quantizer + tie-break)
    assert(rows(1, 2).toSeq === half.toSeq, "selection not deterministic")
    // the production knobs (sampled training, two-level assignment)
    // keep the same contracts: full cell coverage, per-cell floor
    val prod = Dedup.diversitySample(emb, k = 16, keepNum = 1, keepDen = 2,
        branch = Some(4), trainSample = Some(0.5))
      .select(col("cell").cast("long"), col("rk"), col("cell_size"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(prod.nonEmpty)
    prod.groupBy(_._1).foreach { case (c, members) =>
      val n = members.head._3
      assert(members.length === math.max(1L, n / 2L).toInt,
        s"cell $c kept ${members.length} of $n")
    }
  }

  test("incremental curation equals full recomputation on the merged snapshot") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Sampling
    val out = TextAnalysis.qCurationIncr(spark, dir)
    val incr = out.filter(col("op") =!= "retract")
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // FULL recompute, no stored hashes anywhere: union the raw corpus
    // with the synthetic batch, one global keep-min dedup, budget, export
    val docs = Tables.documents(spark, dir)
    val nt = when(pmod(col("doc_id"), lit(20)) === 2, col("text"))
      .otherwise(concat(col("text"), lit(" b"), col("doc_id").cast("string")))
    val slimAll = docs.select(col("doc_id"), md5(col("text")).as("h"),
        length(col("text")).cast("long").as("n_chars"), col("lang"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 2)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
          md5(nt).as("h"), length(nt).cast("long").as("n_chars"), col("lang")))
    val dedupFull = slimAll
      .withColumn("_k", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("_k")).drop("_k")
    val sel = Sampling.tokenBudget(dedupFull, col("lang"), col("doc_id"),
        col("n_chars"), 20000L)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val full = Sampling.shuffleExport(sel, col("doc_id"), 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(incr === full,
      s"incremental diverged from full recompute: " +
        s"missing=${(full -- incr).size} extra=${(incr -- full).size}")
    // content-dup batch docs (unchanged text) must never surface
    val dupBatchSurvivors = out.collect().map(_.getLong(0))
      .filter(id => id >= 1000000000000L && (id - 1000000000000L) % 20 == 2)
    assert(dupBatchSurvivors.isEmpty,
      s"content-duplicate batch docs leaked: ${dupBatchSurvivors.take(5).toSeq}")
    // retracted docs are exactly the previously-selected ones now absent
    val retracts = out.filter(col("op") === "retract")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(retracts.intersect(incr.map(_._1)).isEmpty)
  }

  test("markup strip recovers the original text byte-exactly") {
    val clean = TextAnalysis.txHtmlStrip(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val raw = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean.keySet === raw.keySet)
    raw.foreach { case (id, t) =>
      assert(clean(id) === t, s"doc $id not restored byte-exactly") }
  }

  test("chunking: dense ids, full coverage, hashes match the real substrings") {
    val out = TextAnalysis.chunks(Tables.documents(spark, dir), 200, 150)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4)))
    val text = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.map(_._1).toSet === text.keySet, "every document chunked")
    out.groupBy(_._1).foreach { case (id, cs) =>
      val t = text(id)
      // dense chunk ids at stride spacing
      assert(cs.map(_._2).sorted.toSeq === (0L until cs.length).toSeq)
      cs.foreach { case (_, cid, start, len, hash) =>
        assert(start === cid * 150)
        val s = t.substring(start.toInt, math.min(start.toInt + 200, t.length))
        assert(len === s.length, s"doc $id chunk $cid length")
        assert(hash === md5hex(s), s"doc $id chunk $cid hash")
      }
      // coverage: the last chunk reaches the end of the document
      val (_, _, lastStart, lastLen, _) = cs.maxBy(_._2)
      assert(lastStart + lastLen === t.length.toLong, s"doc $id tail uncovered")
      // overlap: consecutive chunks share win - stride chars (or the doc ended)
      assert(cs.length === (if (t.length <= 200) 1
        else 1 + math.ceil((t.length - 200) / 150.0).toInt))
    }
  }

  test("interleave: strict 2:1 cadence until a source drains, slots unique, sides complete") {
    import graft.operators.Sampling
    val out = Sampling.qInterleave(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val docs = Tables.documents(spark, dir).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // every document appears exactly once, in its own group
    assert(out.length === docs.length)
    assert(out.map(_._1).distinct.length === out.length)
    val grpOf = out.map(t => t._1 -> t._2).toMap
    docs.foreach { case (id, lang) =>
      assert(grpOf(id) === (if (lang == "en") "en" else "other")) }
    // slots are unique, and within the full cycles before the smaller
    // side drains the cadence is exactly en,en,other
    assert(out.map(_._3).distinct.length === out.length)
    val nEn = docs.count(_._2 == "en")
    val nOther = docs.length - nEn
    val fullCycles = math.min(nEn / 2, nOther.toLong)
    val bySlot = out.map(t => t._3 -> t._2).toMap
    (0L until fullCycles * 3).foreach { s =>
      val expect = if (s % 3 < 2) "en" else "other"
      assert(bySlot(s) === expect, s"slot $s: ${bySlot.get(s)} != $expect")
    }
  }

  test("random projection preserves genuine near-duplicates in the reduced space") {
    import spark.implicits._
    // the regime RP reduction exists for: real neighbors with a margin.
    // On this corpus's random positive vectors the background cosines
    // are near-ties (~0.75 ± 0.02) — no projection can rank THOSE — but
    // a planted cos≈0.999 near-dup must survive 64→16 reduction and
    // surface at the top of the reduced-space sweep.
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val planted = base.map { case (id, v) =>
      val w = v.clone(); w(0) += 0.01 * math.abs(w(0)) + 1e-3; (id + 1000000L, w)
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val top = Similarity.rpTopK(all, col("vec_id") >= 1000000L, k = 5)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = planted.count { case (q, _) =>
      top.getOrElse(q, Set.empty).contains(q - 1000000L) }.toDouble / planted.length
    assert(recall >= 0.9, s"planted near-dup recall in reduced space: $recall")
  }

  test("two-stage rerank: any true neighbor surviving candidates is kept; recall >= raw ADC") {
    val emb = Tables.embeddings(spark, dir)
    def sets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = sets(Similarity.bruteTopK(emb, col("vec_id") < 10)
      .select("q_id", "neighbor_id").collect())
    val pq = sets(Similarity.ivfPqTopK(emb, v => v < 10)
      .select("q_id", "neighbor_id").collect())
    val cand = sets(Similarity.ivfPqTopK(emb, v => v < 10, k = 20)
      .select("q_id", "neighbor_id").collect())
    val rr = sets(Similarity.ivfPqRerank(emb, v => v < 10)
      .select("q_id", "neighbor_id").collect())
    // the pointwise guarantee: a true top-5 neighbor inside the candidate
    // set is necessarily in the reranked top-5 (at most 4 others beat it
    // anywhere, so at most 4 beat it among candidates)
    truth.foreach { case (q, ts) =>
      val survived = ts.intersect(cand.getOrElse(q, Set.empty))
      assert(survived.subsetOf(rr.getOrElse(q, Set.empty)),
        s"query $q: true neighbors $survived in candidates but not reranked")
    }
    val pqRecall = truth.map { case (q, ts) =>
      ts.intersect(pq.getOrElse(q, Set.empty)).size }.sum.toDouble
    val rrRecall = truth.map { case (q, ts) =>
      ts.intersect(rr.getOrElse(q, Set.empty)).size }.sum.toDouble
    assert(rrRecall >= pqRecall,
      s"rerank recall $rrRecall below raw ADC recall $pqRecall")
  }

  test("filter funnel: first-failing attribution, counts conserve the corpus") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.txFilterFunnel(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = Tables.documents(spark, dir).count()
    // funnel plumbing: stage i+1 receives exactly stage i's survivors,
    // and every row satisfies in - dropped = out
    assert(out.head._3 === total)
    out.foreach { case (_, f, nIn, nDrop, nOut) =>
      assert(nIn - nDrop === nOut, s"$f not conservative") }
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 === a._5, s"${b._2} n_in != ${a._2} n_out")
    case _ => }
    // double-entry: recompute first-failing attribution per doc in Scala
    val docs = Tables.documents(spark, dir)
      .select("text", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy { case (t, nc) =>
      val w = t.split(" ", -1)
      if (nc < 100) 0
      else if (nc > 20000) 1
      else if (w.length < 20) 2
      else if (w.distinct.length.toDouble / w.length < 0.3) 3
      else 4
    }.map { case (s, rows) => s -> rows.length.toLong }
    out.foreach { case (stage, f, _, nDrop, _) =>
      assert(nDrop === expected.getOrElse(stage, 0L), s"$f drop count") }
    // the cascade must actually drop something AND let something through
    assert(out.map(_._4).sum > 0, "no filter fired on the test corpus")
    assert(out.last._5 > 0, "cascade dropped the whole corpus")
  }

  test("priority retention keeps the most-trusted source, not the smallest doc_id") {
    import spark.implicits._
    // planted cluster: three near-identical docs where the SMALLEST id has
    // the WORST source — min-id retention and priority retention disagree
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val other = "one two three four five six seven eight nine ten " * 3
    val docs = Seq(
      (1L, base, "src9"),            // worst source, smallest id
      (2L, base + "lambda", "src2"), // best source — must win
      (3L, base + "mu", "src5"),
      (10L, other, "src7"),          // second cluster: tie on source number
      (11L, other, "src7"),          //   → doc_id tiebreak keeps 10
      (20L, "red orange yellow green blue indigo violet umber black white " * 3, "src0"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.priorityRetention(docs,
        substring(col("source"), 4, 8).cast("int"), minJaccard = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byCluster = out.map(t => t._1 -> t).toMap
    assert(byCluster(1L) === ((1L, 2L, "src2", 3L)),
      s"cluster 1 must keep the src2 copy: ${out.mkString(", ")}")
    assert(byCluster(10L) === ((10L, 10L, "src7", 2L)),
      s"cluster 10 must tiebreak by doc_id: ${out.mkString(", ")}")
    // unique doc 20 forms no pair, so it is not a cluster row at all
    assert(out.length === 2)
  }

  test("paragraph dedup drops repeated blocks, keeps first occurrence, " +
    "rebuilds text") {
    import spark.implicits._
    val shared = "a b c d e f g h" // one exact 8-word block
    val docs = Seq(
      (1L, s"$shared i j k l m n o p"),          // first occurrence — kept whole
      (2L, s"$shared x1 x2 x3 x4 x5 x6 x7 x8"),  // block 0 is a repeat — dropped
      (3L, shared),                              // exact repeat only — doc exits
      (4L, "z1 z2 z3")).toDF("doc_id", "text")   // short unique doc
    val out = Dedup.paragraphDedup(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 2L, 2L, s"$shared i j k l m n o p"),
      (2L, 2L, 1L, "x1 x2 x3 x4 x5 x6 x7 x8"),
      (4L, 1L, 1L, "z1 z2 z3")),
      s"unexpected paragraph-dedup output: ${out.mkString("; ")}")
  }

  test("quantile selection equals the sorted order statistic, with ties") {
    import spark.implicits._
    // group "a": 10 values incl. duplicates; "b": a single row
    val va = Seq(5.0, 1.0, 3.0, 3.0, 9.0, 3.0, 7.0, 1.0, 8.0, 2.0)
    val rows = (va.map(("a", _)) :+ (("b", 42.0))).toDF("g", "v")
    val out = graft.queries.Relational
      .quantileSelect(rows, "g", "v", Seq(("p50", 1, 2), ("p90", 9, 10)),
        buckets = 4) // tiny B forces multi-row probe buckets
      .orderBy("g").collect()
    val sa = va.sorted
    val (k50, k90) = ((va.size - 1) / 2 + 1, ((va.size - 1) * 9) / 10 + 1)
    assert(out(0).getLong(1) === va.size)
    assert(out(0).getLong(2) === k50 && out(0).getDouble(3) === sa(k50 - 1))
    assert(out(0).getLong(4) === k90 && out(0).getDouble(5) === sa(k90 - 1))
    // n=1 group: min==max degenerate bucketing, both quantiles = the row
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getDouble(3) === 42.0 && out(1).getDouble(5) === 42.0)
  }

  test("quantile selection: >1024 groups exercise the broadcast-join fallback") {
    import spark.implicits._
    // the literal-fold probe path caps at maxLiteralTargets=1024 collected
    // (group,bucket) targets; 1500 groups x 1 quantile overflows it, so
    // this runs the generic broadcast-join path end to end — the path no
    // driver query reaches (they all have a handful of groups)
    val rows = (0 until 1500).flatMap { g =>
      (0 until 5).map(i => (s"g$g", (g * 31 + i * 7 % 13).toDouble))
    }.toDF("g", "v")
    val out = graft.queries.Relational
      .quantileSelect(rows, "g", "v", Seq(("p50", 1, 2)))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out.size === 1500)
    val exp = rows.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1)
      .map { case (g, vs) => g -> vs.map(_._2).sorted.apply((5 - 1) / 2) }
    exp.foreach { case (g, e) =>
      assert(out(g) === e, s"group $g: ${out(g)} != $e")
    }
  }

  test("quantileInterp is bit-identical to Spark's percentile sort-agg") {
    import spark.implicits._
    // randomized multiset (fixed seed): skewed magnitudes across binades,
    // duplicates, tiny and single-row groups — the interpolation formula
    // (hi-p)*v_lo + (p-lo)*v_hi must reproduce the built-in percentile
    // EXACTLY, including integral positions and n=1/n=2 edges
    val rnd = new scala.util.Random(42)
    val rows = (0 until 2000).map { i =>
      val g = s"g${i % 7}"
      val v = math.floor(rnd.nextDouble() * math.pow(10, rnd.nextInt(6)) * 100) / 100
      (g, v)
    } ++ Seq(("one", 3.14), ("two", 1.0), ("two", 2.0))
    val df = rows.toDF("g", "v")
    val qs = Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    val got = graft.queries.Relational.quantileInterp(df, "g", "v", qs)
      .orderBy("g").collect()
      .map(r => (r.getString(0), qs.indices.map(i => r.getDouble(2 + i))))
    val exp = df.groupBy(col("g"))
      .agg(percentile(col("v"), lit(0.25)).as("p25"),
        percentile(col("v"), lit(0.5)).as("p50"),
        percentile(col("v"), lit(0.9)).as("p90"),
        percentile(col("v"), lit(0.99)).as("p99"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), qs.indices.map(i => r.getDouble(1 + i))))
    assert(got.length === exp.length)
    got.zip(exp).foreach { case ((gg, gv), (eg, ev)) =>
      assert(gg === eg)
      gv.zip(ev).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ===
          java.lang.Double.doubleToLongBits(b),
          s"group $gg: interp $a != percentile $b")
      }
    }
  }

  test("KS statistic matches the hand-computed distance, any bucket count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // A = {1,2,3,4}, B = {3,4,5,6}: D = 0.5 (at v=2), d_num = 4·2-4·0 = 8
    val rows = (Seq(1.0, 2.0, 3.0, 4.0).map((_, true)) ++
      Seq(3.0, 4.0, 5.0, 6.0).map((_, false))).toDF("v", "a")
    for (nb <- Seq(1, 2, 128)) { // incl. the degenerate single bucket
      val out = graft.operators.TextAnalysis
        .ksStatistic(rows, col("v"), col("a"), lo = 0.0, hi = 8.0,
          nBuckets = nb).collect()
      assert(out.length === 1)
      assert(out(0).getLong(0) === 4L && out(0).getLong(1) === 4L)
      assert(out(0).getLong(2) === 8L, s"nBuckets=$nb")
      assert(out(0).getDouble(3) === 0.5, s"nBuckets=$nb")
    }
    // identical samples → zero distance
    val same = (Seq(1.0, 2.0).map((_, true)) ++
      Seq(1.0, 2.0).map((_, false))).toDF("v", "a")
    val z = graft.operators.TextAnalysis
      .ksStatistic(same, col("v"), col("a"), lo = 0.0, hi = 4.0).collect()
    assert(z(0).getLong(2) === 0L && z(0).getDouble(3) === 0.0)
  }

  test("two-table snapshot overlap equals the predicate form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "a b c d e"), (2L, "a b c d e x"), (4L, "p q r s t"),
      (1L, "a b c d e"), (3L, "u v w x y z")).toDF("doc_id", "text")
    val byPred = graft.operators.Dedup.snapshotOverlap(docs,
      pmod(col("doc_id"), lit(2)) === 0, pmod(col("doc_id"), lit(2)) === 1)
      .collect().map(_.toSeq)
    val byTables = graft.operators.Dedup.snapshotOverlap(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      .collect().map(_.toSeq)
    assert(byPred === byTables)
  }

  test("preference pairs: strict margin, no self or cross-group pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.6), (1L, 12L, 0.86), // group 1
      (2L, 20L, 0.5), (2L, 21L, 0.5)                   // group 2: tie
    ).toDF("g", "id", "s")
    val got = graft.operators.Sampling
      .preferencePairs(rows, col("g"), col("id"), col("s"), margin = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 0.9 beats 0.6 (gap .3) and 0.86 beats 0.6 (gap .26); 0.9 vs 0.86
    // gap .04 < margin -> no pair; group-2 tie -> nothing
    assert(got === Set((1L, 10L, 11L), (1L, 12L, 11L)))
  }

  test("SFT pairs: one example per assistant turn, context is the prior tape") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val turns = Seq(
      (1L, 0, "hi", "user"), (1L, 1, "hello", "assistant"),
      (1L, 2, "how", "user"), (1L, 3, "fine", "assistant"),
      (2L, 0, "solo", "assistant") // conversation opening with assistant
    ).toDF("conv_id", "turn_idx", "turn_text", "role")
    val got = graft.operators.TextAnalysis.sftPairs(turns)
      .orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(got === Array(
      (1L, 1, "user: hi", "hello"),
      (1L, 3, "user: hi | assistant: hello | user: how", "fine"),
      (2L, 0, "", "solo")))
  }

  test("weighted systematic sampling: heavy rows certain, picks = ceil(T/step)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted tape: one heavy row among light ones
    val rows = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 100L)).toDF("k", "w")
    val got = graft.operators.Sampling
      .weightedSystematic(rows, col("k"), col("w"), picks = 2L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_picks"))).toMap
    // T = 103, step = 51: the w=100 row spans >= 1 grid point regardless
    // of where the hash order placed it; total picks = ceil(103/51) = 3
    assert(got.contains(4L), s"heavy row not selected: $got")
    assert(got.values.sum === 3L, s"wrong total picks: $got")
    // every selected row's span really contains its grid points: picks
    // are bounded by ceil(w/step) + 1
    got.foreach { case (k, n) =>
      val w = if (k == 4L) 100L else 1L
      assert(n >= 1 && n <= w / 51 + 1, s"row $k picked $n times")
    }
  }

  test("rendezvous sharding: growing the ring moves only new-shard winners") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ids = (0L until 2000L).toDF("doc_id")
    val a = ids.select(col("doc_id"),
        graft.operators.Sampling.rendezvousShard(col("doc_id"), 8).as("s8"),
        graft.operators.Sampling.rendezvousShard(col("doc_id"), 9).as("s9"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(a.forall { case (s8, s9) => s8 >= 0 && s8 < 8 && s9 >= 0 && s9 < 9 })
    // the HRW law: a doc moves iff the NEW shard outranks its old one —
    // every mover lands on shard 8, nothing migrates between old shards
    val movers = a.filter { case (s8, s9) => s8 != s9 }
    assert(movers.nonEmpty && movers.forall(_._2 === 8),
      s"movers to old shards: ${movers.filter(_._2 != 8).take(5).toSeq}")
    // expected movement 1/9 of the corpus (binomial, generous band)
    assert(movers.length > 2000 / 9 / 2 && movers.length < 2000 / 9 * 2,
      s"moved ${movers.length} of 2000")
  }

  test("next-fit packing invariants: contiguous, capacity-bounded, pad only when forced") {
    val C = 2048L
    val out = graft.operators.Sampling.qPackNextfit(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_eff"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("seq_off")))
    assert(out.length == 500) // every doc packed exactly once, none split
    // dense global sequence ids
    val seqIds = out.map(_._3).toSet
    assert(seqIds == (0L until seqIds.size).toSet, "sequence ids not dense")
    // within a sequence: docs contiguous from 0, total within capacity
    val bySeq = out.groupBy(_._3)
    bySeq.values.foreach { docs =>
      val sorted = docs.sortBy(_._4)
      var off = 0L
      sorted.foreach { case (_, n, _, o) =>
        assert(o == off, s"hole or overlap at $o (expected $off)")
        off += n
      }
      assert(off <= C, s"sequence overfilled: $off")
    }
    // the next-fit certificate: a sequence is only padded-closed when its
    // successor's first doc genuinely did not fit in the remaining space
    def bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:pack".getBytes("UTF-8"))
      ((d(0) >> 4) & 0xf).toLong
    }
    val byBucket = out.groupBy { case (id, _, _, _) => bucket(id) }
    var padded = 0L
    byBucket.values.foreach { docs =>
      val seqs = docs.groupBy(_._3).toSeq.sortBy(_._1)
      seqs.sliding(2).foreach {
        case Seq((_, cur), (_, next)) =>
          val pad = C - cur.map(_._2).sum
          val first = next.minBy(_._4)
          assert(first._2 > pad,
            s"doc ${first._1} (n=${first._2}) fit in pad $pad but opened a new sequence")
          padded += pad
        case _ =>
      }
    }
    // the corpus genuinely exercises padding (explicit accounting)
    assert(padded > 0, "no padded sequence in the whole corpus")
  }

  test("tx_scorer_serve: in-engine Cramer fit satisfies the least-squares certificate") {
    // The defining property of the normal-equation solution — residuals
    // orthogonal to every regressor (Σr = Σr·c0 = Σr·c1 = 0) — checked
    // on the actual served output. This can only hold if train → solve →
    // serve composed correctly; it is independent of how the solve was
    // done, so it certifies the round trip rather than re-deriving it.
    val out = graft.operators.TextAnalysis.txScorerServe(spark, dir).collect()
    assert(out.length == 500)
    val resid = out.map(r => r.getAs[Double]("pred") - r.getAs[Long]("y").toDouble)
    val c0 = out.map(_.getAs[Long]("c0").toDouble)
    val c1 = out.map(_.getAs[Long]("c1").toDouble)
    val yScale = out.map(r => math.abs(r.getAs[Long]("y").toDouble)).sum
    assert(math.abs(resid.sum) / yScale < 1e-9, s"intercept orthogonality ${resid.sum}")
    assert(math.abs(resid.zip(c0).map { case (r, c) => r * c }.sum) /
      (yScale * c0.max) < 1e-9, "c0 orthogonality")
    assert(math.abs(resid.zip(c1).map { case (r, c) => r * c }.sum) /
      (yScale * c1.max) < 1e-9, "c1 orthogonality")
    // and the fit genuinely explains the label (R^2): token counts carry
    // most of the weight-sum signal, so the distilled model must too
    val my = out.map(_.getAs[Long]("y").toDouble).sum / out.length
    val ssTot = out.map(r => math.pow(r.getAs[Long]("y").toDouble - my, 2)).sum
    val ssRes = resid.map(r => r * r).sum
    assert(1.0 - ssRes / ssTot > 0.95, s"R^2 ${1.0 - ssRes / ssTot}")
  }

  test("q_calibration agrees with an independent mlQuality x quality join") {
    // the operator computes the label per doc and joins it to the score
    // aggregate; the reference recomputes both halves through the public
    // operators and re-bins — bin-for-bin equality certifies the chain
    val docs = Tables.documents(spark, dir)
    val cal = TextAnalysis.calibration(docs).collect()
    val ref = TextAnalysis.mlQuality(docs)
      .select(col("doc_id"), col("ml_score"))
      .join(TextAnalysis.quality(docs).select(col("doc_id"),
        (col("quality_score") >= 0.5).cast("int").as("lab")), "doc_id")
      .select(col("lab"), col("ml_score"),
        least(greatest(floor((col("ml_score") + lit(1.0)) * lit(5.0)),
          lit(0L)), lit(9L)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("lab")).as("n_keep"),
        min("ml_score").as("score_lo"), max("ml_score").as("score_hi"))
      .collect()
      .map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_keep"),
          r.getAs[Double]("score_lo"), r.getAs[Double]("score_hi")))
      .toMap
    assert(cal.nonEmpty && cal.length == ref.size)
    cal.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val (n, nKeep, lo, hi) = ref(bin)
      assert(r.getAs[Long]("n") == n, s"bin $bin n")
      assert(r.getAs[Long]("n_keep") == nKeep, s"bin $bin n_keep")
      assert(r.getAs[Double]("score_lo") == lo, s"bin $bin score_lo")
      assert(r.getAs[Double]("score_hi") == hi, s"bin $bin score_hi")
      assert(r.getAs[Double]("keep_rate") == nKeep.toDouble / n)
      // bin boundaries contain the observed score extremes
      assert(lo >= -1.0 + bin * 0.2 - 1e-12 || bin == 0L)
      assert(hi <= -1.0 + (bin + 1) * 0.2 + 1e-12 || bin == 9L)
    }
    // total rows = scored docs (docs with >= 1 non-empty token)
    assert(cal.map(_.getAs[Long]("n")).sum ==
      TextAnalysis.mlQuality(docs).count())
  }

  test("tx_diversity: Cauchy-Schwarz bound and uniform-distribution equality") {
    import spark.implicits._
    // effective vocabulary n^2 / sum(tf^2) <= n_distinct (Cauchy-Schwarz),
    // equality exactly when every term is equally frequent; simpson in
    // [0, 1) with 0 exactly for single-term docs
    val docs = Seq(
      (1L, "a a a b b b c c c"),        // uniform: eff_vocab == 3
      (2L, "a a a a a a a a b"),        // concentrated: eff_vocab << 2
      (3L, "x x x x"),                  // single term: simpson == 0
      (4L, "p q r s t")                 // all distinct: eff_vocab == 5
    ).toDF("doc_id", "text")
    val out = TextAnalysis.diversity(docs).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("n_distinct"), r.getAs[Double]("simpson"),
        r.getAs[Double]("eff_vocab")))
    out.foreach { case (id, n, dst, simpson, ev) =>
      assert(ev <= dst.toDouble + 1e-9, s"doc $id: eff_vocab $ev > distinct $dst")
      assert(simpson >= 0.0 && simpson < 1.0, s"doc $id: simpson $simpson")
      assert(math.abs(ev - 1.0 / (1.0 - simpson)) < 1e-9,
        s"doc $id: eff_vocab inconsistent with simpson")
      assert(n >= dst)
    }
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._5 === 3.0)   // uniform -> equality
    assert(byId(3L)._4 === 0.0)   // single term -> zero diversity
    assert(byId(4L)._5 === 5.0)   // all distinct = uniform tf=1
    assert(byId(2L)._5 < 1.4)     // 8-vs-1 split concentrates hard
  }

  test("scorer moments: normal-equation solve recovers a planted linear model") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // exact-linear label over integer features: y = 7 + 3x1 - 2x2 + x3
    val data = (1 to 200).map { r =>
      val (x1, x2, x3) = (r % 5, (r / 3) % 7, (r / 2) % 3)
      (x1.toLong, x2.toLong, x3.toLong,
        7L + 3 * x1 - 2 * x2 + x3)
    }
    val df = data.toDF("x1", "x2", "x3", "y")
    val m = graft.operators.TextAnalysis
      .scorerMoments(df, Seq(col("x1"), col("x2"), col("x3")), col("y"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), BigDecimal(r.getString(2))))
      .toMap
    val k = 4 // intercept + 3 features
    val a = Array.tabulate(k, k)((i, j) =>
      m(if (i <= j) (i, j) else (j, i)).toDouble)
    val b = Array.tabulate(k)(i => m((i, k)).toDouble)
    // the caller-side O(k^3) solve the operator doc promises: Gaussian
    // elimination with partial pivoting on the collected k x k table
    for (p <- 0 until k) {
      val piv = (p until k).maxBy(r => math.abs(a(r)(p)))
      val (tr, tb) = (a(p), b(p)); a(p) = a(piv); a(piv) = tr
      b(p) = b(piv); b(piv) = tb
      for (r <- p + 1 until k) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p until k) a(r)(c) -= f * a(p)(c)
        b(r) -= f * b(p)
      }
    }
    val w = new Array[Double](k)
    for (p <- k - 1 to 0 by -1)
      w(p) = (b(p) - (p + 1 until k).map(c => a(p)(c) * w(c)).sum) / a(p)(p)
    val expect = Seq(7.0, 3.0, -2.0, 1.0)
    expect.zip(w).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-9, s"weights $w") }
    // and the fit predicts every training row exactly (linear data)
    data.foreach { case (x1, x2, x3, y) =>
      val pred = w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3
      assert(math.abs(pred - y) < 1e-6)
    }
  }

  test("stratifiedQuota: picks sum exactly to the budget, quotas within 1 of proportional") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val picked = Sampling.stratifiedQuota(docs, col("lang"), col("doc_id"), 100)
    assert(picked.count() === 100L, "largest-remainder must hit the budget exactly")
    val q = picked.groupBy(col("lang"))
      .agg(first(col("quota")).as("quota"), first(col("stratum_n")).as("sn"),
        count(lit(1)).as("got"))
      .collect()
    q.foreach { r =>
      val (quota, sn, got) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(got === quota, s"stratum ${r.getString(0)} picked $got != quota $quota")
      val exact = 100.0 * sn / n
      assert(math.abs(quota - exact) < 1.0,
        s"quota $quota vs proportional $exact for ${r.getString(0)}")
    }
  }

  test("softDedup: cluster weights are 1/n_copies and total mass = distinct texts") {
    val out = Dedup.softDedup(Tables.documents(spark, dir))
    // weight * n_copies == 1 exactly (per-row division of 1.0)
    assert(out.filter(col("weight") * col("n_copies") =!= 1.0).count() === 0L)
    val distinctTexts = Tables.documents(spark, dir)
      .select(md5(col("text"))).distinct().count()
    val mass = out.agg(sum(col("weight"))).collect()(0).getDouble(0)
    assert(math.abs(mass - distinctTexts) < 1e-6,
      s"total weight $mass != $distinctTexts clusters")
  }

  test("novelty: first occurrence scores 1.0, exact duplicate of it scores 0.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // exact dup of doc 1
      (3L, "omega psi chi phi upsilon")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.novelty(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) === 1.0)
    assert(out(2L) === 0.0)
    assert(out(3L) === 1.0)
  }

  test("retention: week 0 is 1.0 for every cohort (members active in their first week)") {
    val r = graft.queries.Relational.qRetention(spark, dir)
      .filter(col("week_k") === 0).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Double]("retention") === 1.0,
        s"cohort ${row.get(0)} week-0 retention ${row.getAs[Double]("retention")}")
    }
  }

  test("per-row kernels are bit-identical to their exploded reference formulations") {
    import org.apache.spark.sql.graft.VectorExprs
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")

    // simhash64 vs token-explode + 64 sum-aggregates
    val tok = docs.select(col("doc_id"), explode(w).as("t"))
    def bitSum(half: org.apache.spark.sql.Column, b: Int) =
      sum(when(shiftright(half, b).bitwiseAND(1) === 1, 1).otherwise(-1))
    val h = tok.select(col("doc_id"),
      VectorExprs.md5Long(col("t"), 1, 8).as("lo"),
      VectorExprs.md5Long(col("t"), 9, 8).as("hi"))
    val bitSums = h.groupBy(col("doc_id")).agg(
      bitSum(col("lo"), 0).as("s0"),
      ((1 until 32).map(b => bitSum(col("lo"), b).as(s"s$b")) ++
        (0 until 32).map(b => bitSum(col("hi"), b).as(s"s${32 + b}"))): _*)
    def pack(off: Int) =
      (0 until 32).map(b =>
        when(col(s"s${off + b}") > 0, shiftleft(lit(1L), b)).otherwise(0L))
        .reduce(_ + _)
    val refSim = bitSums.select(col("doc_id"),
      pack(0).as("sh_lo"), pack(32).as("sh_hi"))
    assert(Dedup.simhash(docs).except(refSim).isEmpty &&
      refSim.except(Dedup.simhash(docs)).isEmpty,
      "simhash kernel diverges from the aggregate formulation")

    // bigramXxh64 vs arrays_zip + xxhash64(two children)
    val refBg = docs
      .select(col("doc_id"),
        explode(arrays_zip(w, slice(w, lit(2), size(w)))).as("z"))
      .filter(col("z.1").isNotNull)
      .select(col("doc_id"), xxhash64(col("z.0"), col("z.1")).as("bg"))
    val kerBg = docs.select(col("doc_id"),
      explode(VectorExprs.bigramXxh64(col("text"))).as("bg"))
    assert(kerBg.except(refBg).isEmpty && refBg.except(kerBg).isEmpty,
      "bigram kernel diverges from the zip + xxhash64 formulation")

    // minhashSigs vs shingle-explode + k min-aggregates
    val tallH = docs.select(col("doc_id"),
      explode(VectorExprs.shingle3Md5Long(col("text"), 1, 15)).as("sh"))
    val hashed = tallH.withColumn("hh",
      shiftright(col("sh"), 28) % lit(Dedup.MinhashP))
    def perm(j: Int) =
      (lit(Dedup.MinhashA(j)) * col("hh") + lit(Dedup.MinhashB(j))) %
        lit(Dedup.MinhashP)
    val refSig = hashed.groupBy(col("doc_id")).agg(
      min(perm(0)).as("mh0"),
      (1 until 16).map(j => min(perm(j)).as(s"mh$j")): _*)
    val kerSig = docs.select(col("doc_id"),
        VectorExprs.minhashSigs(col("text"),
          Dedup.MinhashA.take(16), Dedup.MinhashB.take(16),
          Dedup.MinhashP).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id") +:
        (0 until 16).map(j => element_at(col("s"), j + 1).as(s"mh$j")): _*)
    assert(kerSig.except(refSig).isEmpty && refSig.except(kerSig).isEmpty,
      "minhash kernel diverges from the aggregate formulation")
  }

  test("skyline: sound (no kept row dominated) and complete (every dropped row dominated)") {
    val all = Tables.part(spark, dir).filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"), col("p_retailprice").cast("double"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val kept = graft.queries.Relational.qSkyline(spark, dir)
      .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
    def dominated(a: (Long, Double, Int)) =
      all.exists(b => b._2 < a._2 && b._3 >= a._3)
    all.foreach { p =>
      if (kept(p._1)) assert(!dominated(p), s"kept $p is dominated")
      else assert(dominated(p), s"dropped $p is not dominated")
    }
  }

  test("anomaly: every flagged day deviates by more than 3 MAD under a plain-Scala replay") {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val byType = daily.groupBy(_._1)
    val flagged = graft.queries.Relational.qAnomaly(spark, dir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    byType.foreach { case (t, rows) =>
      val med = lowerMedian(rows.map(_._3).toSeq)
      val mad = lowerMedian(rows.map(r => math.abs(r._3 - med)).toSeq)
      rows.foreach { case (_, day, n) =>
        val isAnom = math.abs(n - med) > 3 * mad
        assert(flagged((t, day)) === isAnom, s"($t, $day, n=$n) med=$med mad=$mad")
      }
    }
  }

  test("purge manifest: purged + kept equals table size for every table") {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val m = TextAnalysis.purgeManifest(docs, emb,
      col("source").isin("src3", "src7")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m("documents")._1 + m("documents")._2 === docs.count())
    assert(m("embeddings")._1 + m("embeddings")._2 === emb.count())
    assert(m("documents")._1 > 0, "blocked sources must be non-empty in testdata")
  }

  test("IVF append: retrain-free — append-then-search equals one-shot on the merged corpus") {
    val emb = Tables.embeddings(spark, dir)
    val isNew = col("vec_id") % 5 === 0
    val base = emb.filter(!isNew)
    val batch = emb.filter(isNew)
    // assignment under the frozen base-trained quantizer: assigning base
    // and batch separately (the append path) must equal one-shot
    // assignment of the merged corpus — row for row
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue())).toSet
    val appended = pairs(Similarity.ivfAssign(base, base)) ++
      pairs(Similarity.ivfAssign(batch, base))
    val oneShot = pairs(Similarity.ivfAssign(emb, base))
    assert(appended === oneShot)
    // and the search served on the frozen quantizer over the merged
    // corpus is identical regardless of how the index was accumulated
    val s1 = Similarity.ivfTopK(emb, v => v < 5,
        quantizerSource = Some(base)).collect().map(_.toSeq).toSet
    val s2 = Similarity.ivfTopK(batch.unionByName(base), v => v < 5,
        quantizerSource = Some(base)).collect().map(_.toSeq).toSet
    assert(s1 === s2)
    // audit invariants: totals exact, shares sum to 1, drift sums to 0
    val audit = Similarity.ivfAppend(emb, v => v % 5 === 0).collect()
    assert(audit.map(_.getAs[Long]("n_base")).sum === base.count())
    assert(audit.map(_.getAs[Long]("n_new")).sum === batch.count())
    assert(math.abs(audit.map(_.getAs[Double]("share_all")).sum - 1.0) < 1e-9)
    assert(math.abs(audit.map(_.getAs[Double]("drift")).sum) < 1e-9)
  }

  test("resample max-gap cap bounds a sparse multi-year key to event-proportional rows") {
    import spark.implicits._
    import graft.queries.Relational
    // one key with 3 events spread over 3 YEARS (the uncapped grid
    // densifies its whole span), one dense key as a control
    val ev = Seq(
      (1L, "2019-01-01 00:30:00", 1.0),
      (1L, "2020-06-15 12:30:00", 2.0),
      (1L, "2022-01-01 00:30:00", 3.0),
      (2L, "2022-01-01 00:30:00", 5.0),
      (2L, "2022-01-01 02:30:00", 7.0)
    ).toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val uncapped = Relational.resampleHourly(ev)
    val sparseSpanHours = uncapped.filter(col("user_id") === 1).count()
    assert(sparseSpanHours > 26000, // ~3 years of hourly slots for 3 events
      s"expected the uncapped grid to densify the full span, got $sparseSpanHours")
    val capped = Relational.resampleHourly(ev, maxGapHours = 24)
    // event-proportional: <= events x (cap+1), instead of span-proportional
    assert(capped.filter(col("user_id") === 1).count() <= 3 * 25)
    // where both paths produce a slot, the filled value agrees
    val disagree = capped.alias("c")
      .join(uncapped.alias("u"), Seq("user_id", "hour"))
      .filter(col("c.v_ff") =!= col("u.v_ff"))
      .count()
    assert(disagree === 0, "capped fill diverges from uncapped on shared slots")
    // the dense key's 2-hour gap is under the cap: fully filled
    assert(capped.filter(col("user_id") === 2).count() === 3)
  }

  test("readability: integer Flesch law on hand-computed texts") {
    import spark.implicits._
    val docs = Seq(
      // 3 sentences, 6 words, syllables: the(1) cat(1) sat(1) it(1)
      // ran(1) away(2) = 7
      (1L, "The cat sat. It ran! Away?"),
      // vowel-less words still count one syllable each: hmm grr = 2,
      // no sentence marks -> n_sentences clamps to 1
      (2L, "hmm grr"),
      (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.readability(docs).orderBy("doc_id").collect()
    val d1 = r(0)
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(3)) === ((6L, 3L, 7L)))
    // 206835 - (1015*6)/3 - (84600*7)/6 = 206835 - 2030 - 98700 = 106105
    assert(d1.getLong(4) === 106105L)
    assert(d1.getString(5) === "very_easy")
    val d2 = r(1)
    assert((d2.getLong(1), d2.getLong(2), d2.getLong(3)) === ((2L, 1L, 2L)))
    // 206835 - 2030/1 - 169200/2 = 206835 - 2030 - 84600 = 120205
    assert(d2.getLong(4) === 120205L)
    val d3 = r(2) // empty text: all counts 0, guards keep the law total
    assert((d3.getLong(1), d3.getLong(2), d3.getLong(3)) === ((0L, 1L, 0L)))
    assert(d3.getLong(4) === 206835L - 1015L - 0L)
  }

  test("skewReport surfaces the planted heavy hitter with the right skew factor") {
    import spark.implicits._
    // 90 rows of key 7, ten singleton keys: n_rows=100, n_keys=11, max=90
    val df = (Seq.fill(90)(7L) ++ (100L until 110L)).toDF("k")
    val rep = graft.queries.Relational.skewReport(df, col("k"), topK = 3).collect()
    assert(rep.length === 3)
    val top = rep(0)
    assert(top.getInt(0) === 1 && top.getLong(1) === 7L && top.getLong(2) === 90L)
    assert(top.getLong(3) === 9000L) // 90*10000/100
    assert(top.getLong(7) === 90L * 11L * 1000L / 100L) // skew_x1000 = 990
    // singleton ties broken by key ascending
    assert(rep(1).getLong(1) === 100L && rep(2).getLong(1) === 101L)
  }

  test("compacting per-batch shard exports over disk equals the one-shot export") {
    import graft.operators.Sampling
    val ev = Tables.events(spark, dir).select(col("event_id"), col("event_type"))
    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // three micro-batches land on disk through the streaming upsert body
    (0 until 3).foreach { b =>
      graft.streaming.EventStreams.upsertShardBatch(
        ev.filter(pmod(col("event_id"), lit(3L)) === b), b.toLong, out, nShards = 4)
    }
    val onDisk = spark.read.parquet(out) // batch=/shard= both partition-infer
    val compacted = Sampling.compactShards(onDisk, col("event_id"), 4)
      .select("event_id", "event_type", "shard", "pos")
    val oneShot = Sampling.shuffleExport(ev, col("event_id"), 4)
      .select("event_id", "event_type", "shard", "pos")
    assert(compacted.exceptAll(oneShot).isEmpty && oneShot.exceptAll(compacted).isEmpty,
      "compaction of batched exports diverged from the one-shot export")
  }

  test("scd2: picked version is the arithmetic inverse of the validity law") {
    // dim law: valid_from(v) = base_k + v*step_k with base_k =
    // 1994-01-01 + (k%150)*5 days, step_k = (365 + k%200) days, v in 0..2
    // => expected version = min(2, floor((t - base_k)/step_k)), or NULL
    // for orders predating base_k. Recompute directly and diff.
    val r = graft.operators.AsOfJoin.qScd2(spark, dir)
    val epoch = 757382400000000L
    val day = 86400000000L
    val base = lit(epoch) + (col("o_custkey") % 150) * 5 * lit(day)
    val step = (lit(365L) + col("o_custkey") % 200) * lit(day)
    val t = unix_micros(col("o_orderdate"))
    val expected = when(t < base, lit(null))
      .otherwise(least(lit(2L), floor((t - base) / step).cast("long")))
    val bad = r.withColumn("_exp", expected)
      .filter(!(col("dim_version") <=> col("_exp")))
    assert(bad.isEmpty, s"scd2 version law violated: ${bad.head(3).mkString}")
    // the NULL (pre-first-version) path is actually exercised
    assert(r.filter(col("dim_version").isNull).count() > 0)
  }

  test("survivorship: recency rules match a window recompute") {
    val ev = Tables.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc)
    val lastType = ev.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).select(col("user_id"), col("event_type"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    val got = graft.queries.Relational.qSurvivorship(spark, dir).collect()
    got.foreach { row =>
      assert(row.getString(4) === lastType(row.getLong(0)),
        s"last_event_type mismatch for user ${row.getLong(0)}")
    }
    // additive + extremes: totals over all users equal whole-table aggs
    val nTotal = got.map(_.getLong(3)).sum
    assert(nTotal === ev.count())
  }

  test("hier rollup: partitions the forest and agrees with a walked chain") {
    val r = graft.queries.Relational.qHierRollup(spark, dir).collect()
    val parts = Tables.part(spark, dir)
    assert(r.map(_.getLong(1)).sum === parts.count()) // exhaustive
    assert(r.forall(_.getLong(0) < 70L)) // roots only
    // walk one deep chain by hand: root(k) via repeated div-7
    val maxKey = parts.agg(max(col("p_partkey"))).head.getLong(0)
    var k = maxKey; var d = 0L
    while (k >= 70) { k = k / 7; d += 1 }
    val row = r.find(_.getLong(0) == k).get
    assert(row.getLong(2) >= d, s"root $k max_depth ${row.getLong(2)} < walked $d")
  }

  test("lm score: hand-computed bigram surprise on a tiny corpus") {
    import spark.implicits._
    // train doc 0: "a b a b c" -> bigrams ab,ba,ab,bc
    //   c2: ab=2, ba=1, bc=1 ; c1: a=2, b=2
    // score doc 1: "a b c d" -> ab: len(bin 2)-len(bin 2)=0
    //   bc: c1(b)=2,c2(bc)=1 -> 2-1=1 ; cd: c1(c) null -> 20
    val docs = Seq((0L, "a b a b c"), (1L, "a b c d")).toDF("doc_id", "text")
    val r = TextAnalysis.lmScore(docs).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 3L) // n_bigrams
    assert(r(0).getLong(2) === 21L) // 0 + 1 + 20
    assert(math.abs(r(0).getDouble(3) - 7000.0) < 1e-9)
  }

  test("winnow: coverage guarantee, short-doc rule, position sensitivity") {
    import spark.implicits._
    // shared run of w+k-1 = 6 tokens guarantees >= 1 shared fingerprint
    val shared = "q1 q2 q3 q4 q5 q6"
    val docs = Seq(
      (1L, s"u1 u2 u3 $shared v1 v2"),
      (2L, s"x1 x2 $shared y1 y2 y3"),
      (3L, "a b c"), // 1 shingle -> exactly one fingerprint (global min)
      (4L, "c b a") // reversed: different shingles, no pair with 3
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnow(docs, w = 4, minShared = 1).collect()
    assert(pairs.exists(p => p.getLong(0) == 1L && p.getLong(1) == 2L),
      "winnowing missed the guaranteed shared run")
    assert(!pairs.exists(p => p.getLong(1) == 4L && p.getLong(0) == 3L),
      "reversed doc must not share fingerprints")
    // the sf corpus: planted near-dups must surface as winnow pairs too
    val truth = Dedup.ngramJaccard(Tables.documents(spark, dir), 0.9)
      .select("doc_a", "doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val found = Dedup.winnow(Tables.documents(spark, dir))
      .select("doc_a", "doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(truth.subsetOf(found),
      s"winnow missed planted near-dup pairs: ${truth.diff(found)}")
  }

  test("bigram hash kernel is bit-equal to the string-bigram xxhash formulation") {
    import org.apache.spark.sql.graft.VectorExprs
    val docs = Tables.documents(spark, dir)
    val w = split(col("text"), " ")
    val ref = docs
      .select(col("doc_id"), explode(arrays_zip(w, slice(w, lit(2), size(w)))).as("z"))
      .filter(col("z.1").isNotNull)
      .select(col("doc_id"), xxhash64(col("z.0")).as("k1"),
        xxhash64(concat_ws(" ", col("z.0"), col("z.1"))).as("k12"))
    val kernel = docs
      .select(col("doc_id"), explode(VectorExprs.bigramHashes(col("text"))).as("b"))
      .select(col("doc_id"), col("b.k1").as("k1"), col("b.k12").as("k12"))
    assert(kernel.exceptAll(ref).isEmpty && ref.exceptAll(kernel).isEmpty,
      "bigram kernel keys diverged from the string formulation")
  }

  test("winnow kernel is bit-equal to the HOF window-min formulation") {
    import org.apache.spark.sql.graft.VectorExprs
    val docs = Tables.documents(spark, dir)
    for (w <- Seq(4, 8)) {
      val g = VectorExprs.shingle3Md5Long(col("text"), 1, 15)
      val hof = docs.select(col("doc_id"), g.as("g"))
        .filter(size(col("g")) >= 1)
        .select(col("doc_id"), explode(array_distinct(
          when(size(col("g")) < w, array(array_min(col("g"))))
            .otherwise(expr(
              s"transform(sequence(0, size(g) - $w), j -> array_min(slice(g, j + 1, $w)))"))))
          .as("fp"))
      val kernel = docs.select(col("doc_id"),
        explode(VectorExprs.winnowFps(col("text"), w, 1, 15)).as("fp"))
      assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty,
        s"winnow kernel diverged from the HOF formulation at w=$w")
    }
  }

  test("vad: decoded frame energies equal the sample law, framing drops the tail") {
    val r = graft.operators.Multimodal.mmVad(spark, dir).collect()
    assert(r.nonEmpty)
    // recompute one doc's frames from the generator law in plain Scala
    val id = r.head.getLong(0)
    val n = (id % 32 + 16).toInt
    val expFrames = n / 8
    val got = r.filter(_.getLong(0) == id)
    assert(got.length === expFrames, s"doc $id framing (n=$n)")
    got.foreach { row =>
      val f = row.getInt(1)
      val e = (f * 8 until f * 8 + 8).map { i =>
        val u = Math.floorMod(37 * id + 101 * i, 65536)
        math.abs(if (u < 32768) u else u - 65536).toLong
      }.sum
      assert(row.getLong(2) === e, s"doc $id frame $f energy")
      assert(row.getBoolean(3) === (e > 131072L))
    }
  }

  test("patches: tiling is exhaustive and sums re-compose the decode checksum") {
    val meta = graft.operators.Multimodal.mmMeta(spark, dir).collect()
      .filter(_.getString(1) == "image/png")
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getLong(5)))).toMap
    val byDoc = graft.operators.Multimodal.mmPatches(spark, dir).collect()
      .groupBy(_.getLong(0))
    assert(byDoc.keySet === meta.keySet)
    byDoc.foreach { case (id, rows) =>
      val (w, h, checksum) = meta(id)
      assert(rows.map(_.getInt(3)).sum === w * h, s"doc $id tiling not exhaustive")
      assert(rows.map(_.getLong(4)).sum === checksum, s"doc $id luma sum")
      // edge cells partial whenever the dims aren't multiples of 4
      if (w % 4 != 0) assert(rows.exists(_.getInt(3) < 16))
    }
  }

  test("profile: counts reconcile against direct table aggregates") {
    val r = graft.queries.Relational.qProfile(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    val orders = Tables.orders(spark, dir)
    val row = r(("orders", "o_orderstatus"))
    assert(row.getLong(2) === orders.count())
    assert(row.getLong(4) ===
      orders.select(col("o_orderstatus")).distinct().count())
    // modal value by independent recompute
    val top = orders.groupBy(col("o_orderstatus")).count()
      .orderBy(col("count").desc, col("o_orderstatus").desc).head
    assert(row.getString(5) === top.getString(0))
    assert(row.getLong(6) === top.getLong(1))
  }

  test("paths: every reported journey is a real prefix and counts are exact") {
    val ev = Tables.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val expected = ev.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 5)
      .groupBy(col("user_id"))
      .agg(concat_ws(">", expr(
        "transform(array_sort(collect_list(struct(_rn, event_type))), x -> x.event_type)"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val got = graft.queries.Relational.qPaths(spark, dir).collect()
    got.foreach(row =>
      assert(expected(row.getString(0)) === row.getLong(1),
        s"path ${row.getString(0)}"))
  }

  test("heavy hitters: output is exact and invariant to partitioning") {
    val docs = Tables.documents(spark, dir)
    val w = split(col("text"), " ")
    val items = docs
      .select(explode(arrays_zip(w, slice(w, lit(2), size(w)))).as("z"))
      .filter(col("z.1").isNotNull)
      .select(concat_ws(" ", col("z.0"), col("z.1")).as("item"))
    val n = items.count()
    val exact = items.groupBy(col("item")).count()
      .filter(col("count") * 640L > n)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // two very different partitionings must both return the exact set —
    // the MG phase is mechanism, provably output-invariant
    Seq(1, 13).foreach { p =>
      val got = TextAnalysis.heavyHitters(docs.repartition(p))
        .collect().map(x => (x.getString(0), x.getLong(1))).toMap
      assert(got === exact, s"heavy hitters diverged at $p partitions")
    }
  }

  test("ivm join: the four delta terms are disjoint and exhaustive") {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val full = o.join(c, col("o_custkey") === col("c_custkey")).count()
    // union-all of the maintained view's pre-aggregation terms: same
    // cardinality as the recompute means no pair is dropped or doubled
    val oOld = o.filter(col("o_orderkey") % 10 =!= 0)
    val dO = o.filter(col("o_orderkey") % 10 === 0)
    val cOld = c.filter(col("c_custkey") % 7 =!= 0)
    val dC = c.filter(col("c_custkey") % 7 === 0)
    def j(of: org.apache.spark.sql.DataFrame, cf: org.apache.spark.sql.DataFrame) =
      of.join(cf, col("o_custkey") === col("c_custkey")).count()
    assert(j(oOld, cOld) + j(dO, cOld) + j(oOld, dC) + j(dO, dC) === full)
  }

  test("cdc apply: last op wins, tombstones delete, upserts resurrect") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(s * 1000L)
    val log = Seq(
      (1L, t(1), "click", 10.0), // U then D: key 1 must be absent
      (1L, t(2), "error", 0.0),
      (2L, t(1), "click", 5.0), // U, D, U: resurrected with the last value
      (2L, t(2), "error", 0.0),
      (2L, t(3), "purchase", 7.5),
      (3L, t(1), "view", 1.0) // plain upsert survives
    ).toDF("user_id", "ts", "event_type", "value")
    val got = graft.queries.Relational.cdcApply(log)
      .orderBy("user_id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(2L, 3L))
    val k2 = got(0)
    assert(k2.getDouble(2) === 7.5 && k2.getLong(3) === 3L && k2.getLong(4) === 1L)
  }

  test("filtered ANN: neighbors all satisfy the predicate, k always fills") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val got = Similarity.annFiltered(spark, dir).collect()
    got.foreach(row => assert(labels(row.getLong(1)) % 2 === 0,
      s"neighbor ${row.getLong(1)} fails the predicate"))
    // PRE-filtering always fills k (post-filtering a plain top-k under-
    // fills whenever < k of the unfiltered neighbors pass)
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length === 5, s"query $q under-filled")
    }
    val post = Similarity.bruteTopK(emb, col("vec_id") < 10).collect()
      .filter(row => labels(row.getLong(1)) % 2 == 0)
    assert(post.length < got.length,
      "expected post-filtering to under-fill on this corpus")
  }

  test("ohlc: one bar recomputed by hand from the raw ticks") {
    val r = graft.queries.Relational.qOhlc(spark, dir).head
    val barTs = r.getTimestamp(0)
    val et = r.getString(1)
    val ticks = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type") === et &&
        date_trunc("hour", col("ts")) === lit(barTs))
      .orderBy(col("ts")).select(col("value")).collect().map(_.getDouble(0))
    assert(r.getDouble(2) === ticks.head) // open
    assert(r.getDouble(3) === ticks.max) // high
    assert(r.getDouble(4) === ticks.min) // low
    assert(r.getDouble(5) === ticks.last) // close
    assert(r.getLong(6) === ticks.length.toLong)
  }

  test("twap: constant series returns the constant; durations weight correctly") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      // constant series, irregular sampling: twap must be exactly 4.5
      ("c", t(0), 4.5), ("c", t(7), 4.5), ("c", t(100), 4.5),
      // 10.0 held 3 s then 1.0 held 1 s -> (30+1)/4 = 7.75
      ("w", t(0), 10.0), ("w", t(3), 1.0), ("w", t(4), 99.0)
    ).toDF("event_type", "ts", "value")
    val r = graft.queries.Relational.twap(ev).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getLong(2))).toMap
    assert(r("c")._1 === 4.5 && r("c")._2 === 100L)
    assert(r("w")._1 === 7.75 && r("w")._2 === 4L)
  }

  test("merge intervals: containment, chains, and gaps merge by the island law") {
    import spark.implicits._
    val iv = Seq(
      // chain: [0,10) [5,20) -> one island [0,20); gap then [30,40)
      (1L, 0L, 10L), (1L, 5L, 20L), (1L, 30L, 40L),
      // containment: [0,100) swallows [10,20) and [90,95)
      (2L, 0L, 100L), (2L, 10L, 20L), (2L, 90L, 95L),
      // touching, half-open: [0,10) [10,20) merge (s == maxe not >)
      (3L, 0L, 10L), (3L, 10L, 20L)
    ).toDF("user_id", "s", "e")
    val r = graft.queries.Relational.mergeIntervals(iv).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r(1L) === ((2L, 3L, 30L, 20L)))
    assert(r(2L) === ((1L, 3L, 100L, 100L)))
    assert(r(3L) === ((1L, 2L, 20L, 20L)))
  }

  test("ab test: z-score equals the two-proportion formula on the emitted counts") {
    val r = graft.queries.Relational.qAbTest(spark, dir).head
    val (na, xa, nb, xb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (pa, pb) = (xa.toDouble / na, xb.toDouble / nb)
    val pool = (xa.toDouble + xb.toDouble) / (na.toDouble + nb.toDouble)
    val z = (pa - pb) / math.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    assert(r.getDouble(4) === pa && r.getDouble(5) === pb)
    assert(r.getDouble(6) === z)
    assert(r.getBoolean(7) === (math.abs(z) > 1.96))
  }

  test("collocations: a planted repeated phrase outranks its parts' chance rate") {
    import spark.implicits._
    // "zx qy" co-occurs always; "aa bb" co-occur but also apart
    val docs = (0L until 20L).map { i =>
      (i, if (i % 2 == 0) s"zx qy aa filler$i bb aa" else s"aa zx qy bb cc$i")
    }.toDF("doc_id", "text")
    val top = TextAnalysis.collocations(docs, k = 5, minPair = 3).collect()
    assert(top.nonEmpty)
    assert(top.head.getString(0) === "zx" && top.head.getString(1) === "qy",
      s"expected zx>qy to top PMI, got ${top.head}")
  }

  test("fast single-block MD5 is bit-identical to MessageDigest (incl. block boundaries)") {
    import org.apache.spark.sql.graft.Md5NibblesLong
    val rnd = new scala.util.Random(7)
    val md = java.security.MessageDigest.getInstance("MD5")
    // 55 bytes is the last single-block length (56 forces a second
    // block and takes the MessageDigest fallback) — sweep across it,
    // at several offsets, against every nibble window the kernels use
    for (len <- (0 to 64) ++ Seq(100, 1000); off <- 0 to 2) {
      val b = new Array[Byte](len + 5)
      rnd.nextBytes(b)
      md.reset(); md.update(b, off, len)
      val d = md.digest()
      for ((st, nl) <- Seq((1, 8), (9, 8), (1, 15), (17, 15), (5, 4))) {
        assert(Md5NibblesLong.md5Nibbles(b, off, len, st, nl) ===
          Md5NibblesLong.nibbles(d, st, nl),
          s"md5 mismatch at len=$len off=$off window=($st,$nl)")
      }
    }
  }

  test("winnow hot fingerprint: capped buffer yields pairs identical to the unbounded formulation") {
    import org.apache.spark.sql.graft.VectorExprs
    import spark.implicits._
    // one boilerplate run shared by 60 docs (12x the cap of 5) plants a
    // hot fingerprint whose occupancy must be detected WITHOUT ever
    // holding 60 doc_ids in one aggregation buffer; two clean near-dup
    // pairs sit under the cap and must still surface
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val docs = ((0 until 60).map(i => (100L + i, s"$boiler tail$i x$i y$i")) ++
      Seq((1L, "p1 p2 p3 p4 p5 p6 p7 p8"),
          (2L, "p1 p2 p3 p4 p5 p6 p7 p8 z9"),
          (3L, "r1 r2 r3 r4 r5 r6 r7 r8"),
          (4L, "r1 r2 r3 r4 r5 r6 r7 r8 s9"))).toDF("doc_id", "text")
    val capped = Dedup.winnow(docs, w = 4, minShared = 1, occupancyCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: the unbounded collect_list + post-aggregation filter
    // (correct on small data, OOM-prone at scale) — outputs must match
    val fps = docs.select(col("doc_id"),
      explode(VectorExprs.winnowFps(col("text"), 4, 1, 15)).as("fp"))
    val ref = fps.groupBy(col("fp"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, 5))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.doc_a"), col("p.doc_b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped === ref,
      s"capped pairs diverged from the unbounded formulation: " +
        s"missing=${ref.diff(capped)} extra=${capped.diff(ref)}")
    assert(capped.exists(t => t._1 == 1L && t._2 == 2L) &&
      capped.exists(t => t._1 == 3L && t._2 == 4L),
      "under-cap near-dup pairs lost")
    // the ubiquitous all-boiler fingerprints (occupancy 60 > cap) must
    // be dropped whole: had any survived, all C(60,2) = 1770 boiler
    // pairs would appear. (SOME boiler pairs are legitimate — a window
    // min lands on the shared gram for only the few docs whose unique
    // tail gram hashes above it, giving an under-cap occupancy.)
    val boilerPairs = capped.count(t => t._1 >= 100L && t._2 >= 100L)
    assert(boilerPairs < 200,
      s"hot fingerprint leaked past the occupancy cap: $boilerPairs boiler pairs")
  }

  test("paths hot user: a 10k-event user crosses as k rows and keeps its first-k path") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    // bot user 1: 10k events, the first five types spell the path;
    // user 2: a short clean journey
    val bot = (0 until 10000).map(i => (1L, ts(i), s"e${math.min(i, 9)}"))
    val clean = (0 until 3).map(i => (2L, ts(i), s"c$i"))
    val ev = (bot ++ clean).zipWithIndex
      .map { case ((u, t, e), i) => (u, t, i.toLong, e) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val rows = graft.queries.Relational.topPaths(ev, 5).collect()
    val paths = rows.map(r => (r.getString(0), r.getLong(1))).toMap
    assert(paths("e0>e1>e2>e3>e4") == 1L, s"bot path wrong: $paths")
    assert(paths("c0>c1>c2") == 1L, s"clean path wrong: $paths")
  }

  test("lm score: join formulation and prune semantics match the broadcast-model serve") {
    val docs = Tables.documents(spark, dir)
    val served = TextAnalysis.lmScore(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // the no-driver-collect join fallback is bit-identical at prune=off
    val joined = TextAnalysis.lmScoreJoin(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(joined === served,
      "lmScoreJoin diverged from the broadcast-model serve at minCount=1")
    // pruned model (minCount=2): singleton bigrams fall back to the
    // unseen-continuation cost, so every doc's surprise is >= unpruned,
    // n_bigrams identical, and docs whose bigrams all clear the
    // threshold score EXACTLY as before
    val pruned = TextAnalysis.lmScore(docs, minCount = 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val prunedJoin = TextAnalysis.lmScoreJoin(docs, minCount = 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(pruned === prunedJoin,
      "pruned serve and pruned join formulations diverged")
    assert(pruned.keySet === served.keySet)
    served.foreach { case (id, (nb, s)) =>
      val (nbP, sP) = pruned(id)
      assert(nbP == nb, s"doc $id bigram count changed under pruning")
      assert(sP >= s, s"doc $id surprise DROPPED under pruning: $sP < $s")
    }
    assert(served.exists { case (id, (_, s)) => pruned(id)._2 == s },
      "expected at least one doc scored identically under minCount=2")
    assert(served.exists { case (id, (_, s)) => pruned(id)._2 > s },
      "expected at least one doc to pay backoff for a pruned bigram")
  }

  test("ab test: degenerate all-or-none conversion yields NULL z, not NaN") {
    import spark.implicits._
    // every user converts -> pooled rate 1.0 -> variance 0: both arms
    // full; z must be NULL (and significant NULL), never NaN/Infinity
    val ev = (0L until 10L).map(u => (u, "purchase", 300.0))
      .toDF("user_id", "event_type", "value")
    val r = graft.queries.Relational.abTest(ev).collect().head
    assert(r.isNullAt(6), s"degenerate z not NULL: ${r.get(6)}")
    assert(r.isNullAt(7), s"degenerate significance not NULL: ${r.get(7)}")
    // all-none: nobody converts -> pooled 0.0 -> same guard
    val ev0 = (0L until 10L).map(u => (u, "view", 1.0))
      .toDF("user_id", "event_type", "value")
    val r0 = graft.queries.Relational.abTest(ev0).collect().head
    assert(r0.isNullAt(6) && r0.isNullAt(7), "all-none arm not guarded")
  }

  test("vad skips non-conforming WAVs (stereo / 8-bit) instead of mis-scoring them") {
    import spark.implicits._
    def wav(channels: Int, bits: Int, nSamples: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        8000f, bits, channels, bits == 16, false)
      val data = new Array[Byte](nSamples * channels * (bits / 8))
      java.util.Arrays.fill(data, 0x40.toByte) // loud enough to be voiced
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt,
          nSamples.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val payloads = Seq(
      (1L, wav(channels = 1, bits = 16, nSamples = 64)), // conforming
      (2L, wav(channels = 2, bits = 16, nSamples = 64)), // stereo: skip
      (3L, wav(channels = 1, bits = 8, nSamples = 64))   // 8-bit: skip
    ).toDF("doc_id", "payload")
    val out = graft.operators.Multimodal.vadFrames(payloads).collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(ids === Set(1L),
      s"non-conforming WAVs were scored instead of skipped: $ids")
  }

  test("withRunningTotal equals the single-window row_number / running sum") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    import graft.core.PrefixScan
    val rnd = new scala.util.Random(11)
    // negatives, ties, zero and a null value — the sortableBits bucketing
    // must order the whole double line, null first as the single window
    // does; ties resolve by the tie column. A null stratum rides along for
    // the per-stratum shapes below.
    val rows = (1 to 500).map(i =>
      (i.toLong, Option(math.round(rnd.nextGaussian() * 3).toDouble),
        rnd.nextInt(5) + 1L, Option(s"g${i % 3}"))) ++
      Seq((501L, None, 2L, Some("g1")), (502L, Some(1.0), 3L, None))
    val df = rows.toDF("id", "v", "w", "g")
    def frame(part: Seq[Column], exclusive: Boolean) =
      Window.partitionBy(part: _*).orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding,
          if (exclusive) -1 else Window.currentRow)
    // (id, got) multisets; the clue names the first rows either side lacks
    def same(got: DataFrame, exp: DataFrame, what: String): Unit = {
      def pairs(d: DataFrame) =
        d.select(col("id"), col("got").cast("string")).collect()
          .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq.sorted
      val (g, e) = (pairs(got), pairs(exp))
      assert(g.diff(e).isEmpty && e.diff(g).isEmpty, s"$what diverged from " +
        s"the single window: got ${g.diff(e).take(5)}, want ${e.diff(g).take(5)}")
    }
    same(graft.queries.Analytics.withRunningTotal(df,
        col("v"), col("id"), col("w"), "got", buckets = 16),
      df.withColumn("got", sum(col("w")).over(frame(Nil, exclusive = false))),
      "withRunningTotal")
    // the helper's other shapes against the same single-window reference;
    // duplicated rows tie on the whole order, so the ROWS frame must hand
    // each copy its own total (a RANGE frame gives every peer the sum)
    val bucket = floor(col("v") / 2).cast("long")
    val order = Seq(col("v"), col("id"))
    val dup = df.union(df.filter(pmod(col("id"), lit(7L)) === 0))
    val shapes = Seq(
      ("per-stratum inclusive sum", df, Seq(col("g")),
        PrefixScan.Sum(col("w"), "got"), false,
        sum(col("w")).over(frame(Seq(col("g")), exclusive = false))),
      ("exclusive sum", df, Nil, PrefixScan.Sum(col("w"), "got"), true,
        coalesce(sum(col("w")).over(frame(Nil, exclusive = true)), lit(0L))),
      ("per-stratum exclusive max", df, Seq(col("g")),
        PrefixScan.Max(col("w"), "got"), true,
        max(col("w")).over(frame(Seq(col("g")), exclusive = true))),
      ("duplicate order keys", dup, Nil, PrefixScan.Sum(col("w"), "got"),
        false, sum(col("w")).over(frame(Nil, exclusive = false))))
    shapes.foreach { case (name, in, by, agg, exclusive, reference) =>
      same(PrefixScan.running(in, by, bucket, order, Seq(agg), exclusive),
        in.withColumn("got", reference), name)
    }
  }

  test("triangleCount: K4 plus a triangle-free path counts exactly 4") {
    import spark.implicits._
    // K4 on {1,2,3,4} has C(4,3)=4 triangles; the path 10-11-12 adds none
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L)).toDF("u", "v")
    val r = graft.queries.Analytics.triangleCount(edges).head()
    assert(r.getAs[Long]("n_nodes") === 7L)
    assert(r.getAs[Long]("n_edges") === 8L)
    assert(r.getAs[Long]("n_triangles") === 4L)
  }

  test("temperatureMix: quotas hit the budget exactly and up-sample the tail") {
    import spark.implicits._
    // head source 900 docs, tail 100: proportional gives the tail 10% of
    // the budget; sqrt-temperature gives it sqrt(100)/(sqrt(900)+sqrt(100)) = 25%
    val docs = ((1 to 900).map(i => (i.toLong, "head")) ++
      (1001 to 1100).map(i => (i.toLong, "tail")))
      .toDF("doc_id", "source")
    val sel = graft.operators.Sampling.temperatureMix(
      docs, col("source"), col("doc_id"), 100)
    val bySrc = sel.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.values.sum === 100L, s"quota sum != budget: $bySrc")
    assert(bySrc("tail") === 25L, s"tail not temperature-up-sampled: $bySrc")
    // deterministic: the same call selects the same doc set
    val a = sel.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.operators.Sampling.temperatureMix(
        docs, col("source"), col("doc_id"), 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("overlap kernel: flush-on-full path yields the same distinct count as the expression") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExprs
    // ONE document whose distinct 3-gram shingles exceed the kernel's
    // flush threshold ((3/4)·2^21 ≈ 1.57M) forces both the mid-document
    // resume and at least one table flush; correctness must not depend
    // on either (duplicates across flushes re-merge downstream).
    val nWords = 1700000
    val sb = new java.lang.StringBuilder(nWords * 8)
    var i = 0
    while (i < nWords) { if (i > 0) sb.append(' '); sb.append("w").append(i); i += 1 }
    val doc = Seq((0L, sb.toString)).toDF("doc_id", "text")
    val viaKernel = Dedup.snapshotOverlap(doc,
      inA = col("doc_id") >= 0, inB = col("doc_id") < 0).head()
    val expected = doc.select(explode(
        VectorExprs.shingle3Md5Long(col("text"), 1, 8)).as("h8"))
      .select((col("h8") % lit(2147483647L)).as("h"))
      .distinct().count()
    assert(viaKernel.getAs[Long]("n_a") === expected,
      "flush path changed the distinct-shingle count")
    assert(viaKernel.getAs[Long]("n_b") === 0L)
  }

  test("fluency kernel: flush-on-full path keeps exact uniqueness semantics") {
    import spark.implicits._
    // one document whose distinct bigrams exceed the flush threshold
    // ((3/4)·2^21) forces mid-document resume + table flushes; every
    // bigram occurs once, so all must come back corpus-unique
    val nWords = 1700000
    val sb = new java.lang.StringBuilder(nWords * 9)
    var i = 0
    while (i < nWords) { if (i > 0) sb.append(' '); sb.append("w").append(i); i += 1 }
    // a second doc with an in-doc repeat and a cross-doc share:
    // "x y x y" -> "x y" twice (not rare), "y x" once (rare);
    // doc 2 repeats one of doc 0's bigrams ("w0 w1") -> not rare
    val docs = Seq((0L, sb.toString), (1L, "x y x y"), (2L, "w0 w1"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.fluency(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((nWords - 1L, nWords - 2L)),
      "giant doc: all bigrams unique except the one doc 2 repeats")
    assert(out(1L) === ((3L, 1L)), "repeat doc: only 'y x' is corpus-unique")
    assert(out(2L) === ((1L, 0L)), "shared bigram is not corpus-unique")
  }

  test("export checksums are invariant to partitioning and catch any row change") {
    val docs = Tables.documents(spark, dir)
    val base = graft.operators.Sampling.exportChecksums(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val shuffled = graft.operators.Sampling.exportChecksums(
        docs.repartition(17, col("lang")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(base === shuffled, "manifest changed under repartitioning")
    // a single-row content change must move its shard's checksum
    val tampered = graft.operators.Sampling.exportChecksums(
        docs.withColumn("text",
          when(col("doc_id") === 16, concat(col("text"), lit("x")))
            .otherwise(col("text"))))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val baseMap = base.map(r => r._1 -> r._3).toMap
    assert(tampered(0L) !== baseMap(0L), "tampered shard 0 checksum unchanged")
    assert((1L until 16L).forall(s => tampered(s) === baseMap(s)),
      "untouched shards changed")
  }

  test("distinctTermHashes kernel: bit-equal to xxhash64 over termCounts' terms") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExprs
    val docs = Seq(
      (1L, "a b c a  b"), // dup terms + a double space (empty token)
      (2L, ""), // empty doc -> empty array -> zero exploded rows
      (3L, "   "), // only separators
      (4L, "solo"),
      (5L, (1 to 200).map(i => s"w${i % 37}").mkString(" "))) // growth + dups
      .toDF("doc_id", "text")
    val viaKernel = docs.select(col("doc_id"),
        explode(VectorExprs.distinctTermHashes(col("text"))).as("th"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaTerms = docs.select(col("doc_id"),
        explode(VectorExprs.termCounts(col("text"))).as("tc"))
      .select(col("doc_id"), xxhash64(col("tc.term")).as("th"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaKernel === viaTerms)
    // the df-branch swap is invisible end-to-end: tfidf's broadcast path
    // (kernel-df) and window path (tf-derived df) stay bit-equal
    val b = TextAnalysis.tfidf(Tables.documents(spark, dir))
      .orderBy("doc_id", "rank").collect().map(_.toString)
    val w = TextAnalysis.tfidf(Tables.documents(spark, dir), broadcastDf = false)
      .orderBy("doc_id", "rank").collect().map(_.toString)
    assert(b.sameElements(w), "tfidf broadcast/window paths diverged")
    // the fused serve kernel (histogram + broadcast-map probe + in-place
    // top-k, the production path) stays bit-equal too: same tf, same
    // th-keyed df, same IEEE division, same (score DESC, term ASC) order
    val f = TextAnalysis.tfidf(Tables.documents(spark, dir), fused = true)
      .orderBy("doc_id", "rank").collect().map(_.toString)
    assert(b.sameElements(f), "tfidf fused path diverged from declarative")
  }

  test("bm25: no self-hits, contiguous ranks, scores non-increasing") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.bm25(Tables.documents(spark, dir))
      .orderBy("q_id", "rank").collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) != r.getLong(2)), "self-hit leaked")
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ranks = rows.map(_.getInt(1)).toSeq
      assert(ranks === (1 to rows.length), s"q=$q ranks not contiguous")
      val scores = rows.sortBy(_.getInt(1)).map(_.getLong(4)).toSeq
      assert(scores === scores.sortBy(-_), s"q=$q scores not non-increasing")
    }
    // a distinctive rare term outranks common ones: build a corpus where
    // the query doc's top term appears in exactly one other doc
    import spark.implicits._
    val docs = Seq(
      (0L, "zzz zzz zzz common common"), // query (0 % qmod == 0)
      (1L, "zzz common common common common"), // the only other zzz doc
      (2L, "common common common common common"),
      (3L, "common other words here now"),
      (4L, "more words that are common")).toDF("doc_id", "text")
    val r = TextAnalysis.bm25(docs, qmod = 101, qterms = 1, topk = 3)
      .orderBy("rank").collect()
    assert(r.head.getLong(2) === 1L,
      "the sole doc sharing the rare query term must rank first")
  }

  test("rrf: fused score recomputes from the two rank columns") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Similarity.qRrf(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val lex = if (r.isNullAt(3)) None else Some(r.getInt(3))
      val vec = if (r.isNullAt(4)) None else Some(r.getInt(4))
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getDouble(5) === expect, s"rrf mismatch at $r")
    }
    // dual-evidence docs (present in both lists) dominate equal single-
    // list ranks: rrf(l, v) > rrf(l, none) whenever both present
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      val scores = sorted.map(_.getDouble(5)).toSeq
      assert(scores === scores.sortBy(-_), "rrf not non-increasing by rank")
    }
  }

  test("rrf: lsh-legged fusion recalls the brute-legged fused top-5") {
    // the production vector leg (multi-probe LSH + exact rerank) must
    // fuse to nearly the same top-5 the exact brute leg fuses to —
    // the truth-side check the verdict keeps brute force for
    def sets(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val lsh = sets(graft.operators.Similarity.rrfFusion(spark, dir).collect())
    val brute = sets(graft.operators.Similarity
      .rrfFusion(spark, dir, vectorLeg = "brute").collect())
    assert(brute.nonEmpty)
    val recalls = brute.map { case (q, t) =>
      lsh.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.8, s"fused top-5 avg recall $avg < 0.8 vs brute-legged fusion")
  }

  test("bm25: external caller-bounded query table, no qmod coupling") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "alpha alpha delta"),
      (3L, "beta gamma gamma gamma"),
      (4L, "delta delta epsilon")).toDF("doc_id", "text")
    val queries = Seq((100L, "beta"), (100L, "gamma"), (200L, "delta"))
      .toDF("q_id", "term")
    val out = TextAnalysis.bm25(docs, topk = 3, queries = Some(queries))
      .orderBy("q_id", "rank").collect()
    // every result q_id comes from the external table, never the corpus
    assert(out.map(_.getLong(0)).toSet === Set(100L, 200L))
    val q100 = out.filter(_.getLong(0) == 100L).map(_.getLong(2)).toSet
    assert(q100 === Set(1L, 3L), s"q100 hit docs $q100")
    assert(out.filter(_.getLong(0) == 200L).map(_.getLong(2)).toSet
      === Set(2L, 4L))
    // external ids never self-exclude: a q_id colliding with a doc_id
    // that matches the query term still returns that doc
    val self = TextAnalysis.bm25(docs, topk = 3,
        queries = Some(Seq((2L, "delta")).toDF("q_id", "term")))
      .collect()
    assert(self.map(_.getLong(2)).toSet === Set(2L, 4L),
      "external query id 2 wrongly self-excluded doc 2")
  }

  test("bm25 fused serve: bit-equal to the declarative join fallback, both paths") {
    import spark.implicits._
    // fused kernel (under both gates) vs the declarative join with the
    // vocab over its gate (qt broadcast, df shuffled) vs the query terms
    // over theirs (qt shuffled): same term histogram, same th-keyed df
    // probe, same IEEE fp expression order, same integer sums — all three
    // must agree to the bit on the real corpus (derived queries) and on
    // an external table with duplicate (q_id, term) rows (multiplicity
    // must score twice, like the join)
    def withConf[T](k: String, v: String)(f: => T): T = {
      spark.conf.set(k, v)
      try f finally spark.conf.unset(k)
    }
    val corpus = Tables.documents(spark, dir)
    def run(): Array[String] = TextAnalysis.bm25(corpus)
      .orderBy("q_id", "rank").collect().map(_.toString)
    val fused = run()
    val declarative = withConf("graft.bm25.maxBroadcastVocab", "0")(run())
    assert(fused.sameElements(declarative),
      "bm25 fused serve diverged from the df-shuffled declarative plan")
    val shuffled = withConf("graft.bm25.maxBroadcastQueryTerms", "0")(run())
    assert(fused.sameElements(shuffled),
      "bm25 fused serve diverged from the qt-shuffled declarative plan")
    // external path with a duplicated (q_id, term) row
    val docs = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "alpha alpha delta"),
      (3L, "beta gamma gamma gamma"),
      (4L, "delta delta epsilon")).toDF("doc_id", "text")
    val dupQ = Seq((9L, "beta"), (9L, "beta"), (9L, "gamma"))
      .toDF("q_id", "term")
    def runExt(): Array[String] =
      TextAnalysis.bm25(docs, topk = 4, queries = Some(dupQ))
        .orderBy("q_id", "rank").collect().map(_.toString)
    val extFused = runExt()
    val extDecl = withConf("graft.bm25.maxBroadcastVocab", "0")(runExt())
    assert(extFused.sameElements(extDecl),
      "bm25 fused serve diverged on duplicate external query terms")
  }

  test("unigram seed: driver pull bounded by alphabet + seedMulti on wide charsets") {
    import spark.implicits._
    // wide-charset corpus: 40 distinct CJK-range chars in shifting
    // 4-char words — distinct ≤4-char substrings far exceed seedMulti,
    // the regime where collecting the full candidate table is unbounded
    val chars = (0 until 40).map(i => (0x4E00 + i).toChar)
    val words = (0 until 200).map { i =>
      new String(Array(chars(i % 40), chars((i * 7 + 1) % 40),
        chars((i * 13 + 2) % 40), chars((i * 23 + 3) % 40)))
    }
    val wf = words.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
      .toSeq.toDF("_1", "_2")
    val seedMulti = 16
    val (alpha, multi) = TextAnalysis.unigramSeed(wf, seedMulti, 4)
    // reference selection: the naive full-collect-then-sort
    val all = scala.collection.mutable.Map[String, Long]()
    words.foreach { w =>
      for (i <- 0 until w.length; l <- 1 to math.min(4, w.length - i)) {
        val p = w.substring(i, i + l)
        all(p) = all.getOrElse(p, 0L) + 1L
      }
    }
    val nMultiCand = all.count(_._1.length > 1)
    assert(nMultiCand > 4 * seedMulti,
      s"corpus too narrow to exercise the bound ($nMultiCand candidates)")
    // the driver pull is ≤ |Σ| + seedMulti rows
    assert(alpha.size <= 40 && alpha.nonEmpty)
    assert(multi.size === seedMulti)
    // and selects exactly what the unbounded reference selects
    assert(alpha === all.filter(_._1.length == 1).toMap)
    val expectMulti = all.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(seedMulti)
    assert(multi === expectMulti)
  }

  test("LongLongMap: exact over keys including zero; over-capacity throws") {
    val m = new graft.core.LongLongMap(100)
    val rnd = new scala.util.Random(3)
    val ref = scala.collection.mutable.Map[Long, Long]()
    (1 to 100).foreach { _ =>
      val k = rnd.nextLong() >> rnd.nextInt(60)
      val v = rnd.nextInt(1000) + 1L
      m.addTo(k, v)
      ref(k) = ref.getOrElse(k, 0L) + v
    }
    m.addTo(0L, 7L)
    ref(0L) = ref.getOrElse(0L, 0L) + 7L
    ref.foreach { case (k, v) => assert(m.get(k) === v, s"key $k") }
    assert(m.get(123456789L) === (ref.getOrElse(123456789L, 0L)))
    val tiny = new graft.core.LongLongMap(2)
    intercept[IllegalStateException] {
      (1 to 100).foreach(i => tiny.put(i.toLong, 1L))
    }
    // at the rejection point the table still has an empty bucket, so a
    // lookup for an ABSENT key must terminate (the full-table probe would
    // spin forever if put were allowed to fill the last slot)
    assert(tiny.get(999999L) === 0L)
    // fill a map to exactly its last allowed slot and probe misses
    val edge = new graft.core.LongLongMap(4) // cap = 8, allows 7 distinct
    val inserted = scala.collection.mutable.ArrayBuffer[Long]()
    try {
      var i = 1L
      while (true) { edge.put(i, i); inserted += i; i += 1 }
    } catch { case _: IllegalStateException => () }
    inserted.foreach(k => assert(edge.get(k) === k))
    assert(edge.get(-42L) === 0L) // absent-key probe terminates when maximally full
  }

  test("expectations detects every planted violation with exact counts") {
    import spark.implicits._
    // orders: duplicate PK (7), bad status (4), zero price (2),
    // dangling custkey (5, customer table = {1,2})
    val orders = Seq(
      (1L, 1L, "O", 10.0), (2L, 1L, "F", 20.0), (3L, 2L, "P", 30.0),
      (3L, 2L, "X", 0.0), // dup PK + bad status + bad price
      (4L, 2L, "O", 40.0), (5L, 9L, "O", 50.0) // custkey 9 dangling
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val lineitem = Seq(
      (1L, 10.0, 0.05, "1995-01-01"), (2L, 0.0, 0.05, "1995-01-01"),
      (2L, 10.0, 0.5, "1995-01-01"), (9L, 10.0, 0.05, null)
    ).toDF("l_orderkey", "l_quantity", "l_discount", "_d")
      .withColumn("l_shipdate", col("_d").cast("timestamp")).drop("_d")
    val customer = Seq(1L, 2L).toDF("c_custkey")

    val got = graft.queries.Analytics
      .expectations(orders, lineitem, customer)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got("orders_pk_unique") === ((6L, 1L, false)))
    assert(got("orders_status_domain") === ((6L, 1L, false)))
    assert(got("orders_totalprice_positive") === ((6L, 1L, false)))
    assert(got("orders_custkey_ri") === ((6L, 1L, false)))
    assert(got("lineitem_quantity_range") === ((4L, 1L, false)))
    assert(got("lineitem_discount_range") === ((4L, 1L, false)))
    assert(got("lineitem_shipdate_present") === ((4L, 1L, false)))
    assert(got("lineitem_orderkey_ri") === ((4L, 1L, false)))
    // and a clean table passes every rule
    val clean = graft.queries.Analytics.expectations(
      Seq((1L, 1L, "O", 10.0), (2L, 2L, "F", 20.0))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
      Seq((1L, 10.0, 0.05, "1995-01-01"))
        .toDF("l_orderkey", "l_quantity", "l_discount", "_d")
        .withColumn("l_shipdate", col("_d").cast("timestamp")).drop("_d"),
      customer).collect()
    assert(clean.length === 8 && clean.forall(_.getBoolean(4)))
  }

  test("normalizedDedup folds case/punct/whitespace variants into one cluster") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO   WORLD"),
      (4L, "hello world"), // raw-dup of 2
      (5L, "something else entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.normalizedDedup(docs).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    // one fold cluster of 4 copies across 3 raw variants, one singleton
    assert(got === Map(1L -> ((4L, 3L)), 5L -> ((1L, 1L))))
    // raw exact dedup sees only the verbatim pair — the fold is strictly
    // coarser, never finer
    val rawClusters = Dedup.exact(docs).collect()
    assert(rawClusters.length === 4)
  }

  test("chisq matches the hand-computed 2x2 decomposition") {
    import spark.implicits._
    val rows = (Seq.fill(30)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(10)(("y", "u")) ++ Seq.fill(50)(("y", "v"))).toDF("a", "b")
    val got = graft.queries.Analytics.chisq(rows, col("a"), col("b"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(6), r.getDouble(7)))).toMap
    // N=100, rows x=40/y=60, cols u=40/v=60; dev = N*obs - row*col
    assert(got(("x", "u")) === ((30L, 1400L, 12.25)))
    assert(got(("x", "v"))._2 === -1400L)
    assert(got(("y", "u"))._2 === -1400L)
    assert(got(("y", "v"))._2 === 1400L)
    // contrib = dev^2/(N*row*col), exact for the xv cell: 1.96e6/2.4e5
    assert(math.abs(got(("x", "v"))._3 - 1960000.0 / 240000.0) < 1e-12)
    // zero-dev table decomposes to all-zero contribs
    val indep = (Seq.fill(20)(("x", "u")) ++ Seq.fill(20)(("x", "v")) ++
      Seq.fill(20)(("y", "u")) ++ Seq.fill(20)(("y", "v"))).toDF("a", "b")
    assert(graft.queries.Analytics.chisq(indep, col("a"), col("b"))
      .collect().forall(r => r.getLong(6) === 0L && r.getDouble(7) === 0.0))
  }

  test("hammingTopK: sign packing and distances match the hand law") {
    import spark.implicits._
    def vec(f: Int => Double): Array[Double] = Array.tabulate(64)(f)
    val emb = Seq(
      (0L, vec(_ => 1.0)),                       // all bits set
      (1L, vec(_ => -1.0)),                      // no bits set -> hamming 64
      (2L, vec(d => if (d == 0) -1.0 else 1.0)), // one bit off -> hamming 1
      (3L, vec(d => if (d < 32) 1.0 else -1.0))  // half off -> hamming 32
    ).toDF("vec_id", "embedding")
    val got = Similarity.hammingTopK(emb, col("vec_id") === 0, k = 3)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq === Seq((2L, 1, 1L), (3L, 2, 32L), (1L, 3, 64L)))
    // quantized neighbors still overlap the float truth on real data:
    // every query's hamming-top-5 must share candidates with the
    // cosine-top-5 somewhere in the query set (sign bits are a coarse
    // sketch — per-query recall isn't guaranteed, corpus-level overlap is)
    val embR = Tables.embeddings(spark, dir)
    val hm = Similarity.hammingTopK(embR, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cos = Similarity.bruteTopK(embR, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hm.nonEmpty && cos.nonEmpty)
    assert((hm intersect cos).nonEmpty,
      "sign-bit ANN shares no candidates at all with the float baseline")
  }

  test("rerank_ml with weights (1,0,0) reproduces the exact rerank pointwise") {
    // the linear reranker degenerates to ann_rerank when only the
    // exact-cosine feature carries weight: same candidates, same order,
    // and mlscore == cos on every row
    val emb = Tables.embeddings(spark, dir)
    val exact = Similarity.ivfPqRerank(emb, v => v < 10).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> ((r.getLong(1), r.getDouble(3))))
      .toMap
    val ml = Similarity.ivfPqRerankMl(emb, v => v < 10,
        weights = Some((lit(1.0), lit(0.0), lit(0.0)))).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> ((r.getLong(1), r.getDouble(3))))
      .toMap
    assert(ml.keySet === exact.keySet)
    ml.foreach { case (k, (nid, score)) =>
      assert(exact(k)._1 === nid, s"rank $k: ml picked $nid, exact ${exact(k)._1}")
      assert(exact(k)._2 === score, s"rank $k: score drift")
    }
    // the default md5-weight model actually reorders SOMETHING (the
    // features aren't collinear on real data) while staying inside the
    // stage-1 candidate set
    val dflt = Similarity.ivfPqRerankMl(emb, v => v < 10).collect()
    assert(dflt.nonEmpty)
    val cand = Similarity.ivfPqTopK(emb, v => v < 10, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt.forall(r => cand((r.getLong(0), r.getLong(1)))),
      "ml rerank surfaced a pair outside the stage-1 candidate set")
  }

  test("SignPack is bit-equal to the HOF sign-pack fold") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import org.apache.spark.sql.graft.VectorExprs.signPack
    // the replaced aggregate(transform(sequence(...))) formulation, kept
    // here as the semantic pin for the native codegen kernel
    // try_element_at, not element_at: identical for in-range indices
    // (the production path guarded with size == 64); NULL out of range
    // so the short-array edge case is expressible under ANSI mode
    def hof(startBit: Int): Column = expr(
      s"aggregate(transform(sequence($startBit, ${startBit + 31}), d -> " +
        s"IF(try_element_at(_v, d + 1) > 0D, shiftleft(1L, d - $startBit), 0L))," +
        " 0L, (a, x) -> a + x)")
    // real corpus: every row of the embeddings table, both halves
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("_v"))
      .filter(size(col("_v")) === 64)
    val diff = emb.select(
        signPack(col("_v"), 0).as("n_lo"), signPack(col("_v"), 32).as("n_hi"),
        hof(0).as("h_lo"), hof(32).as("h_hi"))
      .filter(col("n_lo") =!= col("h_lo") || col("n_hi") =!= col("h_hi"))
      .count()
    assert(diff === 0L, "native SignPack diverges from the HOF fold")
    // edge cases the corpus can't produce: zeros (0.0 > 0 is FALSE, bit
    // clear), negative zero, NULL element (IF(NULL) takes else), and a
    // short array (out-of-range element_at is NULL -> bit clear)
    val edge = Seq(
      (1L, Seq[java.lang.Double](0.0, -0.0, null, 1.0) ++
        Seq.fill[java.lang.Double](60)(-1.0)),
      (2L, Seq[java.lang.Double](1.0, 1.0, 1.0)) // length 3 < 64
    ).toDF("vec_id", "_v")
      .select(col("vec_id"), col("_v").cast(ArrayType(DoubleType)).as("_v"))
    val got = edge.select(col("vec_id"),
        signPack(col("_v"), 0).as("n_lo"), signPack(col("_v"), 32).as("n_hi"),
        hof(0).as("h_lo"), hof(32).as("h_hi"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L)._1 === got(1L)._3 && got(1L)._2 === got(1L)._4)
    assert(got(2L)._1 === got(2L)._3 && got(2L)._2 === got(2L)._4)
    assert(got(1L)._1 === 8L)  // only index 3 (1.0) sets a bit
    assert(got(2L)._1 === 7L)  // three in-range bits, rest clear
    assert(got(2L)._2 === 0L)  // hi half entirely out of range
  }

  test("kAnonymity histogram counts planted group sizes exactly") {
    import spark.implicits._
    // groups of size 1, 1, 2, 5 over quasi (a, b) with k=3
    val rows = Seq(("x", 1), ("y", 1), ("z", 1), ("z", 1),
      ("w", 2), ("w", 2), ("w", 2), ("w", 2), ("w", 2)).toDF("a", "b")
    val got = graft.queries.Analytics
      .kAnonymity(rows, Seq(col("a"), col("b")), k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 2L, true)),   // two singleton groups, both at risk
      2L -> ((1L, 2L, true)),   // one pair group, below k=3
      5L -> ((1L, 5L, false)))) // one big group, safe
    // invariant: n_rows sums back to the input row count
    assert(got.values.map(_._2).sum === rows.count())
  }

  test("fertility rolls up tokenCounts exactly along langId's routing") {
    val docs = Tables.documents(spark, dir)
    val f = TextAnalysis.fertility(docs).collect()
    // predicted languages partition the corpus
    assert(f.map(_.getLong(1)).sum === docs.count())
    // per-language word/piece/char sums fold back to corpus totals
    val tc = TextAnalysis.tokenCounts(docs)
      .agg(sum(col("n_tokens")), sum(col("n_bpe"))).head
    assert(f.map(_.getLong(2)).sum === tc.getLong(0))
    assert(f.map(_.getLong(3)).sum === tc.getLong(1))
    val chars = docs.agg(sum(length(col("text")))).head.getLong(0)
    assert(f.map(_.getLong(4)).sum === chars)
    // the reported ratios are exactly the one-division law on the sums
    f.foreach { r =>
      assert(r.getDouble(5) === r.getLong(3).toDouble / r.getLong(2).toDouble)
      assert(r.getDouble(6) === r.getLong(4).toDouble / r.getLong(3).toDouble)
    }
    // routing agrees with langId's per-doc prediction counts
    val byPred = TextAnalysis.langId(docs).groupBy(col("lang_pred")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    f.foreach(r => assert(byPred(r.getString(0)) === r.getLong(1)))
  }

  test("langIdEval confusion rollup is consistent with langId per-doc output") {
    val docs = Tables.documents(spark, dir)
    val eval = TextAnalysis.langIdEval(docs).collect()
    val nDocs = docs.count()
    assert(eval.map(_.getLong(1)).sum === nDocs) // labels partition the corpus
    assert(eval.map(_.getLong(2)).sum === nDocs) // predictions do too
    // per-doc recount of the same classifier
    val perDoc = TextAnalysis.langId(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
    eval.foreach { r =>
      val lang = r.getString(0)
      val (nLabel, nPred, tp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tp <= nLabel && tp <= nPred)
      assert(perDoc.filter(col("lang_pred") === lang).count() === nPred)
      assert(perDoc.filter(col("lang") === lang &&
        col("lang_pred") === lang).count() === tp)
      // F1 is the harmonic identity of the two single-division metrics
      if (nPred + nLabel > 0)
        assert(r.getDouble(6) === 2.0 * tp / (nPred + nLabel).toDouble)
    }
  }
}
