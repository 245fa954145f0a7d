package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.transform.{ProcessScriptTransform, ScriptTransform}

/** Scale rehearsal: run the heavy operators on a docgen corpus far larger
  * than the test scale factors and print one JSON line of timings. Not
  * part of the driver contract — a standing answer to "would this still
  * work at 100x?", exercised against the DSv2 generator so no test data
  * is needed.
  *
  * Usage: runMain graft.ScaleCheck [-c key=value]… [rows] [dupPct] [vocabMul] [ops] [docWords]
  *  - `-c key=value`: session confs for rehearsal A/Bs, as in graft.Profile.
  *  - ops: comma-separated op filter (default all), e.g.
  *    `dd_simhash_sigs,dd_simhash_pairs` for the 10M banding rehearsal.
  *  - dupPct > 0 plants corpus-scale duplicate clusters (web-dup-density
  *    regime) and additionally runs the end-to-end dedup pipeline, whose
  *    drop set is then ~dupPct% of the corpus — the case that must NOT
  *    be a driver broadcast.
  *  - vocabMul widens the 30-word generator vocabulary (x vocabMul), the
  *    realistic-density setting for simhash candidate-count rehearsals.
  * Each op's stages go to stderr, slowest first.
  */
object ScaleCheck {
  /** Deterministic 64-dim embedding per doc: xxhash64(doc_id, dim)
    * scaled into [0,1) — a pure codegen projection, so the rehearsal
    * measures the ANN operators, not embedding generation. */
  private def synthEmb(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id").as("vec_id"),
      array((0 until 64).map(d =>
        (pmod(xxhash64(col("doc_id"), lit(d)), lit(100000L)).cast("double") /
          lit(100000.0))): _*).as("embedding"))

  /** Train `merges` BPE merges on the corpus word table, then apply the
    * trained list corpus-wide and force full tokenization (sum, not
    * count — count would let Catalyst prune the per-word work). The
    * 64- and 256-merge entries together show per-merge cost stays flat
    * (linear total, no codegen/JIT cliff past the checkpoint cadence).
    * Returns the trained merge count (rows metric): under-256 means the
    * vocabulary exhausted its pair supply (run with vocabMul > 1). */
  private def bpeRehearsal(docs: org.apache.spark.sql.DataFrame,
                           merges: Int): Long = {
    val trained = TextAnalysis.bpeTrain(docs, merges = merges)
      .orderBy(col("rank")).collect().map(_.getString(1)).toSeq
    TextAnalysis.bpeApply(docs, trained)
      .agg(sum(col("n_bpe_tokens"))).head.getLong(0)
    trained.length.toLong
  }

  def main(args: Array[String]): Unit = {
    val cli = Profile.parseCli(args.toSeq)
    val pos = cli.positional
    val rows = if (pos.nonEmpty) pos(0).toLong else 100000L
    val dupPct = if (pos.length > 1) pos(1).toInt else 0
    val vocabMul = if (pos.length > 2) pos(2).toInt else 1
    val opsFilter: String => Boolean =
      if (pos.length > 3) pos(3).split(",").toSet else (_ => true)
    // arg 5: avg words/doc (0 = the 20-80-word default) — the LONG-
    // document regime for the span-dedup block machinery, where a
    // quadratic blocks/doc term would dominate
    val docWords = if (pos.length > 4) pos(4).toInt else 0
    val cpus = graft.core.GraftSession.cpus
    // spill-aware partition sizing: ~50 shingle-rows per doc means 32
    // partitions stop fitting in memory past ~1M docs. Scale the shuffle
    // partition count with the corpus (AQE coalesces the excess away on
    // small stages) — the same rule a cluster deployment applies.
    val spark = graft.core.GraftSession.local(
      math.max(cpus, (rows / 25000L).toInt))
    cli.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val docs = spark.read.format("docgen")
      .option("rows", rows).option("partitions", cpus * 2)
      .option("dupPct", dupPct).option("vocabMul", vocabMul)
      .option("docWords", docWords).load()
    // per-op stage table on stderr (stdout keeps the one JSON line):
    // attributes a scale-curve bend to its stage
    val stages = new graft.core.StageLog(spark.sparkContext)
    def t(name: String)(f: => Long): Option[(String, Double, Long)] =
      if (!opsFilter(name)) None else {
        stages.drain() // drop earlier ops' stages
        val t0 = System.nanoTime()
        val n = f
        val sec = (System.nanoTime() - t0) / 1e9
        stages.print(s"stage:$name", System.err)
        Some((name, sec, n))
      }
    val base = Seq(
      t("tx_quality")(TextAnalysis.quality(docs).count()),
      t("tx_topterms")(TextAnalysis.topTerms(docs).count()),
      // the multimodal mapPartitions path with REAL codecs: synthesize
      // genuine PNG/WAV payloads (javax.imageio / RIFF-PCM) and decode
      // them back — map-only, proves the per-file decode stage scales
      // linearly like the codegen'd projections
      t("mm_meta")(graft.operators.Multimodal.extractMeta(
        graft.operators.Multimodal.synthReal(docs)).count()),
      // the imperative reference-parity path at corpus scale: per-record
      // Scala closure + row↔map codec over mapPartitions — must stay
      // linear like the declarative projections
      t("xf_script") {
        val out = StructType(Seq(
          StructField("doc_id", LongType), StructField("n_a", IntegerType)))
        ScriptTransform(docs.select(col("doc_id"), col("text")), out) { (r, em, _) =>
          val t = r("text").asInstanceOf[String]
          var n = 0; var i = 0
          while (i < t.length) { if (t.charAt(i) == 'a') n += 1; i += 1 }
          em.emit(Map("doc_id" -> r("doc_id"), "n_a" -> n))
        }.out.count()
      },
      // the ACTUAL out-of-process python path at corpus scale: one
      // worker per partition, batched frame protocol — must scale
      // with rows like the in-JVM script path above it
      t("xf_pyscript") {
        val out = StructType(Seq(
          StructField("doc_id", LongType), StructField("n", IntegerType)))
        ProcessScriptTransform.python(
          docs.select(col("doc_id"), col("text")), out,
          "def transform(record, emitter, context):\n" +
            "    emitter.emit({'doc_id': record['doc_id'], 'n': len(record['text'])})\n").out.count()
      },
      // the schema-driven BINARY/timestamp wire codec on that path:
      // side-bytes cells and epoch datetimes per record both directions
      t("xf_pybytes") {
        val out = StructType(Seq(StructField("doc_id", LongType),
          StructField("head", BinaryType), StructField("shifted", TimestampType)))
        ProcessScriptTransform.python(
          docs.select(col("doc_id"), col("text").cast(BinaryType).as("payload"),
            timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts")),
          out,
          "import datetime\n" +
            "def transform(record, emitter, context):\n" +
            "    emitter.emit({'doc_id': record['doc_id'],\n" +
            "                  'head': record['payload'][:8],\n" +
            "                  'shifted': record['ts'] + datetime.timedelta(hours=1)})\n")
          .out.count()
      },
      t("dd_exact")(Dedup.exact(docs).count()),
      t("dd_simhash_sigs")(Dedup.simhash(docs).count()),
      // candidate-pair generation, the quadratic-risk step: rows here is
      // the sub-quadratic evidence the banding (+ bucket cap) must show.
      // Only meaningful with a widened vocabulary: at the default 30-word
      // vocab most docs are genuinely near-identical, so the TRUE pair
      // count (the answer, not an artifact) is quadratic in the corpus.
      (if (vocabMul > 1)
        t("dd_simhash_pairs")(Dedup.simhashPairs(docs, maxBucket = 2000).count())
      else None),
      t("dd_minhash_lsh")(Dedup.minhashLsh(docs).count()),
      // ANN at corpus scale: deterministic synthetic embeddings (64 dims
      // of xxhash64-derived values in [0,1)) stand in for a model's
      // output; brute = the scan-once exact baseline, lsh = the bucketed
      // distributed exact global rank (the q_rfm/q_gini machinery): a
      // corpus-sized running total must cost two linear passes — the
      // sortableBits bucket histogram + per-bucket windows — and NEVER a
      // single-partition corpus window (the thing it replaces)
      t("an_global_rank") {
        graft.queries.Analytics.withRunningTotal(
            docs.select(col("doc_id"),
              pmod(xxhash64(col("doc_id"), lit(7L)), lit(1000000L))
                .cast("double").as("v")),
            col("v"), col("doc_id"), lit(1L), "rank")
          .agg(sum(col("rank"))).head
        rows
      },
      // degree-ordered triangle counting on a constant-average-degree
      // random graph (nodes = rows/50, avg degree ~100): wedge volume is
      // deg²·nodes — LINEAR in rows at constant degree, so the rehearsal
      // proves the broadcast wedge/closure plan tracks corpus growth
      // like every other linear op, not quadratically
      t("an_triangles") {
        val n = math.max(rows / 50L, 100L)
        val e = docs.select(
            pmod(xxhash64(col("doc_id"), lit(1L)), lit(n)).as("a"),
            pmod(xxhash64(col("doc_id"), lit(2L)), lit(n)).as("b"))
          .select(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v"))
          .filter(col("u") < col("v")).distinct()
        graft.queries.Analytics.triangleCount(e)
          .head.getAs[Long]("n_triangles")
      },
      // the OVER-GATE path: force the edge-count gate shut so the same
      // graph runs through the shuffled node-iterator fallback — the
      // plan a 100x graph takes automatically. Completing (and matching
      // the broadcast path's count) without a driver-side edge broadcast
      // is the rehearsal the gate's scaladoc promises.
      t("an_triangles_fallback") {
        val n = math.max(rows / 50L, 100L)
        val e = docs.select(
            pmod(xxhash64(col("doc_id"), lit(1L)), lit(n)).as("a"),
            pmod(xxhash64(col("doc_id"), lit(2L)), lit(n)).as("b"))
          .select(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v"))
          .filter(col("u") < col("v")).distinct()
        spark.conf.set("graft.triangles.maxBroadcastEdges", "0")
        try graft.queries.Analytics.triangleCount(e)
          .head.getAs[Long]("n_triangles")
        finally spark.conf.unset("graft.triangles.maxBroadcastEdges")
      },
      // scale path — both per-query cost, not all-pairs
      t("ann_brute")(Similarity.bruteTopK(synthEmb(docs), col("vec_id") < 10).count()),
      t("ann_lsh")(Similarity.lshTopK(synthEmb(docs), col("vec_id") < 10).count()),
      // IVF at production quantizer size: nlist=1024 cells forces the
      // broadcast-join assignment path (no literal fold, no driver
      // collect); cost must stay linear in rows — the rehearsal for
      // nlist ~ sqrt(N) at 100 TB. The synthetic embeddings are
      // materialized first (localCheckpoint): inlining the 64-hash
      // synthesis expression into every downstream codegen stage pushes
      // the generated methods past HotSpot's JIT size limit (measured
      // ~50x slower, interpreted bytecode) — and a real corpus reads
      // embeddings from storage anyway
      t("ann_ivf_1024") {
        val emb = synthEmb(docs).withColumn("label",
          pmod(xxhash64(col("vec_id"), lit(4242L)), lit(1024L)).cast("int"))
          .localCheckpoint()
        Similarity.ivfTopK(emb, v => v < 10).count()
      },
      // quantizer TRAINING at production size: k=256 cells, 2 Lloyd
      // iterations — each iteration is one zero-shuffle assignment pass
      // + one linear (cell, dim) mean shuffle; must scale like ivf
      t("ann_kmeans_256") {
        val emb = synthEmb(docs).localCheckpoint()
        Similarity.kmeans(emb, k = 256, iters = 2).count()
      },
      // cross-doc boilerplate removal at corpus scale: chunk df shuffles
      // 16-byte hashes (map-side combined); the reassembly shuffle is the
      // one corpus-text exchange — cost must stay linear in rows
      // summed output length (not count): count() would let Catalyst
      // prune the reassembly concat and undercount the real work
      t("tx_boilerplate")(TextAnalysis.boilerplate(docs)
        .agg(sum(length(col("clean_text")))).head.getLong(0)),
      // deterministic shard export: nShards scales with the corpus so the
      // per-shard sort input is bounded by the file-size contract — 128
      // shards at 2M rows ≈ 16k rows/shard. max(pos) (not count) keeps
      // the window from being pruned as cardinality-neutral
      t("q_shuffle_export")(graft.operators.Sampling.shuffleExport(
        docs.select(col("doc_id")), col("doc_id"), nShards = 128)
        .agg(max(col("pos"))).head.getLong(0)),
      // perceptual media dedup at corpus scale: payload synthesis and
      // dHash are map-only; the band join shuffles 24-byte signatures
      // whose md5-textured fingerprints are independent, so buckets stay
      // birthday-bounded (~rows/65536 per band) — cost tracks planted
      // pair mass, not rows²
      t("dd_media")(Dedup.mediaPairs(docs).count()),
      // IVF-PQ at production quantizer size: assignment + residual int8
      // pack run against the broadcast nlist=1024 quantizer (zero
      // shuffle); scoring reads ~80-byte index rows — must stay linear
      // in rows like ann_ivf_1024
      t("ann_ivfpq_1024") {
        val emb = synthEmb(docs).withColumn("label",
          pmod(xxhash64(col("vec_id"), lit(4242L)), lit(1024L)).cast("int"))
          .localCheckpoint()
        Similarity.ivfPqTopK(emb, v => v < 10).count()
      },
      // the WHOLE curation pipeline at corpus scale: domain cap, quality
      // score, exact dedup, token budget, shard export. The generator's
      // source column is near-constant, so widen it to 10k pseudo-domains
      // first — web-realistic domain cardinality, cap 1000 docs each
      // (a handful of mega-domains would otherwise funnel the cap window
      // through single tasks, which is a data property, not a plan one).
      // Budget keeps ~10% of corpus chars; max(pos) forces the export
      // window to actually run
      t("curation_e2e") {
        TextAnalysis.curationPipeline(
            docs.withColumn("source",
              concat(lit("s"), pmod(col("doc_id"), lit(10000L)))),
            domainCap = 1000, charBudget = 6L * rows, nShards = 128)
          .agg(max(col("pos"))).head.getLong(0)
      },
      // SemDeDup at production shape: k=1024 trained cells bound the
      // within-cell quadratic at (rows/1024)² per cell; training +
      // assignment are the proven broadcast-argmin passes. High minCos:
      // uniform positive synthetic vectors concentrate near cos 0.75,
      // so 0.95 isolates the near-dup tail the operator exists for
      t("dd_semantic_1024") {
        val emb = synthEmb(docs).localCheckpoint()
        Dedup.semanticPairs(emb, k = 1024, minCos = 0.95).count()
      },
      // SemDeDup at its SCALE CONTRACT: k grows with the corpus
      // (cellSize target ~1000 → k = rows/1000, 2048 at the 2M
      // rehearsal), so pair cost is N x cellSize, never N². Run at
      // 200k and 2M: time must scale ~linearly with rows
      t("dd_semantic_kscaled") {
        val emb = synthEmb(docs).localCheckpoint()
        Dedup.semanticPairs(emb, k = math.max(64, (rows / 1000L).toInt),
          minCos = 0.95).count()
      },
      // the PRODUCTION shape of the same operator: quantizer trained on
      // a ~200k deterministic hash sample (training is iters x N x k
      // otherwise — the measured dominant term at 2M/k=2048) and
      // two-level assignment (~2·sqrt(k)·dim per row instead of k·dim).
      // Cost must scale ~linearly with rows where the flat variant
      // above cannot (its assignment term is N²/cellSize)
      t("dd_semantic_prod") {
        val kk = math.max(64, (rows / 1000L).toInt)
        val emb = synthEmb(docs).localCheckpoint()
        Dedup.semanticPairs(emb, k = kk, minCos = 0.95,
          branch = Some(math.max(8, math.ceil(math.sqrt(kk.toDouble)).toInt)),
          trainSample = Some(math.min(1.0, 200000.0 / rows))).count()
      },
      // cell-occupancy telemetry for the same trained quantizer: the
      // rows metric is the LARGEST cell — it bounds the per-cell
      // quadratic the k ~ N/cellSize claim rests on
      t("dd_semantic_maxcell") {
        val emb = synthEmb(docs).localCheckpoint()
        Dedup.semanticCells(emb, k = math.max(64, (rows / 1000L).toInt))
          .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).head.getLong(0)
      },
      // contamination sweep: a 1k-doc benchmark set against the corpus —
      // the bench shingle set broadcasts, the corpus is scanned once
      t("dd_contamination") {
        graft.operators.Dedup.contamination(
          docs.filter(pmod(col("doc_id"), lit(1000L)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(1000L)) === 0)).count()
      },
      // token-budget selection with the WHOLE corpus in ONE stratum —
      // the skew case the two-phase prefix sum exists for ("en" is half
      // the web): per-task window input is bounded by the hash-range
      // bucket split, never the stratum size, and buckets past the
      // budget are pruned before any sort
      t("token_budget_1str") {
        graft.operators.Sampling.tokenBudget(
          docs.select(col("doc_id"), lit("en").as("lang"),
            length(col("text")).as("n_chars")),
          col("lang"), col("doc_id"), col("n_chars"),
          budget = 20L * rows).count() // ~10% of corpus chars
      },
      // sequence packing at corpus scale: the GLOBAL two-phase prefix
      // sum (whole corpus is one implicit stratum) — per-task window
      // input is bounded by the 16^4 hash-range bucket split, never the
      // corpus; max(seq_id) forces every window to actually run
      t("q_pack") {
        graft.operators.Sampling.packSequences(
          docs.select(col("doc_id"), length(col("text")).as("n_chars")),
          col("doc_id"), col("n_chars"), ctxLen = 2048L)
          .agg(max(col("seq_id"))).head.getLong(0)
      },
      // cross-corpus fluency at scale: the tall bigram table shuffles
      // once on the bigram key (map-side combined count + join) — the
      // tfidf cost shape; must stay linear in corpus bigrams
      t("tx_fluency")(TextAnalysis.fluency(docs).count()),
      // fused tfidf serve: the driver collect is the vocab-sized df
      // table (Heaps-bounded), then ONE mapPartitions pass — wall must
      // stay linear in corpus tokens and the collect must stay vocab-
      // sized (docgen vocab is fixed, so this rehearses the corpus-scan
      // half; the unbounded-vocab fallback path is broadcastDf=false)
      t("tx_tfidf_fused")(TextAnalysis.tfidf(docs, fused = true).count()),
      // BM25 retrieval at corpus scale, PRODUCTION shape: a FIXED
      // caller-bounded query table (20 queries x 3 top-tf terms derived
      // once from the first 2020 doc ids — constant however large the
      // corpus), so hit mass and wall grow linearly with corpus tokens.
      // Query terms filter the token stream map-side under the counted
      // broadcast gate before the one (q,doc) exchange.
      t("q_bm25") {
        val qt = TextAnalysis.bm25QueryTerms(
          docs.filter(col("doc_id") < 2020L), qmod = 101, qterms = 3)
        TextAnalysis.bm25(docs, queries = Some(qt)).count()
      },
      // the r14 shape kept for contrast — queries derived from the WHOLE
      // corpus (|Q| ∝ N/qmod), the documented superlinear anti-pattern
      // (hit mass ∝ N²/qmod on a bounded vocab): its growth factor is
      // the number the fixed-query entry above exists to beat
      t("q_bm25_qmod")(TextAnalysis.bm25(docs, qmod = 100000).count()),
      // paragraph-block dedup at corpus scale: count/decision/position
      // stages shuffle (md5, packed long) rows only; the one text
      // exchange is the rebuild join. Sum of rebuilt length (not count)
      // keeps Catalyst from pruning the reassembly — cost must stay
      // linear in corpus blocks, tracking dd_exact's shape
      t("dd_paragraphs")(Dedup.paragraphDedup(docs)
        .agg(sum(length(col("clean_text")))).head.getLong(0)),
      // variable-length exact-substring dedup: same slim shuffles as
      // dd_paragraphs plus a run-merge window + groupBy over DUP-mass
      // rows only — must track dd_paragraphs' wall, not exceed it by
      // more than the dup fraction
      t("dd_substr")(Dedup.substrDedup(docs)
        .agg(sum(length(col("clean_text")))).head.getLong(0)),
      // distributed exact selection at corpus scale: two scans + a
      // G x B histogram + ~n/B probe rows per target — no per-group
      // sort anywhere. sum(p50_disc) forces the probe windows to run
      t("q_quantile_select") {
        graft.queries.Relational.quantileSelect(
          docs.select(pmod(col("doc_id"), lit(4L)).as("g"),
            length(col("text")).cast("double").as("v")),
          "g", "v", Seq(("p50", 1, 2), ("p99", 99, 100)))
          .agg(sum(col("p50_disc"))).head.getDouble(0).toLong
      },
      // D4 diversity selection at its scale contract: production knobs
      // (sampled training, two-level assignment, k ~ N/cellSize), then
      // broadcast centroid scoring + the cell-keyed rank window over
      // slim (vec_id, cell, d2) rows — cost must track dd_semantic's
      // assignment, with the window adding only a bounded per-cell sort
      t("q_diversity") {
        val emb = synthEmb(docs).localCheckpoint()
        val k = math.max(64, (rows / 1000L).toInt)
        Dedup.diversitySample(emb, k = k, keepNum = 1, keepDen = 2,
          branch = Some(math.max(8, math.sqrt(k.toDouble).toInt)),
          trainSample = Some(math.min(1.0, 100000.0 / rows))).count()
      },
      // BPE at production merge counts: train 256 merges on the real
      // word-frequency table (per-merge cost must stay flat — the lazy
      // checkpoint cadence truncates the replace-chain lineage; without
      // it the fused projection blows the JIT method limit), then apply
      // the full trained list corpus-wide and sum real token counts.
      // Needs vocabMul > 1: the default 30-word vocab exhausts its pair
      // supply long before 256 merges (training then stops early — the
      // documented train-up-to-N semantics), which would under-rehearse.
      t("tx_bpe_64")(bpeRehearsal(docs, 64)),
      t("tx_bpe_256")(bpeRehearsal(docs, 256)),
      // exact two-sample KS at corpus scale: per-value counts shuffle
      // once (map-combined), the cumulative prefix is the value-range
      // bucket split — no global sort; must stay linear in rows.
      // A doc_id-parity score perturbation keeps D nonzero (rows metric
      // carries d_num so the whole plan must run)
      t("tx_ks_drift") {
        TextAnalysis.ksStatistic(
          docs.select(
            ((pmod(xxhash64(col("doc_id")), lit(100000L)).cast("double") /
              lit(100000.0)) +
              when(pmod(col("doc_id"), lit(2)) === 0, 0.02).otherwise(0.0))
              .as("v"),
            (pmod(col("doc_id"), lit(2)) === 0).as("ia")),
          col("v"), col("ia"), lo = 0.0, hi = 1.1, nBuckets = 4096)
          .head.getLong(2)
      },
      // cross-snapshot overlap at corpus scale: one shingle-hash shuffle
      // with per-side flags + a 36-aggregate global fold — the dd_exact
      // cost shape; must stay linear in corpus shingles
      t("dd_overlap") {
        Dedup.snapshotOverlap(docs,
          inA = pmod(col("doc_id"), lit(2)) === 0,
          inB = pmod(col("doc_id"), lit(2)) === 1).head.getLong(3)
      },
      // negative sampling at corpus scale: dense positions off the
      // unit-weight tape + ONE position-keyed join of k·|anchors|
      // probes against the 2M-row position table — cost must track the
      // pack tape, not anchors x corpus
      t("q_negatives") {
        graft.operators.Sampling.negativeSample(
          docs.select(col("doc_id")), col("doc_id"),
          pmod(col("doc_id"), lit(100L)) === 0, k = 4).count()
      },
      // scorer training moments at corpus scale: (doc_id, 10-long)
      // shuffle + one 54-cell DECIMAL partial — gradient-free training
      // cost must track the tfidf/tf shape, linear in tokens
      t("tx_scorer_fit") {
        val tok = docs.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val base = conv(substring(md5(col("term")), 1, 15), 16, 10)
          .cast("long")
        val perDoc = tok.select(col("doc_id"),
            pmod(base, lit(8L)).as("b"),
            pmod(base, lit(1024L)).as("w"))
          .groupBy(col("doc_id"))
          .agg(sum(col("w")).as("y"),
            (0 until 8).map(i =>
              sum(when(col("b") === i, 1L).otherwise(0L)).as(s"c$i")): _*)
        // max(length(m)), not count(): the 54-row explode's cardinality
        // is schema-constant, so count() lets Catalyst prune the moment
        // aggregates themselves — forcing m makes the sums actually run
        TextAnalysis.scorerMoments(perDoc,
          (0 until 8).map(i => col(s"c$i")), col("y"))
          .agg(max(length(col("m")))).head.getInt(0).toLong
      },
      // key-skew diagnostics at corpus scale: ~rows/20 distinct keys
      // with a planted hot key holding 5% of rows — one map-combined
      // count shuffle + TakeOrdered; rank is assigned after the limit,
      // so NO window ever sees the key space. Rows metric carries the
      // hot key's count so the whole plan must run
      t("q_skew_report") {
        val keyed = docs.select(
          when(pmod(col("doc_id"), lit(20L)) === 0, lit(7L))
            .otherwise(pmod(xxhash64(col("doc_id")), lit(rows / 20)))
            .as("k"))
        graft.queries.Relational.skewReport(keyed, col("k"))
          .agg(max(col("cnt"))).head.getLong(0)
      },
      // integer-Flesch readability at corpus scale: zero-shuffle per-row
      // projection (4 regexp passes + 2 HOF filters over the token
      // array) — must stay linear and scan-bound like tx_quality.
      // sum(flesch) forces every column's arithmetic to actually run
      t("tx_readability")(TextAnalysis.readability(docs)
        .agg(sum(col("flesch_x1000"))).head.getLong(0)),
      // winnowing fingerprint selection + occupancy-capped pairing: the
      // fingerprint table is a projection (slice+array_min HOF over the
      // one-pass shingle kernel), so the rehearsal grades the fp-bucket
      // self-join. Pair mass ∝ shared fingerprints — on the generator
      // corpus (planted dups only) this must stay near-linear; a
      // super-linear blowup means the occupancy cap stopped holding
      t("dd_winnow")(Dedup.winnow(docs).count()),
      // bigram-LM scoring at corpus scale: two broadcast joins of
      // vocab-sized count tables onto the scoring token stream — the
      // build cost is the vocab aggregates, the serve cost is linear
      // scan + broadcast probes (the plan PlanSpec pins). sum forces
      // the surprise arithmetic corpus-wide
      t("tx_lm_score")(TextAnalysis.lmScore(docs)
        .agg(sum(col("surprise_bits"))).head.getLong(0)),
      // exact-moment anomaly detection at corpus scale: the two-phase
      // bucket split (per-(type, hour) partials + broadcast prefix
      // offsets + within-bucket windows) must stay scan-bound however
      // few the keys are — a per-type corpus-sized window here would
      // serialize one task per event type. Synthetic stream: 5 types,
      // 3.6 s event-time steps (~1000 events per hour bucket, so the
      // two-phase bucket split is genuinely exercised), xxhash-derived
      // exponential-ish values
      t("st_anomaly") {
        val ev = docs.select(
          col("doc_id").as("event_id"),
          timestamp_micros(lit(1700000000000000L) +
            col("doc_id") * 3600000L).as("ts"),
          concat(lit("t"), pmod(col("doc_id"), lit(5L))).as("event_type"),
          (pmod(xxhash64(col("doc_id")), lit(1000000L)).cast("double") *
            pmod(xxhash64(col("doc_id"), lit(1)), lit(4L)).cast("double") /
            lit(10000.0)).as("value"))
        graft.queries.Relational.anomalyCounts(ev)
          .agg(sum(col("n_anomalies"))).head.getLong(0)
      }).flatten
    // the end-to-end pipeline (anti-join on the corpus-scale drop set)
    // only says something new under planted dup density
    val results = if (dupPct > 0)
      base ++ t("dd_pipeline")(Dedup.applyNearDupPolicy(docs).count()) ++
        t("dd_cc") {
          // connected components over the planted dup clusters: star
          // edges (representative -> member) from exact-dup groups give
          // a corpus-scale graph without paying minhash verification
          val members = docs.select(md5(col("text")).as("h"), col("doc_id"))
          val reps = members.groupBy(col("h")).agg(min(col("doc_id")).as("rep"))
          val pairs = members.join(reps, Seq("h"))
            .filter(col("doc_id") =!= col("rep"))
            .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
          Dedup.connectedComponents(pairs).count()
        } ++
        // cross-source priority retention end-to-end at planted dup
        // density: LSH candidates + CC + the per-cluster argmin window —
        // the window's per-task input is bounded by cluster size, so the
        // cost must track the (already-rehearsed) minhash verification,
        // not add a new corpus-scale stage
        t("dd_priority") {
          Dedup.priorityRetention(
            docs.withColumn("source",
              concat(lit("src"), pmod(col("doc_id"), lit(10L)))),
            substring(col("source"), 4, 8).cast("int")).count()
        }
    else base
    // dd_ngram_jaccard is deliberately absent: the default docgen corpus
    // has a 30-word vocabulary, so EVERY doc pair shares shingles (~460M
    // candidate pairs at 100k docs) — exact all-pairs Jaccard is the
    // wrong op for dense corpora; minhashLsh above is its scale path.
    val qs = results.map { case (k, s, n) => s""""$k":{"sec":$s,"rows":$n}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_check","rows":$rows,"dup_pct":$dupPct,"vocab_mul":$vocabMul,"doc_words":$docWords,"ops":$qs}""")
    spark.stop()
  }
}
