package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField, StructType}

import graft.core.{PrefixScan, Tables}
import org.apache.spark.sql.graft.VectorExprs.md5Long

/** Deterministic sampling for training-data curation.
  *
  * Pipelines that feed training runs need samples that are (a) stratified
  * (per language/source/quality bucket) and (b) *reproducible* — the same
  * inputs must select the same rows on every run, every cluster, every
  * engine, or downstream dedup/eval work is unrepeatable. RNG-based
  * `sample()` gives neither across engines. Instead: order each stratum by
  * a cryptographic hash of the row key and take the first k — an
  * arbitrary-but-fixed "random" order both engines agree on bit-for-bit.
  *
  * Scale: one shuffle on the stratum key; rank computation uses
  * WindowGroupLimit pushdown (top-k per partition map-side before the
  * shuffle), so the shuffle carries ~k rows per stratum per mapper, not
  * the corpus. */
object Sampling {

  /** Salted per-operator key hash: every sampler draws from its own
    * hash family, so composing samplers on the SAME key column keeps
    * their decisions independent (an unsalted shared md5(key) would
    * perfectly correlate them — e.g. every rate-sampler survivor would
    * always win the epoch-sampler's fractional copy too). */
  private def hashKey(key: Column, salt: String): Column =
    md5(concat(key.cast("string"), lit(":" + salt)))

  def stratified(df: DataFrame, stratum: Column, key: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(stratum)
      .orderBy(hashKey(key, "strat"), key)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** q_sample: 20 documents per language, reproducibly pseudo-random. */
  def qSample(spark: SparkSession, dir: String): DataFrame =
    stratified(Tables.documents(spark, dir), col("lang"), col("doc_id"), 20)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("lang"), col("doc_id"))

  val qSampleSql: String =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':strat'), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 20 ORDER BY lang, doc_id""".stripMargin

  /** Uniform-in-[0,1) value derived from md5 of the row key: the first
    * 15 hex chars as a long over 16^15. Both engines round the long →
    * double conversion and divide identically (IEEE), so the value — and
    * every threshold decision on it — is bit-identical. */
  private def hashUniform(key: Column, salt: String): Column =
    conv(substring(hashKey(key, salt), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0) // 16^15

  /** Rate-based weighted stratified sampling: keep a row iff its
    * deterministic hash-uniform falls under the stratum's rate — the
    * mixture-rebalancing shape (downsample dominant languages/sources,
    * keep rare ones whole) of a training-data pipeline.
    *
    * Unlike the top-k form above this is a pure projection + filter:
    * ZERO shuffle, no window, embarrassingly parallel — the 100 TB
    * default when per-stratum counts are targets, not exact quotas.
    * Reproducible by construction: the same key draws the same uniform
    * in every engine, every run, so reruns and cross-engine audits
    * select identical rows (and rate increases are SUPERSETS: raising a
    * stratum's rate only adds rows, never swaps them — stable eval
    * splits). */
  def stratifiedByRate(df: DataFrame, stratum: Column, key: Column,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0): DataFrame = {
    val rateMap = map(rates.toSeq.sortBy(_._1).flatMap {
      case (s, r) => Seq(lit(s), lit(r)) }: _*)
    df.filter(hashUniform(key, "rate") <
      coalesce(element_at(rateMap, stratum.cast("string")), lit(defaultRate)))
  }

  /** q_sample_rate: rebalance the documents language mixture — keep 10%
    * of dominant en, all of rare fr, half of de, default 25% elsewhere. */
  def qSampleRate(spark: SparkSession, dir: String): DataFrame =
    stratifiedByRate(Tables.documents(spark, dir), col("lang"), col("doc_id"),
        Map("en" -> 0.1, "fr" -> 1.0, "de" -> 0.5), defaultRate = 0.25)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  val qSampleRateSql: String =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':rate'),1,15))::BIGINT
      |      / 1152921504606846976.0 AS u
      |  FROM documents)
      |WHERE u < CASE lang WHEN 'en' THEN 0.1 WHEN 'fr' THEN 1.0
      |                    WHEN 'de' THEN 0.5 ELSE 0.25 END
      |ORDER BY doc_id""".stripMargin

  /** Token-budget selection: within each stratum, take documents in the
    * deterministic hash order until the running token total reaches the
    * budget — how a data-mixing recipe fills "N tokens of language X"
    * slots. The hash order makes budget increases SUPERSETS, like the
    * rate sampler.
    *
    * Scale shape: a [[PrefixScan]] running sum per stratum, bucketed by
    * the leading `bucketChars` hex digits of the ordering hash, not one
    * `Window.partitionBy(stratum)` running sum — that routes every row of
    * a stratum through ONE task (running sums get no WindowGroupLimit
    * pushdown), and real mixtures are skewed: "en" is half the web. The
    * prune drops buckets whose offset already exceeds the budget before
    * any sort, so when budget << stratum mass almost all of the corpus
    * never reaches a window; it relies on non-negative token counts
    * (true of any token/char/byte count). Identical output to the
    * single-window formulation (the oracle IS that formulation).
    * Reproducibility requires (key, tieBreak*) unique per row — pass
    * e.g. the epoch column when feeding epochWeighted output, else which
    * duplicate survives at the budget boundary is partition-order-
    * dependent. Same-key rows share the hash, so they land in the same
    * bucket and the split never reorders them. */
  def tokenBudget(df: DataFrame, stratum: Column, key: Column,
                  tokens: Column, budget: Long,
                  tieBreak: Seq[Column] = Nil,
                  bucketChars: Int = 4): DataFrame =
    PrefixScan.running(df.withColumn("_h", hashKey(key, "budget")),
        Seq(stratum),
        bucket = conv(substring(col("_h"), 1, bucketChars), 16, 10).cast("long"),
        order = col("_h") +: key +: tieBreak,
        aggs = Seq(PrefixScan.Sum(tokens, "_cum")),
        prune = Some(_ <= budget))
      .filter(col("_cum") <= budget)
      .drop("_h", "_cum")

  /** q_token_budget: up to 20k chars per language, hash-ordered. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(Tables.documents(spark, dir), col("lang"), col("doc_id"),
        col("n_chars"), 20000L)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))

  val qTokenBudgetSql: String =
    """SELECT doc_id, lang, n_chars FROM (
      |  SELECT doc_id, lang, n_chars,
      |    sum(n_chars) OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':budget'), doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM documents)
      |WHERE cum <= 20000 ORDER BY lang, doc_id""".stripMargin

  /** Epoch-weighted repetition: emit each document floor(w) times plus
    * one more with probability frac(w), decided by the deterministic
    * hash-uniform — the multi-epoch upsampling shape of a mixture recipe
    * (w=2.5 → every doc twice, half of them three times). A pure
    * projection + generator: zero shuffle, and the expected stratum mass
    * is exactly w x its corpus mass. `epoch` indexes the copies so
    * downstream shuffles can spread repeats across the run. */
  def epochWeighted(df: DataFrame, stratum: Column, key: Column,
                    weights: Map[String, Double],
                    defaultWeight: Double = 1.0): DataFrame = {
    val wMap = map(weights.toSeq.sortBy(_._1).flatMap {
      case (s, r) => Seq(lit(s), lit(r)) }: _*)
    val wCol = coalesce(element_at(wMap, stratum.cast("string")), lit(defaultWeight))
    val copies = (floor(wCol).cast("int") +
      when(hashUniform(key, "epoch") < (wCol - floor(wCol)), 1).otherwise(0)).as("_n")
    df.withColumn("_n", copies)
      .select(col("*"), posexplode(array_repeat(lit(1), col("_n"))))
      .withColumnRenamed("pos", "epoch")
      .drop("col", "_n")
  }

  /** q_sample_epochs: 2.5x the rare fr docs, 0.5x dominant en, 1x rest. */
  def qSampleEpochs(spark: SparkSession, dir: String): DataFrame =
    epochWeighted(Tables.documents(spark, dir), col("lang"), col("doc_id"),
        Map("fr" -> 2.5, "en" -> 0.5))
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))

  val qSampleEpochsSql: String =
    """WITH wts AS (
      |  SELECT doc_id, lang,
      |    CASE lang WHEN 'fr' THEN 2.5 WHEN 'en' THEN 0.5 ELSE 1.0 END AS w,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':epoch'),1,15))::BIGINT
      |      / 1152921504606846976.0 AS u
      |  FROM documents),
      |cnt AS (
      |  SELECT doc_id, lang,
      |    CAST(floor(w) AS INT) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS n
      |  FROM wts)
      |SELECT doc_id, lang, CAST(e AS INT) AS epoch
      |FROM cnt, unnest(range(0, n)) r(e)
      |ORDER BY doc_id, epoch""".stripMargin

  /** Sequence packing (concat-and-chunk): lay the whole corpus out on one
    * deterministic pseudo-random "token tape" and cut fixed-length training
    * sequences from it — the step between a curated corpus and a trainer
    * that consumes fixed-context batches. Each document gets its global
    * tape offset (`start_off`), the sequence its first token lands in
    * (`seq_id = start_off DIV ctxLen`), and its position within that
    * sequence (`seq_off`); a document may straddle a boundary, exactly as
    * concat-and-chunk packing does.
    *
    * Scale shape: a global, exclusive [[PrefixScan]] running sum over
    * the (hash, key) order — a doc's start offset is the mass strictly
    * before it — bucketed by the leading `bucketChars` hex digits of the
    * ordering hash, so per-task input is ~16^-bucketChars of the corpus
    * where a naive global running sum is a single-reducer sort. A null
    * key hashes to the null bucket and stays on the tape. Token counts
    * must be non-negative. */
  def packSequences(df: DataFrame, key: Column, tokens: Column, ctxLen: Long,
                    bucketChars: Int = 4): DataFrame =
    PrefixScan.running(df.withColumn("_h", hashKey(key, "pack")), Nil,
        bucket = conv(substring(col("_h"), 1, bucketChars), 16, 10).cast("long"),
        order = Seq(col("_h"), key),
        aggs = Seq(PrefixScan.Sum(tokens, "start_off")), exclusive = true)
      .withColumn("seq_id", expr(s"start_off DIV ${ctxLen}"))
      .withColumn("seq_off", pmod(col("start_off"), lit(ctxLen)))
      .drop("_h")

  /** q_pack: pack the documents corpus into 2048-char training sequences. */
  def qPack(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir), col("doc_id"),
        col("n_chars"), 2048L)
      .select(col("doc_id"), col("n_chars"), col("start_off"),
        col("seq_id"), col("seq_off"))
      .orderBy(col("start_off"))

  /** Oracle IS the single-window formulation the two-phase design must
    * reproduce bit-for-bit. */
  val qPackSql: String =
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |    CAST(coalesce(sum(n_chars) OVER (
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':pack'), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_off
      |  FROM documents)
      |SELECT doc_id, n_chars, start_off,
      |  start_off // 2048 AS seq_id, start_off % 2048 AS seq_off
      |FROM s ORDER BY start_off""".stripMargin

  /** q_pack_docs: DOCUMENT-BOUNDARY packing — the other packing policy
    * trainers use. q_pack splits a document across sequences wherever
    * the tape boundary falls; here a document contributes tokens only
    * up to its sequence's end (n_kept = min(n, C − seq_off)) and the
    * remainder is DROPPED, so no training sequence ever straddles a
    * document boundary. The layout stays a pure projection off the same
    * two-phase prefix sum (dropped tokens are charged as tape holes —
    * the price of O(1)-depth parallelism; true next-fit with pad-to-
    * boundary is a sequential recurrence no prefix sum expresses).
    * Waste is explicit in the output (truncated flag + n_kept), and
    * bounded in expectation by avgDocLen/C — the policy is for corpora
    * where docs are much shorter than the context, exactly where
    * trainers use it. Docs with n >= C keep at most their first
    * C − seq_off tokens (a whole-context doc is its own truncation). */
  def qPackDocs(spark: SparkSession, dir: String): DataFrame = {
    val ctx = 2048L
    packSequences(Tables.documents(spark, dir), col("doc_id"),
        col("n_chars"), ctx)
      .withColumn("n_kept", least(col("n_chars"), lit(ctx) - col("seq_off")))
      .withColumn("truncated", col("n_kept") < col("n_chars"))
      .select(col("doc_id"), col("n_chars"), col("start_off"),
        col("seq_id"), col("seq_off"), col("n_kept"), col("truncated"))
      .orderBy(col("start_off"))
  }

  val qPackDocsSql: String =
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |    CAST(coalesce(sum(n_chars) OVER (
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':pack'), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_off
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_chars, start_off,
      |    start_off // 2048 AS seq_id, start_off % 2048 AS seq_off
      |  FROM s)
      |SELECT doc_id, n_chars, start_off, seq_id, seq_off,
      |  CAST(least(n_chars, 2048 - seq_off) AS BIGINT) AS n_kept,
      |  least(n_chars, 2048 - seq_off) < n_chars AS truncated
      |FROM p ORDER BY start_off""".stripMargin

  /** TRUE next-fit packing with pad-to-boundary — the third packing
    * policy (q_pack splits docs across sequences; q_pack_docs truncates
    * at boundaries; next-fit PADS the open sequence and starts a fresh
    * one whenever the next doc doesn't fit, losing no tokens). Next-fit
    * is a sequential recurrence (fill f → f+n if it fits else n) that no
    * prefix sum expresses, so the parallel form shards it: sequences
    * never span BUCKET boundaries (each of the 16^bucketChars hash
    * buckets packs from a fresh sequence), which is exactly how a
    * sharded production packer behaves and costs at most C−1 padding
    * tokens per bucket over the unbounded-sequential ideal — choose
    * bucketChars so corpus/16^bucketChars stays partition-sized and the
    * extra waste (16^bucketChars·(C−1) tokens) stays negligible.
    *
    * Phase 1 is the one imperative piece in the packing family and
    * genuinely needs it (mapPartitions over bucket-sorted slim rows,
    * per-bucket state reset — per-task input is one hash range, text
    * never enters); phase 2 globalizes sequence ids with the
    * [[PrefixScan.offsets]] of the per-bucket sequence counts. A null key
    * packs into the null bucket, as in [[packSequences]]. Docs
    * longer than the context are truncated to one full sequence
    * (`truncated` flag; next-fit assumes items ≤ bin). Padding is
    * explicit: pad of sequence s = ctxLen − Σ n_eff over its docs
    * (every sequence but each bucket's last is padded-closed). */
  def nextFitPack(df: DataFrame, key: Column, tokens: Column, ctxLen: Long,
                  bucketChars: Int = 1): DataFrame = {
    val slim = df
      .select(key.as("_k"), tokens.cast(LongType).as("_n0"))
      .withColumn("_h", hashKey(col("_k"), "pack"))
      .withColumn("_bkt",
        conv(substring(col("_h"), 1, bucketChars), 16, 10).cast("long"))
      .withColumn("_n", least(col("_n0"), lit(ctxLen)))
    val keyType = df.select(key).schema.head.dataType
    val scanSchema = StructType(Seq(
      StructField("_bkt", LongType),
      StructField("_k", keyType),
      StructField("_n0", LongType),
      StructField("_n", LongType),
      StructField("bseq", LongType),
      StructField("seq_off", LongType)))
    val packed = slim
      .repartition(col("_bkt"))
      .sortWithinPartitions(col("_bkt"), col("_h"), col("_k"))
      .select(col("_bkt"), col("_k"), col("_n0"), col("_n"))
      .mapPartitions { rows =>
        // per-bucket next-fit fold; buckets are contiguous in the sorted
        // partition, state resets on bucket change (null: the null-key
        // bucket)
        var bkt: Option[Any] = None
        var fill = 0L
        var seq = -1L
        rows.map { r =>
          val b = r.get(0)
          val n = r.getLong(3)
          if (!bkt.contains(b)) { bkt = Some(b); fill = 0L; seq = -1L }
          val fits = seq >= 0 && fill + n <= ctxLen
          val off = if (fits) fill else 0L
          if (fits) fill += n else { seq += 1; fill = n }
          Row(b, r.get(1), r.getLong(2), n, seq, off)
        }
      }(Encoders.row(scanSchema)).toDF()
    PrefixScan.offsets(packed, Nil, col("_bkt"),
        Seq(PrefixScan.Sum(max(col("bseq")) + 1, "_base")))
      .select(col("_k"), col("_n0"), col("_n").as("n_eff"),
        (col("_n") < col("_n0")).as("truncated"),
        (col("_base") + col("bseq")).as("seq_id"), col("seq_off"))
  }

  /** q_pack_nextfit: next-fit pad-to-boundary packing of the documents
    * corpus into 2048-char sequences (16 shards at this SF). */
  def qPackNextfit(spark: SparkSession, dir: String): DataFrame =
    nextFitPack(Tables.documents(spark, dir), col("doc_id"),
        col("n_chars"), 2048L)
      .select(col("_k").as("doc_id"), col("_n0").as("n_chars"),
        col("n_eff"), col("truncated"), col("seq_id"), col("seq_off"))
      .orderBy(col("seq_id"), col("seq_off"))

  /** Oracle replays the recurrence exactly: a recursive CTE steps each
    * bucket's docs in (md5, key) order through the next-fit state
    * machine, then the same bucket-base globalization. */
  val qPackNextfitSql: String =
    """WITH RECURSIVE ordered AS (
      |  SELECT doc_id, n_chars, least(n_chars, 2048) AS n,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':pack'),1,1))::BIGINT AS bkt,
      |    row_number() OVER (PARTITION BY
      |      ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':pack'),1,1))::BIGINT
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':pack'), doc_id) AS rn
      |  FROM documents),
      |step AS (
      |  SELECT bkt, rn, doc_id, n_chars, n,
      |    0::BIGINT AS bseq, 0::BIGINT AS seq_off, n AS fill
      |  FROM ordered WHERE rn = 1
      |  UNION ALL
      |  SELECT o.bkt, o.rn, o.doc_id, o.n_chars, o.n,
      |    CASE WHEN s.fill + o.n <= 2048 THEN s.bseq ELSE s.bseq + 1 END,
      |    CASE WHEN s.fill + o.n <= 2048 THEN s.fill ELSE 0::BIGINT END,
      |    CASE WHEN s.fill + o.n <= 2048 THEN s.fill + o.n ELSE o.n END
      |  FROM step s JOIN ordered o ON o.bkt = s.bkt AND o.rn = s.rn + 1),
      |bases AS (
      |  SELECT bkt, max(bseq) + 1 AS nseq FROM step GROUP BY bkt),
      |gb AS (
      |  SELECT bkt, CAST(coalesce(sum(nseq) OVER (
      |    ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS base
      |  FROM bases)
      |SELECT s.doc_id, s.n_chars, s.n AS n_eff, s.n < s.n_chars AS truncated,
      |  gb.base + s.bseq AS seq_id, s.seq_off
      |FROM step s JOIN gb ON s.bkt = gb.bkt
      |ORDER BY seq_id, seq_off""".stripMargin

  /** WEIGHTED sampling without libm: deterministic systematic (grid)
    * sampling on the weight tape. Each row occupies [cum, cum+w) on the
    * exclusive prefix-sum tape (packSequences' machinery, hash order);
    * a grid of points 0, step, 2·step, … is laid over [0, T) and a row
    * is picked once per grid point inside its span: n_picks =
    * ceil((cum+w)/step) − ceil(cum/step), pure nonneg integer
    * arithmetic (the A-ES exponential-key scheme needs pow/ln, whose
    * cross-engine ulp drift breaks exact verification — a grid pick is
    * bit-exact). Selection probability is proportional to weight;
    * rows with w >= step are picked with certainty (possibly multiple
    * times — the systematic upweighting of heavy items); total picks =
    * ceil(T/step). One tiny total agg broadcast back + the two-phase
    * tape — no global sort, no single reducer. */
  def weightedSystematic(df: DataFrame, key: Column, weight: Column,
                         picks: Long): DataFrame = {
    val base = df.withColumn("_w", weight)
    val taped = packSequences(base, key, col("_w"), ctxLen = Long.MaxValue)
      .withColumnRenamed("start_off", "_cum")
      .drop("seq_id", "seq_off")
    val tot = base.agg(sum(col("_w")).as("_t"))
    // step is floored at 1: total weight < picks would make _t DIV picks
    // zero, and Spark's DIV-by-zero yields null (silently empty result)
    // while DuckDB's // 0 raises — greatest(.,1) on BOTH sides keeps the
    // edge case defined and identical (every unit-weight row picked once)
    taped.crossJoin(broadcast(tot))
      .withColumn("_step", greatest(expr(s"_t DIV $picks"), lit(1L)))
      .withColumn("n_picks",
        (expr("(_cum + _w + _step - 1) DIV _step") -
          expr("(_cum + _step - 1) DIV _step")))
      .filter(col("n_picks") > 0)
      .drop("_t", "_step")
  }

  /** q_sample_weighted: ~200 picks over documents weighted by n_chars. */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedSystematic(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      col("doc_id"), col("n_chars"), picks = 200L)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("_cum").as("tape_off"), col("n_picks"))
      .orderBy(col("tape_off"))

  val qSampleWeightedSql: String =
    """WITH s AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(coalesce(sum(n_chars) OVER (
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':pack'), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tape_off
      |  FROM documents),
      |t AS (SELECT greatest(CAST(sum(n_chars) AS BIGINT) // 200, 1) AS step
      |      FROM documents),
      |p AS (
      |  SELECT doc_id, lang, n_chars, tape_off,
      |    CAST((tape_off + n_chars + step - 1) // step
      |      - (tape_off + step - 1) // step AS BIGINT) AS n_picks
      |  FROM s, t)
      |SELECT doc_id, lang, n_chars, tape_off, n_picks
      |FROM p WHERE n_picks > 0 ORDER BY tape_off""".stripMargin

  /** Preference-pair construction for preference-tuning (DPO/RLHF
    * reward data): within each prompt group, emit every
    * (chosen, rejected) response pair whose score gap clears a margin.
    * The self-join is GROUP-KEYED, so pair cost is Σ g² over group
    * sizes — bounded by the responses-per-prompt a labeling pipeline
    * produces (single digits), never corpus² — and the join shuffles
    * (group, id, score) triples only. Deterministic: ties produce no
    * pair (strict margin), ids break nothing because pairs are ordered
    * by the score gap, not by id. */
  def preferencePairs(df: DataFrame, group: Column, id: Column,
                      score: Column, margin: Double): DataFrame = {
    // eager checkpoint: the slim scored table feeds BOTH self-join
    // aliases, and exchange reuse does not fire across aliases — without
    // it the upstream scoring pipeline (a corpus scan + aggregate when
    // fed from a quality scorer) runs twice (the §4 diamond rule,
    // same as Dedup.bandKeys)
    val slim = df.select(group.as("_g"), id.as("_id"), score.as("_s"))
      .localCheckpoint()
    slim.as("a").join(slim.as("b"),
        col("a._g") === col("b._g") &&
          col("a._s") > col("b._s") + lit(margin))
      .select(col("a._g").as("group_id"),
        col("a._id").as("chosen_id"), col("b._id").as("rejected_id"),
        (col("a._s") - col("b._s")).as("score_gap"))
  }

  /** q_pref_pairs: 5-doc prompt groups scored by the ml scorer. */
  def qPrefPairs(spark: SparkSession, dir: String): DataFrame =
    preferencePairs(
      graft.operators.TextAnalysis.mlQuality(Tables.documents(spark, dir))
        .withColumn("_grp", expr("doc_id DIV 5")),
      col("_grp"), col("doc_id"), col("ml_score"), margin = 0.05)
      .orderBy(col("group_id"), col("chosen_id"), col("rejected_id"))

  val qPrefPairsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5('w:'||CAST(
      |      ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS VARCHAR)),1,10))::BIGINT AS w
      |  FROM tok WHERE term <> ''),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms, sum(w) AS s FROM f GROUP BY doc_id),
      |sc AS (
      |  SELECT doc_id, doc_id // 5 AS grp,
      |    CAST(s AS DOUBLE) / CAST(n_terms AS DOUBLE)
      |      / 1099511627776.0 * 2.0 - 1.0 AS v
      |  FROM agg)
      |SELECT a.grp AS group_id, a.doc_id AS chosen_id,
      |  b.doc_id AS rejected_id, a.v - b.v AS score_gap
      |FROM sc a JOIN sc b ON a.grp = b.grp AND a.v > b.v + 0.05
      |ORDER BY group_id, chosen_id, rejected_id""".stripMargin

  /** Negative sampling for contrastive/embedding training: k
    * deterministic pseudo-random corpus negatives per anchor. Every
    * document gets a DENSE position 0..N-1 (the packSequences prefix
    * tape with unit weights — no single-reducer row_number), and
    * anchor a's slot-j negative is the document at position
    * md5(a, j) mod N — reproducible across runs/engines, uniform over
    * the corpus, and resolved by ONE position-keyed equi-join of
    * k·|anchors| probe rows against the position table (never a
    * per-anchor scan). Self-collisions (a drawing its own position)
    * are filtered, not re-drawn — a documented 1/N-rate slot loss a
    * trainer never notices, where re-drawing would need an unbounded
    * loop. */
  def negativeSample(df: DataFrame, key: Column, anchors: Column,
                     k: Int): DataFrame = {
    val pos = packSequences(df.select(key.as("_id")), col("_id"), lit(1L),
        ctxLen = Long.MaxValue)
      .select(col("_id").as("_nid"), col("start_off").as("_pos"))
      .localCheckpoint() // feeds the probe join AND the count
    val n = pos.agg(count(lit(1)).as("_n"))
    val probes = df.filter(anchors).select(key.as("anchor_id"))
      .crossJoin(broadcast(n))
      .select(col("anchor_id"), explode(array((0 until k).map(lit): _*)).as("slot"),
        col("_n"))
      .withColumn("_tpos",
        md5Long(concat(col("anchor_id").cast("string"),
          lit(":neg:"), col("slot").cast("string")), 1, 15) % col("_n"))
    probes.join(pos, col("_tpos") === col("_pos"))
      .filter(col("_nid") =!= col("anchor_id"))
      .select(col("anchor_id"), col("slot"), col("_nid").as("neg_doc_id"))
  }

  /** q_negatives: 4 negatives per anchor (every 50th doc). */
  def qNegatives(spark: SparkSession, dir: String): DataFrame =
    negativeSample(Tables.documents(spark, dir), col("doc_id"),
        pmod(col("doc_id"), lit(50)) === 0, k = 4)
      .orderBy(col("anchor_id"), col("slot"))

  /** Oracle: row_number over the same hash order stands in for the
    * tape position (the single-window formulation). */
  val qNegativesSql: String =
    """WITH p AS (
      |  SELECT doc_id AS nid,
      |    row_number() OVER (
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':pack'), doc_id) - 1 AS pos
      |  FROM documents),
      |n AS (SELECT count(*) AS n FROM documents),
      |a AS (
      |  SELECT doc_id AS anchor_id, s.slot,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':neg:'||
      |      CAST(s.slot AS VARCHAR)),1,15))::BIGINT % n.n AS tpos
      |  FROM documents, (SELECT unnest([0,1,2,3]) AS slot) s, n
      |  WHERE doc_id % 50 = 0)
      |SELECT anchor_id, CAST(slot AS INT) AS slot, nid AS neg_doc_id
      |FROM a JOIN p ON a.tpos = p.pos
      |WHERE nid <> anchor_id
      |ORDER BY anchor_id, slot""".stripMargin

  /** Rendezvous (highest-random-weight) sharding — stable routing of
    * documents to export shards such that growing the shard count moves
    * only the docs the NEW shard wins: shard(d) = argmax_s h(d, s).
    * Plain mod-N sharding reshuffles ~everything when N changes (every
    * doc's residue moves); HRW moves exactly 1/(S+1) of the corpus in
    * expectation, and every mover lands on the added shard — the
    * property that makes incremental re-export / cache-friendly
    * delivery possible. Zero shuffle for the assignment itself (a pure
    * projection of S md5 scores + argmax via greatest; ties broken by
    * lowest shard, vanishing at 60-bit scores); the driver query
    * aggregates the 8→9 migration matrix, whose shape IS the law:
    * off-diagonal mass only in the new-shard column.
    *
    * [[rendezvousShard]] is the reusable assignment expression. */
  def rendezvousShard(key: Column, shards: Int): Column = {
    // scores land in an array ONCE per row: the naive argmax fold over
    // score expressions re-inlines every md5 at each comparison level
    // (no common-subexpression elimination across when-branches —
    // measured 12 s for a 5k-row projection), while element_at over the
    // materialized array keeps it one md5 per (row, shard)
    val scores = array((0 until shards).map(s =>
      md5Long(concat(key.cast("string"), lit(s":shard:$s")), 1, 15)): _*)
    // array_position is codegen'd and returns the FIRST match (1-based)
    // — ties to the lowest shard, same as the oracle's CASE order
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  def qRendezvous(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        rendezvousShard(col("doc_id"), 8).as("shard8"),
        rendezvousShard(col("doc_id"), 9).as("shard9"))
      .groupBy(col("shard8"), col("shard9"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("shard8"), col("shard9"))

  val qRendezvousSql: String = {
    def scores(n: Int) = (0 until n).map(s =>
      s"('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':shard:$s'),1,15))::BIGINT")
    def assign(n: Int): String = {
      val ss = scores(n)
      val g = s"greatest(${ss.mkString(", ")})"
      val cases = ss.zipWithIndex
        .map { case (e, s) => s"WHEN $e = $g THEN $s" }.mkString(" ")
      s"CASE $cases END"
    }
    s"""WITH a AS (
       |  SELECT doc_id, ${assign(8)} AS shard8, ${assign(9)} AS shard9
       |  FROM documents)
       |SELECT CAST(shard8 AS INT) AS shard8, CAST(shard9 AS INT) AS shard9,
       |  count(*) AS n_docs
       |FROM a GROUP BY shard8, shard9 ORDER BY shard8, shard9""".stripMargin
  }

  /** Deterministic train/val/test holdout split: assign every row a
    * split by where its hash-uniform falls in [0,1) — train [0,.8),
    * val [.8,.9), test [.9,1). The split step every training pipeline
    * runs, with the three properties that actually matter: DISJOINT and
    * EXHAUSTIVE by construction (the ranges partition [0,1)), and
    * MEMBERSHIP-STABLE — a document's split depends only on its own
    * key, so corpus growth or filtering upstream never migrates an
    * existing doc between splits (no eval contamination on re-runs).
    * Zero shuffle: a pure projection. Cutoffs are EXPLICIT boundary
    * literals, not a fraction sum — 0.8 + 0.1 is 0.9000000000000001 in
    * doubles, and an engine writing the literal 0.9 would disagree on
    * any u in between (the q_hostrank 1-d lesson). */
  def holdout(df: DataFrame, key: Column,
              trainCut: Double = 0.8, valCut: Double = 0.9): DataFrame = {
    val u = hashUniform(key, "holdout")
    df.withColumn("split",
      when(u < trainCut, lit("train"))
        .when(u < valCut, lit("val"))
        .otherwise(lit("test")))
  }

  /** q_holdout: per-(split, lang) doc and char counts. */
  def qHoldout(spark: SparkSession, dir: String): DataFrame =
    holdout(Tables.documents(spark, dir), col("doc_id"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("split"), col("lang"))

  val qHoldoutSql: String =
    """WITH u AS (
      |  SELECT lang, n_chars,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':holdout'),1,15))::BIGINT
      |      / 1152921504606846976.0 AS u
      |  FROM documents),
      |s AS (
      |  SELECT lang, n_chars,
      |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM u)
      |SELECT split, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin

  /** Exact-total stratified sampling via largest-remainder (Hamilton)
    * allocation: split a FIXED budget of `total` rows across strata
    * PROPORTIONALLY to their sizes — base quota = floor(total·n_s/N),
    * then the leftover seats go to the strata with the largest
    * remainders (ties by stratum name). The budgeted counterpart of
    * [[stratified]]'s fixed-k form: "give me exactly 100 docs that
    * mirror the language mix" — eval-set construction, labeling budgets,
    * per-mixture audits. Quotas are integer arithmetic end to end (no
    * double rounding to diverge cross-engine).
    *
    * Scale: the stratum-count aggregate is map-side combined; quota
    * computation touches only the stratum table (one row per stratum —
    * the tiny global windows run on that table, never the corpus); picks
    * reuse the hash-ordered top-k window, whose WindowGroupLimit
    * pushdown caps each mapper's contribution at the stratum quota. */
  def stratifiedQuota(df: DataFrame, stratum: Column, key: Column,
                      total: Int): DataFrame = {
    val counts = df.groupBy(stratum.as("_s")).agg(count(lit(1)).as("_n"))
    val tot = counts.agg(sum(col("_n")).as("_t")) // 1 row
    val alloc = counts.crossJoin(broadcast(tot))
      .withColumn("_base", expr(s"$total * _n DIV _t"))
      .withColumn("_rem", expr(s"($total * _n) % _t"))
    val leftover = alloc.agg((lit(total) - sum(col("_base"))).as("_lo")) // 1 row
    // stratum-table-only window (|strata| rows): rank remainders
    val ranked = alloc
      .withColumn("_rk", row_number().over(
        Window.orderBy(col("_rem").desc, col("_s"))))
      .crossJoin(broadcast(leftover))
      .select(col("_s"), col("_n").as("stratum_n"),
        least(col("_base") +
          when(col("_rk") <= col("_lo"), 1L).otherwise(0L), col("_n"))
          .as("quota"))
    val w = Window.partitionBy(stratum)
      .orderBy(hashKey(key, "stratq"), key)
    df.withColumn("_rk2", row_number().over(w))
      .join(broadcast(ranked), stratum === col("_s"))
      .filter(col("_rk2") <= col("quota"))
      .drop("_s", "_rk2")
  }

  /** q_stratified: exactly 100 documents mirroring the language mix. */
  def qStratified(spark: SparkSession, dir: String): DataFrame =
    stratifiedQuota(Tables.documents(spark, dir), col("lang"),
        col("doc_id"), 100)
      .select(col("doc_id"), col("lang"), col("stratum_n"), col("quota"))
      .orderBy(col("lang"), col("doc_id"))

  val qStratifiedSql: String =
    """WITH c AS (
      |  SELECT lang AS s, count(*) AS n FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
      |a AS (
      |  SELECT s, n, (100 * n) // t AS base, (100 * n) % t AS rem
      |  FROM c CROSS JOIN t),
      |lo AS (SELECT CAST(100 - sum(base) AS BIGINT) AS lo FROM a),
      |q AS (
      |  SELECT s, n AS stratum_n,
      |    CAST(least(base + CASE WHEN row_number()
      |        OVER (ORDER BY rem DESC, s) <= lo THEN 1 ELSE 0 END, n) AS BIGINT)
      |      AS quota
      |  FROM a CROSS JOIN lo),
      |r AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':stratq'), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, lang, stratum_n, quota
      |FROM r JOIN q ON lang = q.s
      |WHERE rk <= quota ORDER BY lang, doc_id""".stripMargin

  /** Deterministic source interleaving: merge two corpora into one
    * training order at a fixed wA:wB cadence (wA items of A, then wB of
    * B, repeating) — how a trainer consumes "2 parts web, 1 part
    * curated" WITHIN the data order rather than by global concatenation,
    * so early training already sees the full mixture. Each side is
    * ordered by the deterministic hash tape and its i-th item maps to
    * slot floor(i/w)·(wA+wB) + offset + (i mod w): pure arithmetic, no
    * coordination between sides, reproducible everywhere. When one side
    * exhausts, its later cycle slots stay empty (the consumer compacts
    * by slot order — documented, matches how mixtures drain).
    *
    * Scale: each side's dense position is the [[packSequences]] global
    * prefix machinery with unit tokens (two-phase, bucket-bounded — no
    * single-reducer row_number); the slot map is a projection. */
  def interleave(a: DataFrame, b: DataFrame, key: Column,
                 wA: Int, wB: Int, bucketChars: Int = 4): DataFrame = {
    require(wA > 0 && wB > 0, "interleave weights must be positive")
    val cycle = (wA + wB).toLong
    def pos(df: DataFrame) =
      packSequences(df, key, lit(1L), ctxLen = 1L, bucketChars)
        .drop("seq_id", "seq_off")
        .withColumnRenamed("start_off", "_pos")
    val sa = pos(a).withColumn("slot",
      expr(s"(_pos DIV $wA) * $cycle + pmod(_pos, $wA)"))
    val sb = pos(b).withColumn("slot",
      expr(s"(_pos DIV $wB) * $cycle + $wA + pmod(_pos, $wB)"))
    sa.union(sb).drop("_pos")
  }

  /** q_interleave: 2 parts English, 1 part everything else. */
  def qInterleave(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val a = docs.filter(col("lang") === "en").withColumn("grp", lit("en"))
    val b = docs.filter(col("lang") =!= "en").withColumn("grp", lit("other"))
    interleave(a, b, col("doc_id"), 2, 1)
      .select(col("doc_id"), col("grp"), col("slot"))
      .orderBy(col("slot"), col("doc_id"))
  }

  val qInterleaveSql: String =
    """WITH a AS (
      |  SELECT doc_id, 'en' AS grp,
      |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)||':pack'),
      |      doc_id) - 1 AS p
      |  FROM documents WHERE lang = 'en'),
      |b AS (
      |  SELECT doc_id, 'other' AS grp,
      |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)||':pack'),
      |      doc_id) - 1 AS p
      |  FROM documents WHERE lang <> 'en'),
      |s AS (
      |  SELECT doc_id, grp, (p // 2) * 3 + (p % 2) AS slot FROM a
      |  UNION ALL
      |  SELECT doc_id, grp, p * 3 + 2 AS slot FROM b)
      |SELECT doc_id, grp, CAST(slot AS BIGINT) AS slot FROM s
      |ORDER BY slot, doc_id""".stripMargin

  /** Mixture solving: turn a target mixture recipe (per-stratum corpus
    * shares + a global token budget) into per-stratum deterministic
    * sampling rates, apply them with the zero-shuffle hash-threshold
    * sampler, and report plan vs achieved — the step that PRODUCES the
    * rates [[stratifiedByRate]] consumes. rate_s = min(1,
    * floor(budget*share_s) / avail_s): a stratum with less mass than its
    * target keeps everything (rate clamps to 1); the achieved token count
    * is binomial around the target because the rate sampler is
    * per-document (documented, exactly how production mixtures land).
    *
    * Scale: one map-side-combined aggregate over the corpus (per-stratum
    * totals — rows = #strata), the rate table broadcasts back, and the
    * selection pass is the zero-shuffle filter + one tiny aggregate. Two
    * linear scans, no corpus shuffle anywhere. */
  def mixture(df: DataFrame, stratum: Column, key: Column, tokens: Column,
              shares: Map[String, Double], budget: Long): DataFrame = {
    val shareMap = map(shares.toSeq.sortBy(_._1).flatMap {
      case (s, r) => Seq(lit(s), lit(r)) }: _*)
    // lazily checkpointed (#strata rows): the rate table feeds BOTH the
    // selection join and the final report join — without it the corpus
    // totals aggregate runs twice (the documented cost is two linear
    // scans: one for totals, one for selection). Lazy, not eager, so
    // composition stays action-free (the ivfTopK round-5 lesson).
    val avail = df.groupBy(stratum.as("_s"))
      .agg(count(lit(1)).as("avail_docs"), sum(tokens).as("avail_tokens"))
      .withColumn("_share",
        coalesce(element_at(shareMap, col("_s").cast("string")), lit(0.0)))
      .withColumn("target_tokens",
        floor(lit(budget.toDouble) * col("_share")).cast("long"))
      .withColumn("rate", least(lit(1.0),
        col("target_tokens").cast("double") / col("avail_tokens").cast("double")))
      .localCheckpoint(false)
    val sel = df
      .join(broadcast(avail.select(col("_s"), col("rate"))), stratum <=> col("_s"))
      .filter(hashUniform(key, "mix") < col("rate"))
      .groupBy(stratum.as("_s2"))
      .agg(count(lit(1)).as("sel_docs"), sum(tokens).as("sel_tokens"))
    avail.join(broadcast(sel), col("_s") === col("_s2"), "left_outer")
      .select(col("_s"), col("avail_docs"), col("avail_tokens"),
        col("target_tokens"), col("rate"),
        coalesce(col("sel_docs"), lit(0L)).as("sel_docs"),
        coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"))
  }

  /** q_mixture: rebalance the documents corpus toward a 40/20/20/10/10
    * fr/en/es/zh/de character-mass recipe under a 70k-char budget (fr has
    * less mass than its 28k target at both sf0.001 and sf0.01, so its
    * rate clamps to 1 — the keep-everything branch is exercised; every
    * other stratum downsamples). */
  def qMixture(spark: SparkSession, dir: String): DataFrame =
    mixture(Tables.documents(spark, dir), col("lang"), col("doc_id"),
        col("n_chars"),
        Map("fr" -> 0.4, "en" -> 0.2, "es" -> 0.2, "zh" -> 0.1, "de" -> 0.1),
        70000L)
      .select(col("_s").as("lang"), col("avail_docs"), col("avail_tokens"),
        col("target_tokens"), col("rate"), col("sel_docs"), col("sel_tokens"))
      .orderBy(col("lang"))

  val qMixtureSql: String =
    """WITH avail AS (
      |  SELECT lang, count(*) AS avail_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS avail_tokens
      |  FROM documents GROUP BY lang),
      |rates AS (
      |  SELECT lang, avail_docs, avail_tokens,
      |    CAST(floor(70000.0 * CASE lang
      |      WHEN 'fr' THEN 0.4 WHEN 'en' THEN 0.2 WHEN 'es' THEN 0.2
      |      WHEN 'zh' THEN 0.1 WHEN 'de' THEN 0.1 ELSE 0.0 END) AS BIGINT)
      |      AS target_tokens
      |  FROM avail),
      |plan AS (
      |  SELECT *, least(1.0,
      |    CAST(target_tokens AS DOUBLE) / CAST(avail_tokens AS DOUBLE)) AS rate
      |  FROM rates),
      |sel AS (
      |  SELECT d.lang, count(*) AS sel_docs,
      |    CAST(sum(d.n_chars) AS BIGINT) AS sel_tokens
      |  FROM documents d JOIN plan p ON d.lang = p.lang
      |  WHERE ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||':mix'),1,15))::BIGINT
      |        / 1152921504606846976.0 < p.rate
      |  GROUP BY d.lang)
      |SELECT p.lang, avail_docs, avail_tokens, target_tokens, rate,
      |  CAST(coalesce(sel_docs, 0) AS BIGINT) AS sel_docs,
      |  CAST(coalesce(sel_tokens, 0) AS BIGINT) AS sel_tokens
      |FROM plan p LEFT JOIN sel USING (lang) ORDER BY lang""".stripMargin

  /** Deterministic global shuffle + sharding — the LAST step of a
    * training-data pipeline: the curated corpus must reach the trainer in
    * a fixed pseudo-random order, split into shard files, and the order
    * must be reproducible run-to-run and engine-to-engine (restarts,
    * data-parallel readers, and audits all depend on it). The shuffle
    * key is a salted 60-bit md5 of the row key — uniform, so shard sizes
    * balance (corpus/nShards each) and the within-shard hash order IS
    * the global pseudo-random order restricted to that shard.
    *
    * Scale: one hash-partition shuffle on `shard` + a per-shard sort.
    * nShards is chosen so a shard ≈ one output file (256 MB–1 GB) —
    * thousands of shards at 100 TB — so the per-task sort input is
    * bounded by the FILE size contract, not the corpus; there is no
    * global sort and no single-reducer stage anywhere. */
  def shuffleExport(df: DataFrame, key: Column, nShards: Int = 16): DataFrame = {
    val k = conv(substring(hashKey(key, "export"), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("_shard")).orderBy(col("_k"), key)
    df.withColumn("_k", k)
      .withColumn("_shard", pmod(col("_k"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumnRenamed("_shard", "shard")
      .drop("_k")
  }

  def qShuffleExport(spark: SparkSession, dir: String): DataFrame =
    shuffleExport(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  val qShuffleExportSql: String =
    """WITH k AS (
      |  SELECT doc_id, lang,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':export'),1,15))::BIGINT AS _k
      |  FROM documents)
      |SELECT doc_id, lang, CAST(_k % 16 AS INTEGER) AS shard,
      |  row_number() OVER (PARTITION BY _k % 16 ORDER BY _k, doc_id) AS pos
      |FROM k ORDER BY shard, pos""".stripMargin

  /** Compaction of per-batch shard exports back into ONE global tape —
    * the consumer-side batch job the streaming export's scaladoc
    * promises ([[graft.streaming.EventStreams.shardExportSink]] writes
    * `outDir/batch=<id>/shard=<s>/`; after enough micro-batches those
    * small per-batch files need merging). Because shard and pos are pure
    * hash arithmetic on the row key, compaction is just
    * [[shuffleExport]] re-applied to the union with the batch-local
    * shard/pos columns dropped: the result is BIT-IDENTICAL to a
    * one-shot export of the same rows (spec- and oracle-pinned), so a
    * trainer can switch from the incremental layout to the compacted
    * one without any resume-state migration.
    *
    * Scale: one hash shuffle on the recomputed shard + per-shard sort —
    * the same bounded shape as the original export; no global sort, no
    * read-modify-write of prior output. */
  def compactShards(batchExports: DataFrame, key: Column,
                    nShards: Int = 16): DataFrame =
    shuffleExport(batchExports.drop("shard", "pos", "batch"), key, nShards)

  /** q_compact_shards: three simulated micro-batch exports of the events
    * table (batch = event_id mod 3, each exported with its own
    * batch-local shard/pos), unioned and compacted. The oracle is the
    * ONE-SHOT export law on the full table — passing means compaction
    * of incremental exports is indistinguishable from never having
    * batched at all. */
  def qCompactShards(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"))
    val perBatch = (0 until 3).map { b =>
      shuffleExport(ev.filter(pmod(col("event_id"), lit(3L)) === b),
        col("event_id"), 8)
        .withColumn("batch", lit(b.toLong))
    }.reduce(_ unionByName _)
    compactShards(perBatch, col("event_id"), 8)
      .select(col("event_id"), col("event_type"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  val qCompactShardsSql: String =
    """WITH k AS (
      |  SELECT event_id, event_type,
      |    ('0x'||substr(md5(CAST(event_id AS VARCHAR)||':export'),1,15))::BIGINT AS _k
      |  FROM events)
      |SELECT event_id, event_type, CAST(_k % 8 AS INTEGER) AS shard,
      |  row_number() OVER (PARTITION BY _k % 8 ORDER BY _k, event_id) AS pos
      |FROM k ORDER BY shard, pos""".stripMargin

  /** Shared ingest-time keep predicate for the stream/batch sampling
    * twins (st_sample here and EventStreams.sampledEvents): ONE
    * definition so the streaming filter and the batch oracle cannot
    * drift — the stFunnel pattern. Per-event-type rates on the
    * event_id hash-uniform: keep every purchase, downsample the
    * view firehose to 10%, clicks to half, default 25%. Stateless →
    * exactly incremental, zero state store, and the stream selects
    * the IDENTICAL event set as any batch/cross-engine replay
    * (supersets under rate increases, like stratifiedByRate). */
  val eventSampleKeep: Column =
    hashUniform(col("event_id"), "evrate") <
      coalesce(element_at(
        map(lit("purchase"), lit(1.0), lit("view"), lit(0.1),
          lit("click"), lit(0.5)),
        col("event_type")), lit(0.25))

  /** st_sample: the batch twin — same predicate over the events table
    * (StreamingSpec asserts the streamed set is identical). */
  def stSample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(eventSampleKeep)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  val stSampleSql: String =
    """SELECT event_id, user_id, event_type, value FROM (
      |  SELECT event_id, user_id, event_type, value,
      |    ('0x'||substr(md5(CAST(event_id AS VARCHAR)||':evrate'),1,15))::BIGINT
      |      / 1152921504606846976.0 AS u
      |  FROM events)
      |WHERE u < CASE event_type WHEN 'purchase' THEN 1.0 WHEN 'view' THEN 0.1
      |                          WHEN 'click' THEN 0.5 ELSE 0.25 END
      |ORDER BY event_id""".stripMargin

  /** Temperature-scaled source mixing (the multilingual-LLM sampling
    * law): source weights ∝ n^α with α = 0.5, so low-resource sources
    * are UP-sampled relative to proportional allocation while head
    * sources still dominate. Weights are exact scaled integers —
    * floor(√n·10⁶ + 0.5); sqrt is IEEE-correctly-rounded in every
    * engine — the budget splits by Hamilton largest-remainder in pure
    * integer arithmetic (the stratifiedQuota machinery), and each
    * source's quota fills deterministically by salted-hash order. The
    * allocation tables are |sources| rows; the per-source fill is a
    * partitioned row_number with WindowGroupLimit-style early cut. */
  def temperatureMix(df: DataFrame, source: Column, key: Column,
                     budget: Int): DataFrame = {
    val counts = df.groupBy(source.as("_s")).agg(count(lit(1)).as("_n"))
      .withColumn("_w",
        floor(sqrt(col("_n").cast(DoubleType)) * lit(1000000.0) + lit(0.5))
          .cast(LongType))
    val tot = counts.agg(sum(col("_w")).as("_tw")) // 1 row
    val alloc = counts.crossJoin(broadcast(tot))
      .withColumn("_base", expr(s"$budget * _w DIV _tw"))
      .withColumn("_rem", expr(s"($budget * _w) % _tw"))
    val leftover = alloc.agg((lit(budget) - sum(col("_base"))).as("_lo"))
    val ranked = alloc
      .withColumn("_rk", row_number().over(
        Window.orderBy(col("_rem").desc, col("_s")))) // |sources| rows
      .crossJoin(broadcast(leftover))
      .select(col("_s"), col("_n").as("source_n"),
        least(col("_base") +
          when(col("_rk") <= col("_lo"), 1L).otherwise(0L), col("_n"))
          .as("quota"))
    df.withColumn("_rk2", row_number().over(
        Window.partitionBy(source).orderBy(hashKey(key, "tempmix"), key)))
      .join(broadcast(ranked), source === col("_s"))
      .filter(col("_rk2") <= col("quota"))
      .drop("_s", "_rk2")
  }

  def qTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(spark, dir), col("source"),
        col("doc_id"), 200)
      .groupBy(col("source"))
      .agg(max(col("source_n")).as("source_n"), max(col("quota")).as("quota"),
        count(lit(1)).as("n_selected"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("source"))

  val qTemperatureMixSql: String =
    """WITH c AS (SELECT source AS s, count(*) AS n FROM documents GROUP BY 1),
      |w AS (
      |  SELECT s, n,
      |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w
      |  FROM c),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
      |a AS (
      |  SELECT s, n, 200 * w // tw AS base, (200 * w) % tw AS rem
      |  FROM w, t),
      |lo AS (SELECT 200 - CAST(sum(base) AS BIGINT) AS lo FROM a),
      |r AS (
      |  SELECT s, n, base, rem,
      |    row_number() OVER (ORDER BY rem DESC, s) AS rk FROM a),
      |q AS (
      |  SELECT s, n AS source_n,
      |    least(base + CASE WHEN rk <= (SELECT lo FROM lo) THEN 1 ELSE 0 END,
      |      n) AS quota
      |  FROM r),
      |sel AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':tempmix'), doc_id) AS rk2
      |  FROM documents)
      |SELECT sel.source, q.source_n, CAST(q.quota AS BIGINT) AS quota,
      |  count(*) AS n_selected, CAST(sum(sel.n_chars) AS BIGINT) AS n_chars
      |FROM sel JOIN q ON sel.source = q.s
      |WHERE sel.rk2 <= q.quota
      |GROUP BY 1, 2, 3 ORDER BY sel.source""".stripMargin

  /** Per-shard export integrity manifest: row count plus an
    * ORDER-INDEPENDENT content checksum (sum of per-row md5-derived
    * 60-bit hashes, folded mod 2^31−1) for every rendezvous shard — the
    * manifest a consumer re-computes after transfer to prove a shard
    * arrived complete and unaltered, without any agreed row order. The
    * row hash covers every exported field (content digest included), so
    * a single flipped byte, dropped row, or duplicated row changes the
    * shard checksum. One map-combined aggregate; commutative sum means
    * partitioning/ordering can never affect the manifest. */
  def exportChecksums(docs: DataFrame, shards: Int = 16): DataFrame = {
    // each field is md5'd SEPARATELY before concatenation: the 32-hex-char
    // fixed width removes separator ambiguity (a ':' inside lang/source can
    // no longer slide across field boundaries), and NULL coalesces to a
    // 0x01-byte sentinel so a null field changes the hash instead of being
    // silently skipped (concat_ws drops nulls; the oracle's || propagates
    // them — both wrong for an integrity manifest)
    def fieldHash(c: Column): Column =
      md5(coalesce(c.cast("string"), lit("\u0001")))
    val rowHash = md5Long(
      concat(fieldHash(col("doc_id")), fieldHash(col("lang")),
        fieldHash(col("source")), fieldHash(col("n_chars")),
        fieldHash(col("text"))),
      1, 15)
    docs.select(pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        rowHash.as("_h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("_h").cast(DecimalType(38, 0))) % lit(2147483647L))
          .cast(LongType).as("checksum"))
      .orderBy(col("shard"))
  }

  def qExportChecksums(spark: SparkSession, dir: String): DataFrame =
    exportChecksums(Tables.documents(spark, dir))

  val qExportChecksumsSql: String =
    """SELECT doc_id % 16 AS shard, count(*) AS n_rows,
      |  CAST(CAST(sum(('0x' || substr(md5(
      |      md5(coalesce(CAST(doc_id AS VARCHAR), chr(1))) ||
      |      md5(coalesce(lang, chr(1))) ||
      |      md5(coalesce(source, chr(1))) ||
      |      md5(coalesce(CAST(n_chars AS VARCHAR), chr(1))) ||
      |      md5(coalesce(text, chr(1)))), 1, 15))::BIGINT)
      |    AS HUGEINT) % 2147483647 AS BIGINT) AS checksum
      |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_temperature_mix" -> (qTemperatureMix _),
    "q_export_checksums" -> (qExportChecksums _),
    "st_sample" -> (stSample _),
    "q_pack_docs" -> (qPackDocs _),
    "q_pack_nextfit" -> (qPackNextfit _),
    "q_rendezvous" -> (qRendezvous _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_pref_pairs" -> (qPrefPairs _),
    "q_negatives" -> (qNegatives _),
    "q_shuffle_export" -> (qShuffleExport _),
    "q_compact_shards" -> (qCompactShards _),
    "q_sample" -> (qSample _),
    "q_sample_rate" -> (qSampleRate _),
    "q_token_budget" -> (qTokenBudget _),
    "q_sample_epochs" -> (qSampleEpochs _),
    "q_pack" -> (qPack _),
    "q_mixture" -> (qMixture _),
    "q_interleave" -> (qInterleave _),
    "q_holdout" -> (qHoldout _),
    "q_stratified" -> (qStratified _))

  val oracles: Map[String, String] = Map(
    "st_sample" -> stSampleSql,
    "q_pack_docs" -> qPackDocsSql,
    "q_pack_nextfit" -> qPackNextfitSql,
    "q_rendezvous" -> qRendezvousSql,
    "q_sample_weighted" -> qSampleWeightedSql,
    "q_pref_pairs" -> qPrefPairsSql,
    "q_negatives" -> qNegativesSql,
    "q_shuffle_export" -> qShuffleExportSql,
    "q_compact_shards" -> qCompactShardsSql,
    "q_sample" -> qSampleSql,
    "q_sample_rate" -> qSampleRateSql,
    "q_token_budget" -> qTokenBudgetSql,
    "q_sample_epochs" -> qSampleEpochsSql,
    "q_pack" -> qPackSql,
    "q_mixture" -> qMixtureSql,
    "q_interleave" -> qInterleaveSql,
    "q_holdout" -> qHoldoutSql,
    "q_stratified" -> qStratifiedSql,
    "q_temperature_mix" -> qTemperatureMixSql,
    "q_export_checksums" -> qExportChecksumsSql)
}
