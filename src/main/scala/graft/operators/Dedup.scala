package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import org.apache.spark.sql.graft.VectorExprs.md5Long

/** Deduplication operators for training-data pipelines (SURVEY.md §2.C).
  *
  * Scale design (100 TB): every variant avoids the quadratic all-pairs
  * comparison. Exact dedup shuffles only (hash, id) — never full text.
  * MinHash/SimHash compute signatures as pure projections (no shuffle),
  * then shuffle only band keys whose bucket fan-in is bounded; candidate
  * verification joins only within buckets. Hashes are md5-derived so the
  * DuckDB oracle reproduces every bit; a production deployment with no
  * oracle requirement would swap in xxhash64 (same structure, faster).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One shuffle of (16-byte hash, id, count) regardless of text size. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  def ddExact(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir)).orderBy("keep_id")

  val ddExactSql: String =
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** Normalization-fold exact dedup: case / ASCII-punctuation /
    * whitespace variants of the same content collapse into one cluster
    * (the crawl reality exact() misses: the same article re-serialized
    * with different casing, smart-quote stripping, or whitespace
    * reflow). Two-level rollup — (norm_h, raw_h) first, then norm_h —
    * so n_copies and n_variants come from two map-combined aggregates
    * instead of one count+countDistinct Expand (the Expand lesson);
    * both shuffles carry (8-byte hash, 8-byte hash, id) rows, never
    * text. The fold is deliberately ASCII-range-explicit (lower +
    * strip `[!-/:-@[-`{-~]` + collapse an EXPLICIT whitespace class
    * `[ \t\n\x0B\f\r]+`) so the Java and RE2 regex engines agree
    * byte-for-byte — Java's \s includes \x0B (vertical tab) while
    * RE2's does not, so a bare \s+ would normalize a \x0B-bearing
    * document differently in the two engines. */
  def normalizedDedup(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[!-/:-@\\[-`{-~]", ""), "[ \\t\\n\\x0B\\f\\r]+", " "))
    docs.select(col("doc_id"),
        md5Long(norm, 1, 15).as("h"),
        md5Long(col("text"), 1, 15).as("_rh"))
      .groupBy(col("h"), col("_rh"))
      .agg(min(col("doc_id")).as("_mid"), count(lit(1)).as("_c"))
      .groupBy(col("h"))
      .agg(min(col("_mid")).as("keep_id"),
        sum(col("_c")).as("n_copies"),
        count(lit(1)).as("n_variants"))
      .orderBy("keep_id")
  }

  def ddNormalized(spark: SparkSession, dir: String): DataFrame =
    normalizedDedup(Tables.documents(spark, dir))

  val ddNormalizedSql: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5(trim(regexp_replace(regexp_replace(lower(text),
      |       '[!-/:-@\[-`{-~]', '', 'g'),
      |       '[ \t\n\x0B\f\r]+', ' ', 'g'))),1,15))::BIGINT AS h,
      |    ('0x'||substr(md5(text),1,15))::BIGINT AS rh
      |  FROM documents),
      |g1 AS (SELECT h, rh, min(doc_id) AS mid, count(*) AS c
      |       FROM k GROUP BY 1, 2)
      |SELECT h, min(mid) AS keep_id, CAST(sum(c) AS BIGINT) AS n_copies,
      |  count(*) AS n_variants
      |FROM g1 GROUP BY h ORDER BY keep_id""".stripMargin

  /** Soft dedup: instead of DROPPING duplicates, DOWN-WEIGHT them —
    * every member of an exact-duplicate cluster gets weight 1/n_copies,
    * so the cluster contributes exactly one document's worth of mass to
    * training while keeping all copies available (the published
    * alternative to hard dedup when duplicates carry distinct metadata,
    * e.g. the same page from different crawls/sources). Same shuffle
    * shape as [[exact]]: the cluster-count aggregate and the join carry
    * (16-byte hash, id) — never text. The weight is a single per-row
    * IEEE division (bit-identical cross-engine); no double is ever
    * summed, so the output is hash-exact. */
  def softDedup(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(md5(col("text")).as("_h"))
      .agg(count(lit(1)).as("n_copies"))
    docs.select(col("doc_id"), col("source"), md5(col("text")).as("_h"))
      .join(counts, Seq("_h"))
      .select(col("doc_id"), col("source"), col("n_copies"),
        (lit(1.0) / col("n_copies").cast(DoubleType)).as("weight"))
  }

  def ddSoftDedup(spark: SparkSession, dir: String): DataFrame =
    softDedup(Tables.documents(spark, dir)).orderBy("doc_id")

  val ddSoftDedupSql: String =
    """WITH c AS (
      |  SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY md5(text))
      |SELECT doc_id, source, n AS n_copies,
      |  CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS weight
      |FROM documents JOIN c ON md5(text) = c.h
      |ORDER BY doc_id""".stripMargin

  /** Incremental exact dedup: drop new documents whose content hash is
    * already in the historical corpus — the shape every append-only
    * training pipeline runs per batch. left_anti on the hash: the
    * historical side is (hash) only (16 bytes/doc however large the
    * corpus), and the join shuffles hashes, never text. */
  def incrementalExact(newDocs: DataFrame, knownHashes: DataFrame): DataFrame =
    newDocs.withColumn("_h", md5(col("text")))
      .join(knownHashes.select(col("h").as("_h")), Seq("_h"), "left_anti")
      .drop("_h")

  /** Driver query for the incremental shape: doc_id < 200 plays the
    * historical corpus (only its hashes are retained — 16 bytes/doc),
    * the rest arrive as the new batch. */
  def ddIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val known = docs.filter(col("doc_id") < 200).select(md5(col("text")).as("h"))
    incrementalExact(docs.filter(col("doc_id") >= 200), known)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val ddIncrementalSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE doc_id >= 200 AND md5(text) NOT IN
      |  (SELECT md5(text) FROM documents WHERE doc_id < 200)
      |ORDER BY doc_id""".stripMargin

  /** Parallelism floor for the per-row text-kernel passes (md5 shingle
    * hashing, minhash signatures): when the input plans FEWER partitions
    * than the cluster's cores, repartition up so the kernel stage uses
    * them — a row-group-bounded local scan otherwise serializes multi-
    * second kernel work on one task (r16 probes: dd_threshold_hist's
    * shingle pass 1.86 s on 1 task at local[32]). The kernel cost
    * dominates the slim (doc_id, text) input shuffle at any scale, and
    * at deployment scale the scan already has more partitions than
    * cores, making this a no-op — the ScriptTransform/python()
    * parallelism-floor argument. Applied ONLY where the alternating
    * A/B won: the ngramJaccard shingle pass (on 2.44-3.00 s vs off 3.21-4.05 s). The same floor
    * on contamination/bandKeysKernel LOST ~30% (cheaper kernels — the
    * exchange cost exceeded the parallelization gain) and was
    * reverted. */
  private def kernelFloor(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < target) docs.repartition(target)
    else docs
  }

  /** Tall (doc_id, shingle) with distinct word-3-gram shingles.
    *
    * Built entirely from native expressions — `arrays_zip` of the token
    * array with its two shifted slices, explode, concat, then a distinct.
    * The obvious `transform(sequence(...), i -> ...)` formulation is a
    * higher-order function, which Catalyst evaluates with an interpreted
    * per-element lambda (CodegenFallback): measured ~3 s per pass over 5k
    * docs vs ~0.2 s for this zip form — and worse, a filter on the HOF
    * result gets pushed into the scan with the lambda duplicated inside
    * it. Zip rows whose 2nd/3rd word is null (the last two positions) are
    * dropped, which also drops docs with <3 tokens.
    *
    * NOT deduplicated: a corpus-wide distinct on (doc_id, string) is the
    * single most expensive step at scale (measured 6 s → 70 s at 23M
    * shingles), and min-aggregates (minhash signatures) are
    * duplicate-insensitive. Consumers that need set semantics dedupe
    * their own — much smaller — slices. */
  def tallShingles(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    docs.select(col("doc_id"),
        explode(arrays_zip(w, slice(w, lit(2), size(w)), slice(w, lit(3), size(w)))).as("z"))
      .filter(col("z.2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("z.0"), col("z.1"), col("z.2")).as("s"))
  }

  /** Deterministic Carter-Wegman universal-hash family for minhash
    * permutations (Broder's scheme): mh_j = (a_j·(h mod p) + b_j) mod p
    * over a single 32-bit md5-derived shingle hash — one md5 per shingle
    * instead of k. p MUST be small (2^31 - 1) so a·h wraps the modulus
    * billions of times: with a large p (first attempt used 2^61-1) the
    * product wraps at most ~3 times and the maps stay mostly
    * ORDER-PRESERVING in h, correlating all k "permutations" — bands
    * then collide whenever two docs merely share their min-h shingle and
    * candidate counts explode quadratically on dense corpora. With
    * p = 2^31-1: a, h mod p < 2^31 keep the product < 2^62 — no overflow
    * in either engine (DuckDB BIGINT arithmetic is checked) — and the
    * same decimal constants are interpolated into the oracle SQL, so
    * results hash-match bit-for-bit. */
  private[graft] val MinhashP: Long = 2147483647L // 2^31 - 1 (Mersenne)
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[graft] val MinhashA: IndexedSeq[Long] =
    (0 until 16).map(j => Math.floorMod(mix64(2L * j + 1), MinhashP - 1) + 1)
  private[graft] val MinhashB: IndexedSeq[Long] =
    (0 until 16).map(j => Math.floorMod(mix64(2L * j + 2), MinhashP))

  /** MinHash (k=16) + LSH banding (4 bands x 4 rows): candidate pairs with
    * verified Jaccard. Signatures and band keys are projections; the only
    * shuffles are the band-key self-join (bucket-bounded) and the final
    * pair verification join. Permutations are the universal-hash family
    * above over a 32-bit md5-derived shingle hash — engine-portable. */
  /** One hashed tall table serves the WHOLE minhash chain: the 60-bit
    * verification hash md5Long(s,1,15) CONTAINS the 32-bit signature
    * hash md5Long(s,1,8) as its top 8 nibbles (sh >>> 28) — same digest,
    * same leading nibbles — so signatures and Jaccard verification share
    * one scan+explode+md5 pass instead of hashing the corpus twice. */
  private[operators] def hashedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.VectorExprs
        .shingle3Md5Long(col("text"), 1, 15)).as("sh"))

  /** (doc_id, b, bk) LSH band keys via the per-row [[VectorExprs.minhashSigs]]
    * kernel: the whole signature is a PROJECTION (zero exchange, no tall
    * table, no aggregate — PlanSpec pins this), bit-identical to
    * [[bandKeysFromHashed]] over [[hashedShingles]]. Docs with <3 words
    * produce a NULL signature and are dropped by posexplode, exactly as
    * they have no rows in the aggregate path. */
  private[graft] def bandKeysKernel(docs: DataFrame, k: Int = 16,
                                        bands: Int = 4): DataFrame = {
    val rows = k / bands
    val sig = org.apache.spark.sql.graft.VectorExprs.minhashSigs(
      col("text"), MinhashA.take(k), MinhashB.take(k), MinhashP)
    docs.select(col("doc_id"), sig.as("_sig"))
      .filter(col("_sig").isNotNull) // <3-word docs: no shingles, no bands
      .select(col("doc_id"), posexplode(array(
        (0 until bands).map(b => md5(concat_ws("|",
          (0 until rows).map(r => element_at(col("_sig"), rows * b + r + 1)): _*))): _*)))
      .toDF("doc_id", "b", "bk")
  }

  /** Verify candidate pairs with true Jaccard (shared = |A ∩ B|,
    * J = shared / (|A| + |B| - shared)). First slices the tall shingle
    * table down to candidate doc_ids with a semi-join, so all
    * verification joins touch only the candidate slice, not the corpus.
    * No broadcast hints: on a web-scale corpus 30-50% of documents are
    * near-dups, so the candidate set is corpus-scale and a forced
    * broadcast OOMs the driver — plain shuffle joins scale
    * unconditionally, and AQE still converts them to broadcasts at
    * runtime when the side is genuinely small (the test corpora), so
    * nothing is lost at low dup rates. */
  private[operators] def verifyJaccard(pairs: DataFrame,
                                       tallH: DataFrame): DataFrame = {
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // input is pre-hashed ([[hashedShingles]]) so everything downstream
    // of the scan is de-texted (the dd_ngram_jaccard trade): the
    // semi-join, the per-doc distinct, and the intersection joins all
    // carry a 60-bit md5-prefix long (8 bytes) instead of the ~20-byte
    // shingle string. The oracle intersects the SAME hashes
    // (list_transform in the hsh CTE), so even a collision — ~1e-15 per
    // doc — would be counted identically by both engines.
    val tallCand = tallH
      .join(candIds, Seq("doc_id"), "left_semi")
      .distinct() // set semantics for |A ∩ B| / sizes — candidate slice only
      .localCheckpoint()
    val sizes = tallCand.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = pairs
      .join(tallCand.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(tallCand.as("tb"),
        col("doc_b") === col("tb.doc_id") && col("ta.sh") === col("tb.sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast(DoubleType) /
          (col("na.n") + col("nb.n") - col("shared")).cast(DoubleType)).as("jaccard"))
  }

  def minhashLsh(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    // Signatures are a per-row kernel projection (no tall table, no
    // aggregate, no corpus-sized checkpoint); the tall shingle table is
    // materialized only for the CANDIDATE slice inside verifyJaccard —
    // at low dup rates that is a small fraction of the corpus, and at
    // web-scale dup rates (30-50%) it is the same slice the previous
    // whole-corpus checkpoint carried anyway, minus the non-candidates.
    val banded = bandKeysKernel(docs, k, bands).localCheckpoint()
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bk") === col("y.bk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // consumed three times (two candIds projections + the shared
      // join); bounded by the band collision mass, so pin it
      .localCheckpoint()
    // shingle only candidate docs: the corpus-wide digest pass exists
    // exactly once (inside the signature kernel above)
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    verifyJaccard(pairs,
      hashedShingles(docs.join(candIds, Seq("doc_id"), "left_semi")))
  }

  /** Steady-state incremental NEAR-dup dedup: drop arriving documents
    * whose verified Jaccard against the HISTORICAL corpus reaches
    * `minJaccard` — the per-batch shape of a continuously-ingesting
    * training pipeline (dd_incremental is its exact-hash sibling).
    * `histBands` (doc_id, b, bk — 4 keys/doc) and `histShingles`
    * (doc_id, s) are the PRECOMPUTED tables a deployment persists once
    * as each document enters the corpus, so a batch pays only its own
    * shingling/signatures plus the collision mass: per-batch cost is
    * independent of corpus size, and the band join shuffles keys, never
    * text. Within-batch pairs are never generated or verified.
    *
    * Precondition: historical and new doc_id spaces should be disjoint
    * (the derived [[incrementalNearDup]] form guarantees it). A
    * re-submitted id is excluded from self-comparison below, but because
    * verification unions both shingle tables by doc_id, an id present in
    * BOTH tables with different content would merge its two shingle sets
    * in any OTHER pair's Jaccard that touches it. */
  def incrementalNearDupPrecomputed(newDocs: DataFrame,
                                    histBands: DataFrame,
                                    histShingles: DataFrame,
                                    minJaccard: Double = 0.5): DataFrame = {
    // batch signatures come from the per-row kernel (a projection — the
    // batch's tall table exists only for verification); history arrives
    // as persisted TEXT shingles (the deployment's durable format) and
    // is hashed at the boundary — only the candidate slice of it is
    // ever touched
    val tallNewH = hashedShingles(newDocs).localCheckpoint()
    val bNew = bandKeysKernel(newDocs)
    // doc_a =!= doc_b: ids are normally disjoint between history and a
    // new batch (the derived incrementalNearDup form guarantees it), but
    // a re-submitted id must not self-collide — the shared-shingle union
    // in verifyJaccard would merge the two versions' sets and the
    // anti-join below would drop the new doc against itself
    val cand = histBands.as("h").join(bNew.as("n"),
        col("h.b") === col("n.b") && col("h.bk") === col("n.bk") &&
          col("h.doc_id") =!= col("n.doc_id"))
      .select(col("h.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
      .distinct()
    val tallH = histShingles
      .select(col("doc_id"), md5Long(col("s"), 1, 15).as("sh"))
      .union(tallNewH)
    val dropIds = verifyJaccard(cand, tallH)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    newDocs.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** One-table convenience form (the driver-query shape): splits the
    * corpus by the predicate and DERIVES the historical tables — a
    * demonstration over a single snapshot; a real deployment persists
    * them and calls [[incrementalNearDupPrecomputed]] directly. */
  def incrementalNearDup(docs: DataFrame, isHistorical: Column,
                         minJaccard: Double = 0.5): DataFrame = {
    val hist = docs.filter(isHistorical)
    incrementalNearDupPrecomputed(docs.filter(!isHistorical),
      bandKeysKernel(hist), tallShingles(hist), minJaccard)
  }

  def ddMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLsh(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  /** Shared oracle CTE chain for every minhash-derived query: rebuilds
    * the identical universal-hash permutations (same decimal constants
    * interpolated from [[MinhashA]]/[[MinhashB]]) so candidate pairs
    * hash-match Spark's bit-for-bit. */
  private val minhashPairsCte: String = {
    val mins = (0 until 16)
      .map(j => s"min((${MinhashA(j)}*h + ${MinhashB(j)}) % $MinhashP)")
      .mkString(", ")
    // h is the same 32-bit md5-derived base hash reduced mod p; the
    // constants below are interpolated from MinhashA/MinhashB
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) AS shingles
       |  FROM toks WHERE len(w) >= 3),
       |shh AS (
       |  SELECT doc_id, list_distinct(list_transform(shingles,
       |    x -> ('0x'||substr(md5(x),1,15))::BIGINT)) AS hsh
       |  FROM sh),
       |tallh AS (
       |  SELECT doc_id, ('0x'||substr(md5(unnest(shingles)),1,8))::BIGINT % $MinhashP AS h FROM sh),
       |sig AS (
       |  SELECT doc_id, [$mins] AS mh
       |  FROM tallh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b, md5(mh[4*b+1]::VARCHAR||'|'||mh[4*b+2]::VARCHAR||'|'||
       |                        mh[4*b+3]::VARCHAR||'|'||mh[4*b+4]::VARCHAR) AS bk
       |  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id)""".stripMargin
  }

  val ddMinhashLshSql: String =
    s"""$minhashPairsCte
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE) /
       |  CAST(len(list_distinct(sa.hsh || sb.hsh)) AS DOUBLE) AS jaccard
       |FROM pairs JOIN shh sa ON doc_a = sa.doc_id JOIN shh sb ON doc_b = sb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** True 64-bit SimHash, carried as two 32-bit halves (`sh_lo` = bits
    * 0..31, `sh_hi` = bits 32..63). Both halves stay positive longs, so
    * every shift/mask/xor is portable to the DuckDB oracle without signed
    * 64-bit edge cases. Token bits come from the first 16 hex chars of
    * md5. The bit-sum aggregation decomposes into partial aggregates
    * (map-side combine), so the shuffle carries 64 longs per doc, not
    * tokens. */
  def simhash(docs: DataFrame): DataFrame = {
    // per-row kernel: the 64-bit vote/pack was always a per-document
    // value, so the tall token explode + 64 sum-aggregate groupBy (one
    // corpus-sized exchange carrying two md5 halves per TOKEN) never
    // needed to exist — same lesson as the MinHash signature kernel.
    // Bit-identical to the aggregate formulation and the oracle.
    val sig = org.apache.spark.sql.graft.VectorExprs.simhash64(col("text"))
    docs.select(col("doc_id"), sig.as("_s"))
      .select(col("doc_id"),
        element_at(col("_s"), 1).as("sh_lo"),
        element_at(col("_s"), 2).as("sh_hi"))
  }

  /** Candidate pairs within hamming distance `maxHamming` via 4 x 16-bit
    * LSH bands (pigeonhole: ≤3 differing bits over 4 bands ⇒ at least one
    * band matches exactly). 65,536 values per band keeps mean bucket
    * occupancy ~n/65536 per band; buckets whose occupancy still exceeds
    * `maxBucket` (template-duplicated corpora) are sub-split with an
    * 8-bit secondary key drawn from the *opposite* half of the signature,
    * which bounds the per-bucket self-join at the cost of missing pairs
    * that differ inside the secondary byte AND in all three other bands —
    * a deliberate, documented recall trade; the cap never triggers on the
    * test corpora so oracle results are exact. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 100000): DataFrame = {
    // materialize: the band self-join would otherwise run the whole
    // tokenize + 64-bit-sum pipeline once per side
    val sim = simhash(docs).localCheckpoint()
    bandedHammingPairs(sim, maxHamming, maxBucket)
  }

  /** The 4 x 16-bit band join shared by [[simhashPairs]] (text SimHash)
    * and [[mediaPairs]] (perceptual media dHash): any 64-bit signature
    * carried as positive halves (doc_id, sh_lo, sh_hi) goes through the
    * same banding, hot-bucket sub-split, self-join, and verified-hamming
    * filter. Callers materialize `sig` (localCheckpoint) so the signature
    * pipeline doesn't run once per join side. */
  private[operators] def bandedHammingPairs(sig: DataFrame, maxHamming: Int,
                                            maxBucket: Int): DataFrame = {
    val banded = sig.select(col("doc_id"), col("sh_lo"), col("sh_hi"), posexplode(array(
      shiftright(col("sh_lo"), 0).bitwiseAND(65535),
      shiftright(col("sh_lo"), 16).bitwiseAND(65535),
      shiftright(col("sh_hi"), 0).bitwiseAND(65535),
      shiftright(col("sh_hi"), 16).bitwiseAND(65535))))
      .toDF("doc_id", "sh_lo", "sh_hi", "b", "bk")
      // secondary sub-key from the opposite half's low byte — applied only
      // inside oversized buckets below
      .withColumn("sub", when(col("b") < 2,
        col("sh_hi").bitwiseAND(255)).otherwise(col("sh_lo").bitwiseAND(255)))
    // bucket occupancy: map-side-combined count on (b, bk) — bounded at
    // 4 x 65536 groups, so this shuffle is fixed-size whatever the corpus
    val hot = banded.groupBy(col("b"), col("bk"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") > maxBucket)
      .select(col("b"), col("bk"), lit(true).as("_hot"))
    // sub-split keys live above 65536 so they can never collide with an
    // ordinary bucket that kept its bk value in the same band
    val keyed = banded.join(hot, Seq("b", "bk"), "left_outer")
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"), col("b"),
        when(col("_hot").isNotNull, lit(65536L) + col("bk") * 256 + col("sub"))
          .otherwise(col("bk")).as("bk"))
    keyed.as("x").join(keyed.as("y"),
        col("x.b") === col("y.b") && col("x.bk") === col("y.bk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (bit_count(col("x.sh_lo").bitwiseXOR(col("y.sh_lo"))) +
          bit_count(col("x.sh_hi").bitwiseXOR(col("y.sh_hi")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def ddSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  val ddSimhashSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
      |h AS (SELECT doc_id, ('0x'||substr(md5(t),1,8))::BIGINT AS lo,
      |             ('0x'||substr(md5(t),9,8))::BIGINT AS hi FROM tok),
      |bits AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN b < 32
      |             THEN CASE WHEN (lo >> b) & 1 = 1 THEN 1 ELSE -1 END
      |             ELSE CASE WHEN (hi >> (b-32)) & 1 = 1 THEN 1 ELSE -1 END END) AS s
      |  FROM h CROSS JOIN (SELECT unnest(range(0,64)) AS b) GROUP BY doc_id, b),
      |sim AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN s > 0 AND b < 32 THEN 1::BIGINT << b ELSE 0::BIGINT END)::BIGINT AS sh_lo,
      |    sum(CASE WHEN s > 0 AND b >= 32 THEN 1::BIGINT << (b-32) ELSE 0::BIGINT END)::BIGINT AS sh_hi
      |  FROM bits GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, sh_lo, sh_hi, b2,
      |    CASE b2 WHEN 0 THEN sh_lo & 65535 WHEN 1 THEN (sh_lo >> 16) & 65535
      |            WHEN 2 THEN sh_hi & 65535 ELSE (sh_hi >> 16) & 65535 END AS bk
      |  FROM sim CROSS JOIN (SELECT unnest([0,1,2,3]) AS b2)),
      |pairs AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    bit_count(xor(x.sh_lo, y.sh_lo)) + bit_count(xor(x.sh_hi, y.sh_hi)) AS hamming
      |  FROM bands x JOIN bands y ON x.b2 = y.b2 AND x.bk = y.bk AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Perceptual near-duplicate media pairs — the multimodal half of
    * training-data dedup: [[Multimodal.phash]] dHash fingerprints over
    * the decoded-payload bytes, pushed through the SAME 4 x 16-bit band
    * machinery as text SimHash ([[bandedHammingPairs]]). Candidate
    * generation shuffles 24-byte signatures (never payload bytes);
    * pigeonhole over 4 bands guarantees every pair within hamming 3 —
    * which covers the one-byte-perturbation law (≤2 bits moved) — and
    * md5-textured luma keeps unrelated fingerprints independent, so
    * buckets stay birthday-bounded (~n/65536 per band) at corpus scale. */
  def mediaPairs(docs: DataFrame, maxHamming: Int = 3,
                 maxBucket: Int = 100000): DataFrame = {
    val sig = Multimodal.phash(Multimodal.synthMedia(docs))
      .toDF("doc_id", "sh_lo", "sh_hi").localCheckpoint()
    bandedHammingPairs(sig, maxHamming, maxBucket)
  }

  def ddMedia(spark: SparkSession, dir: String): DataFrame =
    mediaPairs(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  /** The luma/bits CTE chain splices in from [[Multimodal.mmPhashSql]]
    * so the dHash generator law lives in exactly ONE SQL text — a copy
    * here drifting from mm_phash's would make the two oracles silently
    * disagree about the same fingerprint. */
  val ddMediaSql: String = {
    // anchor on the top-level (line-initial) SELECT — the luma CTE has
    // an indented "SELECT doc_id, i," of its own
    val tail = Multimodal.mmPhashSql.indexOf("\nSELECT doc_id,")
    Multimodal.mmPhashSql.substring(0, tail).stripTrailing + ",\n" +
    """ph AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN i < 32 THEN bit::BIGINT << i ELSE 0 END)::BIGINT AS sh_lo,
      |    sum(CASE WHEN i >= 32 THEN bit::BIGINT << (i - 32) ELSE 0 END)::BIGINT AS sh_hi
      |  FROM bits GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, sh_lo, sh_hi, b2,
      |    CASE b2 WHEN 0 THEN sh_lo & 65535 WHEN 1 THEN (sh_lo >> 16) & 65535
      |            WHEN 2 THEN sh_hi & 65535 ELSE (sh_hi >> 16) & 65535 END AS bk
      |  FROM ph CROSS JOIN (SELECT unnest([0,1,2,3]) AS b2)),
      |pairs AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    bit_count(xor(x.sh_lo, y.sh_lo)) + bit_count(xor(x.sh_hi, y.sh_hi)) AS hamming
      |  FROM bands x JOIN bands y ON x.b2 = y.b2 AND x.bk = y.bk AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Media dedup END-TO-END: perceptual dHash pairs → connected
    * components → one keeper per cluster — the multimodal half of
    * curation applied, not just pair discovery. Output is the cluster
    * representative table (kept_doc = min member, cluster_size); the
    * drop set is every clustered doc except its keeper. Same machinery
    * as [[mediaPairs]] + [[connectedComponents]], so the scale
    * arguments (24-byte signature shuffles, |E|-bounded CC iterations)
    * carry over unchanged. */
  def mmDedupE2e(spark: SparkSession, dir: String): DataFrame = {
    val pairs = mediaPairs(Tables.documents(spark, dir))
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    connectedComponents(pairs)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("cluster").as("kept_doc"), col("cluster_size"))
      .orderBy(col("kept_doc"))
  }

  /** ddMediaSql's CTE chain + the recursive-CTE closure + keep-min. */
  val mmDedupE2eSql: String = {
    val tail = ddMediaSql.indexOf("SELECT doc_a, doc_b, hamming FROM pairs")
    ddMediaSql.substring(0, tail).stripTrailing
      .replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      """vp AS (SELECT doc_a, doc_b FROM pairs WHERE hamming <= 3),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM vp
        |  UNION SELECT doc_b, doc_a FROM vp
        |  UNION SELECT doc_a, doc_a FROM vp
        |  UNION SELECT doc_b, doc_b FROM vp),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |cc AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src)
        |SELECT cluster AS kept_doc, count(*) AS cluster_size
        |FROM cc GROUP BY cluster ORDER BY kept_doc""".stripMargin
  }

  /** SemDeDup-style SEMANTIC dedup: near-dup pairs by embedding cosine
    * within cells of a TRAINED quantizer — [[Similarity.kmeans]] clusters
    * the corpus, every vector is assigned by the broadcast argmin, and
    * the quadratic cosine comparison runs only INSIDE a cell. This is
    * the published SemDeDup recipe (cluster first, compare within
    * clusters): k scales with the corpus (k ~ N/cellSize), so per-cell
    * work is bounded and total cost is N x cellSize, never N². Near-
    * identical vectors land in the same cell by construction (argmin of
    * a shared quantizer), so within-cell blocking loses only pairs that
    * straddle a cell boundary — the standard, documented SemDeDup trade.
    * Deterministic end to end (deterministic training, assignment,
    * sequential-fold cosine) → the full SQL oracle replays training +
    * assignment + pairing bit-for-bit. */
  /** Trained-quantizer cell assignment shared by [[semanticPairs]] and
    * the scale rehearsal's cell-occupancy telemetry: kmeans training +
    * argmin assignment, (vec_id, v, n2, cell) out.
    *
    * Defaults replay the oracle exactly (full-corpus training, flat
    * broadcast assignment). The two production-scale knobs — both
    * standard FAISS/SemDeDup practice, both approximate-by-design and
    * therefore NOT on the oracle path:
    *  - `trainSample`: train the quantizer on a deterministic hash
    *    sample of the corpus instead of all of it (training is
    *    iters x N x k otherwise — the dominant term once k ~ N/cellSize);
    *  - `branch`: two-level assignment via
    *    [[Similarity.assignCellsTwoLevel]] (~2·sqrt(k)·dim per row
    *    instead of k·dim). */
  def semanticCells(emb: DataFrame, k: Int = 8, iters: Int = 2,
                    branch: Option[Int] = None,
                    trainSample: Option[Double] = None): DataFrame =
    semanticCellsWithCentroids(emb, k, iters, branch, trainSample)._1

  /** [[semanticCells]] plus the trained centroid table
    * (c_label, cvec, c2) — consumers that score rows against their
    * assigned centroid (diversity selection) re-join it broadcast. */
  private[operators] def semanticCellsWithCentroids(
      emb: DataFrame, k: Int = 8, iters: Int = 2,
      branch: Option[Int] = None,
      trainSample: Option[Double] = None): (DataFrame, DataFrame) = {
    val dvec = col("embedding").cast(ArrayType(DoubleType))
    val n2f = Similarity.dot(dvec, dvec)
    // zero-norm / non-finite vectors out of contract (cos undefined /
    // NaN-ranking divergence) — same guard as int8TopK/ivfPqTopK
    val femb = emb.filter(n2f > 0 && n2f < lit(Double.PositiveInfinity))
    val all = femb.select(col("vec_id"), dvec.as("v"))
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
    val trainIn = trainSample match {
      case Some(f) if f < 1.0 =>
        // deterministic hash-uniform (the Sampling machinery's form):
        // same sample every run, every engine
        femb.filter(md5Long(concat(col("vec_id").cast("string"),
          lit(":semtrain")), 1, 15).cast(DoubleType)
          / lit(1.152921504606846976e18) < f)
      case _ => femb
    }
    // lazy localCheckpoint, not cache(): k rows, shared by both join
    // sides, blocks freed on GC (no CacheManager entry leak)
    val cvecs = Similarity.centroidVectors(
      Similarity.kmeans(trainIn, k, iters)
        .select(col("cell").as("label"), col("dim"), col("mean_v")))
      .localCheckpoint(false)
    val assigned = branch match {
      case Some(b) => Similarity.assignCellsTwoLevel(all, cvecs, b)
      case None => Similarity.assignCellsBroadcast(all, cvecs)
    }
    (assigned.select(col("vec_id"), col("v"), col("n2"), col("cell")), cvecs)
  }

  /** D4-style diversity selection (SemDeDup's sibling step): within each
    * semantic cell, rank vectors by distance to their OWN centroid
    * DESCENDING — the most prototypical (centroid-nearest, redundant)
    * examples rank last — and keep the `keepNum/keepDen` most diverse
    * fraction, never fewer than one per cell. This is the SSL-prototypes
    * pruning of the D4 pipeline (arXiv:2308.12284): semantic dedup drops
    * near-identical pairs, this drops the dense prototypical core.
    *
    * Scale shape: cells come from [[semanticCells]] (same production
    * knobs: `trainSample`, `branch`); scoring re-joins the k-row
    * centroid table broadcast (one dot product per row, zero shuffle);
    * the rank window is cell-keyed and cell sizes are bounded by
    * construction (k ~ N/cellSize), so the window sort is the bounded
    * per-cell kind, not a corpus sort. The window input is the slim
    * (vec_id, cell, d2) projection — no vectors cross the exchange.
    * Deterministic: same trained quantizer + assignment as dd_semantic
    * (oracle splices that CTE chain), d2 recomputed with the identical
    * operation order, (d2 DESC, vec_id) tie-break. */
  def diversitySample(emb: DataFrame, k: Int = 8, iters: Int = 2,
                      keepNum: Int = 1, keepDen: Int = 2,
                      branch: Option[Int] = None,
                      trainSample: Option[Double] = None): DataFrame = {
    val (assigned, cvecs) = semanticCellsWithCentroids(
      emb, k, iters, branch, trainSample)
    val scored = assigned
      .join(broadcast(cvecs), col("cell") === col("c_label"))
      .withColumn("d2",
        col("n2") - lit(2.0) * Similarity.dot(col("v"), col("cvec"))
          + col("c2"))
      .select(col("vec_id"), col("cell"), col("d2"))
    val byCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
    val ranked = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("d2").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(ranked))
      .withColumn("cell_size", count(lit(1)).over(byCell))
      .filter(col("rk") <= greatest(lit(1L),
        floor(col("cell_size") * lit(keepNum) / lit(keepDen))))
      .select(col("cell"), col("vec_id"), col("rk"), col("cell_size"),
        col("d2"))
  }

  def qDiversitySample(spark: SparkSession, dir: String): DataFrame =
    diversitySample(Tables.embeddings(spark, dir)).orderBy("cell", "rk")

  /** dd_semantic's training/assignment CTE chain (through afin + cvf),
    * then per-cell scoring and the diverse-fraction keep. */
  // lazy: ddSemanticSql is declared later in this object (initialization
  // order), and the splice must see it initialized
  lazy val qDiversitySampleSql: String = {
    val cut = ddSemanticSql.indexOf(",\npairs AS (")
    require(cut > 0, "dd_semantic oracle anchor moved; re-align the splice")
    ddSemanticSql.substring(0, cut) + ",\n" +
      """scored AS (
        |  SELECT a.vec_id, a.cell,
        |    a.n2 - 2.0 * list_dot_product(a.v, c.cvec)
        |      + list_dot_product(c.cvec, c.cvec) AS d2
        |  FROM afin a JOIN cvf c ON a.cell = c.label),
        |r AS (
        |  SELECT vec_id, cell, d2,
        |    row_number() OVER (PARTITION BY cell ORDER BY d2 DESC, vec_id) AS rk,
        |    count(*) OVER (PARTITION BY cell) AS cell_size
        |  FROM scored)
        |SELECT cell, vec_id, rk, cell_size, d2 FROM r
        |WHERE rk <= greatest(1, cell_size // 2)
        |ORDER BY cell, rk""".stripMargin
  }

  def semanticPairs(emb: DataFrame, k: Int = 8, iters: Int = 2,
                    minCos: Double = 0.4, branch: Option[Int] = None,
                    trainSample: Option[Double] = None): DataFrame = {
    val assigned = semanticCells(emb, k, iters, branch, trainSample)
    assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        (Similarity.dot(col("x.v"), col("y.v")) /
          (sqrt(col("x.n2")) * sqrt(col("y.n2")))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  def ddSemantic(spark: SparkSession, dir: String): DataFrame =
    semanticPairs(Tables.embeddings(spark, dir)).orderBy("vec_a", "vec_b")

  /** Replays kmeans training (2 Lloyd iterations, md5 seeds), the
    * (d2, label) argmin assignment, and the within-cell cosine join —
    * hash-matches Spark bit-for-bit. */
  val ddSemanticSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
      |  FROM embeddings
      |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      |        < 'infinity'::DOUBLE),
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
      |  GROUP BY cell, i),
      |cvf AS (SELECT cell AS label, list(mean_v ORDER BY dim) AS cvec FROM c2 GROUP BY cell),
      |dfin AS (
      |  SELECT n.vec_id, n.v, n.n2, c.label,
      |    n.n2 - 2.0 * list_dot_product(n.v, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec) AS d2
      |  FROM n CROSS JOIN cvf c),
      |afin AS (
      |  SELECT vec_id, v, n2, label AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
      |    FROM dfin) WHERE rn = 1),
      |pairs AS (
      |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
      |    list_dot_product(x.v, y.v) / (sqrt(x.n2) * sqrt(y.n2)) AS cos
      |  FROM afin x JOIN afin y ON x.cell = y.cell AND x.vec_id < y.vec_id)
      |SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Word-3-gram Jaccard pair similarity, exact: every pair of documents
    * whose distinct hashed 3-gram sets A, B have
    * J = |A ∩ B| / |A ∪ B| >= minJaccard (t), as (doc_a < doc_b, shared,
    * jaccard). At t <= 0 that is every pair sharing at least one shingle.
    *
    * A prefix-filtered set-similarity join (AllPairs / PPJoin, in the
    * MapReduce form of Vernica et al., SIGMOD 2010), never the cross
    * product: shingles are ranked by the global key (df, hash), rarest
    * first, and a document with n shingles is indexed only under its
    * first p = n - ceil(t * n) + 1. A pair with J >= t shares at least
    * ceil(t * n) shingles of each side, so its smallest shared shingle
    * lies in both prefixes. Hot shingles (stopword runs, boilerplate) sort
    * last and never form a posting list, so no df cap is needed.
    *
    * Three exchanges, all in the plan (construction runs no job, no
    * driver collect, and the only buffer that grows with df is the
    * window's, which spills):
    *   1. on the shingle: df as a window count; a df = 1 shingle is never
    *      shared and drops here;
    *   2. on the document: its shared-able shingles sorted by (df, hash)
    *      (the set A'), and the prefix part of them exploded;
    *   3. on the shingle: the prefix self-join (a merge join) under
    *      PPJoin's positional filter, which implies the length filter
    *      min(n_a, n_b) / max(n_a, n_b) >= t. A pair meets once per
    *      shared prefix shingle and is kept only at its smallest one, so
    *      no dedup exchange follows; shared = |A'_a ∩ A'_b| is exact
    *      because every shared shingle has df >= 2.
    *
    * `maxDocFreq` is ignored: the join is exact without a cap. It stays
    * in the signature for existing callers. */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.5,
                   maxDocFreq: Int = 1000): DataFrame = {
    val t = lit(minJaccard)
    // the verify filter's own arithmetic; the prefix and positional
    // bounds below go through it so double rounding never drops a pair
    def ratio(num: Column, den: Column): Column =
      num.cast(DoubleType) / den.cast(DoubleType)
    // join on a 60-bit hash of the shingle, not the string: 8-byte keys
    // cross the exchanges. Both engines use the same md5-derived hash, so
    // results are identical by construction (within-doc 60-bit
    // collisions: ~1e-15/doc). Docs with <3 words produce a NULL shingle
    // array (kernel contract) and drop here.
    val tall = kernelFloor(docs).select(col("doc_id"),
        array_distinct(org.apache.spark.sql.graft.VectorExprs
          .shingle3Md5Long(col("text"), 1, 15)).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), size(col("hs")).cast(LongType).as("n"),
        explode(col("hs")).as("s"))
    val multi = tall
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") >= 2)
    // the fewest o with ok(o), where ok holds from about x on: ceil(x) is
    // rounded, so its neighbours are tested in the verify arithmetic. x
    // takes t clamped to [0, 1], so ceil never overflows and ok never
    // divides by 0; the tests keep the real t, which keeps them exact.
    def fewest(x: Column)(ok: Column => Column): Column = {
      val c = ceil(x)
      when(ok(c - 1), c - 1).when(ok(c), c).otherwise(c + 1)
    }
    val tc = least(greatest(t, lit(0.0)), lit(1.0))
    // a pair with J >= t shares at least this many shingles of a side
    // with n of them
    val n = col("n")
    val need = fewest(tc * n)(o => ratio(o, n) >= t)
    val p = least(greatest(n - need + 1, lit(1L)), n)
    // the n - size(set) df = 1 shingles sort first and fill that much of
    // the prefix; the rest of it is the head of the sorted set
    val prefix = multi.groupBy(col("doc_id"))
      .agg(max(n).as("n"),
        sort_array(collect_list(struct(col("df"), col("s")))).as("ds"))
      .select(col("doc_id"), n, col("ds.s").as("set"))
      .select(col("doc_id"), n, col("set"), posexplode(slice(col("set"), lit(1),
        greatest(p - (n - size(col("set"))), lit(0L)).cast(IntegerType))).as(Seq("pos", "s")))
    def ab(name: String) = (col(s"a.$name"), col(s"b.$name"))
    val ((da, db), (na, nb), (sa, sb)) = (ab("doc_id"), ab("n"), ab("set"))
    val shared = size(array_intersect(sa, sb)).cast(LongType)
    // J >= t iff the overlap reaches the fewest o with o / (N - o) >= t,
    // N = n_a + n_b: one intersection per tested row instead of the two
    // in the ratio
    val total = na + nb
    val pairNeed = fewest(tc * total / (tc + 1))(o => ratio(o, total - o) >= t)
    // at the pair's smallest shared shingle s, nothing before s in either
    // sorted set is shared, so the overlap is at most
    // ub = min(shingles from s on in A'_a, in A'_b): PPJoin's positional
    // filter, which implies the length filter min(n) / max(n) >= t
    val ub = least(size(sa) - col("a.pos"), size(sb) - col("b.pos"))
    // one join condition, cheapest conjunct first (a later filter would
    // be pushed into the condition ahead of them). s is the pair's
    // smallest shared shingle iff the parts of A'_a and A'_b before s are
    // disjoint: that test keeps one row per pair. The merge join reads
    // one exchange for both sides; a broadcast would build the prefix
    // twice.
    def before(set: Column, pos: Column) = slice(set, lit(1), pos)
    prefix.as("a").join(prefix.as("b").hint("merge"),
        col("a.s") === col("b.s") && da < db && ub >= pairNeed &&
        !arrays_overlap(before(sa, col("a.pos")), before(sb, col("b.pos"))) &&
        shared >= pairNeed)
      .select(da.as("doc_a"), db.as("doc_b"), shared.as("shared"),
        ratio(shared, total - shared).as("jaccard"))
  }

  /** Benchmark-contamination sweep: flag corpus documents whose distinct
    * word-3-gram shingles overlap an evaluation/benchmark set by at
    * least `minFrac` — the decontamination pass a training pipeline runs
    * before every data release (eval answers leaking into training data
    * inflate benchmark scores). The benchmark side is small by nature
    * (eval suites are thousands of items, the corpus is billions), so
    * its distinct shingle set BROADCASTS: the sweep is one scan of
    * corpus shingles + a broadcast hash join — no shuffle of text, no
    * corpus x benchmark pairs, cost linear in corpus shingles at 100 TB.
    * Returns (doc_id, shared, n_shingles, frac).
    *
    * Inputs must be deterministic DataFrames (the repo-wide recompute
    * convention): the shingle table is recomputed for its two consumers,
    * so a nondeterministic source (e.g. an unseeded sample()) could feed
    * them inconsistent snapshots. */
  def contamination(docs: DataFrame, bench: DataFrame,
                    minFrac: Double = 0.2): DataFrame = {
    // 60-bit hashed shingles, same trade as ngramJaccard: the corpus-wide
    // distinct and the join run on longs, not ~20-byte strings (measured
    // 149 s → string distinct dominated at 2M docs / ~100M shingles);
    // cross-engine by construction, collisions ~1e-15/doc ignored
    // within-doc dedup is ROW-LOCAL: array_distinct of the per-row
    // kernel replaces the corpus-wide distinct() EXCHANGE the previous
    // shape paid, and the per-doc set size becomes size(array) — a pure
    // projection instead of a second corpus-keyed aggregate.
    // recompute-by-design for BOTH consumers (sizes projection +
    // benchmark join), per the tallShingles scaladoc rationale: a
    // localCheckpoint materializes ~100M deserialized rows per 2M docs —
    // a memory cliff that measured no faster than the cheap scan passes
    // it saves, and at cluster scale risks eviction where recompute
    // cannot
    def hashedSets(df: DataFrame) = df.select(col("doc_id"),
        array_distinct(org.apache.spark.sql.graft.VectorExprs
          .shingle3Md5Long(col("text"), 1, 15)).as("_hs"))
      .filter(col("_hs").isNotNull)
    val d = hashedSets(docs).select(col("doc_id"), explode(col("_hs")).as("s"))
    val sizes = hashedSets(docs).select(col("doc_id"),
      size(col("_hs")).cast(LongType).as("n_shingles"))
    val b = hashedSets(bench).select(explode(col("_hs")).as("s")).distinct()
    d.join(broadcast(b), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("shared"))
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("shared"), col("n_shingles"),
        (col("shared").cast(DoubleType) /
          col("n_shingles").cast(DoubleType)).as("frac"))
      .filter(col("frac") >= minFrac)
  }

  /** dd_contamination: every 97th document plays the benchmark set, the
    * rest the training corpus. */
  def ddContamination(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.documents(spark, dir)
    contamination(all.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        all.filter(pmod(col("doc_id"), lit(97)) === 0))
      .orderBy("doc_id")
  }

  val ddContaminationSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) AS shingles
      |  FROM toks WHERE len(w) >= 3),
      |tall AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x'||substr(md5(unnest(shingles)),1,15))::BIGINT AS s
      |  FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tall GROUP BY doc_id),
      |bench AS (SELECT DISTINCT s FROM tall WHERE doc_id % 97 = 0),
      |hits AS (
      |  SELECT t.doc_id, count(*) AS shared
      |  FROM tall t JOIN bench b USING (s)
      |  WHERE t.doc_id % 97 <> 0 GROUP BY t.doc_id)
      |SELECT h.doc_id AS doc_id, shared, z.n_shingles,
      |  CAST(shared AS DOUBLE) / CAST(z.n_shingles AS DOUBLE) AS frac
      |FROM hits h JOIN sizes z ON h.doc_id = z.doc_id
      |WHERE CAST(shared AS DOUBLE) / CAST(z.n_shingles AS DOUBLE) >= 0.2
      |ORDER BY h.doc_id""".stripMargin

  def ddNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  val ddNgramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) AS shingles
      |  FROM toks WHERE len(w) >= 3),
      |shh AS (
      |  SELECT doc_id, list_distinct(list_transform(shingles,
      |    x -> ('0x'||substr(md5(x),1,15))::BIGINT)) AS hsh
      |  FROM sh),
      |tall AS (SELECT doc_id, unnest(hsh) AS s FROM shh),
      |shared AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared
      |  FROM tall x JOIN tall y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id)
      |SELECT doc_a, doc_b, shared,
      |  CAST(shared AS DOUBLE) / CAST(len(sa.hsh) + len(sb.hsh) - shared AS DOUBLE) AS jaccard
      |FROM shared JOIN shh sa ON doc_a = sa.doc_id JOIN shh sb ON doc_b = sb.doc_id
      |WHERE CAST(shared AS DOUBLE) / CAST(len(sa.hsh) + len(sb.hsh) - shared AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Dedup-threshold calibration: the histogram of verified pair
    * similarities in 0.05-wide Jaccard bins — the table a curation team
    * reads to PICK its near-dup threshold (where does the pair mass sit;
    * what does moving 0.9 → 0.85 sweep in). The pairs are
    * [[ngramJaccard]]'s; the histogram adds one tiny aggregate over
    * them. */
  def ddThresholdHist(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables.documents(spark, dir), minJaccard = 0.5)
      .select(floor(col("jaccard") * 20).cast(LongType).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("bin_lo", col("bin").cast(DoubleType) / lit(20.0))
      .select(col("bin"), col("bin_lo"), col("n_pairs"))
      .orderBy(col("bin"))

  /** Same pair CTEs as ddNgramJaccardSql, bucketed instead of listed. */
  val ddThresholdHistSql: String = {
    val tail = ddNgramJaccardSql.indexOf("SELECT doc_a, doc_b, shared,")
    ddNgramJaccardSql.substring(0, tail).stripTrailing.stripSuffix(",") + ",\n" +
      """jac AS (
        |  SELECT CAST(shared AS DOUBLE) /
        |    CAST(len(sa.hsh) + len(sb.hsh) - shared AS DOUBLE) AS j
        |  FROM shared JOIN shh sa ON doc_a = sa.doc_id
        |  JOIN shh sb ON doc_b = sb.doc_id)
        |SELECT CAST(floor(j * 20) AS BIGINT) AS bin,
        |  CAST(CAST(floor(j * 20) AS BIGINT) AS DOUBLE) / 20.0 AS bin_lo,
        |  count(*) AS n_pairs
        |FROM jac WHERE j >= 0.5 GROUP BY 1, 2 ORDER BY bin""".stripMargin
  }

  /** Embedding-cosine near-dup pairs above a threshold, LSH-blocked.
    *
    * Candidate pairs come from `nTables` independent random-hyperplane
    * hash tables (`nPlanes` sign bits each — [[Similarity.lshBucket]]
    * with disjoint plane families): a pair is compared iff it lands in
    * the same bucket of at least one table, so the comparison is a
    * co-partitioned **equi-join on (table, bucket)** — never the O(N²)
    * theta join an exact sweep needs. Within a bucket the cosine is
    * exact (sequential-fold dot product == DuckDB list_dot_product
    * bit-for-bit), and the DuckDB oracle reproduces the identical plane
    * construction, so results hash-match. Multi-table recall at the
    * near-dup regime (cos ≥ 0.95): a single 8-plane table retains
    * ~(1-θ/π)^8 ≈ 0.43 of pairs; 4 tables lift that to ~0.9, and
    * planted-pair recall is asserted in OperatorsSpec. (The test corpus
    * is random vectors — max pairwise cos ~0.5 — so the default
    * threshold is 0.4.) */
  def embedCosinePairs(emb: DataFrame, minCos: Double = 0.4,
                       nPlanes: Int = 8, nTables: Int = 4,
                       dim: Int = 64): DataFrame = {
    val v = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val withNorm = v.withColumn("n2", Similarity.dot(col("v"), col("v")))
    // bucket ids for all tables in one pass; materialize so the self-join
    // does not recompute nTables x nPlanes dot products per side
    val bucketed = withNorm.select(col("vec_id"), col("v"), col("n2"),
        posexplode(array((0 until nTables).map(t =>
          Similarity.lshBucket(col("v"), nPlanes, dim, t * nPlanes)): _*)))
      .toDF("vec_id", "v", "n2", "t", "bk")
      .localCheckpoint()
    bucketed.as("a").join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cos"))
      .filter(col("cos") >= minCos)
      // a pair colliding in several tables appears once per table; the
      // cosine is deterministic, so a plain distinct dedups exactly
      .distinct()
  }

  def ddEmbedCosine(spark: SparkSession, dir: String): DataFrame =
    embedCosinePairs(Tables.embeddings(spark, dir)).orderBy("vec_a", "vec_b")

  val ddEmbedCosineSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM v),
      |planes AS (
      |  SELECT t, p,
      |    [CASE WHEN ('0x'||substr(md5((t*8+p)::VARCHAR||','||d::VARCHAR),1,2))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] AS pw
      |  FROM (SELECT unnest([0,1,2,3]) AS t) CROSS JOIN
      |       (SELECT unnest([0,1,2,3,4,5,6,7]) AS p)),
      |b AS (
      |  SELECT vec_id, any_value(v) AS v, any_value(n2) AS n2, t,
      |    sum(CASE WHEN list_dot_product(v, pw) > 0 THEN 1 << p ELSE 0 END) AS bk
      |  FROM n CROSS JOIN planes GROUP BY vec_id, t)
      |SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b,
      |  list_dot_product(a.v, b2.v) / (sqrt(a.n2) * sqrt(b2.n2)) AS cos
      |FROM b a JOIN b b2 ON a.t = b2.t AND a.bk = b2.bk AND a.vec_id < b2.vec_id
      |WHERE list_dot_product(a.v, b2.v) / (sqrt(a.n2) * sqrt(b2.n2)) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Edit-distance verification over LSH candidates: the precision pass a
    * title/short-text dedup pipeline runs after banding. Quadratic-cost
    * levenshtein touches only candidates that already verified at
    * `minJaccard` set similarity — cheap set-sim gates expensive
    * string-sim, so banding false positives (dissimilar docs sharing one
    * band) never reach the O(len²) comparison. */
  def editDistancePairs(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // no broadcast hint: the candidate set is corpus-scale at web dup
    // rates — shuffle join on doc_id; AQE broadcasts when actually small
    val pairs = minhashLsh(docs).filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"))
    val texts = docs.select(col("doc_id"), col("text"))
    pairs
      .join(texts.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(texts.as("tb"), col("doc_b") === col("tb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta.text"), col("tb.text")).as("edit_dist"),
        length(col("ta.text")).as("len_a"), length(col("tb.text")).as("len_b"))
  }

  def ddEditdist(spark: SparkSession, dir: String): DataFrame =
    editDistancePairs(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  val ddEditdistSql: String =
    s"""$minhashPairsCte,
       |vpairs AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN shh sa ON doc_a = sa.doc_id JOIN shh sb ON doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE) /
       |        CAST(len(list_distinct(sa.hsh || sb.hsh)) AS DOUBLE) >= 0.5)
       |SELECT doc_a, doc_b, levenshtein(ta.text, tb.text) AS edit_dist,
       |  length(ta.text) AS len_a, length(tb.text) AS len_b
       |FROM vpairs JOIN documents ta ON doc_a = ta.doc_id
       |JOIN documents tb ON doc_b = tb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components over an undirected pair graph via distributed
    * min-label propagation: every vertex starts as its own label and
    * repeatedly takes the min label in its neighborhood until a fixpoint.
    * This is how a real curation pipeline turns pairwise near-dup hits
    * into CLUSTERS (keep one doc per component) — transitive closure
    * that pairwise drop policies miss (a~b, b~c but a!~c).
    *
    * Scale shape: each iteration is one equi-join labels⋈edges on the
    * vertex key + a min-aggregate — shuffles bounded by |E|, map-side
    * combined; iterations = component diameter (near-dup clusters are
    * shallow — single digits). Each round localCheckpoints to cut the
    * growing lineage, and convergence is an aggregate count, not a
    * collect. maxIter caps pathological chains; hitting it without a
    * fixpoint means some component of diameter > maxIter would be
    * silently split into several clusters, so the default is to throw
    * rather than return wrong labels (set failOnMaxIter=false to accept
    * the truncation knowingly, e.g. for a best-effort exploratory pass). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          failOnMaxIter: Boolean = true): DataFrame = {
    val spark = pairs.sparkSession
    // symmetric edge list — no dedup needed: pairs arrive unique with
    // doc_a < doc_b, so the two union branches cannot collide (and the
    // min-aggregate is idempotent to duplicates anyway); a distinct here
    // would be a full extra shuffle of |E|
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min of own label and every neighbor's label via the double join
      // labels⋈edges⋈labels. (A union-based message-passing formulation —
      // one join, self-labels unioned in before the aggregate — measured
      // 24.8s vs 14.7s for this shape on a 669k-vertex/1.1M-edge graph at
      // 2M docs: the union defeats partitioning reuse and forces the full
      // |E|+|V| through the final shuffle, while here AQE broadcasts the
      // label side into both joins and only the aggregate shuffles.) The
      // old label rides along (min(label) — constant per v) so
      // convergence is a cheap filter+count on the checkpointed result,
      // not another join.
      val next = labels
        .join(edges, col("v") === col("src"), "left_outer")
        .select(col("v"), col("label"), col("dst"))
        .join(labels.select(col("v").as("dst"), col("label").as("nl")),
          Seq("dst"), "left_outer")
        .groupBy(col("v"))
        .agg(min(col("label")).as("old_label"),
          coalesce(min(col("nl")), min(col("label"))).as("min_nl"))
        .select(col("v"), col("old_label"),
          least(col("old_label"), col("min_nl")).as("label"))
        .localCheckpoint()
      val changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.select(col("v"), col("label"))
      converged = changed == 0
      iter += 1
    }
    if (!converged && failOnMaxIter)
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIter iterations; " +
          "labels would split high-diameter components — raise maxIter or pass " +
          "failOnMaxIter=false to accept truncated clusters")
    labels.select(col("v").as("doc_id"), col("label").as("cluster"))
  }

  /** dd_cluster: minhash near-dup pairs (J >= 0.9) → connected
    * components → one row per clustered doc with its cluster
    * representative (min doc_id) and the cluster size. */
  def ddCluster(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(Tables.documents(spark, dir))
      .filter(col("jaccard") >= 0.9)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: transitive closure by recursive CTE (UNION dedups, so the
    * recursion reaches a fixpoint), component label = min reachable
    * vertex. Tractable because near-dup components are tiny; the Spark
    * side is the one built for corpus-scale graphs. */
  val ddClusterSql: String =
    s"""${minhashPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |vpairs AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN shh sa ON doc_a = sa.doc_id JOIN shh sb ON doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE) /
       |        CAST(len(list_distinct(sa.hsh || sb.hsh)) AS DOUBLE) >= 0.9),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION SELECT doc_b, doc_a FROM vpairs
       |  UNION SELECT doc_a, doc_a FROM vpairs
       |  UNION SELECT doc_b, doc_b FROM vpairs),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |sizes AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY cluster)
       |SELECT doc_id, cc.cluster, cluster_size FROM cc JOIN sizes USING (cluster)
       |ORDER BY doc_id""".stripMargin

  /** Cross-source retention policy: when near-duplicates of the same
    * content exist in SEVERAL sources, a curation pipeline keeps the copy
    * from the most trusted source, not an arbitrary one — e.g. the
    * curated-encyclopedia copy beats the web-crawl copy of the same
    * article. Sources are ranked by a priority (here the synthetic
    * source's numeric suffix: src0 is most trusted); within each verified
    * near-dup cluster the keeper is argmin by (priority, doc_id).
    *
    * Scale: cluster discovery is the [[minhashLsh]] + [[connectedComponents]]
    * machinery (banded candidates, no all-pairs); the policy itself is one
    * window over (cluster) — near-dup clusters are small by construction
    * (they are sets of ~identical documents), so per-task window input is
    * bounded by cluster size, never the corpus. */
  def priorityRetention(docs: DataFrame, priority: Column,
                        minJaccard: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashLsh(docs).filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val members = connectedComponents(pairs)
      .join(docs.select(col("doc_id"), col("source"), priority.as("_prio")),
        Seq("doc_id"))
    val wSize = Window.partitionBy(col("cluster"))
    val wRank = Window.partitionBy(col("cluster"))
      .orderBy(col("_prio"), col("doc_id"))
    members
      .withColumn("cluster_size", count(lit(1)).over(wSize))
      .withColumn("_rk", row_number().over(wRank))
      .filter(col("_rk") === 1)
      .select(col("cluster"), col("doc_id").as("kept_doc"),
        col("source").as("kept_source"), col("cluster_size"))
  }

  def ddPriority(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    priorityRetention(docs, substring(col("source"), 4, 8).cast("int"))
      .orderBy(col("cluster"))
  }

  /** Oracle: the dd_cluster transitive closure plus the argmin policy. */
  val ddPrioritySql: String =
    s"""${minhashPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |vpairs AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN shh sa ON doc_a = sa.doc_id JOIN shh sb ON doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE) /
       |        CAST(len(list_distinct(sa.hsh || sb.hsh)) AS DOUBLE) >= 0.9),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION SELECT doc_b, doc_a FROM vpairs
       |  UNION SELECT doc_a, doc_a FROM vpairs
       |  UNION SELECT doc_b, doc_b FROM vpairs),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cc AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |mem AS (
       |  SELECT cc.cluster, cc.doc_id, d.source,
       |    CAST(substr(d.source, 4) AS INT) AS prio
       |  FROM cc JOIN documents d USING (doc_id))
       |SELECT cluster, doc_id AS kept_doc, source AS kept_source, cluster_size
       |FROM (
       |  SELECT cluster, doc_id, source,
       |    count(*) OVER (PARTITION BY cluster) AS cluster_size,
       |    row_number() OVER (PARTITION BY cluster ORDER BY prio, doc_id) AS rk
       |  FROM mem)
       |WHERE rk = 1 ORDER BY cluster""".stripMargin

  /** Dedup applied end-to-end: find verified near-dups (J >= 0.9), drop
    * the higher doc_id of each pair, report the surviving corpus profile —
    * the full curation-pipeline composition (candidate generation →
    * verification → policy → apply), not just pair discovery. */
  def applyNearDupPolicy(docs: DataFrame, minJaccard: Double = 0.9): DataFrame = {
    // shuffle anti-join, NOT a broadcast: at web-scale dup density the
    // drop set is 30-50% of the corpus — a forced broadcast of it OOMs
    // the driver. AQE broadcasts at runtime when the set is small.
    val dropIds = minhashLsh(docs)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(dropIds, Seq("doc_id"), "left_anti")
  }

  def ddPipeline(spark: SparkSession, dir: String): DataFrame =
    applyNearDupPolicy(Tables.documents(spark, dir))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val ddPipelineSql: String =
    s"""$minhashPairsCte,
       |dropids AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM pairs
       |  JOIN shh sa ON doc_a = sa.doc_id JOIN shh sb ON doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE) /
       |        CAST(len(list_distinct(sa.hsh || sb.hsh)) AS DOUBLE) >= 0.9)
       |SELECT lang, count(*) AS n_docs FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropids)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Driver query for the incremental near-dup shape: doc_id < 200
    * plays the historical corpus, the rest arrive as the new batch;
    * survivors = new docs with no verified J >= 0.5 historical match. */
  def ddIncrNear(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDup(Tables.documents(spark, dir), col("doc_id") < 200)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Oracle: the corpus-wide pair CTE restricted to (historical, new)
    * pairs — band keys are per-doc, so a hist-new collision in the
    * full-corpus self-join is exactly a collision in the hist×new join
    * (hist ids < 200 <= new ids matches the doc_a < doc_b orientation). */
  val ddIncrNearSql: String =
    s"""$minhashPairsCte,
       |dropids AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM pairs
       |  JOIN shh sa ON doc_a = sa.doc_id JOIN shh sb ON doc_b = sb.doc_id
       |  WHERE doc_a < 200 AND doc_b >= 200
       |    AND CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE) /
       |        CAST(len(list_distinct(sa.hsh || sb.hsh)) AS DOUBLE) >= 0.5)
       |SELECT doc_id, lang FROM documents
       |WHERE doc_id >= 200 AND doc_id NOT IN (SELECT doc_id FROM dropids)
       |ORDER BY doc_id""".stripMargin

  /** Paragraph-block exact dedup — the span-level rule of the C4 /
    * RefinedWeb pipelines (drop any repeated span corpus-wide, keeping
    * only its first occurrence), where doc-level [[exact]] keeps whole
    * documents. Documents are segmented into consecutive `blockWords`-
    * word blocks; a block survives iff its content is unique OR this
    * occurrence is the globally-first one (smallest packed
    * `doc_id * 2^24 + pos` — a single-long key so the argmin stays a
    * HashAggregate; `min(struct(...))` would fall back to the
    * SortAggregate path; valid while docs stay under 2^24 blocks and
    * doc_id under 2^39). Surviving text is rebuilt per document in
    * block order; a document whose every block is dropped exits the
    * corpus (the RefinedWeb empty-doc rule), as do null-text documents
    * (no blocks to segment).
    *
    * Scale shape (100 TB): block text is consumed AT THE SCAN — the
    * count stage shuffles `(8-byte md5Long, packed long)` per block, the
    * decision join moves only `(hash, keep_key)` for duplicated hashes
    * (dup mass, not corpus mass), and the kept-position aggregation
    * shuffles ints. Corpus text crosses the wire exactly once, at the
    * final rebuild join on doc_id (zero times if the source is bucketed
    * by doc_id — see Sources bucketing); PlanSpec asserts no exchange
    * carries a block column and at most one carries text. */
  def paragraphDedup(docs: DataFrame, blockWords: Int = 8): DataFrame = {
    // Bind the split ONCE as a projected attribute before the HOF: the
    // block-construction lambda references the word array per element,
    // and an expression referenced inside a HOF lambda re-evaluates per
    // element (round-7 corollary) — a raw split() here re-ran once PER
    // BLOCK, O(n_words·n_blocks) char work per doc. Off the bound
    // attribute each lambda eval is an array pointer read. (Safe from
    // CollapseProject re-inlining: split is non-cheap and `_ws` has >1
    // consumer reference, so the projection barrier survives.)
    val ws = col("_ws")
    val nb = ceil(size(ws).cast(DoubleType) / lit(blockWords.toDouble))
      .cast(LongType)
    val blocksArr = transform(sequence(lit(0L), nb - 1), i =>
      concat_ws(" ", slice(ws, (i * blockWords + 1).cast(IntegerType),
        lit(blockWords))))
    val wordsOf = docs.select(col("doc_id"), split(col("text"), " ").as("_ws"))
    val slim = wordsOf
      .select(col("doc_id"), posexplode(blocksArr).as(Seq("pos", "block")))
      // 60-bit md5Long block key, not the 32-char md5 string: the
      // corpus-wide count stage shuffles one row PER BLOCK, so the key
      // width is the exchange (8 bytes vs ~48 with string overhead) and
      // a long-keyed aggregate probes without byte-wise string hashing.
      // Same truncated-digest contract as the shingle/winnow kernels.
      .select(col("doc_id"), col("pos"), md5Long(col("block"), 1, 15).as("h"),
        // single-long first-occurrence key: doc_id * 2^24 + pos. The
        // shift bounds the contract at 2^24 blocks/doc (134M words at
        // blockWords=8) and doc_id < 2^39 — beyond either, packed keys
        // from adjacent docs alias and "globally first" can misresolve
        (col("doc_id") * 16777216L + col("pos")).as("k"))
    val dups = slim.groupBy(col("h"))
      .agg(min(col("k")).as("keep_k"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("h"), col("keep_k"))
    val keptPos = slim.join(dups, Seq("h"), "left")
      .filter(col("keep_k").isNull || col("k") === col("keep_k"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("kept_pos"),
        count(lit(1)).as("n_kept"))
    // Materialize the block array ONCE per row before the rebuild join:
    // element_at(blocksArr, ...) inside the transform lambda would
    // re-evaluate the whole split+slice construction per kept position
    // (higher-order functions are CodegenFallback — no subexpression
    // reuse), turning the rebuild O(blocks^2) per doc.
    wordsOf.select(col("doc_id"), nb.as("n_blocks"), blocksArr.as("blocks"))
      .join(keptPos, Seq("doc_id"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        concat_ws(" ", transform(col("kept_pos"), p =>
          element_at(col("blocks"), (p + 1).cast(IntegerType))))
          .as("clean_text"))
  }

  def ddParagraphs(spark: SparkSession, dir: String): DataFrame =
    paragraphDedup(Tables.documents(spark, dir)).orderBy("doc_id")

  val ddParagraphsSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |blocks AS (
      |  SELECT doc_id, nb AS n_blocks, i AS pos,
      |    array_to_string(w[(i*8+1):(i*8+8)], ' ') AS block
      |  FROM (SELECT doc_id, w, CAST(ceil(len(w) / 8.0) AS BIGINT) AS nb
      |        FROM w), unnest(range(0, nb)) r(i)),
      |keyed AS (SELECT doc_id, n_blocks, pos, block,
      |                 ('0x'||substr(md5(block),1,15))::BIGINT AS h,
      |                 doc_id*16777216 + pos AS k FROM blocks),
      |g AS (SELECT h, min(k) AS keep_k, count(*) AS n FROM keyed GROUP BY h),
      |kept AS (
      |  SELECT doc_id, n_blocks, pos, block FROM keyed JOIN g USING (h)
      |  WHERE n = 1 OR k = keep_k)
      |SELECT doc_id, n_blocks, count(*) AS n_kept,
      |  array_to_string(list(block ORDER BY pos), ' ') AS clean_text
      |FROM kept GROUP BY doc_id, n_blocks ORDER BY doc_id""".stripMargin

  /** Variable-length exact-substring dedup — the published ≥50-token
    * maximal-run rule (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": drop duplicated runs of at least 50
    * tokens), layered on [[paragraphDedup]]'s block machinery and made
    * BOUNDARY-EXACT by anchored word-level run extension. Detection is
    * block-granular as before: non-first occurrences of duplicated
    * 8-word blocks merge into maximal adjacent runs (gaps-and-islands
    * on block position). Each run edge is then EXTENDED word-by-word —
    * the words immediately before/after the run are compared against
    * the words before/after the SOURCE occurrence (the global-first
    * copy of the run's first/last block, decoded from its packed
    * keep_k) — so a duplicated span misaligned with the block grid by
    * <blockWords words regains its edge words exactly: the ≥50 rule
    * fires on the true span length, and exactly the span's words drop
    * (word-granular intervals, merged per doc when extensions touch).
    * Extension is capped at blockWords-1 per edge — an 8-word match
    * beyond the edge would mean the adjacent block itself matched and
    * (barring a first-occurrence tie) joined the run. Spans whose
    * internal block PHASE differs between the two copies have no equal
    * blocks to anchor on and stay the guaranteed-coverage detector
    * dd_winnow's job — the same division of labor as the block version,
    * but the anchored case is now exact rather than edge-lossy.
    *
    * Scale shape: identical to paragraphDedup through the drop
    * decision — block text dies at the scan; the count stage shuffles
    * (8-byte md5Long, packed long, word count) per block. The run +
    * extension logic is DUP-MASS-sized: one window + one groupBy over
    * candidate rows, then one join of 3-rows-per-run edge refs against
    * the word arrays of INVOLVED docs only (docs are pre-pruned by a
    * semi-join on the dup-touched id set — broadcast only under a
    * counted gate, see [[substrDedupPlan]] — so untouched docs' text
    * never enters the extension exchange; the ≤7-word edge slices
    * are projected out inside the join). The zip_with common-prefix
    * folds are HOFs but run on dup-mass rows with ≤7-element arrays,
    * not the corpus scan. Corpus text crosses the wire once at the
    * final rebuild join, plus once for dup-touched docs' slices. */
  def substrDedup(docs: DataFrame, blockWords: Int = 8,
                  minRunWords: Int = 50): DataFrame =
    org.apache.spark.sql.graft.DeferredDF(docs.sparkSession,
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_words", LongType),
        StructField("n_dropped_runs", LongType),
        StructField("words_dropped", LongType),
        StructField("clean_text", StringType))),
      () => substrDedupPlan(docs, blockWords, minRunWords, None))

  /** The gated plan body. The extension stage prunes corpus words to
    * the dup-TOUCHED doc-id set (`involved`), and whether that semi-join
    * may be a driver broadcast depends on dup density: at web dup rates
    * (30-50%) `involved` is CORPUS-scale and a forced hint driver-OOMs
    * at 100x. So the hint is GATED IN CODE on a counted threshold
    * (`graft.substr.maxBroadcastInvolved`, default 10M ids ~ 80 MB of
    * longs), the triangleCount pattern: the count runs off the already-
    * checkpointed run table, at or under the gate the hint applies,
    * over it the same plan runs as a shuffled semi-join (AQE may still
    * pick broadcast from runtime sizes, which cannot driver-OOM the way
    * a forced hint would). `nInvolvedOverride` pins the decision for
    * PlanSpec (Some(0) → hinted path, Some(Long.MaxValue) → shuffled);
    * None counts at build time. */
  private[graft] def substrDedupPlan(docs: DataFrame, blockWords: Int,
      minRunWords: Int, nInvolvedOverride: Option[Long]): DataFrame = {
    val bw = blockWords
    // split bound ONCE as an attribute before the block HOF — a raw
    // split() referenced inside the lambda re-evaluates per block
    // (round-7 corollary); see the paragraphDedup note
    val ws = col("_ws")
    val nb = ceil(size(ws).cast(DoubleType) / lit(bw.toDouble))
      .cast(LongType)
    val blocksArr = transform(sequence(lit(0L), nb - 1), i =>
      concat_ws(" ", slice(ws, (i * bw + 1).cast(IntegerType), lit(bw))))
    val wordsOf = docs.select(col("doc_id"), split(col("text"), " ").as("_ws"))
    val slim = wordsOf
      .select(col("doc_id"), size(ws).as("n_words"),
        posexplode(blocksArr).as(Seq("pos", "block")))
      // 60-bit md5Long key — see the paragraphDedup note
      .select(col("doc_id"), col("pos"), md5Long(col("block"), 1, 15).as("h"),
        (col("doc_id") * 16777216L + col("pos")).as("k"),
        least(lit(bw), col("n_words") - col("pos") * bw).as("wc"))
    val dups = slim.groupBy(col("h"))
      .agg(min(col("k")).as("keep_k"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("h"), col("keep_k"))
    // non-first occurrences of duplicated blocks are drop CANDIDATES;
    // the (extended) run threshold decides which actually drop
    val cand = slim.join(dups, Seq("h"))
      .filter(col("k") =!= col("keep_k"))
      .select(col("doc_id"), col("pos"), col("wc"), col("keep_k"))
    val wrun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = cand.withColumn("rid", col("pos") - row_number().over(wrun))
    // per run: block span, block word mass, and the SOURCE refs of the
    // first and last block (packed keep_k decoded to (doc, pos) below)
    val runAgg = runs.groupBy(col("doc_id"), col("rid")).agg(
        min(col("pos")).as("p0"), max(col("pos")).as("p1"),
        sum(col("wc")).as("blk_words"),
        min(struct(col("pos"), col("keep_k"))).getField("keep_k").as("src_l"),
        max(struct(col("pos"), col("keep_k"))).getField("keep_k").as("src_r"),
        max(struct(col("pos"), col("wc"))).getField("wc").as("wc_last"))
      .select(col("doc_id"), col("rid"), col("blk_words"),
        (col("p0").cast(LongType) * bw).as("s0"),
        (col("p1").cast(LongType) * bw + col("wc_last")).as("e0"),
        // exact bit decode of the packed (doc_id << 24 | pos) key — a
        // double division would lose bits past 2^53
        shiftright(col("src_l"), 24).as("sdl"),
        (col("src_l").bitwiseAND(lit(16777215L)) * bw).as("sw0"),
        shiftright(col("src_r"), 24).as("sdr"),
        (col("src_r").bitwiseAND(lit(16777215L)) * bw + col("wc_last"))
          .as("se0"))
      // lazily materialized: runAgg fans out FOUR ways (three edge-ref
      // union branches + the iv join), and without this each branch
      // re-executes the whole cand→run window→aggregate pipeline from
      // the last reusable exchange — measured 100x dup-term blowup at
      // 2M docs/avg-7 clusters (470 s) vs the materialized plan; rows
      // are dup-run-sized (9 longs each), the cheapest thing in the
      // operator to hold
      .localCheckpoint(false)
    // edge refs: 3 rows per run — C fetches the candidate doc's own
    // edge slices, L/R the left/right source docs' counterparts.
    // a_pre = word index the ≤(bw-1)-word PRE slice ends before (taken
    // reversed, so extension is a common-prefix length); a_post = word
    // index the ≤(bw-1)-word POST slice starts at.
    val refs = runAgg.select(col("doc_id"), col("rid"), lit("C").as("role"),
        col("doc_id").as("t"), col("s0").as("a_pre"), col("e0").as("a_post"))
      .unionAll(runAgg.select(col("doc_id"), col("rid"), lit("L").as("role"),
        col("sdl").as("t"), col("sw0").as("a_pre"),
        lit(null).cast(LongType).as("a_post")))
      .unionAll(runAgg.select(col("doc_id"), col("rid"), lit("R").as("role"),
        col("sdr").as("t"), lit(null).cast(LongType).as("a_pre"),
        col("se0").as("a_post")))
    // dup-touched docs only: semi-join prune, so the slice join's
    // exchange never carries untouched documents' words. Broadcast of
    // the id set is gated on its counted size — see the Scaladoc.
    val involved = refs.select(col("t").as("_id")).distinct()
    val maxBcastInvolved = docs.sparkSession.conf
      .getOption("graft.substr.maxBroadcastInvolved")
      .map(_.toLong).getOrElse(10000000L)
    // counting `involved` materializes the lazy run-table checkpoint,
    // which every downstream branch needs anyway; the distinct runs
    // over 3-rows-per-run edge refs, dup-run-sized
    val nInvolved = nInvolvedOverride.getOrElse(involved.count())
    val invGated =
      if (nInvolved <= maxBcastInvolved) broadcast(involved) else involved
    val prunedWords = docs
      .select(col("doc_id").as("_wd"), split(col("text"), " ").as("_ws"))
      .join(invGated, col("_wd") === col("_id"), "left_semi")
    val maxExt = bw - 1
    val sliced = refs.join(prunedWords, col("t") === col("_wd"))
      .select(col("doc_id"), col("rid"), col("role"),
        when(col("a_pre").isNotNull, reverse(slice(col("_ws"),
          greatest(lit(1L), col("a_pre") - (maxExt - 1)).cast(IntegerType),
          least(col("a_pre"), lit(maxExt.toLong)).cast(IntegerType))))
          .as("pre"),
        when(col("a_post").isNotNull, slice(col("_ws"),
          (col("a_post") + 1L).cast(IntegerType), lit(maxExt)))
          .as("post"))
    // common-prefix length of two ≤(bw-1)-word slices: first mismatch
    // position - 1 (zip_with pads the shorter side with NULL, and a
    // NULL<=>word pair is a mismatch), else the shorter length —
    // array_position signals absence with 0, not NULL
    def cpl(x: Column, y: Column): Column = {
      val p = array_position(zip_with(x, y, (a, b) => !(a <=> b)), true)
      when(p === 0L, least(size(x), size(y)).cast(LongType)).otherwise(p - 1)
    }
    val ext = sliced.groupBy(col("doc_id"), col("rid")).agg(
        max(when(col("role") === "C", col("pre"))).as("cpre"),
        max(when(col("role") === "C", col("post"))).as("cpost"),
        max(when(col("role") === "L", col("pre"))).as("spre"),
        max(when(col("role") === "R", col("post"))).as("spost"))
      .select(col("doc_id"), col("rid"),
        cpl(col("cpre"), col("spre")).as("ext_l"),
        cpl(col("cpost"), col("spost")).as("ext_r"))
    // word-granular drop intervals for runs clearing the EXTENDED bar
    val iv = runAgg.join(ext, Seq("doc_id", "rid"))
      .filter(col("ext_l") + col("blk_words") + col("ext_r") >= minRunWords)
      .select(col("doc_id"), (col("s0") - col("ext_l")).as("ws"),
        (col("e0") + col("ext_r")).as("we"))
    // merge per-doc intervals (extensions of adjacent runs may touch):
    // gaps-and-islands on (ws, we)
    val wIv = Window.partitionBy(col("doc_id")).orderBy(col("ws"), col("we"))
    val merged = iv
      .withColumn("_pm",
        max(col("we")).over(wIv.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_isl", sum(
          when(col("_pm").isNull || col("ws") > col("_pm"), 1L).otherwise(0L))
        .over(wIv.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("ws")).as("ws"), max(col("we")).as("we"))
    val perDoc = merged.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("ws"), col("we")))).as("ivs"),
        count(lit(1)).as("n_dropped_runs"),
        sum(col("we") - col("ws")).as("words_dropped"))
    // rebuild from KEPT WORD RANGES (the complement of the merged drop
    // intervals): a transform over the few per-doc ranges with one
    // slice each — never a per-word explode
    docs.select(col("doc_id"), split(col("text"), " ").as("_w"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dropped_runs"), lit(0L)).as("n_dropped_runs"),
        coalesce(col("words_dropped"), lit(0L)).as("words_dropped"),
        when(col("ivs").isNull, concat_ws(" ", col("_w")))
          .otherwise(concat_ws(" ", flatten(zip_with(
            concat(array(lit(0L)), transform(col("ivs"), v => v.getField("we"))),
            concat(transform(col("ivs"), v => v.getField("ws")),
              array(col("n_words"))),
            (a, b) => slice(col("_w"), (a + 1).cast(IntegerType),
              greatest(b - a, lit(0L)).cast(IntegerType))))))
          .as("clean_text"))
  }

  def ddSubstr(spark: SparkSession, dir: String): DataFrame =
    substrDedup(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Oracle replays block segmentation, the first-occurrence drop-
    * candidate rule, the gaps-and-islands run merge, the anchored
    * word-level edge extension (correlated min-mismatch subqueries over
    * ≤7-word windows against the decoded source positions), the
    * interval merge, and the kept-range rebuild — all with the same
    * packed keys and arithmetic. */
  val ddSubstrSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
      |                  len(string_split(text, ' ')) AS nw FROM documents),
      |blocks AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(w[(i*8+1):(i*8+8)], ' ') AS block,
      |    least(8, nw - i*8) AS wc
      |  FROM (SELECT doc_id, w, nw, CAST(ceil(nw / 8.0) AS BIGINT) AS nb
      |        FROM w), unnest(range(0, nb)) r(i)),
      |keyed AS (SELECT doc_id, pos, wc,
      |                 ('0x'||substr(md5(block),1,15))::BIGINT AS h,
      |                 doc_id*16777216 + pos AS k FROM blocks),
      |g AS (SELECT h, min(k) AS keep_k, count(*) AS n FROM keyed GROUP BY h),
      |cand AS (
      |  SELECT doc_id, pos, wc, keep_k FROM keyed JOIN g USING (h)
      |  WHERE n > 1 AND k <> keep_k),
      |runs AS (
      |  SELECT doc_id, pos, wc, keep_k,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
      |  FROM cand),
      |ra AS (SELECT doc_id, rid,
      |    min(pos) AS p0, max(pos) AS p1, sum(wc) AS blk_words,
      |    arg_min(keep_k, pos) AS src_l, arg_max(keep_k, pos) AS src_r,
      |    arg_max(wc, pos) AS wc_last
      |  FROM runs GROUP BY doc_id, rid),
      |rb AS (SELECT doc_id, rid, blk_words,
      |    p0*8 AS s0, p1*8 + wc_last AS e0,
      |    src_l // 16777216 AS sdl, (src_l % 16777216) * 8 AS sw0,
      |    src_r // 16777216 AS sdr, (src_r % 16777216) * 8 + wc_last AS se0
      |  FROM ra),
      |ext AS (
      |  SELECT rb.doc_id, rb.rid, rb.blk_words, rb.s0, rb.e0,
      |    (SELECT coalesce(min(j), least(least(rb.s0, rb.sw0), 7) + 1) - 1
      |     FROM unnest(range(1, least(least(rb.s0, rb.sw0), 7) + 1)) t(j)
      |     WHERE cw.w[rb.s0 - j + 1] IS DISTINCT FROM lw.w[rb.sw0 - j + 1])
      |      AS ext_l,
      |    (SELECT coalesce(min(j),
      |        least(least(cw.nw - rb.e0, rw.nw - rb.se0), 7) + 1) - 1
      |     FROM unnest(range(1,
      |        least(least(cw.nw - rb.e0, rw.nw - rb.se0), 7) + 1)) t(j)
      |     WHERE cw.w[rb.e0 + j] IS DISTINCT FROM rw.w[rb.se0 + j])
      |      AS ext_r
      |  FROM rb JOIN w cw ON rb.doc_id = cw.doc_id
      |          JOIN w lw ON rb.sdl = lw.doc_id
      |          JOIN w rw ON rb.sdr = rw.doc_id),
      |iv AS (SELECT doc_id, s0 - ext_l AS ws, e0 + ext_r AS we FROM ext
      |       WHERE ext_l + blk_words + ext_r >= 50),
      |isl AS (
      |  SELECT doc_id, ws, we,
      |    sum(CASE WHEN pm IS NULL OR ws > pm THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY ws, we
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM (SELECT doc_id, ws, we,
      |          max(we) OVER (PARTITION BY doc_id ORDER BY ws, we
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |        FROM iv)),
      |mg AS (SELECT doc_id, grp, min(ws) AS ws, max(we) AS we
      |       FROM isl GROUP BY doc_id, grp),
      |ds AS (SELECT doc_id, count(*) AS n_dropped_runs,
      |              CAST(sum(we - ws) AS BIGINT) AS words_dropped
      |       FROM mg GROUP BY doc_id),
      |kr AS (
      |  SELECT doc_id,
      |    coalesce(lag(we) OVER (PARTITION BY doc_id ORDER BY ws), 0) AS ks,
      |    ws AS ke
      |  FROM mg
      |  UNION ALL
      |  SELECT mg.doc_id, max(mg.we) AS ks, any_value(w.nw) AS ke
      |  FROM mg JOIN w USING (doc_id) GROUP BY mg.doc_id),
      |ct AS (
      |  SELECT kr.doc_id,
      |    array_to_string(flatten(list(w.w[kr.ks+1:kr.ke] ORDER BY kr.ks)),
      |      ' ') AS clean_text
      |  FROM kr JOIN w USING (doc_id) WHERE kr.ke > kr.ks
      |  GROUP BY kr.doc_id)
      |SELECT w.doc_id, CAST(w.nw AS BIGINT) AS n_words,
      |  coalesce(ds.n_dropped_runs, 0) AS n_dropped_runs,
      |  coalesce(ds.words_dropped, 0) AS words_dropped,
      |  CASE WHEN ds.doc_id IS NULL THEN array_to_string(w.w, ' ')
      |       ELSE coalesce(ct.clean_text, '') END AS clean_text
      |FROM w LEFT JOIN ds ON w.doc_id = ds.doc_id
      |       LEFT JOIN ct ON w.doc_id = ct.doc_id
      |ORDER BY w.doc_id""".stripMargin

  /** Cross-snapshot corpus overlap: how much of snapshot A's content
    * recurs in snapshot B — the "what fraction of the new crawl is
    * already in the corpus" table that decides whether a re-crawl is
    * worth ingesting, and the corpus-level sibling of per-document
    * near-dedup. Content sets are distinct word-3-gram shingle hashes
    * per side (the dd_ngram_jaccard/minhash unit), sides split by
    * doc_id parity here (a deployment passes two real snapshots).
    *
    * Exact AND estimated, in one pass: a single groupBy(h) with
    * per-side presence flags (ONE vocab-sized shuffle of 8-byte keys,
    * map-combined; text never leaves the scan) yields exact
    * |A|, |B|, |A∩B|, |A∪B|; the SAME grouped table then folds into
    * per-side k=16 Carter-Wegman minhash signatures (reusing the LSH
    * permutation family), whose match fraction is the sketch estimate a
    * deployment would ship instead of the exact join at 100 TB — both
    * engines compute it bit-identically, and `mh_ok` oracle-verifies
    * the sketch against its own exact value within 0.25 (2σ at k=16).
    * All aggregates decompose (min/max/sum) — two map-combined stages,
    * no sort, no join anywhere. */
  def snapshotOverlap(docs: DataFrame, inA: Column, inB: Column): DataFrame = {
    val k = 16
    val spark = docs.sparkSession
    import spark.implicits._
    // FUSED partial-dedup kernel. The explode → hash-aggregate
    // formulation paid Spark's generic UnsafeRow hash-agg probe per
    // shingle OCCURRENCE — an overlap-floor decomposition (x100,
    // one plan component added per step) attributes 1.85 s of the 3.2 s wall to that
    // probe alone (scan 0.40, +kernel 0.73, +groupBy 2.58). This kernel
    // runs the same per-partition dedup in a primitive open-addressing
    // long→byte table instead: per shingle, one MD5 (single-block fast
    // path), one multiply-shift probe, one OR — then emits the
    // PARTITION-DISTINCT (h, side-flags) rows, exactly what the
    // map-side combine would have shipped. Memory is HARD-bounded by
    // the fixed-size table (2^21 slots ≈ 18 MiB/task): when the table
    // fills, it drains to output and resets — duplicates across
    // flushes (or mid-document splits) re-merge in the downstream
    // groupBy's bit_or, so correctness never depends on table size.
    // binary cast, not getString: skips the UTF-16 round-trip per doc
    val src = docs.select(col("text").cast("binary"), inA.as("_a"), inB.as("_b"))
    val part = src.mapPartitions { rows =>
      new scala.collection.AbstractIterator[(Long, Int)] {
        private val bits = 21
        private val cap = 1 << bits
        private val mask = cap - 1
        private val maxUsed = (cap * 3) / 4
        private val keys = new Array[Long](cap) // h+1; 0 = empty
        private val fl = new Array[Byte](cap)
        private var used = 0
        private var draining = false
        private var drainPos = 0
        private var haveNext = false
        private var nextH = 0L
        private var nextF = 0
        // mid-document resume state for a pathological doc whose
        // distinct shingles alone overflow the table
        private var pendHs: Array[Long] = null
        private var pendIdx = 0
        private var pendF = 0

        private def insert(h: Long, f: Int): Unit = {
          val key = h + 1 // h ∈ [0, 2^31): key never 0
          var idx = ((h * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt & mask
          while (true) {
            val k0 = keys(idx)
            if (k0 == 0L) {
              keys(idx) = key; fl(idx) = f.toByte; used += 1; return
            }
            if (k0 == key) {
              fl(idx) = (fl(idx) | f).toByte; return
            }
            idx = (idx + 1) & mask
          }
        }

        /** Consume pending/incoming shingles until the table is at the
          * flush threshold or input is exhausted. */
        private def fill(): Unit = {
          while (used < maxUsed) {
            if (pendHs != null) {
              val hs = pendHs
              var i = pendIdx
              val f = pendF
              while (i < hs.length && used < maxUsed) {
                insert(hs(i) % MinhashP, f); i += 1
              }
              if (i < hs.length) { pendIdx = i; return }
              pendHs = null
            } else if (rows.hasNext) {
              val r = rows.next()
              if (!r.isNullAt(0)) {
                val f = (if (r.getBoolean(1)) 1 else 0) |
                  (if (r.getBoolean(2)) 2 else 0)
                if (f != 0) {
                  val bytes = r.getAs[Array[Byte]](0)
                  pendHs = org.apache.spark.sql.graft.Shingle3Md5Long
                    .shingleHashes(bytes, 1, 8)
                  pendIdx = 0
                  pendF = f
                }
              }
            } else return
          }
        }

        private def advance(): Unit = {
          while (true) {
            if (draining) {
              while (drainPos < cap && keys(drainPos) == 0L) drainPos += 1
              if (drainPos < cap) {
                nextH = keys(drainPos) - 1
                nextF = fl(drainPos).toInt
                drainPos += 1
                haveNext = true
                return
              }
              if (pendHs == null && !rows.hasNext) { haveNext = false; return }
              java.util.Arrays.fill(keys, 0L)
              java.util.Arrays.fill(fl, 0.toByte)
              used = 0; draining = false; drainPos = 0
            } else {
              fill()
              draining = true
            }
          }
        }

        override def hasNext: Boolean = {
          if (!haveNext) advance()
          haveNext
        }
        override def next(): (Long, Int) = {
          if (!hasNext) throw new NoSuchElementException
          haveNext = false
          (nextH, nextF)
        }
      }
    }.toDF("h", "flags")
    // project each permutation ONCE before the fold: perm(j) appears
    // under both sides' min-aggregates, and aggregate-expression
    // subexpression elimination does not share across aggregate
    // functions — inlined, every grouped row paid 32 multiply-mods
    // instead of 16. (A fused mapPartitions fold over the grouped rows
    // was A/B'd at x100 — 1.98 vs 1.81 s — the
    // object-boundary row conversion costs more than the 36-buffer
    // HashAggregate it replaces; the declarative form stays.)
    val g = part.groupBy(col("h")).agg(expr("bit_or(flags)").as("_f"))
      .select(Seq(col("h"), (col("_f").bitwiseAND(lit(1)) === 1).as("in_a"),
        (col("_f").bitwiseAND(lit(2)) === 2).as("in_b")) ++
        (0 until k).map(j =>
          ((lit(MinhashA(j)) * col("h") + lit(MinhashB(j))) % lit(MinhashP))
            .as(s"p$j")): _*)
    val aggs =
      Seq(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("n_inter"),
        count(lit(1)).as("n_union")) ++
      (0 until k).flatMap(j => Seq(
        min(when(col("in_a"), col(s"p$j"))).as(s"ma$j"),
        min(when(col("in_b"), col(s"p$j"))).as(s"mb$j")))
    val row = g.agg(aggs.head, aggs.tail: _*)
    val matches = (0 until k).map(j =>
      when(col(s"ma$j") === col(s"mb$j"), 1).otherwise(0))
      .reduce(_ + _)
    row.select(
        col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
        (col("n_inter").cast(DoubleType) / col("n_union").cast(DoubleType))
          .as("jaccard"),
        (col("n_inter").cast(DoubleType) / col("n_a").cast(DoubleType))
          .as("containment_a"),
        matches.as("mh_matches"))
      .withColumn("mh_est", col("mh_matches").cast(DoubleType) / lit(k.toDouble))
      .withColumn("mh_ok", abs(col("mh_est") - col("jaccard")) <= lit(0.25))
  }

  /** Two-table form — the deployment shape (snapshots live in separate
    * tables): tag and union, then the same one-shuffle pipeline. A doc
    * in both snapshots contributes to both sides, exactly as the
    * predicate form would see it. */
  def snapshotOverlap(a: DataFrame, b: DataFrame): DataFrame =
    snapshotOverlap(
      a.select(col("doc_id"), col("text")).withColumn("_side", lit(0))
        .unionByName(
          b.select(col("doc_id"), col("text")).withColumn("_side", lit(1))),
      inA = col("_side") === 0, inB = col("_side") === 1)

  /** dd_overlap: the even-id and odd-id halves of the corpus as the two
    * snapshots of [[snapshotOverlap]]. */
  def ddOverlap(spark: SparkSession, dir: String): DataFrame =
    snapshotOverlap(Tables.documents(spark, dir),
      inA = pmod(col("doc_id"), lit(2)) === 0,
      inB = pmod(col("doc_id"), lit(2)) === 1)

  val ddOverlapSql: String = {
    val k = 16
    val mins = (0 until k).map(j =>
      s"min(CASE WHEN in_a THEN (${MinhashA(j)}*h + ${MinhashB(j)}) % $MinhashP END) = " +
      s"min(CASE WHEN in_b THEN (${MinhashA(j)}*h + ${MinhashB(j)}) % $MinhashP END)")
      .map(c => s"CASE WHEN $c THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)] AS shingles
       |  FROM toks WHERE len(w) >= 3),
       |tallh AS (
       |  SELECT doc_id % 2 = 0 AS in_a, doc_id % 2 = 1 AS in_b,
       |    ('0x'||substr(md5(unnest(shingles)),1,8))::BIGINT % $MinhashP AS h
       |  FROM sh),
       |g AS (
       |  SELECT h, bool_or(in_a) AS in_a, bool_or(in_b) AS in_b
       |  FROM tallh GROUP BY h),
       |agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
       |    count(*) AS n_union,
       |    $mins AS mh_matches
       |  FROM g)
       |SELECT n_a, n_b, n_inter, n_union,
       |  CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard,
       |  CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
       |  mh_matches,
       |  CAST(mh_matches AS DOUBLE) / 16.0 AS mh_est,
       |  abs(CAST(mh_matches AS DOUBLE) / 16.0
       |      - CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)) <= 0.25 AS mh_ok
       |FROM agg""".stripMargin
  }

  /** dd_winnow: winnowing fingerprint selection (Schleimer/Wilkerson/
    * Aiken, the MOSS algorithm) + cross-document match counting — the
    * guaranteed-coverage alternative to 0-mod-p fingerprint sampling:
    * selecting the MIN k-gram hash in every window of `w` consecutive
    * positions guarantees any shared run of ≥ w+k-1 tokens yields at
    * least one shared fingerprint, which random sampling cannot promise.
    * The overlap detector behind plagiarism / license-text / contaminated-
    * span hunting, where dd_minhash_lsh's whole-doc Jaccard is the wrong
    * granularity.
    *
    * Per doc everything is a PROJECTION: ordered 3-gram hashes come from
    * the one-pass [[hashedShingles]] kernel (order-preserving), windows
    * are a slice+array_min HOF over that array, and the distinct selected
    * set explodes to slim (doc_id, fp60) rows — text never crosses an
    * exchange. Docs with fewer than `w` grams select the single global
    * min (the standard short-doc rule). Pairing is bucket-bounded like
    * every dd_* path: fingerprints above `occupancyCap` docs (ubiquitous
    * boilerplate 3-grams) are dropped before the self-join — the simhash
    * band-cap precedent — so pair cost is ∝ shared-fingerprint mass,
    * never corpus². Emitted pairs share ≥ `minShared` fingerprints. */
  def winnow(docs: DataFrame, w: Int = 8, minShared: Long = 2,
             occupancyCap: Long = 50): DataFrame = {
    // per-row winnowing kernel: gram hashing + O(n) deque window-min +
    // distinct fused in one pass (the HOF formulation re-sliced per
    // window under CodegenFallback; bit-equality is spec-pinned)
    val fps = docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.VectorExprs
        .winnowFps(col("text"), w, 1, 15)).as("fp"))
    // ONE exchange does occupancy-capping AND pairing: group the slim
    // (fp, doc_id) rows into per-fingerprint doc lists via the
    // CAP-BOUNDED collect aggregate — its buffer stops growing at
    // cap+1 entries in both update and merge, so a ubiquitous
    // boilerplate fingerprint shared by millions of docs holds at most
    // cap+1 longs in any aggregation buffer (a plain collect_list
    // materializes the full hot-key list BEFORE any size predicate can
    // run — the filter is post-aggregation — which is an executor OOM
    // at 100 TB); the size filter then drops over-cap buckets whole.
    // Each surviving bucket's ≤ C(cap,2) pairs expand as a sorted-array
    // HOF projection. Replaces the previous checkpoint + occupancy agg
    // + semi-join + fp self-join (four corpus-sized operators, three
    // exchanges); together with the kernel + w=8 density the x100
    // winnow measured 13.4 s → 5-6 s (the restructure alone, at w=4
    // with the HOF scan, was exchange-bound and roughly neutral).
    fps.groupBy(col("fp"))
      .agg(org.apache.spark.sql.graft.VectorExprs
        .collectSortedCapped(col("doc_id"), occupancyCap.toInt).as("ds"))
      .filter(size(col("ds")).between(2, occupancyCap))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def ddWinnow(spark: SparkSession, dir: String): DataFrame =
    winnow(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  /** Oracle replays winnowing with order-preserving list comprehensions
    * (NO list_distinct on the shingle list — positions matter here,
    * unlike the minhash CTE) over the same md5-prefix hashes. */
  val ddWinnowSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] AS s
      |  FROM toks WHERE len(w) >= 3),
      |g AS (
      |  SELECT doc_id,
      |    list_transform(s, x -> ('0x'||substr(md5(x),1,15))::BIGINT) AS g
      |  FROM sh),
      |wins AS (
      |  SELECT doc_id,
      |    CASE WHEN len(g) < 8 THEN [list_aggregate(g, 'min')]
      |         ELSE [list_aggregate(g[j+1:j+8], 'min')
      |               for j in range(0, len(g) - 7)] END AS fps
      |  FROM g),
      |fp AS (SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM wins),
      |rare AS (
      |  SELECT fp FROM (SELECT fp, count(*) AS n FROM fp GROUP BY fp)
      |  WHERE n <= 50),
      |fc AS (SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |FROM fc a JOIN fc b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id
      |HAVING count(*) >= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_winnow" -> (ddWinnow _),
    "dd_overlap" -> (ddOverlap _),
    "dd_paragraphs" -> (ddParagraphs _),
    "dd_substr" -> (ddSubstr _),
    "dd_cluster" -> (ddCluster _),
    "dd_priority" -> (ddPriority _),
    "dd_incremental" -> (ddIncremental _),
    "dd_incr_near" -> (ddIncrNear _),
    "dd_pipeline" -> (ddPipeline _),
    "dd_contamination" -> (ddContamination _),
    "dd_editdist" -> (ddEditdist _),
    "dd_exact" -> (ddExact _),
    "dd_normalized" -> (ddNormalized _),
    "dd_soft" -> (ddSoftDedup _),
    "dd_minhash_lsh" -> (ddMinhashLsh _),
    "dd_simhash" -> (ddSimhash _),
    "dd_media" -> (ddMedia _),
    "mm_dedup_e2e" -> (mmDedupE2e _),
    "dd_semantic" -> (ddSemantic _),
    "q_diversity_sample" -> (qDiversitySample _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_threshold_hist" -> (ddThresholdHist _),
    "dd_embed_cosine" -> (ddEmbedCosine _))

  val oracles: Map[String, String] = Map(
    "dd_winnow" -> ddWinnowSql,
    "dd_overlap" -> ddOverlapSql,
    "dd_paragraphs" -> ddParagraphsSql,
    "dd_substr" -> ddSubstrSql,
    "dd_cluster" -> ddClusterSql,
    "dd_priority" -> ddPrioritySql,
    "dd_incremental" -> ddIncrementalSql,
    "dd_incr_near" -> ddIncrNearSql,
    "dd_pipeline" -> ddPipelineSql,
    "dd_contamination" -> ddContaminationSql,
    "dd_editdist" -> ddEditdistSql,
    "dd_exact" -> ddExactSql,
    "dd_normalized" -> ddNormalizedSql,
    "dd_soft" -> ddSoftDedupSql,
    "dd_minhash_lsh" -> ddMinhashLshSql,
    "dd_simhash" -> ddSimhashSql,
    "dd_media" -> ddMediaSql,
    "mm_dedup_e2e" -> mmDedupE2eSql,
    "dd_semantic" -> ddSemanticSql,
    "q_diversity_sample" -> qDiversitySampleSql,
    "dd_ngram_jaccard" -> ddNgramJaccardSql,
    "dd_threshold_hist" -> ddThresholdHistSql,
    "dd_embed_cosine" -> ddEmbedCosineSql)
}
