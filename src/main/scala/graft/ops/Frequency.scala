package graft.ops

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Approximate term-frequency estimation via a count-min sketch — the
  * mergeable-sketch sibling of the HLL distinct count (x16 probe).
  *
  * Why a sketch when `groupBy(term).count()` is exact: at 100 TB the term
  * domain itself is the problem — an exact count shuffles every distinct
  * term once per occurrence-partition, and a trillion-term vocabulary
  * (n-grams, URLs, user agents) makes that shuffle THE job. The sketch
  * side-steps it: each partition folds its terms into a fixed
  * `depth × width` counter grid (codegen'd builtin aggregate, map-side
  * partial merge), the grids tree-reduce by elementwise sum, and the
  * driver receives ONE ~100 KB blob regardless of corpus size. No shuffle
  * of the domain ever happens.
  *
  * Guarantees (standard CMS, seed-deterministic): `estimate ≥ true` always,
  * and `estimate ≤ true + eps·N` with probability ≥ `confidence` per query
  * (N = total items folded in).
  *
  * Sketches with identical (eps, confidence, seed) are mergeable —
  * [[merged]] — so per-day sketches union incrementally, the way
  * [[Dedup.appendToBandIndex]] folds in a day's batch without a corpus
  * rescan.
  */
object Frequency {

  /** Fold `term` of every row into a count-min sketch. One partial-agg
    * pass over the data; the only driver transfer is the sketch blob.
    */
  def sketch(items: DataFrame, term: Column,
      eps: Double = 1e-3, confidence: Double = 0.99, seed: Int = 7): CountMinSketch = {
    val bytes = items
      .agg(count_min_sketch(term, lit(eps), lit(confidence), lit(seed)).as("__sk"))
      .head.getAs[Array[Byte]]("__sk")
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
  }

  /** Merge same-shaped sketches (eps/confidence/seed must match) — the
    * incremental-ingest path: fold each day once, merge the blobs. The
    * inputs are NOT mutated (`mergeInPlace` folds into a serialized COPY
    * of the first sketch), so re-merging the same day list after
    * appending a new day never double-counts.
    */
  def merged(sketches: Seq[CountMinSketch]): CountMinSketch = {
    require(sketches.nonEmpty, "need >=1 sketch")
    val out = new java.io.ByteArrayOutputStream()
    sketches.head.writeTo(out)
    val acc = CountMinSketch.readFrom(new ByteArrayInputStream(out.toByteArray))
    sketches.tail.foreach(acc.mergeInPlace)
    acc
  }

  /** Frequency estimates for a small vocabulary (driver-side contract:
    * `vocab` is the query set, not the corpus domain) without touching
    * the corpus again.
    */
  def estimates(spark: SparkSession, cms: CountMinSketch, vocab: Seq[String]): DataFrame = {
    import spark.implicits._
    vocab.map(t => (t, cms.estimateCount(t))).toDF("term", "est_n")
  }

  /** EXACT heavy hitters above a support threshold, without ever
    * shuffling the term domain — the sketch-gated exact aggregation
    * pattern (the CMS sibling of [[Dedup.incrementalExactBloom]]'s
    * Bloom gate):
    *
    *   1. fold `xxhash64(term)` keys into a count-min sketch (one pass,
    *      fixed-size grid, no shuffle);
    *   2. gate every occurrence map-side on `estimate ≥ minFreq`
    *      ([[graft.functions.CmsEstimate]], codegen'd). The sketch only
    *      over-counts, so NO true heavy hitter is dropped — exactly the
    *      Bloom no-false-negative guarantee, in frequency form;
    *   3. exact `groupBy(term).count` over the SURVIVORS — the shuffle
    *      carries partial counts of candidate terms only, not the
    *      trillion-term tail — and a final exact `≥ minFreq` filter
    *      discards the sketch's false candidates (collisions included).
    *
    * Output (term, n) is EXACT: step 3's count never sees a dropped
    * occurrence of a candidate term, and the final filter applies to
    * true counts. Two scans of the input, zero full-domain shuffles.
    */
  // — persisted HLL sketch index (approx-distinct per key, daily folds) —
  //   The deployment shape behind "distinct users per host, updated
  //   daily, without rescanning history": one HLL sketch per key,
  //   persisted, with batch folds. The algebra does the exactly-once
  //   work: HLL registers merge by elementwise MAX, so folds are
  //   order-invariant and IDEMPOTENT — a crash-replayed batch re-appends
  //   its delta rows, the read-side union re-maxes them with themselves,
  //   and estimates are unchanged; no replay ledger exists because none
  //   is needed (the [[Dedup.componentsIncremental]] argument, in sketch
  //   form).
  //
  //   Storage shape (round 13 — the original fold REWROTE the whole
  //   sketches table per batch, an O(index) cost for an O(batch) change;
  //   at host grain, 10⁸ keys, a daily fold paid the full index in I/O):
  //   `sketches` is a MULTI-ROW-PER-KEY delta table. A fold commits the
  //   batch's per-key sketch rows as one more [[IndexStore]] write dir
  //   (O(batch) I/O, the index is never read); the read side folds
  //   duplicates with `hll_union_agg` per key; compaction
  //   ([[compactHllIndex]], auto-triggered by part-file count like every
  //   other index family) collapses the table back to one row per key in
  //   one commit.
  //
  //   The manifest pins lgK: a fold or sink at a different lgK than the
  //   index was built with would sketch the batch at the new precision
  //   and make `hll_union_agg` error (or silently degrade) later — the
  //   mirror of the simhash index's maxDist pin. NOTE the estimator
  //   caveat: a STREAMED sketch uses DataSketches' HIP estimator while
  //   union results use the composite estimator, so fold-vs-streamed
  //   estimates may differ within error bounds — fold-vs-fold is
  //   register-identical and compares EXACTLY (the x133 idempotence
  //   gate).

  private def sketchesOf(df: DataFrame, keyCol: String, valueCol: String, lgK: Int): DataFrame =
    df.groupBy(col(keyCol).as("key"))
      .agg(expr(s"hll_sketch_agg($valueCol, $lgK)").as("sketch"))

  /** Initialize the index from a first batch: one HLL sketch per key,
    * with lgK pinned in the manifest.
    */
  def writeHllIndex(spark: SparkSession, path: String, df: DataFrame,
      keyCol: String, valueCol: String, lgK: Int = 12): Unit = {
    val v = IndexStore.nextVersion(spark, path)
    IndexStore.commit(spark, path, IndexStore.Manifest(v, Map("lgK" -> lgK),
      Map("sketches" -> Seq(IndexStore.writeTable(path, "sketches", v,
        sketchesOf(df, keyCol, valueCol, lgK))))))
  }

  /** Fold a batch: commit the batch's per-key sketch rows as a new write
    * dir (O(batch) I/O — the existing index is not read, let alone
    * rewritten). Keys new to the index appear; untouched keys are
    * untouched on disk. A fold whose lgK differs from the index's is
    * rejected (mixed-precision registers do not union). Once the table
    * holds `autoCompactAt` part files the fold compacts it
    * ([[compactHllIndex]]).
    */
  def foldIntoHllIndex(spark: SparkSession, path: String, batch: DataFrame,
      keyCol: String, valueCol: String, lgK: Int = 12,
      autoCompactAt: Int = Dedup.AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val stored = m.long("lgK")
    require(stored == lgK,
      s"HLL index at $path was built at lgK=$stored, fold/sink called with lgK=$lgK " +
        "— mixed-precision registers do not union")
    val v = m.version + 1
    val next = IndexStore.commit(spark, path, m.copy(version = v, tables = Map("sketches" ->
      (m.tables("sketches") :+ IndexStore.writeTable(path, "sketches", v,
        sketchesOf(batch, keyCol, valueCol, lgK))))))
    // registers fold by union, not by file coalesce — a coalesce-only
    // compaction would leave duplicate keys forever
    Dedup.autoCompactTarget(spark, path, next, Seq("sketches"), autoCompactAt)
      .foreach(compactHllIndex(spark, path, _))
  }

  private def unionedSketches(spark: SparkSession, path: String, m: IndexStore.Manifest): DataFrame =
    IndexStore.read(spark, path, m, "sketches")
      .groupBy(col("key")).agg(expr("hll_union_agg(sketch)").as("sketch"))

  /** Collapse the delta table to one row per key (per-key register
    * union), committed as one version.
    */
  def compactHllIndex(spark: SparkSession, path: String, targetFiles: Int = 1): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val m = IndexStore.latest(spark, path)
    val v = m.version + 1
    val sketches = IndexStore.writeTable(path, "sketches", v,
      unionedSketches(spark, path, m).coalesce(targetFiles))
    IndexStore.commit(spark, path, m.copy(version = v, tables = Map("sketches" -> Seq(sketches))))
  }

  /** Per-key approx-distinct estimates from the committed sketches
    * (delta rows for the same key union here).
    */
  def readHllEstimates(spark: SparkSession, path: String): DataFrame =
    unionedSketches(spark, path, IndexStore.latest(spark, path))
      .select(col("key"),
        expr("CAST(hll_sketch_estimate(sketch) AS BIGINT)").as("approx_distinct"))

  def heavyHitters(items: DataFrame, term: Column, minFreq: Long,
      eps: Double = 1e-3, confidence: Double = 0.99, seed: Int = 7): DataFrame = {
    require(minFreq > 0, s"minFreq must be positive, got $minFreq")
    val keyed = items.select(term.as("term"), xxhash64(term).as("__k"))
    val cms = sketch(keyed, col("__k"), eps, confidence, seed)
    keyed
      .filter(graft.functions.CmsFunctions.estimate(col("__k"), cms) >= minFreq)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minFreq)
  }
}
