package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the pretraining-pipeline pass that removes
  * training documents overlapping an evaluation set, so downstream eval
  * numbers measure generalization rather than memorization (the n-gram
  * collision method published in the GPT-3 appendix and its successors).
  *
  * Semantics: a corpus document is contaminated when it shares at least
  * `minHits` DISTINCT word n-gram shingles with any single benchmark
  * document. Shingles are distinct per document ([[Dedup.shingles]]), so
  * `hits` counts shared VOCABULARY, not repeated occurrences — a document
  * that repeats one benchmark phrase 100 times scores 1, not 100.
  *
  * Plan shape at 100 TB: both sides explode to (id, shingle) and meet in
  * ONE equi-join keyed on the shingle. The benchmark side is an eval
  * suite — thousands of documents, millions of shingles — so it
  * broadcasts and the corpus side never shuffles (scan → broadcast join
  * → partial agg).
  *
  * The broadcast SIDE is decided by evidence, not size estimates: the
  * corpus routinely arrives through checkpoint/anti-join subtrees (the
  * [[Curate.run]] composition) whose Catalyst estimates collapse below
  * the broadcast threshold, and the static planner then broadcast-builds
  * the CORPUS side — backwards locally, a driver OOM at 100 TB. So
  * [[overlaps]] probes the bench shingle side with a BOUNDED count
  * (`limit(cap+1).count()` — never scans past the cap, and never touches
  * the corpus): provably-small bench → explicit `broadcast(bench)`;
  * over the cap (decontaminating against another corpus split) → both
  * sides are hinted to a shuffled merge join, so neither unbounded side
  * ever builds an in-memory hash relation — the degradation
  * [[Scd.merge]] was cured of, now guaranteed in BOTH directions.
  */
object Decontaminate {

  /** Max bench shingle rows that still broadcast (~a few hundred MB of
    * short strings — the comfortable hashed-relation band).
    */
  val BenchBroadcastCap: Long = 5000000L

  /** (corpus_id, bench_id, hits): every corpus×benchmark document pair
    * sharing ≥ `minHits` distinct word `n`-gram shingles.
    */
  def overlaps(corpus: DataFrame, idCol: String, text: Column,
      bench: DataFrame, benchIdCol: String, benchText: Column,
      n: Int, minHits: Long = 1L,
      benchBroadcastCap: Long = BenchBroadcastCap,
      maxDf: Int = Dedup.DefaultMaxBucket): DataFrame =
    overlapsFromShingles(
      corpus.select(col(idCol).as("corpus_id"),
        explode(Dedup.shingles(text, n)).as("shingle")),
      bench, benchIdCol, benchText, n, minHits, benchBroadcastCap, maxDf)

  /** [[overlaps]] over a prebuilt corpus shingle frame
    * (`(corpus_id, shingle)`, distinct per document — the
    * [[Dedup.shingleTable]] shape) — use when the corpus shingles
    * already exist for another stage (the [[Curate.run]] composition
    * feeds its near-dup shingle table straight in, skipping a second
    * corpus tokenize+explode).
    *
    * The bench shingle frame is `localCheckpoint`ed: it feeds the
    * bounded side probe AND the join, and unpinned the explode subtree
    * would execute twice (once per consumer). The checkpoint does
    * materialize the full bench side before the bounded count — the
    * trade is one full bench explode against two, and the probe's
    * never-scans-past-the-cap property is retained in spirit: nothing
    * beyond the bench's own size is ever computed.
    *
    * Over-cap degrade guard (`maxDf`): when BOTH sides are corpus-scale
    * (merge-join arm), a shingle hot on both sides is a quadratic
    * pocket — one sort-merge partition emits `df_bench × df_corpus`
    * rows for that key. The guard therefore caps the PRODUCT: shingles
    * with `df_bench · df_corpus > maxDf²` are excluded from the join.
    * One-sided-hot shingles stay in UP TO the product bound — a shingle
    * with df_bench = 1 survives to df_corpus ≤ maxDf² (≈2.7M docs at the
    * default), so a benchmark passage mass-pasted across the corpus is
    * caught far past where a per-side df cap (which would cut it at
    * maxDf, and make classification flip with the bench-size arm choice)
    * gives up; beyond maxDf²/df_bench corpus occurrences even this guard
    * excludes the key, so merge-arm vs broadcast-arm classification can
    * still diverge at that extreme. The excluded-key count is logged to
    * stderr (`decon_product_cap_excluded`) so that recall loss is
    * observable, never silent. The broadcast arm stays uncapped — its
    * pocket is bounded by the bench's in-memory hash relation, and
    * flagged pairs there are exact.
    */
  def overlapsFromShingles(corpusSh: DataFrame,
      bench: DataFrame, benchIdCol: String, benchText: Column,
      n: Int, minHits: Long = 1L,
      benchBroadcastCap: Long = BenchBroadcastCap,
      maxDf: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val c = corpusSh
    val b = bench.select(col(benchIdCol).as("bench_id"),
      explode(Dedup.shingles(benchText, n)).as("shingle"))
      .localCheckpoint()
    // bounded probe of the bench side only (see object scaladoc): decides
    // broadcast-vs-merge from evidence instead of subtree size estimates
    // clamp: a caller-supplied cap near Long.MaxValue must not overflow
    // the limit() Int (negative limit throws; a tiny one misclassifies)
    val probeLimit = math.min(benchBroadcastCap + 1, Int.MaxValue.toLong).toInt
    val benchIsSmall =
      b.limit(probeLimit).count() <= benchBroadcastCap
    val joined =
      if (benchIsSmall) c.join(broadcast(b), Seq("shingle"))
      else {
        // pin: the corpus shingle frame feeds the df aggregate AND the
        // join — unpinned, the full corpus tokenize+explode would execute
        // twice (blocks are ContextCleaner-released with the result)
        val cc = c.localCheckpoint()
        // PRODUCT cap, not per-side df: one merge partition for shingle s
        // emits df_bench(s)·df_corpus(s) rows, so only keys whose PRODUCT
        // exceeds the budget (maxDf², ≈2.7M rows — the same order as the
        // LSH bucket-pair budget) are excluded. One-sided-hot shingles
        // stay in up to the product bound: a benchmark passage mass-
        // pasted into the corpus has df_corpus ≫ cap but df_bench ≈ 1,
        // so it survives to df_corpus ≤ maxDf² where a per-side cap would
        // cut it at maxDf (and make classification depend on which join
        // arm the bench size chose). Past maxDf²/df_bench occurrences the
        // key is excluded even here — the count below makes that loss
        // observable instead of silent.
        val budget = maxDf.toDouble * maxDf.toDouble
        val dfB = b.groupBy(col("shingle")).agg(count(lit(1)).as("__dfb"))
        val dfC = cc.groupBy(col("shingle")).agg(count(lit(1)).as("__dfc"))
        // product compared in DOUBLE: two corpus-scale dfs (~3e9 each)
        // overflow a Long product — wrapping negative would re-admit the
        // hottest pocket (or throw under ANSI); double precision loss at
        // 2^53 is irrelevant for a threshold test
        val hot = dfB.join(dfC, Seq("shingle"))
          .filter(col("__dfb").cast("double") * col("__dfc").cast("double") > budget)
          .select(col("shingle"))
          .localCheckpoint()
        // the checkpoint is eager, so this count is a cached-block scan —
        // excluded keys are a recall loss and must be visible, not silent
        val excluded = hot.count()
        if (excluded > 0)
          System.err.println(
            s"""{"decon_product_cap_excluded":$excluded,"budget":${budget.toLong}}""")
        cc.join(hot, Seq("shingle"), "left_anti").hint("merge")
          .join(b.join(hot, Seq("shingle"), "left_anti").hint("merge"), Seq("shingle"))
      }
    joined
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /** The corpus with contaminated documents removed (anti-join on the
    * flagged id set). Column layout of `corpus` is preserved.
    */
  def clean(corpus: DataFrame, idCol: String, text: Column,
      bench: DataFrame, benchIdCol: String, benchText: Column,
      n: Int, minHits: Long = 1L): DataFrame = {
    val flagged = overlaps(corpus, idCol, text, bench, benchIdCol, benchText, n, minHits)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** [[clean]] against a prebuilt corpus shingle frame (see
    * [[overlapsFromShingles]]); `corpusSh` must cover exactly the
    * documents of `corpus`.
    */
  def cleanFromShingles(corpus: DataFrame, idCol: String, corpusSh: DataFrame,
      bench: DataFrame, benchIdCol: String, benchText: Column,
      n: Int, minHits: Long = 1L): DataFrame = {
    val flagged = overlapsFromShingles(corpusSh, bench, benchIdCol, benchText, n, minHits)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Max bench EMBEDDING rows that still broadcast in [[semanticOverlaps]]
    * (~a few hundred MB of float arrays at dim 64-1024 — smaller than the
    * shingle cap because each row is a dense vector, not a short string).
    */
  val BenchVecBroadcastCap: Long = 300000L

  /** EMBEDDING-space decontamination: `(corpus_id, bench_id, cosine_sim)`
    * for every corpus×benchmark pair with cosine ≥ `threshold` — the
    * paraphrase-contamination gate n-gram collision ([[overlaps]]) cannot
    * see (a reworded benchmark answer shares no 8-gram with the original
    * but sits at cosine ≈ 0.9 in a sentence-embedding space).
    *
    * Arms, decided by the SAME evidence discipline as [[overlaps]] (a
    * bounded `limit(cap+1).count()` probe of the bench side only — the
    * corpus is never counted, and checkpoint-collapsed Catalyst estimates
    * are never trusted with a broadcast decision):
    *
    *   - bench under `benchBroadcastCap` (every real eval suite):
    *     `exact = true` scores ALL corpus×bench pairs through one
    *     broadcast nested-loop pass — |bench| fused dot products per
    *     corpus row, zero shuffle, recall 1.0, and fully value-oracled;
    *     `exact = false` probes only sign-bucket collisions
    *     ([[Similarity.bucketId]], Hamming-1 multi-probe on the bench
    *     side) — ~(numPlanes+1)/2^numPlanes of the bench per corpus row,
    *     the arm for wide benches × huge corpora.
    *   - bench OVER the cap (decontaminating against another corpus
    *     split): exact mode throws (quadratic by definition); bucket mode
    *     degrades to a merge-hinted shuffle join on the bucket key, so
    *     neither unbounded side builds a hash relation. Bucket occupancy
    *     is corpus/2^numPlanes — at this scale `numPlanes` must grow with
    *     log₂(corpus) to keep per-key fan-out bounded, which the require
    *     below enforces coarsely (≥ 16 planes in the over-cap arm).
    *
    * Cosines are exact for every scored pair (buckets only GENERATE
    * candidates), rounded to 6 places for cross-engine stability.
    */
  def semanticOverlaps(corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double, numPlanes: Int = 8, dim: Int = 64,
      exact: Boolean = false,
      benchBroadcastCap: Long = BenchVecBroadcastCap): DataFrame = {
    val b = bench.select(col(benchIdCol).as("bench_id"), col(benchVecCol).as("__bvec"))
      .localCheckpoint() // feeds the bounded probe AND the join once
    val probeLimit = math.min(benchBroadcastCap + 1, Int.MaxValue.toLong).toInt
    val benchCount = b.limit(probeLimit).count()
    // byte-aware license: bench rows carry dim-sized vectors, so the row
    // cap shrinks with dim (the raw row cap alone would license multi-GB
    // broadcasts at dim ≥ 512)
    val effCap = math.min(benchBroadcastCap, Similarity.vecBroadcastRows(dim))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cvec"))
    val scored =
      if (exact) {
        require(benchCount <= effCap,
          s"semanticOverlaps(exact=true) scores all corpus x bench pairs - the bench side " +
            s"exceeded the broadcast license (rows=$benchCount, cap=$effCap at dim=$dim); " +
            s"use the bucketed arm (exact=false)")
        c.crossJoin(broadcast(b))
      } else {
        val planes = Similarity.hyperplanes(numPlanes, dim)
        val cb = c.withColumn("__bucket", Similarity.bucketId(col("__cvec"), planes))
        // bench probes its own bucket + every Hamming-1 neighbor; a corpus
        // vector lives in exactly one bucket, so each pair scores once
        val bb = b
          .withColumn("__b0", Similarity.bucketId(col("__bvec"), planes))
          .withColumn("__bucket",
            explode(array((col("__b0") +:
              (0 until numPlanes).map(i => col("__b0").bitwiseXOR(lit(1L << i)))): _*)))
          .drop("__b0")
        // the BROADCAST relation here is the EXPLODED frame — numPlanes+1
        // full-vector rows per bench row — so the cap the probe enforced
        // on raw rows shrinks by that factor before it licenses one
        if (benchCount <= math.max(1L, effCap / (numPlanes + 1)))
          cb.join(broadcast(bb), Seq("__bucket"))
        else {
          // a mid-band bench (over the broadcast budget but under the raw
          // cap) is still provably bounded — merge join is safe as-is; the
          // plane demand applies only to a TRULY unbounded bench (the
          // probe hit cap+1), where per-bucket fan-out is
          // |corpus|/2^planes × |bench|/2^planes
          if (benchCount > benchBroadcastCap)
            require(numPlanes >= 16,
              s"over-cap bench with $numPlanes planes: bucket fan-out is |corpus|/2^planes " +
                s"per key - raise numPlanes to >= 16 before joining two corpus-scale sides")
          cb.hint("merge").join(bb.hint("merge"), Seq("__bucket"))
        }
      }
    scored
      .withColumn("cosine_sim", round(Similarity.cosine(col("__cvec"), col("__bvec")), 6))
      .filter(col("cosine_sim") >= threshold)
      .select(col("corpus_id"), col("bench_id"), col("cosine_sim"))
  }

  /** The corpus with semantically contaminated documents removed (anti-
    * join on the [[semanticOverlaps]] flag set). Column layout of
    * `corpus` is preserved; `corpus` must carry the embedding column.
    */
  def semanticClean(corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double, numPlanes: Int = 8, dim: Int = 64,
      exact: Boolean = false): DataFrame = {
    val flagged = semanticOverlaps(corpus, idCol, vecCol,
        bench, benchIdCol, benchVecCol, threshold, numPlanes, dim, exact)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  // — persisted BENCH n-gram index (incremental decontamination) ——————————
  //   [[overlaps]] re-explodes and re-shingles the benchmark suite on
  //   every call — pure rebuild for state that changes only when a new
  //   eval task ships. The deployment shape is incremental: the eval
  //   suite is indexed ONCE, every corpus batch (a daily crawl) probes
  //   it. The index is the decontamination member of the persisted-index
  //   family ([[Dedup.writeHashIndex]] / band / vec / paragraph): a
  //   compact on-disk shingle-pair table, a per-shingle doc-frequency
  //   table (precomputing the merge-arm product guard's bench side), and
  //   a driver-resident Bloom sketch over the shingles — so the crawl
  //   common case (a batch shingle that appears in NO benchmark) costs
  //   one sketch probe and never touches the join at all.

  /** A loaded persistent bench index. `pairs`/`dfs` are lazy parquet
    * frames; only the sketch is driver-held. `n` rides in the manifest so
    * a batch can never shingle at a different grain than the index.
    */
  final case class BenchIndex(
      pairs: DataFrame, // (shingle, bench_id) — distinct per bench doc
      dfs: DataFrame,   // (shingle, __dfb)    — bench doc-frequency
      bloom: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long, fpp: Double, n: Int)

  /** Persist a benchmark suite's shingle state as an [[IndexStore]]
    * version: `pairs` and `dfs` tables, a sketch over the shingles, and
    * `n`, `expectedItems` and `fpp` in the manifest. `dfs` and the sketch
    * build from the PERSISTED pair table, so the artifacts can never
    * disagree about membership.
    */
  def writeBenchIndex(bench: DataFrame, benchIdCol: String, benchText: Column,
      n: Int, path: String, expectedItems: Long, fpp: Double = 0.01): Unit = {
    require(n >= 1, s"shingle n must be >= 1, got $n")
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    val spark = bench.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    val pairs = IndexStore.writeTable(path, "pairs", v,
      bench.select(col(benchIdCol).as("bench_id"),
        explode(Dedup.shingles(benchText, n)).as("shingle")))
    val dfs = writeDfs(spark, path, v, Seq(pairs))
    val bf = Dedup.bloomOf(IndexStore.read(spark, path, "dfs", Seq(dfs)),
      xxhash64(col("shingle")), expectedItems, fpp)
    IndexStore.commit(spark, path, IndexStore.Manifest(v,
      Map("n" -> n, "expectedItems" -> expectedItems, "fpp" -> fpp),
      Map("pairs" -> Seq(pairs), "dfs" -> Seq(dfs)),
      IndexStore.writeSketch(spark, path, v, bf, expectedItems, fpp)))
  }

  /** The per-shingle bench doc-frequency over every `pairs` dir, as
    * version `v`'s `dfs` dir (an aggregate — appending would
    * double-count).
    */
  private def writeDfs(spark: org.apache.spark.sql.SparkSession, path: String, v: Long,
      pairs: Seq[IndexStore.WriteDir]): IndexStore.WriteDir =
    IndexStore.writeTable(path, "dfs", v, IndexStore.read(spark, path, "pairs", pairs)
      .groupBy(col("shingle")).agg(count(lit(1)).as("__dfb")))

  /** Load the committed bench index. */
  def readBenchIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): BenchIndex =
    readBenchIndex(spark, path, IndexStore.latest(spark, path))

  private def readBenchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest): BenchIndex =
    BenchIndex(IndexStore.read(spark, path, m, "pairs"), IndexStore.read(spark, path, m, "dfs"),
      IndexStore.readSketch(spark, path, m)._1, m.long("expectedItems"), m.double("fpp"),
      m.long("n").toInt)

  /** [[overlaps]] against a persisted [[BenchIndex]] — IDENTICAL
    * classification to the live operator on the same inputs, with the
    * bench side never re-shingled. Per-batch cost at 100 TB: the batch
    * explode, a sketch probe per batch shingle (the crawl common case —
    * a shingle in no benchmark — ends here), and the join of the sketch
    * positives against the compact pair table. Arms follow the
    * [[overlapsFromShingles]] evidence discipline: a bounded
    * `limit(cap+1).count()` of the on-disk PAIR table (never an
    * estimate) licenses the broadcast; over the cap the join degrades to
    * merge with the SAME df-product hot-key guard — whose bench side
    * (`__dfb`) is precomputed in the index, so the guard costs one
    * batch-side aggregate instead of two.
    */
  def overlapsIndexed(index: BenchIndex, corpus: DataFrame, idCol: String,
      text: Column, minHits: Long = 1L,
      benchBroadcastCap: Long = BenchBroadcastCap,
      maxDf: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val sh = corpus.select(col(idCol).as("corpus_id"),
      explode(Dedup.shingles(text, index.n)).as("shingle"))
    // Bloom-negative batch shingles are certainly not in any benchmark
    // (no false negatives) and skip the join; positives verify exactly
    val pos = sh.filter(
      graft.functions.BloomFunctions.mightContain(xxhash64(col("shingle")), index.bloom))
    val probeLimit = math.min(benchBroadcastCap + 1, Int.MaxValue.toLong).toInt
    val benchIsSmall = index.pairs.limit(probeLimit).count() <= benchBroadcastCap
    val joined =
      if (benchIsSmall) pos.join(broadcast(index.pairs), Seq("shingle"))
      else {
        // pin: the pruned batch side feeds the df aggregate AND the join
        val cc = pos.localCheckpoint()
        val budget = maxDf.toDouble * maxDf.toDouble
        val dfC = cc.groupBy(col("shingle")).agg(count(lit(1)).as("__dfc"))
        // dfC over the PRUNED frame is exact for every key that can
        // reach the join: a shingle present in the index passes the
        // sketch on every occurrence (same key → same probe), so its
        // post-prune df equals its full-corpus df; keys the sketch
        // admitted spuriously may be excluded spuriously — they produce
        // no join rows either way
        val hot = index.dfs.join(dfC, Seq("shingle"))
          .filter(col("__dfb").cast("double") * col("__dfc").cast("double") > budget)
          .select(col("shingle"))
          .localCheckpoint()
        val excluded = hot.count()
        if (excluded > 0)
          System.err.println(
            s"""{"decon_product_cap_excluded":$excluded,"budget":${budget.toLong}}""")
        cc.join(hot, Seq("shingle"), "left_anti").hint("merge")
          .join(index.pairs.join(hot, Seq("shingle"), "left_anti").hint("merge"),
            Seq("shingle"))
      }
    joined
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /** [[clean]] against a persisted [[BenchIndex]]. */
  def cleanIndexed(index: BenchIndex, corpus: DataFrame, idCol: String,
      text: Column, minHits: Long = 1L): DataFrame = {
    val flagged = overlapsIndexed(index, corpus, idCol, text, minHits)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Fold newly shipped benchmark documents into a persisted bench index
    * without rebuilding it: new (shingle, bench_id) pairs anti-join the
    * existing table (idempotent re-ingest), their shingles merge into the
    * sketch as a bit-compatible delta, `dfs` is recomputed over the whole
    * pair table, and the new pair dir, `dfs` and sketch commit as one
    * version (a batch with nothing new commits nothing). A crash before
    * the commit leaves the previous version current — no reader ever sees
    * pairs without their sketch keys (a missed bench shingle is a missed
    * CONTAMINATION, the one failure direction decontamination must not
    * have) or a `dfs` stale against its pairs.
    */
  def appendToBenchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newBench: DataFrame, benchIdCol: String, benchText: Column,
      autoCompactAt: Int = Dedup.AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val idx = readBenchIndex(spark, path, m)
    val fresh = newBench.select(col(benchIdCol).as("bench_id"),
        explode(Dedup.shingles(benchText, idx.n)).as("shingle"))
      .join(idx.pairs, Seq("shingle", "bench_id"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return
    idx.bloom.mergeInPlace(Dedup.bloomOf(fresh.select(col("shingle")).distinct(),
      xxhash64(col("shingle")), idx.expectedItems, idx.fpp))
    val v = m.version + 1
    val pairs = m.tables("pairs") :+ IndexStore.writeTable(path, "pairs", v, fresh)
    val next = IndexStore.commit(spark, path, m.copy(version = v,
      tables = Map("pairs" -> pairs, "dfs" -> Seq(writeDfs(spark, path, v, pairs))),
      sketch = IndexStore.writeSketch(spark, path, v, idx.bloom, idx.expectedItems, idx.fpp)))
    Dedup.autoCompactTarget(spark, path, next, Seq("pairs"), autoCompactAt)
      .foreach(compactBenchIndex(spark, path, _))
  }

  /** Small-file maintenance for the append deltas
    * ([[Dedup.compactIndexTables]] over the pair table; `dfs` is excluded
    * — each append already rewrites it whole).
    */
  def compactBenchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 1): Unit =
    Dedup.compactIndexTables(spark, path, Seq("pairs"), targetFiles)
}
