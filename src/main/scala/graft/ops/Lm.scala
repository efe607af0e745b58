package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED n-gram language model — the missing half of the LM fluency
  * family: [[TextStats.lmAnnotate]] scores through a small PINNED unigram
  * table; this trains a bigram model from a reference corpus and scores
  * through it, the CCNet shape (Wenzek et al. '20: rank web documents by
  * the perplexity of an LM trained on clean text, keep the fluent head).
  *
  * The model is STUPID BACKOFF (Brants et al. '07, "Large Language Models
  * in Machine Translation") — the estimator built FOR distributed
  * training on web-scale corpora: no discounting, no normalization
  * constants, just count ratios with a fixed backoff penalty,
  *
  *   S(w₂|w₁) = c(w₁w₂)/c(w₁)         if the bigram was kept
  *            = 0.4 · p_uni(w₂)        otherwise,
  *   p_uni(w) = (c(w) + 1)/(N + V + 1) over a top-K vocabulary with all
  *              other tokens folded into `<unk>` (add-1 so an unseen-in-
  *              vocab stream still scores).
  *
  * Engine-portable determinism (the [[Classify.train]] discipline): every
  * model entry quantizes ONCE at train time to an integer centi-log10
  * (`floor(100·log10(ratio) + 0.5)` — with α = 1 both ratio operands are
  * exact integers, so the whole entry is two IEEE ops), the backoff
  * penalty is the pinned integer [[BackoffCenti]] = ⌊100·log10(0.4)⌉, and
  * a document's score is an exact order-free integer SUM of entry values
  * — deterministic under any partitioning/retry, value-oracle-checkable
  * cross-engine, and `10^(−mean/100)` away from perplexity (monotone, so
  * the gate never computes `pow`).
  *
  * 100-TB shape: training is two corpus scans (KenLM counts the same
  * way) — tokenize → map-side-combined unigram count, tokenize → map-side-
  * combined bigram count — each shuffling only DISTINCT-term rows; the
  * vocabulary/bigram caps are `TakeOrdered` (no global sort) and bound
  * the model at `vocabSize + bigramSize + 1` rows, so scoring ships the
  * model as two `typedlit` map literals and stays a SHUFFLE-FREE
  * codegen'd projection, exactly like [[Classify.annotateWith]]. A real
  * CCNet deployment prunes KenLM to ship it; the caps are that pruning.
  */
object Lm {

  /** OOV fold symbol — [[TextStats.lmTokens]] are `[a-z0-9]+` runs, so no
    * corpus token can collide with it.
    */
  val Unk = "<unk>"

  /** Pinned stupid-backoff penalty: ⌊100·log10(0.4) + 0.5⌋ = −40.
    * Quantized SEPARATELY from the unigram entry it adds to (sum of two
    * quantized integers, not a quantization of the sum) so both engines
    * compose scores from the same integer pieces.
    */
  val BackoffCenti = -40L

  /** Bucket thresholds on the mean centi-log10 per token, the
    * [[TextStats.lmAnnotate]] convention (compare means, never 10^x).
    */
  val HeadThreshold: Double = -3.2
  val MiddleThreshold: Double = -4.5

  private def bigramsOf(toksE: Column): Column =
    graft.Canonical.bindOnce(toksE) { toks =>
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
    }

  private def trigramsOf(toksE: Column): Column =
    graft.Canonical.bindOnce(toksE) { toks =>
      when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>"))
    }

  /** The model's SUFFICIENT STATISTICS: raw (unfolded) unigram and bigram
    * counts as `(kind 'uni'|'bi', term, n)` — ONE corpus scan (both
    * grains explode together into one map-side-combined count shuffle,
    * bounded post-shuffle by the distinct-term space). Counts are
    * ADDITIVE: [[mergeCounts]] of two batches' statistics equals the
    * statistics of the union EXACTLY, which is what makes retraining
    * incremental — the `<unk>` fold is a per-token map, so it COMMUTES
    * with counting (folded-bigram counts re-aggregate from raw counts in
    * [[modelFromCounts]]), and the top-K caps apply only at model-compile
    * time over the merged counts. The daily pipeline persists this frame
    * as parquet and folds each batch in — the [[Classify.mergeTrained]]
    * contract at LM scale (KenLM's count files are exactly this table).
    */
  def trainCounts(ref: DataFrame, textCol: String = "text"): DataFrame = {
    // kind rides as an unambiguous 2-char tag ("u "/"b ") so both grains
    // share one explode + one count shuffle; tokens are [a-z0-9]+ so the
    // tag can never collide with content
    val tagged = graft.Canonical.bindOnce(
        TextStats.lmTokens(coalesce(col(textCol), lit("")))) { toks =>
      concat(
        transform(toks, t => concat(lit("u "), t)),
        transform(bigramsOf(toks), b => concat(lit("b "), b)))
    }
    ref.select(explode(tagged).as("__kt"))
      .groupBy(col("__kt")).agg(count(lit(1)).as("n"))
      .select(
        when(substring(col("__kt"), 1, 2) === "u ", "uni").otherwise("bi").as("kind"),
        expr("substring(__kt, 3)").as("term"),
        col("n"))
  }

  /** [[trainCounts]] with the TRIGRAM grain included (`kind = 'tri'`,
    * raw unfolded counts) — still ONE corpus scan (all three grains
    * explode together), still ADDITIVE (so [[mergeCounts]] and the
    * incremental-retrain contract carry over unchanged). A separate
    * function, not a flag: the bigram pipeline's cost and x101/x102
    * hashes stay byte-identical.
    */
  def trainCounts3(ref: DataFrame, textCol: String = "text"): DataFrame = {
    val tagged = graft.Canonical.bindOnce(
        TextStats.lmTokens(coalesce(col(textCol), lit("")))) { toks =>
      concat(
        transform(toks, t => concat(lit("u "), t)),
        transform(bigramsOf(toks), b => concat(lit("b "), b)),
        transform(trigramsOf(toks), g => concat(lit("t "), g)))
    }
    ref.select(explode(tagged).as("__kt"))
      .groupBy(col("__kt")).agg(count(lit(1)).as("n"))
      .select(
        when(substring(col("__kt"), 1, 2) === "u ", "uni")
          .when(substring(col("__kt"), 1, 2) === "b ", "bi")
          .otherwise("tri").as("kind"),
        expr("substring(__kt, 3)").as("term"),
        col("n"))
  }

  // — persisted COUNTS index: the "daily pipeline persists this frame
  //   and folds each batch in" shape the trainCounts scaladoc promises,
  //   made crash-safe and replay-idempotent —————————————————————————————

  /** Ledger kind for folded batch ids. Rides INSIDE the counts table
    * (one row per folded batch, `term = batchId`), so the ledger and the
    * counts can never disagree: each fold commits the whole table as one
    * [[IndexStore]] version.
    */
  val BatchKind = "__batch"

  /** Initialize a persisted counts index (empty or from an existing
    * statistics frame — which must carry no [[BatchKind]] rows).
    */
  def writeCountsIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      counts: Option[DataFrame] = None): Unit = {
    import spark.implicits._
    val base = counts.getOrElse(
      Seq.empty[(String, String, Long)].toDF("kind", "term", "n"))
    commitCounts(spark, path, IndexStore.Manifest(IndexStore.nextVersion(spark, path),
      Map.empty, Map.empty), base.select(col("kind"), col("term"), col("n")))
  }

  /** `counts` as the whole `counts` table of version `next.version`,
    * committed. Shared by the counts-table indexes (this one and
    * [[Sampling.foldIntoSourceTokenIndex]]'s).
    */
  private[graft] def commitCounts(spark: org.apache.spark.sql.SparkSession, path: String,
      next: IndexStore.Manifest, counts: DataFrame): Unit =
    IndexStore.commit(spark, path, next.copy(tables = Map("counts" ->
      Seq(IndexStore.writeTable(path, "counts", next.version, counts)))))

  /** The committed `counts` table, ledger rows included. */
  private[graft] def countsTable(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    IndexStore.read(spark, path, IndexStore.latest(spark, path), "counts")

  /** Load the statistics from a persisted counts index (ledger rows
    * filtered out). Feed to [[modelFromCounts]] / [[modelFromCounts3]].
    */
  def readCountsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    countsTable(spark, path).filter(col("kind") =!= BatchKind)

  /** Batch ids already folded into the index. */
  def foldedBatches(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[String] =
    countsTable(spark, path).filter(col("kind") === BatchKind)
      .select(col("term")).collect().map(_.getString(0)).toSet

  /** Fold one document batch into a persisted counts index — EXACT
    * incremental retraining at production cadence: counts are additive
    * sufficient statistics, so the folded table equals
    * `trainCounts3(all folded batches' union)` row for row, whatever the
    * fold order. Idempotent under replay (`batchId` already in the
    * ledger → no-op, returns false) and crash-safe: the merged table
    * (counts AND ledger) is written whole and committed as the next
    * [[IndexStore]] version — a crash before the commit leaves the old
    * index current. Cost per fold: the batch scan + one
    * distinct-term-bounded merge aggregate; nothing corpus-scale — the
    * ledger check is a pruned single-row lookup, not a driver collect of
    * every folded batch id (round 15).
    *
    * SINGLE WRITER per index path: two concurrent folds read the same
    * version and race to commit the next one — the second fails its
    * commit rather than silently discarding the first fold's counts, but
    * both wrote that version's one write dir, so serialize folds per path
    * ([[Sampling.foldIntoSourceTokenIndex]] inherits the same rule).
    */
  def foldIntoCountsIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batchId: String, docs: DataFrame, textCol: String = "text"): Boolean = {
    import spark.implicits._
    require(batchId.nonEmpty, "batchId must be non-empty")
    val m = IndexStore.latest(spark, path)
    val current = IndexStore.read(spark, path, m, "counts") // incl. ledger rows
    val already = current.filter(col("kind") === BatchKind && col("term") === batchId)
      .limit(1).count() > 0
    if (already) return false
    commitCounts(spark, path, m.copy(version = m.version + 1),
      mergeCounts(current, trainCounts3(docs, textCol))
        .unionByName(Seq((BatchKind, batchId, 1L)).toDF("kind", "term", "n")))
    true
  }

  /** Merge two [[trainCounts]] frames into the exact statistics of the
    * combined corpus (counts are additive) — cost one
    * distinct-term-bounded aggregate, nothing corpus-scale.
    */
  def mergeCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("kind"), col("term"), col("n"))
      .unionByName(b.select(col("kind"), col("term"), col("n")))
      .groupBy(col("kind"), col("term")).agg(sum(col("n")).as("n"))

  /** Compile a model from [[trainCounts]] statistics. Returns the model
    * as a frame of `(kind, term, n, centi)`:
    *   - `kind = "uni"`: one row per vocabulary term plus the [[Unk]]
    *     fold; `n` is the term's corpus count (for [[Unk]], the total
    *     out-of-vocabulary token mass) and
    *     `centi = ⌊100·log10((n+α)/(N+α·(V+1))) + 0.5⌋`;
    *   - `kind = "bi"`: the kept bigrams over the [[Unk]]-folded token
    *     stream; `n = c(w₁w₂)` and `centi = ⌊100·log10(n/c(w₁)) + 0.5⌋`
    *     (≤ 0 always — a bigram occurrence is a `w₁` occurrence).
    *
    * Vocabulary = top `vocabSize` tokens, bigrams = top `bigramSize` with
    * count ≥ `minBigramCount`, both by the deterministic total order
    * (count DESC, term ASC) — ties can never make two runs disagree.
    * Every input is a COUNT table: compiling touches distinct terms only,
    * never the corpus.
    */
  def modelFromCounts(counts: DataFrame, vocabSize: Int = 1024,
      bigramSize: Int = 4096, minBigramCount: Long = 2L,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    val spark = counts.sparkSession
    import spark.implicits._
    // pinned: the statistics feed the top-K election, the total-mass
    // aggregate AND the bigram fold below (unpinned, each consumer would
    // re-run whatever produced them — possibly the corpus scan)
    val pinned = counts.localCheckpoint()
    val uniCounts = pinned.filter(col("kind") === "uni").select(col("term"), col("n"))
    val vocabRows: Array[(String, Long)] = uniCounts
      .orderBy(col("n").desc, col("term").asc).limit(vocabSize)
      .as[(String, Long)].collect()
    val totalN: Long = uniCounts.agg(coalesce(sum(col("n")), lit(0L)))
      .as[Long].head()
    val vocabN: Map[String, Long] = vocabRows.toMap
    val unkN: Long = totalN - vocabRows.map(_._2).sum
    val v = vocabRows.length
    // exact-integer denominator at the α = 1 default (N + V + 1 < 2⁵³);
    // the oracle rebuilds the same double from the same integers
    val denom = totalN + alpha * (v + 1)
    val uniModel = (vocabRows.toSeq :+ (Unk, unkN)).toDF("term", "n")
      .withColumn("centi",
        floor(log10((col("n") + lit(alpha)) / lit(denom)) * lit(100.0) + lit(0.5))
          .cast("long"))

    // bigrams: fold the RAW bigram counts through the vocabulary (the
    // fold is a per-token map, so summing raw counts per folded key is
    // EXACTLY counting the folded stream) and re-aggregate — a
    // distinct-bigram-bounded shuffle, no second corpus pass. The
    // vocabulary rides as a map literal; no join anywhere.
    val vset = typedlit(vocabN)
    def foldTerm(t: Column): Column =
      when(element_at(vset, t).isNotNull, t).otherwise(lit(Unk))
    val c1 = typedlit(vocabN + (Unk -> unkN))
    val biModel = pinned.filter(col("kind") === "bi")
      .select(graft.Canonical.bindOnce(split(col("term"), " ")) { parts =>
        concat_ws(" ", foldTerm(parts.getItem(0)), foldTerm(parts.getItem(1)))
      }.as("term"), col("n"))
      .groupBy(col("term")).agg(sum(col("n")).as("n"))
      .filter(col("n") >= lit(minBigramCount))
      .orderBy(col("n").desc, col("term").asc).limit(bigramSize)
      .withColumn("centi",
        floor(log10(col("n").cast("double") /
            element_at(c1, split(col("term"), " ").getItem(0)).cast("double"))
          * lit(100.0) + lit(0.5)).cast("long"))

    uniModel.select(lit("uni").as("kind"), col("term"), col("n"), col("centi"))
      .unionByName(
        biModel.select(lit("bi").as("kind"), col("term"), col("n"), col("centi")))
  }

  /** Train a stupid-backoff bigram model from `ref` —
    * `modelFromCounts(trainCounts(ref))`: one corpus scan for the
    * statistics, then distinct-term-bounded compilation.
    */
  def train(ref: DataFrame, textCol: String = "text", vocabSize: Int = 1024,
      bigramSize: Int = 4096, minBigramCount: Long = 2L,
      alpha: Double = 1.0): DataFrame =
    modelFromCounts(trainCounts(ref, textCol), vocabSize, bigramSize,
      minBigramCount, alpha)

  /** Compile a TRIGRAM stupid-backoff model from [[trainCounts3]]
    * statistics: the [[modelFromCounts]] uni/bi rows plus `kind = "tri"`
    * rows — the kept trigrams over the [[Unk]]-folded stream, `n =
    * c(w₁w₂w₃)` and `centi = ⌊100·log10(n / c(w₁w₂)) + 0.5⌋` (≤ 0 always;
    * the denominator is the FULL folded bigram count, not the capped
    * model table — a trigram's backing bigram may have lost the bigram
    * top-K and its ratio must not change because of it). The fold
    * commutes with counting exactly as at the bigram grain; the
    * denominator attaches by a distinct-bigram-bounded JOIN (unlike the
    * bigram grain's V+1-bounded map literal, folded-bigram space is not
    * driver-safe). Caps: top `trigramSize` by (count DESC, term ASC)
    * with count ≥ `minTrigramCount`.
    */
  def modelFromCounts3(counts: DataFrame, vocabSize: Int = 1024,
      bigramSize: Int = 4096, trigramSize: Int = 4096,
      minBigramCount: Long = 2L, minTrigramCount: Long = 2L,
      alpha: Double = 1.0): DataFrame = {
    // pinned once; modelFromCounts re-pins its own copy (cheap — the
    // frame is already distinct-term-bounded)
    val pinned = counts.localCheckpoint()
    val base = modelFromCounts(pinned, vocabSize, bigramSize, minBigramCount, alpha)
      .localCheckpoint() // feeds the vocab fold below AND the union
    val vocabN: Map[String, Long] = base
      .filter(col("kind") === "uni" && col("term") =!= Unk)
      .select(col("term"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vset = typedlit(vocabN)
    def foldTerm(t: Column): Column =
      when(element_at(vset, t).isNotNull, t).otherwise(lit(Unk))
    def foldedKey(parts: Column, upTo: Int): Column =
      concat_ws(" ", (0 until upTo).map(i => foldTerm(parts.getItem(i))): _*)
    // FULL folded bigram counts (no min filter, no cap) — the denominators
    val biFull = pinned.filter(col("kind") === "bi")
      .select(graft.Canonical.bindOnce(split(col("term"), " ")) { p =>
        foldedKey(p, 2)
      }.as("__prefix"), col("n"))
      .groupBy(col("__prefix")).agg(sum(col("n")).as("__pn"))
    val triModel = pinned.filter(col("kind") === "tri")
      .select(graft.Canonical.bindOnce(split(col("term"), " ")) { p =>
        foldedKey(p, 3)
      }.as("term"), col("n"))
      .groupBy(col("term")).agg(sum(col("n")).as("n"))
      .filter(col("n") >= lit(minTrigramCount))
      .orderBy(col("n").desc, col("term").asc).limit(trigramSize)
      .withColumn("__prefix", graft.Canonical.bindOnce(split(col("term"), " ")) { p =>
        concat_ws(" ", p.getItem(0), p.getItem(1))
      })
      .join(biFull, Seq("__prefix"))
      .withColumn("centi",
        floor(log10(col("n").cast("double") / col("__pn").cast("double"))
          * lit(100.0) + lit(0.5)).cast("long"))
    base.unionByName(
      triModel.select(lit("tri").as("kind"), col("term"), col("n"), col("centi")))
  }

  /** Train a TRIGRAM stupid-backoff model —
    * `modelFromCounts3(trainCounts3(ref))`.
    */
  def train3(ref: DataFrame, textCol: String = "text", vocabSize: Int = 1024,
      bigramSize: Int = 4096, trigramSize: Int = 4096,
      minBigramCount: Long = 2L, minTrigramCount: Long = 2L,
      alpha: Double = 1.0): DataFrame =
    modelFromCounts3(trainCounts3(ref, textCol), vocabSize, bigramSize,
      trigramSize, minBigramCount, minTrigramCount, alpha)

  /** Collect a [[train]]ed model into the two driver-side maps
    * [[annotateWith]] scores through (bounded by
    * `vocabSize + bigramSize + 1` rows by construction).
    */
  def tables(model: DataFrame): (Map[String, Long], Map[String, Long]) = {
    val rows = model.select(col("kind"), col("term"), col("centi")).collect()
    val uni = rows.filter(_.getString(0) == "uni")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val bi = rows.filter(_.getString(0) == "bi")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    require(uni.contains(Unk), s"model has no '$Unk' row — not a Lm.train output")
    (uni, bi)
  }

  /** Score documents through a trained model — per-document columns
    *   - `slm_n_toks`      — token count (long);
    *   - `slm_centi_sum`   — exact integer score: the first token pays
    *     its unigram entry, every later token pays its bigram entry or
    *     (backoff) its unigram entry + [[BackoffCenti]];
    *   - `slm_mean_log10p` — `centi_sum / (100·n)`,
    *     [[graft.Canonical.round4]]ed (null for token-free documents);
    *   - `slm_bucket`      — head / middle / tail.
    *
    * Every folded token hits the unigram map by construction (vocab ∪
    * [[Unk]]), so scoring is total — no OOV floor, no nulls mid-sum.
    */
  def annotateWith(docs: DataFrame, uni: Map[String, Long], bi: Map[String, Long],
      textCol: String = "text", headThr: Double = HeadThreshold,
      midThr: Double = MiddleThreshold): DataFrame = {
    require(uni.contains(Unk), s"unigram table has no '$Unk' entry")
    val uniLut = typedlit(uni)
    val biLut = if (bi.isEmpty) typedlit(Map("" -> 0L)) else typedlit(bi)
    val unkCenti = lit(uni(Unk))
    // NULL text scores like the empty document (0 tokens → tail), never a
    // null-poisoned row: unguarded, size(null) nulls slm_n_toks here while
    // the SQL twin's unnest(NULL) DROPS the document — a silent
    // cross-engine row-count divergence (the x92 null-contract lesson)
    val textSafe = coalesce(col(textCol), lit(""))
    val folded = graft.Canonical.bindOnce(TextStats.lmTokens(textSafe)) { toks =>
      transform(toks, t => when(element_at(uniLut, t).isNotNull, t).otherwise(lit(Unk)))
    }
    val centiSum = graft.Canonical.bindOnce(folded) { m =>
      def uniOf(t: Column): Column = coalesce(element_at(uniLut, t), unkCenti)
      val first = when(size(m) >= 1, uniOf(element_at(m, 1))).otherwise(lit(0L))
      val rest = when(size(m) >= 2,
        aggregate(sequence(lit(2), size(m)), lit(0L), (acc, i) =>
          acc + coalesce(
            element_at(biLut,
              concat_ws(" ", element_at(m, i - 1), element_at(m, i))),
            uniOf(element_at(m, i)) + lit(BackoffCenti)))).otherwise(lit(0L))
      first + rest
    }
    val mean = graft.Canonical.round4(
      col("slm_centi_sum").cast("double") / (lit(100.0) * col("slm_n_toks")))
    docs
      .withColumn("slm_n_toks", size(TextStats.lmTokens(textSafe)).cast("long"))
      .withColumn("slm_centi_sum", centiSum)
      .withColumn("slm_mean_log10p", when(col("slm_n_toks") > 0, mean))
      .withColumn("slm_bucket",
        when(col("slm_mean_log10p") >= headThr, "head")
          .when(col("slm_mean_log10p") >= midThr, "middle")
          .otherwise("tail"))
  }

  /** [[annotateWith]] over a model FRAME (collects it — driver-bounded by
    * the train caps).
    */
  def annotate(docs: DataFrame, model: DataFrame, textCol: String = "text",
      headThr: Double = HeadThreshold, midThr: Double = MiddleThreshold): DataFrame = {
    val (u, b) = tables(model)
    annotateWith(docs, u, b, textCol, headThr, midThr)
  }

  /** Collect a [[train3]]ed model into the three driver-side maps
    * (bounded by `vocabSize + bigramSize + trigramSize + 1` rows).
    */
  def tables3(model: DataFrame): (Map[String, Long], Map[String, Long], Map[String, Long]) = {
    val rows = model.select(col("kind"), col("term"), col("centi")).collect()
    def of(k: String) = rows.filter(_.getString(0) == k)
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val uni = of("uni")
    require(uni.contains(Unk), s"model has no '$Unk' row — not a Lm.train3 output")
    (uni, of("bi"), of("tri"))
  }

  /** Score documents through a TRIGRAM stupid-backoff model — the
    * [[annotateWith]] columns with the recursive backoff
    *
    *   token 1: unigram;
    *   token 2: bigram, or backoff → unigram + [[BackoffCenti]];
    *   token i ≥ 3: trigram, or backoff → [[BackoffCenti]] + (bigram, or
    *     backoff → unigram + [[BackoffCenti]])
    *
    * — every arm an exact integer, the whole score an order-free SUM, so
    * the scoring stays a shuffle-free codegen'd projection over three
    * `typedlit` map literals.
    */
  def annotateWith3(docs: DataFrame, uni: Map[String, Long],
      bi: Map[String, Long], tri: Map[String, Long], textCol: String = "text",
      headThr: Double = HeadThreshold, midThr: Double = MiddleThreshold): DataFrame = {
    require(uni.contains(Unk), s"unigram table has no '$Unk' entry")
    val uniLut = typedlit(uni)
    val biLut = if (bi.isEmpty) typedlit(Map("" -> 0L)) else typedlit(bi)
    val triLut = if (tri.isEmpty) typedlit(Map("" -> 0L)) else typedlit(tri)
    val unkCenti = lit(uni(Unk))
    val textSafe = coalesce(col(textCol), lit(""))
    val folded = graft.Canonical.bindOnce(TextStats.lmTokens(textSafe)) { toks =>
      transform(toks, t => when(element_at(uniLut, t).isNotNull, t).otherwise(lit(Unk)))
    }
    val centiSum = graft.Canonical.bindOnce(folded) { m =>
      def uniOf(t: Column): Column = coalesce(element_at(uniLut, t), unkCenti)
      def biScore(i: Column): Column = coalesce(
        element_at(biLut, concat_ws(" ", element_at(m, i - 1), element_at(m, i))),
        uniOf(element_at(m, i)) + lit(BackoffCenti))
      val first = when(size(m) >= 1, uniOf(element_at(m, 1))).otherwise(lit(0L))
      val second = when(size(m) >= 2, biScore(lit(2))).otherwise(lit(0L))
      val rest = when(size(m) >= 3,
        aggregate(sequence(lit(3), size(m)), lit(0L), (acc, i) =>
          acc + coalesce(
            element_at(triLut, concat_ws(" ",
              element_at(m, i - 2), element_at(m, i - 1), element_at(m, i))),
            lit(BackoffCenti) + biScore(i)))).otherwise(lit(0L))
      first + second + rest
    }
    val mean = graft.Canonical.round4(
      col("slm_centi_sum").cast("double") / (lit(100.0) * col("slm_n_toks")))
    docs
      .withColumn("slm_n_toks", size(TextStats.lmTokens(textSafe)).cast("long"))
      .withColumn("slm_centi_sum", centiSum)
      .withColumn("slm_mean_log10p", when(col("slm_n_toks") > 0, mean))
      .withColumn("slm_bucket",
        when(col("slm_mean_log10p") >= headThr, "head")
          .when(col("slm_mean_log10p") >= midThr, "middle")
          .otherwise("tail"))
  }

  /** [[annotateWith3]] over a model FRAME. */
  def annotate3(docs: DataFrame, model: DataFrame, textCol: String = "text",
      headThr: Double = HeadThreshold, midThr: Double = MiddleThreshold): DataFrame = {
    val (u, b, g) = tables3(model)
    annotateWith3(docs, u, b, g, textCol, headThr, midThr)
  }

  /** The CCNet gate over a trained model: keep head+middle. */
  def perplexityPrune(docs: DataFrame, model: DataFrame, textCol: String = "text",
      keep: Seq[String] = Seq("head", "middle"),
      headThr: Double = HeadThreshold, midThr: Double = MiddleThreshold): DataFrame =
    annotate(docs, model, textCol, headThr, midThr)
      .filter(col("slm_bucket").isin(keep: _*))

  /** A compiled, driver-resident gate — the form [[Curate.Config.lmGate]]
    * plugs into the composed pipeline (model maps + bucket policy in one
    * value, so the pipeline stays serialization-friendly).
    */
  final case class Gate(uni: Map[String, Long], bi: Map[String, Long],
      keep: Seq[String] = Seq("head", "middle"),
      headThr: Double = HeadThreshold, midThr: Double = MiddleThreshold)

  /** Compile a [[Gate]] from a [[train]]ed model frame. */
  def gateOf(model: DataFrame, keep: Seq[String] = Seq("head", "middle"),
      headThr: Double = HeadThreshold, midThr: Double = MiddleThreshold): Gate = {
    val (u, b) = tables(model)
    Gate(u, b, keep, headThr, midThr)
  }

  /** Survivors of a [[Gate]] with the caller's schema (cutting form). */
  def gateFilter(docs: DataFrame, g: Gate, textCol: String = "text"): DataFrame = {
    val cols = docs.columns.toSeq
    annotateWith(docs, g.uni, g.bi, textCol, g.headThr, g.midThr)
      .filter(col("slm_bucket").isin(g.keep: _*))
      .select(cols.map(col): _*)
  }

  // — DuckDB twins (shared with the probe oracles, the lmAnnotateSql
  //   convention: the arithmetic is written ONCE) ————————————————————————

  /** CTE chain replaying [[train]] from first principles over a reference
    * relation `__lm2_ref(text)`: tokenize → unigram counts → top-K vocab
    * (count DESC, term ASC) → <unk> fold → bigram counts → caps → the
    * exact log10/quantize arithmetic. Ends in
    * `__lm2_model(kind, term, n, centi)`.
    */
  def trainSql(vocabSize: Int = 1024, bigramSize: Int = 4096,
      minBigramCount: Long = 2L): String =
    s"""t2 AS (SELECT regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS tk
       |       FROM __lm2_ref),
       |uc AS (SELECT u AS term, CAST(count(*) AS BIGINT) AS n
       |       FROM (SELECT unnest(tk) AS u FROM t2) GROUP BY 1),
       |voc AS (SELECT term, n FROM uc ORDER BY n DESC, term ASC LIMIT $vocabSize),
       |tot AS (SELECT coalesce(CAST(sum(n) AS BIGINT), 0) AS nn FROM uc),
       |vt AS (SELECT count(*) AS v, coalesce(CAST(sum(n) AS BIGINT), 0) AS vn,
       |              list(term) AS vs
       |       FROM voc),
       |uni AS (SELECT term, n FROM voc
       |        UNION ALL SELECT '${Unk}', tot.nn - vt.vn FROM tot, vt),
       |unim AS (SELECT term, n,
       |    CAST(floor(log10((n + 1.0) / (tot.nn + 1.0 * (vt.v + 1))) * 100.0 + 0.5)
       |      AS BIGINT) AS centi
       |  FROM uni, tot, vt),
       |fold AS (SELECT list_transform(tk,
       |    t -> CASE WHEN list_contains(vt.vs, t) THEN t ELSE '${Unk}' END) AS m
       |  FROM t2, vt),
       |bg AS (SELECT b AS term, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(CASE WHEN len(m) >= 2
       |      THEN list_transform(range(1, len(m)), i -> m[i] || ' ' || m[i + 1])
       |      ELSE [] END) AS b FROM fold)
       |  GROUP BY 1 HAVING count(*) >= $minBigramCount),
       |bgt AS (SELECT term, n FROM bg ORDER BY n DESC, term ASC LIMIT $bigramSize),
       |bim AS (SELECT bgt.term AS term, bgt.n AS n,
       |    CAST(floor(log10(bgt.n * 1.0 / u1.n) * 100.0 + 0.5) AS BIGINT) AS centi
       |  FROM bgt JOIN uni u1 ON u1.term = split_part(bgt.term, ' ', 1)),
       |__lm2_model AS (
       |  SELECT 'uni' AS kind, term, n, centi FROM unim
       |  UNION ALL SELECT 'bi', term, n, centi FROM bim)""".stripMargin

  /** [[trainSql]] extended to the TRIGRAM grain: the same chain plus the
    * unfiltered folded-bigram denominators (`bgall`) and the capped
    * folded-trigram table. Ends in `__lm3_model(kind, term, n, centi)`
    * with kind ∈ uni/bi/tri; the uni/bi rows are IDENTICAL to
    * [[trainSql]]'s (`bg` is `bgall` filtered, so the bigram model is
    * unchanged by the added grain).
    */
  def trainSql3(vocabSize: Int = 1024, bigramSize: Int = 4096,
      trigramSize: Int = 4096, minBigramCount: Long = 2L,
      minTrigramCount: Long = 2L): String =
    s"""t2 AS (SELECT regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS tk
       |       FROM __lm2_ref),
       |uc AS (SELECT u AS term, CAST(count(*) AS BIGINT) AS n
       |       FROM (SELECT unnest(tk) AS u FROM t2) GROUP BY 1),
       |voc AS (SELECT term, n FROM uc ORDER BY n DESC, term ASC LIMIT $vocabSize),
       |tot AS (SELECT coalesce(CAST(sum(n) AS BIGINT), 0) AS nn FROM uc),
       |vt AS (SELECT count(*) AS v, coalesce(CAST(sum(n) AS BIGINT), 0) AS vn,
       |              list(term) AS vs
       |       FROM voc),
       |uni AS (SELECT term, n FROM voc
       |        UNION ALL SELECT '${Unk}', tot.nn - vt.vn FROM tot, vt),
       |unim AS (SELECT term, n,
       |    CAST(floor(log10((n + 1.0) / (tot.nn + 1.0 * (vt.v + 1))) * 100.0 + 0.5)
       |      AS BIGINT) AS centi
       |  FROM uni, tot, vt),
       |fold AS (SELECT list_transform(tk,
       |    t -> CASE WHEN list_contains(vt.vs, t) THEN t ELSE '${Unk}' END) AS m
       |  FROM t2, vt),
       |bgall AS (SELECT b AS term, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(CASE WHEN len(m) >= 2
       |      THEN list_transform(range(1, len(m)), i -> m[i] || ' ' || m[i + 1])
       |      ELSE [] END) AS b FROM fold)
       |  GROUP BY 1),
       |bgt AS (SELECT term, n FROM bgall WHERE n >= $minBigramCount
       |        ORDER BY n DESC, term ASC LIMIT $bigramSize),
       |bim AS (SELECT bgt.term AS term, bgt.n AS n,
       |    CAST(floor(log10(bgt.n * 1.0 / u1.n) * 100.0 + 0.5) AS BIGINT) AS centi
       |  FROM bgt JOIN uni u1 ON u1.term = split_part(bgt.term, ' ', 1)),
       |tg AS (SELECT g AS term, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(CASE WHEN len(m) >= 3
       |      THEN list_transform(range(1, len(m) - 1),
       |        i -> m[i] || ' ' || m[i + 1] || ' ' || m[i + 2])
       |      ELSE [] END) AS g FROM fold)
       |  GROUP BY 1 HAVING count(*) >= $minTrigramCount),
       |tgt AS (SELECT term, n FROM tg ORDER BY n DESC, term ASC LIMIT $trigramSize),
       |trim3 AS (SELECT tgt.term AS term, tgt.n AS n,
       |    CAST(floor(log10(tgt.n * 1.0 / ba.n) * 100.0 + 0.5) AS BIGINT) AS centi
       |  FROM tgt JOIN bgall ba
       |    ON ba.term = split_part(tgt.term, ' ', 1) || ' ' || split_part(tgt.term, ' ', 2)),
       |__lm3_model AS (
       |  SELECT 'uni' AS kind, term, n, centi FROM unim
       |  UNION ALL SELECT 'bi', term, n, centi FROM bim
       |  UNION ALL SELECT 'tri', term, n, centi FROM trim3)""".stripMargin

  /** CTE chain replaying [[annotateWith3]] over `__lm2_in(…, text)`
    * against `__lm3_model` — the recursive tri→bi→uni backoff with the
    * same exact-integer composition. Same unique-row PRECONDITION as
    * [[annotateSql]]. Ends in `__lm3_scored`.
    */
  def annotateSql3(headThr: Double = HeadThreshold,
      midThr: Double = MiddleThreshold): String = {
    val mean = graft.Canonical.round4Sql(
      "CAST(slm_centi_sum AS DOUBLE) / (100.0 * slm_n_toks)")
    s"""um AS (SELECT term AS __ut, centi AS __uc FROM __lm3_model WHERE kind = 'uni'),
       |bm AS (SELECT term AS __bt, centi AS __bc FROM __lm3_model WHERE kind = 'bi'),
       |tm AS (SELECT term AS __tt, centi AS __tc FROM __lm3_model WHERE kind = 'tri'),
       |uvl AS (SELECT list(__ut) AS vs FROM um WHERE __ut <> '${Unk}'),
       |stk AS (SELECT i.*, list_transform(
       |    regexp_extract_all(lower(coalesce(i.text, '')), '[a-z0-9]+'),
       |    t -> CASE WHEN list_contains(uvl.vs, t) THEN t ELSE '${Unk}' END) AS __m
       |  FROM __lm2_in i, uvl),
       |sex AS (SELECT *, CAST(len(__m) AS BIGINT) AS slm_n_toks,
       |    unnest(CASE WHEN len(__m) = 0 THEN [CAST(NULL AS BIGINT)]
       |           ELSE range(1, len(__m) + 1) END) AS __i
       |  FROM stk),
       |stok AS (SELECT *, CASE WHEN __i IS NULL THEN NULL ELSE __m[__i] END AS __w2,
       |    CASE WHEN __i > 1 THEN __m[__i - 1] || ' ' || __m[__i] END AS __bg,
       |    CASE WHEN __i > 2
       |      THEN __m[__i - 2] || ' ' || __m[__i - 1] || ' ' || __m[__i] END AS __tg
       |  FROM sex),
       |ssc AS (SELECT * EXCLUDE (__w2, __bg, __tg, __i, __m, __ut, __uc, __bt, __bc, __tt, __tc),
       |    CAST(sum(CASE WHEN __w2 IS NULL THEN 0
       |      WHEN __i = 1 THEN __uc
       |      WHEN __i = 2 THEN coalesce(__bc, __uc + ${BackoffCenti})
       |      ELSE coalesce(__tc,
       |        ${BackoffCenti} + coalesce(__bc, __uc + ${BackoffCenti})) END) AS BIGINT)
       |      AS slm_centi_sum
       |  FROM stok
       |  LEFT JOIN um ON __ut = __w2
       |  LEFT JOIN bm ON __bt = __bg
       |  LEFT JOIN tm ON __tt = __tg
       |  GROUP BY ALL),
       |__lm3_scored AS (SELECT *,
       |    CASE WHEN slm_n_toks > 0 THEN $mean END AS slm_mean_log10p,
       |    CASE WHEN slm_n_toks > 0 AND $mean >= $headThr THEN 'head'
       |         WHEN slm_n_toks > 0 AND $mean >= $midThr THEN 'middle'
       |         ELSE 'tail' END AS slm_bucket
       |  FROM ssc)""".stripMargin
  }

  /** CTE chain replaying [[annotateWith]] over `__lm2_in(…, text)` against
    * `__lm2_model`: fold → first-token unigram + per-bigram
    * lookup-or-backoff → exact integer sum → round4 mean → buckets. Ends
    * in `__lm2_scored` (all `__lm2_in` columns + the four slm columns).
    *
    * PRECONDITION: `__lm2_in` rows must be distinct (in practice: carry a
    * unique id column). The per-token re-aggregation here is `GROUP BY
    * ALL` over the input columns, so two fully-identical input rows
    * collapse into ONE output row with a doubled `slm_centi_sum` — the
    * Spark twin [[annotateWith]] scores per ROW and keeps both. Every
    * repo probe feeds id-carrying frames; do the same.
    */
  def annotateSql(headThr: Double = HeadThreshold,
      midThr: Double = MiddleThreshold): String = {
    val mean = graft.Canonical.round4Sql(
      "CAST(slm_centi_sum AS DOUBLE) / (100.0 * slm_n_toks)")
    s"""um AS (SELECT term AS __ut, centi AS __uc FROM __lm2_model WHERE kind = 'uni'),
       |bm AS (SELECT term AS __bt, centi AS __bc FROM __lm2_model WHERE kind = 'bi'),
       |uvl AS (SELECT list(__ut) AS vs FROM um WHERE __ut <> '${Unk}'),
       |stk AS (SELECT i.*, list_transform(
       |    regexp_extract_all(lower(coalesce(i.text, '')), '[a-z0-9]+'),
       |    t -> CASE WHEN list_contains(uvl.vs, t) THEN t ELSE '${Unk}' END) AS __m
       |  FROM __lm2_in i, uvl),
       |sex AS (SELECT *, CAST(len(__m) AS BIGINT) AS slm_n_toks,
       |    unnest(CASE WHEN len(__m) = 0 THEN [CAST(NULL AS BIGINT)]
       |           ELSE range(1, len(__m) + 1) END) AS __i
       |  FROM stk),
       |stok AS (SELECT *, CASE WHEN __i IS NULL THEN NULL ELSE __m[__i] END AS __w2,
       |    CASE WHEN __i > 1 THEN __m[__i - 1] || ' ' || __m[__i] END AS __bg
       |  FROM sex),
       |ssc AS (SELECT * EXCLUDE (__w2, __bg, __i, __m, __ut, __uc, __bt, __bc),
       |    CAST(sum(CASE WHEN __w2 IS NULL THEN 0
       |      WHEN __i = 1 THEN __uc
       |      ELSE coalesce(__bc, __uc + ${BackoffCenti}) END) AS BIGINT)
       |      AS slm_centi_sum
       |  FROM stok
       |  LEFT JOIN um ON __ut = __w2
       |  LEFT JOIN bm ON __bt = __bg
       |  GROUP BY ALL),
       |__lm2_scored AS (SELECT *,
       |    CASE WHEN slm_n_toks > 0 THEN $mean END AS slm_mean_log10p,
       |    CASE WHEN slm_n_toks > 0 AND $mean >= $headThr THEN 'head'
       |         WHEN slm_n_toks > 0 AND $mean >= $midThr THEN 'middle'
       |         ELSE 'tail' END AS slm_bucket
       |  FROM ssc)""".stripMargin
  }
}
