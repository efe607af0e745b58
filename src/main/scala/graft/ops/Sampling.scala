package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Random sampling (`df.sample`, `rand()`) is non-reproducible across
  * retries and re-partitioning — poison for dataset lineage. Both
  * operators here are pure functions of the data:
  *
  *   - [[hashSplit]]: content-addressed train/val/test assignment —
  *     `xxhash64(id)` bucketed into 10k slots, thresholds from the
  *     cumulative fractions. A pure projection: no shuffle, no state, the
  *     same row lands in the same split on any cluster any day, and new
  *     rows never move existing ones between splits.
  *   - [[stratifiedExact]]: exactly `ceil(frac · n_k)` rows per stratum k,
  *     chosen by hash order within the stratum (deterministic, unbiased
  *     w.r.t. any column correlated with the sort order of the data).
  *     Two-pass bucketed prefix-sum plan — no per-stratum window, so a
  *     dominant stratum parallelizes across [[Buckets]] tasks (see the
  *     method scaladoc). [[stratifiedTopN]] (constant limit) is the
  *     single-window variant where the `WindowGroupLimit` rank pushdown
  *     fires.
  */
object Sampling {

  private val Slots = 10000L

  /** Bucket fan-out of the two-pass rank/prefix-sum plans: the hash order
    * is split into 256 contiguous ranges, so one stratum/source spreads
    * over up to 256 sort tasks instead of one.
    *
    * Note: when the stratum/source key is a CONSTANT literal (single
    * source), Catalyst folds it out of the window partition specs; the
    * per-row windows keep their `__b` bucket key (the partitioning that
    * matters), but the per-bucket OFFSETS window — a frame of at most
    * [[Buckets]] rows per source — degenerates to an unpartitioned
    * window and Spark logs its "No Partition Defined" warning. Harmless:
    * that frame is sketch-sized by construction.
    */
  val Buckets = 256

  /** Order-aligned bucket of a 64-bit hash: the ARITHMETIC shift keeps the
    * bucket id (-128..127) monotone in the SIGNED hash order — the order
    * `orderBy(hash)` sorts by — so per-bucket ranks concatenated in bucket
    * order reproduce the global hash-order rank exactly.
    */
  private def bucketOf(h: Column): Column = shiftright(h, 56)

  /** Add a `split` column assigning each row to a named split by hashed id.
    * Fractions must sum to ~1 (trailing remainder goes to the last split).
    */
  def hashSplit(df: DataFrame, idCol: Column, splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val slot = pmod(xxhash64(idCol), lit(Slots))
    // round, don't truncate: (0.7 * 10000).toLong is 6999 under binary
    // floating point — a one-slot bias on every split boundary
    val cuts = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(c => math.round(c * Slots))
    val expr = splits.init.zip(cuts.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), rest) => when(slot < cut, name).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** LEAKAGE-SAFE train/val/test split: assign every near-dup CLUSTER to
    * one split (the coin hashes the cluster key, not the doc id), so no
    * near-duplicate pair ever straddles a split boundary — the eval-set
    * leakage a doc-keyed [[hashSplit]] silently allows (a test document
    * whose near-copy sits in train measures memorization, not
    * generalization; the dedup literature's split-by-cluster rule).
    *
    * Pipeline shape: exact n-gram Jaccard pairs → connected components
    * ([[Dedup.components]], large-star/small-star O(log n) rounds) → the
    * component label (own id for singletons) coins through the SAME
    * deterministic [[hashSplit]]. 100-TB cost is the pair+component stage
    * the dedup pass already runs — callers holding a component frame use
    * [[leakageSafeSplitFromComponents]] and pay only a scan-side coin.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, text: Column, n: Int,
      threshold: Double, splits: Seq[(String, Double)],
      maxDf: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs.select(col(idCol), text.as("__lst")),
      idCol, col("__lst"), n, threshold, maxDf)
    leakageSafeSplitFromComponents(docs, idCol, Dedup.components(pairs), splits)
  }

  /** [[leakageSafeSplit]] over a prebuilt [[Dedup.components]] frame
    * (`(id, comp)`; docs absent from it are singletons and coin on their
    * own id — exactly the label [[Dedup.components]] would give them).
    */
  def leakageSafeSplitFromComponents(docs: DataFrame, idCol: String,
      comps: DataFrame, splits: Seq[(String, Double)]): DataFrame = {
    val keyed = docs.join(
        comps.select(col("id").as(idCol), col("comp").as("__comp")), Seq(idCol), "left")
      .withColumn("__skey", coalesce(col("__comp"), col(idCol)))
    hashSplit(keyed, col("__skey"), splits).drop("__comp", "__skey")
  }

  /** Exactly `ceil(frac · count)` rows per value of `stratumCol`, picked in
    * `xxhash64(idCol)` order (ties broken by the id itself).
    *
    * Scale-safe two-pass plan (a single window per stratum would funnel a
    * 50-TB dominant stratum through ONE sort task):
    *
    *   1. bucket every row by the top byte of its order hash
    *      ([[bucketOf]] — contiguous hash RANGES, so bucket order IS hash
    *      order) and count rows per (stratum, bucket) — a map-side-combined
    *      aggregate producing ≤ |strata|·[[Buckets]] rows;
    *   2. a window over that TINY frame turns counts into cumulative
    *      offsets + stratum totals; joined back (AQE broadcasts it), the
    *      global rank is `offset + row_number` within the (stratum,
    *      bucket) window — up to [[Buckets]] parallel sort tasks per
    *      stratum, each seeing only its hash range.
    *
    * The kept set is IDENTICAL to the single-window form: per-bucket ranks
    * concatenated in bucket order reproduce the global (hash, id) rank
    * because same-hash rows always share a bucket.
    */
  def stratifiedExact(df: DataFrame, stratumCol: Column, idCol: Column, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, "frac must be in (0, 1]")
    val base = df.withColumn("__strat", stratumCol)
      .withColumn("__h", xxhash64(idCol))
      .withColumn("__b", bucketOf(col("__h")))
    val wOff = Window.partitionBy(col("__strat")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = base.groupBy(col("__strat"), col("__b")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(Window.partitionBy(col("__strat"))))
      .select(col("__strat").as("__cstrat"), col("__b").as("__cb"),
        col("__off"), col("__n"))
    val wIn = Window.partitionBy(col("__strat"), col("__b")).orderBy(col("__h"), idCol)
    base
      .join(cum, col("__strat") <=> col("__cstrat") && col("__b") === col("__cb"))
      .withColumn("__rn", col("__off") + row_number().over(wIn))
      .filter(col("__rn") <= ceil(col("__n") * frac))
      .drop("__strat", "__h", "__b", "__cstrat", "__cb", "__off", "__n", "__rn")
  }

  /** Deterministic per-stratum top-N by an explicit order (the
    * oracle-checkable twin of [[stratifiedExact]] — same plan shape, the
    * order column is portable instead of engine-hashed).
    */
  def stratifiedTopN(df: DataFrame, stratumCol: Column, orderCol: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(orderCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Exact-k WEIGHTED sample per group — Efraimidis–Spirakis A-ES
    * (public, '06): each row draws key `u^(1/w)` and the k largest keys
    * per group win, which is exactly weighted sampling without
    * replacement. Here the ordering-equivalent `ln(u)/w` is used with
    * the [[mixturePortable]] content-addressed coin (`u` from the
    * positional fingerprint at 1e-5 grain, salted `"wr:"`), the sort
    * key is [[graft.Canonical.round4]]ed so both engines rank the
    * identical decimals, and ties break on the id — fully deterministic
    * and value-oracle-able (x129 replays coin, key, and ranking in
    * DuckDB).
    *
    * Rows with weight ≤ 0 or NULL are EXCLUDED (a zero-weight row can
    * never win A-ES; a negative weight is a caller bug surfaced by
    * absence, not corruption). Plan shape: one hash shuffle on the
    * group + `WindowGroupLimit` (rank ≤ k pushes the top-k ahead of any
    * full per-group sort); for a pathologically dominant group the
    * two-pass bucketed discipline of [[stratifiedExact]] applies.
    */
  def weightedTopKPerGroup(df: DataFrame, groupCol: Column, idCol: Column,
      weightCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val u = (pmod(graft.functions.TextFunctions.fingerprint(
      concat(lit("wr:"), idCol.cast("string"))), lit(100000L)).cast("double") +
      lit(0.5)) / lit(100000.0)
    val key = graft.Canonical.round4(log(u) / weightCol.cast("double"))
    val w = Window.partitionBy(groupCol).orderBy(col("__wr_key").desc, idCol.asc)
    df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("__wr_key", key)
      .withColumn("__wr_rank", row_number().over(w))
      .filter(col("__wr_rank") <= k)
      .drop("__wr_key", "__wr_rank")
  }

  /** Weighted multi-corpus mixture — the "data recipe" step of a
    * pretraining pipeline (e.g. keep 100% of wiki, 50% of books, 20% of
    * web). Each source is independently subsampled at its rate by the
    * same content-addressed coin as [[hashSplit]] (hash salted with the
    * source name, so a document present in two sources draws independent
    * coins), tagged with `mix_source`, and unioned.
    *
    * Pure per-source projections + union: no shuffle, fully deterministic,
    * re-runs and retries keep exactly the same rows. Schemas must match
    * across sources (`unionByName`).
    */
  /** Token-budget mixture — the form real pretraining recipes are stated
    * in ("30B tokens of source A, 5B of source B"): from each source keep
    * documents in content-addressed hash order until the source's token
    * budget is reached. Greedy prefix semantics: a document is kept iff
    * the tokens BEFORE it (in hash order) are still under budget, so the
    * budget is met exactly to within the last document's tokens —
    * `budget ≤ kept < budget + max_doc_tokens` whenever the source has
    * enough tokens, `kept = total` otherwise. Fully deterministic:
    * re-runs, retries and repartitioning keep the identical document set.
    *
    * Scale-safe two-pass plan (same discipline as [[stratifiedExact]] —
    * a single running-sum window per source would funnel a 50-TB source
    * through ONE sort task): rows bucket by the top byte of the order
    * hash ([[bucketOf]] — contiguous hash ranges, bucket order = hash
    * order); pass 1 sums tokens per (source, bucket) and a window over
    * that ≤ |sources|·[[Buckets]]-row frame yields each bucket's token
    * offset; pass 2 joins the offsets back (AQE broadcasts) and computes
    * `cum_before = bucket_offset + running sum WITHIN the (source,
    * bucket) window` — up to [[Buckets]] parallel sort tasks per source,
    * bit-identical to the single-window prefix sum (same-hash rows share
    * a bucket). The sketch-shaped alternative at extreme scale is
    * [[mixture]] with `rate = budget / total_tokens` (document-count
    * binomial instead of an exact token prefix).
    */
  def tokenBudget(sources: Seq[(String, DataFrame, Long)],
      idCol: Column, tokenCount: Column): DataFrame = {
    require(sources.nonEmpty, "need >=1 source")
    sources.foreach { case (name, _, budget) =>
      require(budget > 0L, s"budget for '$name' must be positive, got $budget") }
    val tagged = sources.map { case (name, df, budget) =>
      df.withColumn("mix_source", lit(name))
        .withColumn("__budget", lit(budget))
        .withColumn("__tok", tokenCount.cast("long"))
    }.reduce(_ unionByName _)
    val base = tagged
      .withColumn("__h", xxhash64(idCol, col("mix_source")))
      .withColumn("__b", bucketOf(col("__h")))
    val wOff = Window.partitionBy(col("mix_source")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = base.groupBy(col("mix_source"), col("__b"))
      .agg(sum(col("__tok")).as("__btok"))
      .withColumn("__off", coalesce(sum(col("__btok")).over(wOff), lit(0L)))
      .select(col("mix_source").as("__csrc"), col("__b").as("__cb"), col("__off"))
    val wIn = Window.partitionBy(col("mix_source"), col("__b"))
      .orderBy(col("__h"), idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .join(cum, col("mix_source") === col("__csrc") && col("__b") === col("__cb"))
      .withColumn("__cum_before",
        col("__off") + coalesce(sum(col("__tok")).over(wIn), lit(0L)))
      .filter(col("__cum_before") < col("__budget"))
      .drop("__h", "__b", "__csrc", "__cb", "__off", "__cum_before", "__budget", "__tok")
  }

  /** Per-GROUP token cap over dynamic group values — the domain-capping
    * stage of a web-corpus pipeline (Dolma/FineWeb cap each domain's
    * contribution so boilerplate-heavy hosts can't dominate the mix):
    * within every value of `groupCol`, keep documents in the PORTABLE
    * fingerprint order until the group's token budget is reached, with
    * the same greedy prefix semantics as [[tokenBudget]] (a document is
    * kept iff the tokens BEFORE it are under the cap — so
    * `cap ≤ kept < cap + max_doc_tokens` for any group that exceeds it,
    * everything kept otherwise).
    *
    * Differs from [[tokenBudget]] in both contract halves: groups are
    * DATA (any number of domains, discovered at runtime), the budget is
    * one constant — and the order hash is the engine-portable positional
    * fingerprint of the id (`(fp mod 256, fp, id)`, the
    * [[graft.ops.TextStats.qualityPrune]] order), so the kept SET is
    * value-oracle-checkable, not just row-counted.
    *
    * Scale shape: the same two-pass bucketed prefix sum as
    * [[tokenBudget]] — pass 1 is a map-side-combined (group, bucket)
    * token sum; a window over that ≤ |groups|·[[Buckets]]-row frame
    * yields bucket offsets (AQE broadcasts the join-back); pass 2 ranks
    * only WITHIN (group, bucket) — a dominant domain spreads over up to
    * [[Buckets]] sort tasks instead of one. The bucket is the order's own
    * leading key, so per-bucket prefix sums concatenated in bucket order
    * equal the global per-group prefix sum exactly.
    */
  def groupTokenCap(df: DataFrame, groupCol: Column, idCol: Column,
      tokenCount: Column, capTokens: Long): DataFrame = {
    require(capTokens > 0L, s"capTokens must be positive, got $capTokens")
    val base = df.withColumn("__grp", groupCol)
      .withColumn("__tok", tokenCount.cast("long"))
      .withColumn("__fp",
        graft.functions.TextFunctions.fingerprint(idCol.cast("string")))
      .withColumn("__b", pmod(col("__fp"), lit(Buckets.toLong)))
    val wOff = Window.partitionBy(col("__grp")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = base.groupBy(col("__grp"), col("__b"))
      .agg(sum(col("__tok")).as("__btok"))
      .withColumn("__off", coalesce(sum(col("__btok")).over(wOff), lit(0L)))
      .select(col("__grp").as("__cgrp"), col("__b").as("__cb"), col("__off"))
    val wIn = Window.partitionBy(col("__grp"), col("__b"))
      .orderBy(col("__fp"), idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .join(cum, col("__grp") <=> col("__cgrp") && col("__b") === col("__cb"))
      .withColumn("__cum_before",
        col("__off") + coalesce(sum(col("__tok")).over(wIn), lit(0L)))
      .filter(col("__cum_before") < lit(capTokens))
      .drop("__grp", "__tok", "__fp", "__b", "__cgrp", "__cb", "__off", "__cum_before")
  }

  def mixture(sources: Seq[(String, DataFrame, Double)], idCol: Column): DataFrame =
    mixtureWith(sources, idCol,
      (id, name) => pmod(xxhash64(id, lit(name)), lit(Slots)))

  /** [[mixture]] with the engine-PORTABLE coin: the slot is a
    * multiplicative mix of the positional fingerprint of `"name:id"`
    * (`((fp mod 100000) · 2654435761) mod Slots` — Knuth's golden-ratio
    * constant) instead of `xxhash64`. The raw fingerprint alone is NOT a
    * usable coin: a short key's fingerprint is a small positionally-
    * weighted ASCII sum, clustered in a narrow band far below [[Slots]],
    * so `fp mod Slots` would keep nearly everything regardless of rate.
    * The multiplier is coprime to Slots, so it permutes the residues and
    * scatters the band across the full slot range (the pre-mod 100000
    * bound keeps the product far from Long overflow under ANSI
    * arithmetic — coin uniformity only needs the low decades).
    *
    * Trades a little mixing quality for cross-engine replay — the kept
    * SET is value-oracle-checkable row by row, which is what lets the
    * end-to-end assembly probe (x88) pin the mixture stage exactly
    * instead of tolerance-gating realized fractions (x83's compromise).
    * Production callers that never replay outside Spark should prefer
    * [[mixture]].
    */
  def mixturePortable(sources: Seq[(String, DataFrame, Double)], idCol: Column): DataFrame =
    mixtureWith(sources, idCol,
      (id, name) => pmod(pmod(graft.functions.TextFunctions.fingerprint(
        concat(lit(name), lit(":"), id.cast("string"))), lit(100000L))
        * lit(2654435761L), lit(Slots)))

  private def mixtureWith(sources: Seq[(String, DataFrame, Double)], idCol: Column,
      slot: (Column, String) => Column): DataFrame = {
    require(sources.nonEmpty, "need >=1 source")
    sources.foreach { case (name, _, rate) =>
      require(rate > 0.0 && rate <= 1.0, s"rate for '$name' must be in (0,1], got $rate")
      // rates are quantized to 1/Slots steps; a rate that rounds to zero
      // slots would silently keep NOTHING — fail loudly instead
      require(math.round(rate * Slots) >= 1,
        s"rate for '$name' ($rate) is below the ${1.0 / Slots} granularity floor") }
    sources.map { case (name, df, rate) =>
      df.filter(slot(idCol, name) < math.round(rate * Slots))
        .withColumn("mix_source", lit(name))
    }.reduce(_ unionByName _)
  }

  /** Temperature-weighted mixture RATES — the multilingual-pretraining
    * recipe (mBERT/XLM-R/mT5): source s samples with probability
    * `p_s ∝ n_s^α` (α < 1 upweights low-resource sources), so against a
    * total `budget` of documents the keep rate is
    * `min(1, budget·p_s / n_s)`, floored at the [[mixture]] granularity.
    * Rates derive from EXACT driver-side counts and canonical round-4
    * arithmetic, so the rate table itself is value-oracle-checkable
    * (α = 0.5 keeps even the power step engine-exact — IEEE `sqrt` is
    * correctly rounded everywhere, `pow` is not; other α are fine for
    * production but cross-engine replay should gate with tolerances).
    * Returns one (name, n_docs, rate) per source, input order.
    */
  def temperatureRates(sources: Seq[(String, DataFrame)], alpha: Double,
      budget: Long): Seq[(String, Long, Double)] = {
    require(sources.nonEmpty, "need >=1 source")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    val counts = sources.map { case (name, df) => (name, df.count()) }
    // alpha = 0.5 routes through sqrt EXPLICITLY: Math.pow is licensed to
    // 1 ulp (not correctly rounded) and need not equal Math.sqrt at 0.5,
    // while IEEE sqrt is correctly rounded in both engines — the
    // exactness the oracle replay relies on
    val weights = counts.map { case (_, c) =>
      if (alpha == 0.5) math.sqrt(c.toDouble) else math.pow(c.toDouble, alpha)
    }
    val z = weights.sum
    counts.zip(weights).map { case ((name, c), w) =>
      // z = 0 ⇔ every source is empty (weights are n^α ≥ 0, zero only at
      // n = 0): 0/0 would poison the rate with NaN and fail mixture's
      // require mid-pipeline — an upstream stage that dropped everything
      // (seen on the synthetic-sf1 assembly bench, where the dense bench
      // slice contaminated every survivor) must degrade to an empty
      // result, not an exception. The floor rate keeps nothing because
      // the sources are empty.
      val raw =
        if (z == 0.0) 0.0
        else math.min(1.0, budget.toDouble * (w / z) / math.max(c.toDouble, 1.0))
      val rate = math.max(1.0 / Slots, math.floor(raw * 10000 + 0.5) / 10000)
      (name, c, rate)
    }
  }

  /** [[mixture]] with [[temperatureRates]] — sample each source at its
    * temperature-derived keep rate (deterministic hash coin per row).
    * Callers that already hold the rate table (e.g. to report it) should
    * use the rates overload — this one counts every source.
    */
  def temperatureMixture(sources: Seq[(String, DataFrame)], idCol: Column,
      alpha: Double, budget: Long): DataFrame =
    temperatureMixture(sources, idCol, temperatureRates(sources, alpha, budget))

  /** [[mixture]] over a precomputed [[temperatureRates]] table — no
    * re-counting of the sources.
    */
  def temperatureMixture(sources: Seq[(String, DataFrame)], idCol: Column,
      rates: Seq[(String, Long, Double)]): DataFrame = {
    val byName = rates.map(r => r._1 -> r._3).toMap
    mixture(sources.map { case (name, df) => (name, df, byName(name)) }, idCol)
  }

  /** [[temperatureMixture]] through the [[mixturePortable]] coin — same
    * rate table, engine-replayable per-row keeps.
    */
  def temperatureMixturePortable(sources: Seq[(String, DataFrame)], idCol: Column,
      rates: Seq[(String, Long, Double)]): DataFrame = {
    val byName = rates.map(r => r._1 -> r._3).toMap
    mixturePortable(sources.map { case (name, df) => (name, df, byName(name)) }, idCol)
  }

  /** Cluster-balanced temperature resampling — the EMBEDDING-SPACE twin of
    * [[temperatureMixture]]. A web crawl's embedding clusters are
    * power-law sized; sampling the raw mix trains mostly on the head.
    * Documents assign to their max-cosine centroid ([[Ivf.assign]] —
    * broadcast argmax, map-side combined), clusters resample at
    * `p_c ∝ n_c^α` against a document `budget` (α < 1 flattens the head,
    * upweights the tail), and each row's keep decision is the
    * [[mixturePortable]] coin keyed by `"c<centroid_id>:<id>"` —
    * deterministic across retries, partitionings, and engines.
    *
    * The arithmetic is canonical end to end so the kept SET is
    * value-oracle-checkable (probe x98): cluster counts sort by centroid
    * id, the weight normalizer is the left-fold sum in that order,
    * α = 0.5 routes through correctly-rounded `sqrt`
    * ([[temperatureRates]]' discipline), rates quantize to the coin's
    * 1/[[Slots]] granularity, and the slot cut replays as
    * `floor(rate·Slots + 0.5)`.
    *
    * 100-TB shape: the centroid table is broadcast-sized by construction
    * (~√N inverted lists — [[Ivf]]'s contract), so the per-cluster
    * count is a driver-bounded aggregate and the rate/cut tables ride as
    * LITERAL maps into a scan-side filter — one shuffle total (the assign
    * argmax), no per-cluster DataFrame fan-out, no second pass over the
    * corpus. Centroid ids must be integral (they come from the corpus id
    * column via [[Ivf.seedCentroids]] / [[Ivf.train]]).
    *
    * Returns the kept rows: (idCol, centroid_id, cluster_rate).
    */
  def clusterTemperature(docs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    val assigned = Ivf.assign(docs, idCol, vecCol, cents)
      .select(col(idCol), col("centroid_id").cast("long").as("centroid_id"))
    // per-cluster counts: k rows, k broadcast-sized by Ivf's contract
    val counts = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val weights = counts.map { case (_, n) =>
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    }
    val z = weights.foldLeft(0.0)(_ + _) // left fold in centroid-id order
    val rates: Map[Long, Double] = counts.zip(weights).map { case ((cid, n), w) =>
      val raw =
        if (z == 0.0) 0.0
        else math.min(1.0, budget.toDouble * (w / z) / math.max(n.toDouble, 1.0))
      cid -> math.max(1.0 / Slots, math.floor(raw * Slots + 0.5) / Slots)
    }.toMap
    val cuts: Map[Long, Long] = rates.map { case (cid, r) =>
      cid -> math.floor(r * Slots + 0.5).toLong
    }
    val slot = pmod(pmod(graft.functions.TextFunctions.fingerprint(
        concat(lit("c"), col("centroid_id").cast("string"), lit(":"),
          col(idCol).cast("string"))), lit(100000L))
      * lit(2654435761L), lit(Slots))
    assigned
      .withColumn("cluster_rate", element_at(typedlit(rates), col("centroid_id")))
      .filter(slot < element_at(typedlit(cuts), col("centroid_id")))
  }

  /** Water-filling keep rates that reshape a multi-source corpus to a
    * TARGET token distribution without over-sampling any source (every
    * rate stays ≤ 1 — no document is ever duplicated). With T_s tokens
    * in source s and target fraction f_s, the largest achievable
    * balanced corpus is C = min_s T_s / f_s (the binding source keeps
    * everything) and rate_s = C·f_s / T_s — the "data recipe" step that
    * turns a target mixture into per-source sampling rates, feeding
    * [[mixturePortable]]'s content-addressed coin. All observed sources
    * must appear in `targets` (fails fast otherwise — a silently
    * unmatched source would vanish from the recipe); fractions must be
    * positive and sum to 1.
    *
    * Output: (source, n_tokens, target_frac, quota_tokens, rate) —
    * quota is ⌊C·f_s⌋, rate is round6. All arithmetic is exact-integer
    * sums plus IEEE division, so the whole card value-oracles (x136).
    *
    * Plan: one map-side-combined aggregate over the corpus + a
    * dictionary-sized broadcast join + a 1-row global min crossed back.
    */
  /** APPLY [[domainBalance]]'s rates: each document keeps with
    * probability rate_s via the [[mixturePortable]] content-addressed
    * coin (positional fingerprint of `"bal:<source>:<id>"` at the
    * 1/[[Slots]] grain) — deterministic, reproducible across clusters
    * and retries, no `rand()`. Output carries `balance_rate`. Driver
    * state is the dictionary-sized rate table (bounded by |targets| —
    * the [[clusterTemperature]] literal-map shape, so the filter is a
    * pure scan-side projection). Rates below the 1/Slots granularity
    * floor fail loudly (they would silently keep nothing).
    */
  def balanceToTarget(docs: DataFrame, sourceCol: Column, idCol: Column,
      tokenCount: Column, targets: Seq[(String, Double)]): DataFrame = {
    val rates = domainBalance(docs, sourceCol, tokenCount, targets)
      .select(col("source"), col("rate")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rates.foreach { case (s, r) =>
      require(math.round(r * Slots) >= 1,
        s"rate for '$s' ($r) is below the ${1.0 / Slots} granularity floor")
    }
    val cuts = rates.map { case (s, r) => s -> math.round(r * Slots) }
    val slot = pmod(pmod(graft.functions.TextFunctions.fingerprint(
      concat(lit("bal:"), sourceCol.cast("string"), lit(":"), idCol.cast("string"))),
      lit(100000L)) * lit(2654435761L), lit(Slots))
    docs
      .withColumn("balance_rate", element_at(typedlit(rates), sourceCol.cast("string")))
      .filter(slot < element_at(typedlit(cuts), sourceCol.cast("string")))
  }

  def domainBalance(docs: DataFrame, sourceCol: Column, tokenCount: Column,
      targets: Seq[(String, Double)]): DataFrame =
    waterFill(docs.groupBy(sourceCol.as("source"))
      .agg(sum(tokenCount.cast("long")).as("n_tokens")), targets)

  /** The water-fill tail SHARED by the live [[domainBalance]] (one
    * corpus aggregate) and [[domainBalanceFromIndex]] (a dictionary-
    * sized index read) — one code path, so the two recipes cannot drift
    * on the math. Input is the per-source exact token-count table.
    */
  private def waterFill(actualCounts: DataFrame,
      targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty && math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      "target fractions must sum to 1")
    require(targets.forall(_._2 > 0), "target fractions must be positive")
    require(targets.map(_._1).distinct.size == targets.size, "duplicate target source")
    val spark = actualCounts.sparkSession
    val tdf = spark.createDataFrame(targets).toDF("__src", "__f")
    val actual = actualCounts
      .join(broadcast(tdf), col("source") === col("__src"), "left")
      .localCheckpoint() // pinned: feeds the missing-source gate, C, and the output
    val missing = actual.filter(col("__f").isNull)
      .select(col("source")).collect().map(_.getString(0))
    require(missing.isEmpty,
      s"source(s) absent from targets: ${missing.mkString(", ")}")
    val c = actual.agg(min(col("n_tokens") / col("__f")).as("__c"))
    actual.crossJoin(broadcast(c))
      .select(col("source"), col("n_tokens"), col("__f").as("target_frac"),
        floor(col("__c") * col("__f")).cast("long").as("quota_tokens"),
        graft.Canonical.round6(col("__c") * col("__f") / col("n_tokens")).as("rate"))
  }

  // — persisted SOURCE-TOKEN index (incremental domain balance) ——————————
  //   [[domainBalance]] pays one full-corpus aggregate per recipe update;
  //   the deployment cadence is a DAILY recipe refresh over a corpus that
  //   grew by one ingest batch — so the per-source token sums (exact
  //   additive sufficient statistics, like the BM25 meta counters and the
  //   LM counts) persist in a dictionary-sized table and each batch folds
  //   its own sums in. The crash/replay discipline is [[Lm
  //   .foldIntoCountsIndex]]'s VERBATIM: the batch ledger rides INSIDE
  //   the single counts table (one `__batch` row per folded batch), the
  //   fold writes the merged table whole and commits it as the next
  //   [[IndexStore]] version — a replayed fold is a ledger-keyed no-op, a
  //   crash before the commit leaves the old table current. Recipe
  //   derivation is then O(|sources|), never corpus-scale.

  /** Row kind for real per-source counts (ledger rows use
    * [[Lm.BatchKind]]).
    */
  val SourceKind = "src"

  /** Initialize an EMPTY source-token index (folds add every source). */
  def writeSourceTokenIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    Lm.commitCounts(spark, path, IndexStore.Manifest(IndexStore.nextVersion(spark, path),
      Map.empty, Map.empty), Seq.empty[(String, String, Long)].toDF("kind", "source", "n_tokens"))
  }

  /** Batch ids already folded (bounded by the number of folds). */
  def foldedSourceBatches(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[String] =
    Lm.countsTable(spark, path).filter(col("kind") === Lm.BatchKind)
      .select(col("source")).collect().map(_.getString(0)).toSet

  /** Fold one ingest batch's per-source token sums into the index.
    * Returns false (no-op) when `batchId` is already in the ledger.
    * Cost: the batch aggregate + a dictionary-sized merge — nothing
    * corpus-scale; the ledger check is a pruned single-row lookup, not a
    * driver collect of the whole ledger (round 15). Ledger rows are
    * bounded by the fold count (years of daily folds ≈ thousands of
    * dictionary-sized rows) and are deliberately NEVER compacted away —
    * dropping one would un-no-op its batch's replay.
    *
    * SINGLE WRITER per index path: two concurrent folds (two batch
    * folds, or a batch fold racing
    * [[graft.streaming.StreamingIngest.sourceTokenIndexSink]] on the same
    * path) read the same version and race to commit the next one — the
    * second fails its commit rather than silently discarding the first
    * fold's sums, but both wrote that version's one write dir, so
    * serialize folds per path — the [[Lm.foldIntoCountsIndex]] contract.
    */
  def foldIntoSourceTokenIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: String, docs: DataFrame,
      sourceCol: Column, tokenCount: Column): Boolean = {
    import spark.implicits._
    require(batchId.nonEmpty, "batchId must be non-empty")
    val m = IndexStore.latest(spark, path)
    val current = IndexStore.read(spark, path, m, "counts") // incl. ledger rows
    val already = current.filter(col("kind") === Lm.BatchKind && col("source") === batchId)
      .limit(1).count() > 0
    if (already) return false
    val delta = docs.groupBy(sourceCol.cast("string").as("source"))
      .agg(sum(tokenCount.cast("long")).as("n_tokens"))
      .select(lit(SourceKind).as("kind"), col("source"), col("n_tokens"))
    Lm.commitCounts(spark, path, m.copy(version = m.version + 1), current.unionByName(delta)
      .groupBy(col("kind"), col("source")).agg(sum(col("n_tokens")).as("n_tokens"))
      .unionByName(Seq((Lm.BatchKind, batchId, 1L)).toDF("kind", "source", "n_tokens")))
    true
  }

  /** [[domainBalance]] served from the persisted index: the same
    * water-fill card (shared tail — the two paths cannot drift) from a
    * dictionary-sized read of the committed version.
    */
  def domainBalanceFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targets: Seq[(String, Double)]): DataFrame =
    waterFill(Lm.countsTable(spark, path)
      .filter(col("kind") === SourceKind)
      .select(col("source"), col("n_tokens")), targets)
}
