package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{vec_dot, vec_norm}

/** IVF-Flat approximate-nearest-neighbor search (the inverted-file
  * counterpart to [[Similarity.lshBucketTopK]]).
  *
  * Index: a small centroid table (the coarse quantizer) partitions the
  * corpus into inverted lists by nearest centroid — one linear scan, one
  * shuffle-free broadcast argmax per vector. Search: each query probes its
  * `nprobe` nearest centroids and exactly reranks only those lists, so the
  * scanned fraction is ≈ nprobe/numCentroids of the corpus.
  *
  * The quantizer is pluggable: [[seedCentroids]] (k lowest-id vectors) is
  * deterministic and oracle-checkable; [[kmeansStep]] is one distributed
  * Lloyd iteration to refine any centroid table (unit-tested; a trained
  * quantizer is the production path at 100 TB — centroids stay broadcast-
  * sized at ~√N).
  */
object Ivf {

  /** Deterministic degenerate quantizer: the k lowest-id vectors. */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** Assign every vector to its max-cosine centroid (broadcast argmax).
    * Norms are hoisted out of the vector×centroid product: one `vec_norm`
    * per row + one per centroid, not one per pair.
    *
    * The argmax is a `min_by` AGGREGATE, not a window `row_number`: a
    * window shuffles and sorts all k rows per vector, while the aggregate
    * map-side-combines them to one row per vector BEFORE the shuffle — at
    * 10⁹ corpus vectors × k centroids that is a k× shuffle-volume cut and
    * no sort. Ordering matches the window form exactly: max cosine first
    * (a NULL cosine — a zero-norm vector or centroid — sorts last, like
    * `desc` NULLS LAST), ties to the smallest centroid id.
    */
  def assign(corpus: DataFrame, idCol: String, vecCol: String, cents: DataFrame): DataFrame = {
    val ord = struct(
      coalesce(negate(col("__sim")), lit(Double.PositiveInfinity)),
      col("centroid_id"))
    corpus.withColumn("__vn", vec_norm(col(vecCol)))
      .crossJoin(broadcast(cents.withColumn("__cn", vec_norm(col("centroid_vec")))))
      .withColumn("__sim",
        round(vec_dot(col(vecCol), col("centroid_vec")) / (col("__vn") * col("__cn")), 6))
      .groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol),
        min_by(col("centroid_id"), ord).as("centroid_id"))
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  /** One distributed Lloyd iteration: element-wise mean of each cluster's
    * vectors → refined centroid table (posexplode → per-(cluster, pos) avg
    * → re-assembled arrays; all shuffles are on small keys).
    */
  def kmeansStep(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy(col("centroid_id"), col("__pos"))
      .agg(avg(col("__v")).as("__mean"))
      .groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__mean")))).as("__pairs"))
      .select(col("centroid_id"),
        expr("transform(__pairs, p -> CAST(p.__mean AS float))").as("centroid_vec"))

  /** Train the coarse quantizer: `iters` Lloyd iterations from the seed.
    *
    * Each iteration's centroid table is `localCheckpoint`ed (eager):
    * without truncation the plan after i iterations nests i assign+step
    * subtrees and re-executes ALL of them every pass — the classic
    * iterative-algorithm lineage explosion. The checkpoint materializes
    * ~k·dim floats per iteration (broadcast-sized by construction), so
    * truncation is effectively free.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): DataFrame = {
    var cents = seedCentroids(corpus, idCol, vecCol, k)
    for (_ <- 0 until iters) {
      val refined = kmeansStep(assign(corpus, idCol, vecCol, cents), vecCol)
      cents = refined.localCheckpoint(true)
    }
    cents
  }

  /** IVF search with int8-quantized candidate scoring — the composed
    * 100-TB ANN plan: the coarse quantizer restricts each query to
    * `nprobe` inverted lists (scanned fraction ≈ nprobe/numCentroids),
    * and WITHIN the probed lists candidates are scored over the compact
    * int8 representation (¼ the bytes of float32 — in a real deployment
    * the codes are precomputed and stored, so candidate generation never
    * reads full vectors). The top `k·candMult` per query then rerank with
    * EXACT cosine over full vectors — a join touching only
    * |queries|·k·candMult corpus rows.
    *
    * Approximate score: `(qa·qb)·sa·sb / (‖a‖·‖b‖)` — int8 dot is exact
    * integer arithmetic, true norms are precomputed per row
    * ([[Similarity.quantizeInt8]] scaladoc derives the ≤0.4% relative
    * error). All arithmetic is deterministic half-up rounding, so the
    * whole pipeline (assignment → probes → int8 cut → exact rerank) is
    * engine-portable and value-oracled end to end (probe x37).
    */
  def searchQuantized(
      queries: DataFrame, qidCol: String, qvecCol: String,
      corpus: DataFrame, cidCol: String, cvecCol: String,
      cents: DataFrame, k: Int, nprobe: Int, candMult: Int = 4): DataFrame = {
    // one assignment pass; codes + norms hoisted once per corpus row
    val assigned = assign(corpus, cidCol, cvecCol, cents)
      .withColumn("__cq", Similarity.quantizeInt8(col(cvecCol)))
      .withColumn("__cnorm", vec_norm(col(cvecCol)))
      .localCheckpoint() // feeds the candidate join and the exact rerank; not persist — see search()

    val wProbe = Window.partitionBy(col(qidCol)).orderBy(col("__sim").desc, col("centroid_id").asc)
    val probes = queries
      .withColumn("__qq", Similarity.quantizeInt8(col(qvecCol)))
      .withColumn("__qnorm", vec_norm(col(qvecCol)))
      .crossJoin(broadcast(cents.withColumn("__cn", vec_norm(col("centroid_vec")))))
      .withColumn("__sim",
        round(vec_dot(col(qvecCol), col("centroid_vec")) / (col("__qnorm") * col("__cn")), 6))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("__qq"), col("__qnorm"), col("centroid_id"))

    // candidate cut over int8 codes only (compact columns pruned from the
    // probed lists; full corpus vectors are NOT read here)
    val wCand = Window.partitionBy(col(qidCol)).orderBy(col("__approx").desc, col(cidCol).asc)
    val cands = probes.join(
        assigned.select(col(cidCol), col("centroid_id"), col("__cq"), col("__cnorm")),
        Seq("centroid_id"))
      .filter(col(qidCol) =!= col(cidCol))
      .withColumn("__approx",
        round(vec_dot(col("__qq.q"), col("__cq.q")) * col("__qq.s") * col("__cq.s") /
          (col("__qnorm") * col("__cnorm")), 6))
      .withColumn("__r", row_number().over(wCand))
      .filter(col("__r") <= k * candMult)
      .select(col(qidCol), col(qvecCol), col("__qnorm"), col(cidCol))

    // exact rerank over full vectors, candidates only
    val wRank = Window.partitionBy(col(qidCol)).orderBy(col("cosine_sim").desc, col(cidCol).asc)
    cands.join(assigned.select(col(cidCol), col(cvecCol), col("__cnorm")), Seq(cidCol))
      .withColumn("cosine_sim",
        round(vec_dot(col(qvecCol), col(cvecCol)) / (col("__qnorm") * col("__cnorm")), 6))
      .select(col(qidCol), col(cidCol), col("cosine_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ search — the fully composed 100-TB ANN plan (the faiss
    * `IVFPQ` shape): the coarse quantizer restricts each query to
    * `nprobe` inverted lists, candidates WITHIN the probed lists score
    * via product-quantization ADC ([[Pq.adcScore]] — `m` byte-table
    * lookups per pair over codes precomputed once per corpus row, 4×
    * less candidate I/O than [[searchQuantized]]'s int8 and 32× less
    * than float), and the top `k·candMult` rerank with EXACT cosine over
    * full vectors. With [[seedCentroids]] + [[Pq.seedCodebooks]] every
    * stage is deterministic and value-oracled (probe x79); with
    * [[train]] + [[Pq.train]] it is the production path.
    */
  def searchPq(
      queries: DataFrame, qidCol: String, qvecCol: String,
      corpus: DataFrame, cidCol: String, cvecCol: String,
      cents: DataFrame, cb: Pq.Codebooks, k: Int, nprobe: Int,
      candMult: Int = 4): DataFrame = {
    // one assignment pass; PQ codes + norms hoisted once per corpus row
    val assigned = assign(corpus, cidCol, cvecCol, cents)
      .withColumn("__codes", Pq.codesColumn(col(cvecCol), cb))
      .withColumn("__cnorm", vec_norm(col(cvecCol)))
      .localCheckpoint() // feeds the candidate join and the exact rerank
    searchPqAssigned(queries, qidCol, qvecCol, assigned, cidCol, cvecCol,
      cents, cb, k, nprobe, candMult)
  }

  /** [[searchPq]] over a pre-assigned, pre-encoded corpus — `assigned`
    * must carry `centroid_id`, `__codes`, and `__cnorm` alongside the id
    * and vector columns, exactly what [[writePqIndex]] stores.
    */
  def searchPqAssigned(
      queries: DataFrame, qidCol: String, qvecCol: String,
      assigned: DataFrame, cidCol: String, cvecCol: String,
      cents: DataFrame, cb: Pq.Codebooks, k: Int, nprobe: Int,
      candMult: Int = 4): DataFrame = {
    val wProbe = Window.partitionBy(col(qidCol)).orderBy(col("__sim").desc, col("centroid_id").asc)
    val probes = queries
      .withColumn("__lut", Pq.lutColumn(col(qvecCol), cb))
      .withColumn("__qnorm", vec_norm(col(qvecCol)))
      .crossJoin(broadcast(cents.withColumn("__cn", vec_norm(col("centroid_vec")))))
      .withColumn("__sim",
        round(vec_dot(col(qvecCol), col("centroid_vec")) / (col("__qnorm") * col("__cn")), 6))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("__lut"), col("__qnorm"), col("centroid_id"))

    // candidate cut over PQ codes + norms only (full corpus vectors NOT
    // read here). The cut ranks the ADC COSINE — normalizing by the true
    // norms exactly as searchQuantized's int8 cut does; a raw-dot cut
    // would drop small-norm true neighbors before the exact rerank
    val wCand = Window.partitionBy(col(qidCol)).orderBy(col("__adc").desc, col(cidCol).asc)
    val cands = probes.join(
        assigned.select(col(cidCol), col("centroid_id"), col("__codes"), col("__cnorm")),
        Seq("centroid_id"))
      .filter(col(qidCol) =!= col(cidCol))
      .withColumn("__adc",
        Pq.adcCosine(col("__lut"), col("__codes"), cb.length, col("__qnorm"), col("__cnorm")))
      .withColumn("__r", row_number().over(wCand))
      .filter(col("__r") <= k * candMult)
      .select(col(qidCol), col(qvecCol), col("__qnorm"), col(cidCol))

    // exact rerank over full vectors, candidates only (zero norms score
    // NULL → desc default nulls last, same guard as Pq.adcCosine)
    val wRank = Window.partitionBy(col(qidCol)).orderBy(col("cosine_sim").desc, col(cidCol).asc)
    cands.join(assigned.select(col(cidCol), col(cvecCol), col("__cnorm")), Seq(cidCol))
      .withColumn("cosine_sim",
        when(col("__qnorm") <= 0.0 || col("__cnorm") <= 0.0, lit(null).cast("double"))
          .otherwise(round(vec_dot(col(qvecCol), col(cvecCol)) / (col("__qnorm") * col("__cnorm")), 6)))
      .select(col(qidCol), col(cidCol), col("cosine_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
  }

  /** IVF search: probe `nprobe` lists per query, exact-rerank, top-k.
    * Deterministic (6-decimal rounding + id tiebreaks) when `cents` is.
    */
  def search(
      queries: DataFrame, qidCol: String, qvecCol: String,
      corpus: DataFrame, cidCol: String, cvecCol: String,
      cents: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // norms hoisted BEFORE the probe×list join (one per corpus row / query
    // row, not one per candidate pair — O(k·dim) FLOPs saved per pair).
    // localCheckpoint, not persist: the assignment must not stay in the
    // SQL cache manager after the call returns (ContextCleaner releases
    // the blocks once the returned frame is dropped).
    val assigned = assign(corpus, cidCol, cvecCol, cents)
      .withColumn("__cnorm", vec_norm(col(cvecCol)))
      .localCheckpoint()
    searchAssigned(queries, qidCol, qvecCol, assigned, cidCol, cvecCol, cents, k, nprobe,
      excludeSelf)
  }

  /** Persist a trained index as an [[IndexStore]] version: the centroid
    * table plus the norm-annotated assigned corpus, the latter written
    * `partitionBy(centroid_id)` inside its write dir — the on-disk
    * inverted-list layout. A query batch probing `nprobe` of the
    * `numCentroids` lists reads ONLY those Hive partitions (partition
    * pruning), i.e. ≈ nprobe/numCentroids of the index bytes — the
    * build-once / probe-many deployment shape that amortizes assignment
    * and norm computation across every future batch.
    */
  def writeIndex(path: String, corpus: DataFrame, cidCol: String, cvecCol: String,
      cents: DataFrame): Unit = {
    val spark = corpus.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    val centroids = IndexStore.writeTable(path, "centroids", v, cents)
    val lists = IndexStore.writeTable(path, "lists", v, assign(corpus, cidCol, cvecCol, cents)
      .withColumn("__cnorm", vec_norm(col(cvecCol))), Seq("centroid_id"))
    IndexStore.commit(spark, path, IndexStore.Manifest(v, Map.empty,
      Map("centroids" -> Seq(centroids), "lists" -> Seq(lists))))
  }

  /** Load the committed index → (centroids, assigned lists). */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): (DataFrame, DataFrame) = {
    val m = IndexStore.latest(spark, path)
    (IndexStore.read(spark, path, m, "centroids"), IndexStore.read(spark, path, m, "lists"))
  }

  /** `fresh` assigned rows as the next write dir of `m`'s lists, committed
    * (a batch with nothing new commits nothing).
    */
  private def commitListAppend(spark: SparkSession, path: String, m: IndexStore.Manifest,
      fresh: DataFrame): Unit =
    if (!fresh.isEmpty) {
      val lists = IndexStore.writeTable(path, "lists", m.version + 1, fresh, Seq("centroid_id"))
      IndexStore.commit(spark, path, m.copy(version = m.version + 1,
        tables = m.tables.updated("lists", m.tables("lists") :+ lists)))
    }

  /** Fold a new vector batch into a persisted index under the FROZEN
    * stored quantizer: assign, anti-join already-present ids (idempotent
    * re-ingest), commit as a new write dir of the partitioned list layout.
    * Cheap (batch-sized assign, no corpus scan) but drift-blind — months
    * of appends from a distribution the quantizer never saw pile into few
    * lists, and a hot list degrades the nprobe/numCentroids pruning
    * contract toward a full scan. [[rebalanceIndex]] is the maintenance
    * path; [[plantedRecall]] is the re-gate.
    */
  def appendToIndex(spark: SparkSession, path: String, newVecs: DataFrame,
      cidCol: String, cvecCol: String): Unit = {
    val m = IndexStore.latest(spark, path)
    val cents = IndexStore.read(spark, path, m, "centroids")
    commitListAppend(spark, path, m, assign(newVecs, cidCol, cvecCol, cents)
      .withColumn("__cnorm", vec_norm(col(cvecCol)))
      .join(IndexStore.read(spark, path, m, "lists").select(col(cidCol)), Seq(cidCol), "left_anti")
      .localCheckpoint())
  }

  /** Quantizer maintenance for a persisted index — split-and-refine, the
    * offline list-rebalance every real IVF deployment runs after heavy
    * appends (warm-start Lloyd alone can NEVER split a new hot cluster:
    * one centroid claims the whole blob and no other centroid's basin
    * reaches it, so the skew is stable under refinement):
    *
    *   1. SPLIT: each list larger than `splitFactor ×` the mean has its
    *      centroid REPLACED by two edge seeds — the member farthest from
    *      the centroid (min rounded cosine, ties to smallest id), then
    *      the member farthest from that seed (2-means++-style;
    *      deterministic);
    *   2. REFINE: `iters` warm-start Lloyd passes over the index's
    *      current contents (empty clusters drop out, so a useless split
    *      costs nothing);
    *   3. repeat up to `maxRounds` times or until no list is oversized;
    *   4. publish: refreshed centroids + reassigned lists are written as
    *      fresh dirs and committed as one [[IndexStore]] version — a
    *      crash before the commit leaves the old index current.
    *
    * k grows by the number of useful splits (bounded by `maxRounds ×`
    * hot-list count per round); the √N-centroid contract is the caller's
    * budget — splits stop adding centroids once lists balance. Re-gate
    * recall with [[plantedRecall]] after maintenance.
    */
  def rebalanceIndex(spark: SparkSession, path: String, cidCol: String,
      cvecCol: String, iters: Int = 2, splitFactor: Double = 2.0,
      maxRounds: Int = 10): Unit =
    rebalanceImpl(spark, path, cidCol, cvecCol, Nil, iters, splitFactor, maxRounds)

  /** [[rebalanceIndex]] for a [[writePqIndex]] layout: identical
    * split-and-refine (PQ codes are centroid-INDEPENDENT — reassignment
    * moves a row between lists without re-encoding), with the `__codes`
    * column carried through the rewrite by an id join. Codebooks are
    * untouched.
    */
  def rebalancePqIndex(spark: SparkSession, path: String, cidCol: String,
      cvecCol: String, iters: Int = 2, splitFactor: Double = 2.0,
      maxRounds: Int = 10): Unit =
    rebalanceImpl(spark, path, cidCol, cvecCol, Seq("__codes"), iters,
      splitFactor, maxRounds)

  private def rebalanceImpl(spark: SparkSession, path: String, cidCol: String,
      cvecCol: String, extraCols: Seq[String], iters: Int, splitFactor: Double,
      maxRounds: Int): Unit = {
    require(splitFactor > 1.0, s"splitFactor must exceed 1, got $splitFactor")
    val m = IndexStore.latest(spark, path)
    // pin: the vector set feeds every split round, every Lloyd pass and
    // the final reassignment
    val vecs = IndexStore.read(spark, path, m, "lists")
      .select((Seq(cidCol, cvecCol) ++ extraCols).map(col): _*).localCheckpoint()
    var cents = IndexStore.read(spark, path, m, "centroids").localCheckpoint(true)
    var rnd = 0
    var balanced = false
    while (rnd < maxRounds && !balanced) {
      val assigned = assign(vecs, cidCol, cvecCol, cents).localCheckpoint(true)
      val sizes = assigned.groupBy(col("centroid_id")).agg(count(lit(1)).as("__n"))
      // k-bounded collect: one row per non-empty list
      val szRows = sizes.collect().map(r => r.getLong(0) -> r.getLong(1))
      val mean = szRows.map(_._2).sum.toDouble / math.max(1, szRows.length)
      val hotIds = szRows.filter(_._2 > splitFactor * mean).map(_._1)
      System.err.println(f"""{"ivf_rebalance":"$path","round":$rnd,"lists":${szRows.length},"max":${szRows.map(_._2).max},"mean":$mean%.1f,"hot":${hotIds.length}}""")
      if (hotIds.isEmpty) balanced = true
      else {
        // Hierarchical split: each hot list is bisected by a LOCAL
        // 2-means over its own members — quantile seeds (member ranks
        // ⌈n/4⌉ and ⌈3n/4⌉ by rounded cosine to the parent, id ties),
        // `iters` local Lloyd passes, then the parent centroid is
        // replaced by the two refined sub-means. Two rejected designs,
        // both measured to strand a tight drifted blob intact:
        //   - ADD one far seed + global Lloyd: the parent mean is
        //     central, the edge is not — the mean keeps ~every member;
        //   - REPLACE with edge seeds + GLOBAL Lloyd per round: straggler
        //     outliers hijack the farthest picks, and a sibling list's
        //     central mean recaptures the blob the next round (observed
        //     192→119→168 whack-a-mole). Local refinement is the
        //     standard hierarchical-kmeans fix: membership of other
        //     lists is frozen while a list is subdivided.
        // Quantile seeds sit INSIDE the mass (outlier-immune); the
        // per-list rank is a window over hot lists only — bounded by
        // (few × mean-list-size) rows, an offline-maintenance cost.
        // Deterministic throughout. Sub-centroid ids are
        // −(2·(seedMember·maxRounds + round) + rank01) − 1: corpus ids
        // are non-negative so split ids never collide with seeds, and
        // the round stamp keeps re-picked members unique across rounds.
        val hot = sizes.sparkSession.createDataFrame(
          sizes.sparkSession.sparkContext.parallelize(hotIds.toSeq.map(org.apache.spark.sql.Row(_))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("centroid_id",
              org.apache.spark.sql.types.LongType, nullable = false))))
        val hotMembers = assigned.join(broadcast(hot), Seq("centroid_id"))
          .select(col("centroid_id").as("__parent"), col(cidCol), col(cvecCol))
          .localCheckpoint(true) // feeds seeding and every local pass
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__parent"))
          .orderBy(coalesce(col("__sim"), lit(Double.PositiveInfinity)).asc, col(cidCol).asc)
        val wN = org.apache.spark.sql.expressions.Window.partitionBy(col("__parent"))
        var sub = hotMembers
          .join(broadcast(cents.select(col("centroid_id").as("__parent"),
            col("centroid_vec").as("__refvec"))), Seq("__parent"))
          .withColumn("__sim", round(
            vec_dot(col(cvecCol), col("__refvec")) /
              (vec_norm(col(cvecCol)) * vec_norm(col("__refvec"))), 6))
          .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(wRank))
          .withColumn("__hn", count(lit(1)).over(wN))
          .withColumn("__q1", ((col("__hn") + 3L) / 4L).cast("long"))
          .withColumn("__q3", ((col("__hn") * 3L + 3L) / 4L).cast("long"))
          .filter(col("__rn") === col("__q1") || col("__rn") === col("__q3"))
          .select(col("__parent"),
            (-((col(cidCol) * maxRounds.toLong + rnd.toLong) * 2L +
              when(col("__rn") === col("__q1"), 0L).otherwise(1L)) - 1L).as("__sid"),
            col(cvecCol).as("__svec"))
          .distinct()
          .localCheckpoint(true)
        for (_ <- 0 until iters) {
          // local assign: each hot member chooses among ITS parent's subs
          val a2 = hotMembers.join(broadcast(sub), Seq("__parent"))
            .withColumn("__sim", round(
              vec_dot(col(cvecCol), col("__svec")) /
                (vec_norm(col(cvecCol)) * vec_norm(col("__svec"))), 6))
            .groupBy(col(cidCol))
            .agg(first(col("__parent")).as("__parent"),
              first(col(cvecCol)).as(cvecCol),
              min_by(col("__sid"), struct(
                coalesce(negate(col("__sim")), lit(Double.PositiveInfinity)),
                col("__sid"))).as("centroid_id"))
          val refined = kmeansStep(a2, cvecCol) // means per sub id
          sub = refined
            .join(sub.select(col("__sid"), col("__parent")).distinct(),
              refined("centroid_id") === col("__sid"))
            .select(col("__parent"), col("__sid"), col("centroid_vec").as("__svec"))
            .localCheckpoint(true)
        }
        cents = cents.filter(!col("centroid_id").isin(hotIds.toSeq: _*))
          .unionByName(sub.select(col("__sid").as("centroid_id"),
            col("__svec").as("centroid_vec")))
          .localCheckpoint(true)
      }
      rnd += 1
    }
    // publish: both tables' fresh dirs commit as one version
    val v = m.version + 1
    val centroids = IndexStore.writeTable(path, "centroids", v, cents)
    val reassigned = assign(vecs, cidCol, cvecCol,
        IndexStore.read(spark, path, "centroids", Seq(centroids)))
      .withColumn("__cnorm", vec_norm(col(cvecCol)))
    // assign() is an aggregate and drops passenger columns (PQ codes) —
    // re-attach them by id
    val lists = IndexStore.writeTable(path, "lists", v,
      if (extraCols.isEmpty) reassigned
      else reassigned.join(vecs.select((cidCol +: extraCols).map(col): _*), Seq(cidCol)),
      Seq("centroid_id"))
    IndexStore.commit(spark, path, m.copy(version = v,
      tables = m.tables ++ Map("centroids" -> Seq(centroids), "lists" -> Seq(lists))))
  }

  /** Planted-neighbor recall of a persisted index — the x38 probe
    * discipline as a reusable re-gate: sample the index's own vectors
    * (ids with `xxhash64(id) % sampleMod == 0`), perturb each coordinate
    * by the deterministic ±3% pattern, search with (`k`, `nprobe`), and
    * return the fraction of sampled queries whose source vector lands in
    * the top-k. Run after [[appendToIndex]] drift or [[rebalanceIndex]];
    * a healthy index reads ≥ 0.9. `idOffset` must clear the corpus id
    * space (query ids may not collide with corpus ids — the search's
    * self-pair filter compares them).
    */
  def plantedRecall(spark: SparkSession, path: String, cidCol: String,
      cvecCol: String, k: Int = 5, nprobe: Int = 4, sampleMod: Long = 9L,
      idOffset: Long = 1000000000L): Double = {
    val (cents, lists) = readIndex(spark, path)
    plantedRecallOver(lists, cidCol, cvecCol, k, nprobe, sampleMod, idOffset) {
      (q, lists2) => searchAssigned(q, "__qid", "__qvec", lists2, cidCol,
        cvecCol, cents, k, nprobe)
    }
  }

  /** [[plantedRecall]] for a [[writePqIndex]] layout (searches through
    * [[searchPqAssigned]] — the ADC cut is part of what is being gated).
    * `candMult` is the recovery knob when the gate reads low over a
    * NEAR-DUP-DENSE region: inside a cluster tighter than the PQ
    * resolution (~cell diameter per subspace) every member's ADC score is
    * the same number, the cut decays to id order, and no codebook refresh
    * can help — only widening the cut past the blob's list size (or
    * deduplicating before indexing — SemDeDup exists for exactly this)
    * restores the exact rerank's reach. Measured in IvfSpec: the drifted
    * blob reads 0.70 at the default cut — before AND after
    * [[reencodePqIndex]], the signature of sub-resolution density — and
    * re-gates ≥ 0.9 with the widened cut.
    */
  def plantedRecallPq(spark: SparkSession, path: String, cidCol: String,
      cvecCol: String, k: Int = 5, nprobe: Int = 4, candMult: Int = 4,
      sampleMod: Long = 9L, idOffset: Long = 1000000000L): Double = {
    val (cents, lists, cb) = readPqIndex(spark, path)
    plantedRecallOver(lists, cidCol, cvecCol, k, nprobe, sampleMod, idOffset) {
      (q, lists2) => searchPqAssigned(q, "__qid", "__qvec", lists2, cidCol,
        cvecCol, cents, cb, k, nprobe, candMult)
    }
  }

  private def plantedRecallOver(lists: DataFrame, cidCol: String,
      cvecCol: String, k: Int, nprobe: Int, sampleMod: Long, idOffset: Long)(
      search: (DataFrame, DataFrame) => DataFrame): Double = {
    val queries = lists
      .filter(pmod(xxhash64(col(cidCol)), lit(sampleMod)) === 0L)
      .select((col(cidCol) + idOffset).as("__qid"), col(cidCol).as("__planted"),
        transform(col(cvecCol), (x, i) =>
          x.cast("double") +
            (pmod(col(cidCol) + i.cast("long"), lit(7L)) - 3L).cast("double") * 0.01)
          .as("__qvec"))
      .localCheckpoint() // pin: feeds the search and the recall join
    val n = queries.count()
    if (n == 0L) return 1.0
    val found = search(queries.select(col("__qid"), col("__qvec")), lists)
      .join(queries.select(col("__qid"), col("__planted")), Seq("__qid"))
      .filter(col(cidCol) === col("__planted"))
      .select(col("__qid")).distinct().count()
    found.toDouble / n
  }

  /** Persist a trained IVF-PQ index as an [[IndexStore]] version:
    * centroids, codebooks (as (j, k, t, c) rows), and the assigned corpus
    * with PQ codes + norms precomputed, written `partitionBy(centroid_id)`
    * inside its write dir — the on-disk inverted-list
    * layout where a probe reads ≈ nprobe/numCentroids of the index bytes
    * AND the candidate stage's code column prunes to a fraction of each
    * list's bytes (column pruning inside partition pruning — the
    * build-once / probe-many deployment that amortizes assignment,
    * encoding, and norm computation across every future query batch).
    */
  def writePqIndex(path: String, corpus: DataFrame, cidCol: String, cvecCol: String,
      cents: DataFrame, cb: Pq.Codebooks): Unit = {
    val spark = corpus.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    val tables = Map(
      "centroids" -> IndexStore.writeTable(path, "centroids", v, cents),
      "codebooks" -> IndexStore.writeTable(path, "codebooks", v, codebookRows(spark, cb)),
      "lists" -> IndexStore.writeTable(path, "lists", v, assign(corpus, cidCol, cvecCol, cents)
        .withColumn("__codes", Pq.codesColumn(col(cvecCol), cb))
        .withColumn("__cnorm", vec_norm(col(cvecCol))), Seq("centroid_id")))
    IndexStore.commit(spark, path,
      IndexStore.Manifest(v, Map.empty, tables.map { case (t, d) => t -> Seq(d) }))
  }

  private def codebookRows(sp: SparkSession, cb: Pq.Codebooks): DataFrame = {
    import sp.implicits._
    cb.zipWithIndex.flatMap { case (cwj, j) =>
      cwj.zipWithIndex.flatMap { case (cw, k) =>
        cw.zipWithIndex.map { case (c, t) => (j, k, t, c) }
      }
    }.toSeq.toDF("j", "k", "t", "c")
  }

  /** Codebook refresh for a persisted PQ index: [[rebalancePqIndex]]
    * moves rows between lists but codes stay FROZEN under the original
    * codebooks, so appends from a distribution the codebooks never saw
    * quantize with uncalibrated cells and the ADC scores drift from the
    * true cosines. This retrains the codebooks over the index's CURRENT
    * contents ([[Pq.train]], Lloyd per subspace), re-encodes every row,
    * and commits `codebooks` + `lists` as one [[IndexStore]] version
    * (rows, centroids and list assignment untouched — IvfSpec pins set
    * preservation and that the codebooks
    * actually move). KNOWN LIMIT, measured: a refresh cannot restore ADC
    * *ranking inside* a near-dup-dense blob tighter than the PQ
    * resolution — every member still snaps to the same cells and scores
    * the same number; for that population widen `candMult` past the
    * blob's list size ([[plantedRecallPq]] scaladoc) or near-dup-dedup
    * before indexing.
    */
  def reencodePqIndex(spark: SparkSession, path: String, cidCol: String,
      cvecCol: String, iters: Int = 3): Unit = {
    val m = IndexStore.latest(spark, path)
    val (_, lists, cb0) = readPqIndex(spark, path, m)
    val dim = cb0.length * cb0(0)(0).length
    // pin: feeds training AND the re-encode
    val vecs = lists.select(col(cidCol), col(cvecCol), col("__cnorm"),
      col("centroid_id")).localCheckpoint()
    val cb = Pq.train(vecs, cidCol, cvecCol, cb0.length, cb0(0).length, dim, iters)
    val v = m.version + 1
    IndexStore.commit(spark, path, m.copy(version = v, tables = m.tables ++ Map(
      "codebooks" -> Seq(IndexStore.writeTable(path, "codebooks", v, codebookRows(spark, cb))),
      "lists" -> Seq(IndexStore.writeTable(path, "lists", v,
        vecs.withColumn("__codes", Pq.codesColumn(col(cvecCol), cb)), Seq("centroid_id"))))))
  }

  /** Fold a new vector batch into a persisted PQ index under the FROZEN
    * quantizer AND codebooks — the [[appendToIndex]] twin with codes +
    * norms precomputed per appended row. Same drift caveat; maintain
    * with [[rebalancePqIndex]], re-gate with [[plantedRecallPq]].
    */
  def appendToPqIndex(spark: SparkSession, path: String, newVecs: DataFrame,
      cidCol: String, cvecCol: String): Unit = {
    val m = IndexStore.latest(spark, path)
    val (cents, lists, cb) = readPqIndex(spark, path, m)
    commitListAppend(spark, path, m, assign(newVecs, cidCol, cvecCol, cents)
      .withColumn("__codes", Pq.codesColumn(col(cvecCol), cb))
      .withColumn("__cnorm", vec_norm(col(cvecCol)))
      .join(lists.select(col(cidCol)), Seq(cidCol), "left_anti")
      .localCheckpoint())
  }

  /** Load the committed IVF-PQ index → (centroids, assigned lists,
    * codebooks) — feed straight into [[searchPqAssigned]].
    */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, Pq.Codebooks) =
    readPqIndex(spark, path, IndexStore.latest(spark, path))

  private def readPqIndex(spark: SparkSession, path: String,
      mf: IndexStore.Manifest): (DataFrame, DataFrame, Pq.Codebooks) = {
    val rows = IndexStore.read(spark, path, mf, "codebooks")
      .select(col("j"), col("k"), col("t"), col("c")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val ds = rows.map(_.getInt(2)).max + 1
    val cb = Array.fill(m, ks, ds)(0.0)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    (IndexStore.read(spark, path, mf, "centroids"), IndexStore.read(spark, path, mf, "lists"), cb)
  }

  /** The per-query probe selection SHARED by [[searchAssigned]] and the
    * pruned [[searchIndex]] (one code path — the pruning set and the
    * probed set cannot drift): each query's `nprobe` max-cosine
    * centroids, ties to the smallest centroid id.
    */
  private def probeCentroids(queries: DataFrame, qidCol: String, qvecCol: String,
      cents: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col(qidCol)).orderBy(col("__sim").desc, col("centroid_id").asc)
    queries.withColumn("__qnorm", vec_norm(col(qvecCol)))
      .crossJoin(broadcast(cents.withColumn("__cn", vec_norm(col("centroid_vec")))))
      .withColumn("__sim",
        round(vec_dot(col(qvecCol), col("centroid_vec")) / (col("__qnorm") * col("__cn")), 6))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("__qnorm"), col("centroid_id"))
  }

  /** [[search]] over a pre-assigned (e.g. [[readIndex]]-loaded) corpus —
    * `assigned` must carry `centroid_id` and `__cnorm` alongside the id
    * and vector columns, exactly what [[writeIndex]] stores.
    * `excludeSelf = false` keeps a corpus row whose id equals the query
    * id (the [[Similarity.bruteForceTopK]] convention — a retrieval
    * query's planted source doc is a hit, not noise).
    */
  def searchAssigned(
      queries: DataFrame, qidCol: String, qvecCol: String,
      assigned: DataFrame, cidCol: String, cvecCol: String,
      cents: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val probes = probeCentroids(queries, qidCol, qvecCol, cents, nprobe)
    val wRank = Window.partitionBy(col(qidCol)).orderBy(col("cosine_sim").desc, col(cidCol).asc)
    probes.join(assigned, Seq("centroid_id"))
      .filter(if (excludeSelf) col(qidCol) =!= col(cidCol) else lit(true))
      .withColumn("cosine_sim",
        round(vec_dot(col(qvecCol), col(cvecCol)) / (col("__qnorm") * col("__cnorm")), 6))
      .select(col(qidCol), col(cidCol), col("cosine_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
  }

  /** [[searchAssigned]] against a [[writeIndex]] layout with DIRECTORY-
    * level pruning (round 15 — the missing composition the daily hybrid
    * sweep needs): the union of every query's probed centroid ids is
    * collected driver-side (≤ numCentroids values — bounded by the
    * broadcast-sized centroid table, the [[graft.ops.TextStats
    * .probeBm25Index]] term-partition discipline) and the inverted-list
    * scan is filtered to those `centroid_id=` Hive partitions BEFORE the
    * probe join, so a batch probing p of the C lists reads ≈ p/C of the
    * index bytes — no join-side DPP gamble. Probe selection is the
    * SHARED [[probeCentroids]], so the pruned set can never miss a
    * probed list. With `nprobe = numCentroids` the search is exact
    * (every list probed — ≡ [[Similarity.bruteForceTopK]]; x147 pins
    * that by value); smaller `nprobe` is the approximate deployment
    * point, re-gated by [[plantedRecall]].
    */
  def searchIndex(spark: SparkSession, path: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      cidCol: String, cvecCol: String, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val (cents, lists) = readIndex(spark, path)
    val probed = probeCentroids(queries, qidCol, qvecCol, cents, nprobe)
      .select(col("centroid_id")).distinct().collect().map(_.get(0))
    searchAssigned(queries, qidCol, qvecCol,
      lists.filter(col("centroid_id").isin(probed: _*)),
      cidCol, cvecCol, cents, k, nprobe, excludeSelf)
  }
}
