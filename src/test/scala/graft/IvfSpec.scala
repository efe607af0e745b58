package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.ops.{Ivf, Pq, Similarity}
import graft.sources.Readers

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Readers.table(spark, sf0001, "embeddings")

  test("assign maps every vector to exactly one centroid") {
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16)
    val assigned = Ivf.assign(emb, "vec_id", "embedding", cents)
    assert(assigned.count() == emb.count())
    assert(assigned.select("vec_id").distinct().count() == emb.count())
    assert(assigned.select("centroid_id").distinct().count() <= 16)
  }

  test("IVF search returns true cosines and full probing (nprobe = numCents) equals brute force") {
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val full = Ivf.search(queries, "query_id", "qvec", emb, "vec_id", "embedding",
        cents, k = 5, nprobe = 8)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", 5)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    assert(full == brute, "probing every list = exact search")
  }

  test("one Lloyd iteration yields element-wise means with the original dimension") {
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 4)
    val assigned = Ivf.assign(emb, "vec_id", "embedding", cents)
    val refined = Ivf.kmeansStep(assigned, "embedding")
    assert(refined.count() <= 4)
    assert(refined.select(size($"centroid_vec")).as[Int].collect().forall(_ == 64))
    // refined centroid of a cluster must equal the avg of its members (spot-check dim 0)
    val clusterOf = assigned.select($"centroid_id", element_at($"embedding", 1).cast("double").as("d0"))
      .groupBy($"centroid_id").agg(avg($"d0").as("want"))
    val got = refined.select($"centroid_id", element_at($"centroid_vec", 1).cast("double").as("got"))
    val joined = clusterOf.join(got, "centroid_id")
      .select(abs($"want" - $"got").as("err")).as[Double].collect()
    assert(joined.forall(_ < 1e-6), "float re-cast tolerance")
  }

  test("train: iterated Lloyd keeps k centroids, dim intact, and a truncated plan") {
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val trained = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 3)
    assert(trained.count() <= 4)
    assert(trained.select(size($"centroid_vec")).as[Int].collect().forall(_ == 64))
    // localCheckpoint must have truncated the iterative lineage: the final
    // plan reads the checkpointed RDD, not 3 nested assign+step subtrees
    val plan = trained.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), s"nested iteration subtree survived:\n$plan")
    // trained quantizer still supports exact-equivalent full probing
    val full = Ivf.search(queries, "query_id", "qvec", emb, "vec_id", "embedding",
        trained, k = 5, nprobe = 4)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", 5)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    assert(full == brute, "probing every trained list = exact search")
  }

  test("persisted index: searchAssigned over readIndex equals live search; probes prune lists") {
    val dir = scratch("ivf_index").toString
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    Ivf.writeIndex(dir, emb, "vec_id", "embedding", cents)
    val (loadedCents, lists) = Ivf.readIndex(spark, dir)
    val fromIndex = Ivf.searchAssigned(queries, "query_id", "qvec",
        lists, "vec_id", "embedding", loadedCents, k = 5, nprobe = 2)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    val live = Ivf.search(queries, "query_id", "qvec", emb, "vec_id", "embedding",
        cents, k = 5, nprobe = 2)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    assert(fromIndex == live, "the persisted index must answer identically to the live path")
    // the on-disk inverted-list layout: filtering to probed lists prunes
    // to those Hive partitions (PartitionFilters on centroid_id in the
    // scan — inputFiles() lists the unpruned relation, so read the plan)
    val minCent = lists.select(min("centroid_id")).as[Long].head()
    val plan = lists.filter($"centroid_id" === minCent)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"PartitionFilters: [isnotnull(centroid_id") &&
      plan.contains(s"= $minCent)"),
      s"a probed-list read must carry a centroid_id partition filter:\n$plan")
  }

  test("searchIndex: pruned persisted-index search equals searchAssigned on the full lists, " +
      "the scan prunes to probed centroid partitions, and excludeSelf=false keeps the self hit") {
    val dir = scratch("ivf_searchindex").toString
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    Ivf.writeIndex(dir, emb, "vec_id", "embedding", cents)
    val (loadedCents, lists) = Ivf.readIndex(spark, dir)
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    val pruned = Ivf.searchIndex(spark, dir, queries, "query_id", "qvec",
      "vec_id", "embedding", k = 5, nprobe = 2)
    val unpruned = Ivf.searchAssigned(queries, "query_id", "qvec",
      lists, "vec_id", "embedding", loadedCents, k = 5, nprobe = 2)
    assert(collectSet(pruned) == collectSet(unpruned),
      "directory pruning must not change the probed result")
    // the inverted-list scan must carry the probed-centroid partition
    // filter (directory-level pruning, not a post-scan filter)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[centroid_id#\d+ (INSET|IN \()""".r.findFirstIn(plan).isDefined,
      s"searchIndex must prune list partitions:\n${plan.take(3000)}")
    // full probing ≡ brute force (the x147 exactness contract), and the
    // self row is kept when excludeSelf=false (the retrieval convention)
    val full = Ivf.searchIndex(spark, dir, queries, "query_id", "qvec",
      "vec_id", "embedding", k = 5, nprobe = 8, excludeSelf = false)
    val brute = Similarity.bruteForceTopK(queries, "query_id", "qvec",
      emb, "vec_id", "embedding", 5, excludeSelf = false)
    assert(collectSet(full) == collectSet(brute),
      "nprobe = numCentroids with excludeSelf=false must equal brute force")
    assert(full.filter($"query_id" === $"vec_id").count() == 3,
      "each query's own vector is its top hit when excludeSelf=false")
  }

  test("persisted IVF-PQ index: searchPqAssigned over readPqIndex equals the live path, " +
      "codebooks roundtrip exactly") {
    val dir = scratch("ivfpq_index").toString
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val cb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16, dim = 64)
    Ivf.writePqIndex(dir, emb, "vec_id", "embedding", cents, cb)
    val (loadedCents, lists, loadedCb) = Ivf.readPqIndex(spark, dir)
    assert(loadedCb.map(_.map(_.toSeq).toSeq).toSeq == cb.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must roundtrip bit-for-bit")
    val fromIndex = Ivf.searchPqAssigned(queries, "query_id", "qvec",
        lists, "vec_id", "embedding", loadedCents, loadedCb, k = 5, nprobe = 2)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    val live = Ivf.searchPq(queries, "query_id", "qvec", emb, "vec_id", "embedding",
        cents, cb, k = 5, nprobe = 2)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    assert(fromIndex == live, "the persisted PQ index must answer identically to the live path")
  }

  test("index maintenance: drifted append skews one list; rebalance splits it; recall re-gates ≥ 0.9") {
    val dir = scratch("ivf_maint").toString
    val a = emb.filter($"vec_id" % 3 =!= 0)
    // drifted batch: a positive-orthant blob the quantizer never saw,
    // with 8 coordinate-rotation sub-blobs — under the FROZEN centroids
    // every member argmaxes to the same list (the +1 offset dominates),
    // but a retrained quantizer can and should split the sub-structure
    val b = emb.filter($"vec_id" % 3 === 0)
      .select($"vec_id",
        transform(sequence(lit(0), size($"embedding") - 1), j =>
          abs(element_at($"embedding",
            pmod(j + pmod($"vec_id", lit(8L)).cast("int"), size($"embedding")) + 1)) + lit(1.0f))
          .as("embedding"))
    val cents = Ivf.train(a, "vec_id", "embedding", k = 16, iters = 2)
    Ivf.writeIndex(dir, a, "vec_id", "embedding", cents)
    Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding")
    Ivf.appendToIndex(spark, dir, b, "vec_id", "embedding") // idempotent re-ingest
    val (_, lists) = Ivf.readIndex(spark, dir)
    val n = emb.count()
    assert(lists.count() == n, "append must fold every vector exactly once")
    // skew evidence: the whole drifted batch piles into ONE frozen list
    val bCount = b.count()
    val bListSizes = lists.join(b.select($"vec_id"), Seq("vec_id"), "left_semi")
      .groupBy($"centroid_id").count().as[(Long, Long)].collect().toMap
    assert(bListSizes.values.max >= (bCount * 0.9).toLong,
      s"drift fixture must skew into one list, got $bListSizes")
    // rebalance: split-and-refine, committed as one version
    Ivf.rebalanceIndex(spark, dir, "vec_id", "embedding")
    val (cents2, lists2) = Ivf.readIndex(spark, dir)
    assert(lists2.count() == n, "rebalance must preserve the vector set")
    assert(lists2.select("vec_id").distinct().count() == n)
    val sizesAfter = lists2.groupBy($"centroid_id").count().as[(Long, Long)].collect().toMap
    val meanAfter = n.toDouble / sizesAfter.size
    assert(sizesAfter.values.max <= meanAfter * 2.0 + 1,
      s"rebalance must leave no oversized list: max ${sizesAfter.values.max} vs mean $meanAfter")
    assert(sizesAfter.values.max < bListSizes.values.max,
      "the drifted blob must have been split")
    // recall re-gate, the x38 discipline over the index's own vectors
    val recall = Ivf.plantedRecall(spark, dir, "vec_id", "embedding", k = 5, nprobe = 4)
    assert(recall >= 0.9, s"post-maintenance recall $recall must re-gate >= 0.9")
    // searches over the rebalanced index still return true cosines: full
    // probing equals brute force over the SAME vector set
    val queries = lists2.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000000L).as("query_id"), $"embedding".as("qvec"))
    val k2 = cents2.count().toInt
    val full = Ivf.searchAssigned(queries, "query_id", "qvec", lists2, "vec_id", "embedding",
        cents2, k = 5, nprobe = k2)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, "query_id", "qvec",
        lists2.select($"vec_id", $"embedding"), "vec_id", "embedding", 5)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect().toSet
    assert(full == brute, "full probing of the rebalanced index = exact search")
  }

  test("PQ index lifecycle: append keeps codes exact; rebalance carries codes through; recall re-gates") {
    val dir = scratch("ivfpq_maint").toString
    val a = emb.filter($"vec_id" % 3 =!= 0)
    val b = emb.filter($"vec_id" % 3 === 0)
      .select($"vec_id",
        transform(sequence(lit(0), size($"embedding") - 1), j =>
          abs(element_at($"embedding",
            pmod(j + pmod($"vec_id", lit(8L)).cast("int"), size($"embedding")) + 1)) + lit(1.0f))
          .as("embedding"))
    val cb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16, dim = 64)
    Ivf.writePqIndex(dir, a, "vec_id", "embedding",
      Ivf.train(a, "vec_id", "embedding", k = 16, iters = 2), cb)
    Ivf.appendToPqIndex(spark, dir, b, "vec_id", "embedding")
    Ivf.appendToPqIndex(spark, dir, b, "vec_id", "embedding") // idempotent
    val (_, lists, _) = Ivf.readPqIndex(spark, dir)
    assert(lists.count() == emb.count())
    // appended codes must equal a fresh encode of the same vectors
    val appendedCodes = lists.join(b.select($"vec_id"), Seq("vec_id"), "left_semi")
      .select($"vec_id", $"__codes").as[(Long, Seq[Int])].collect().toMap
    val freshCodes = b.select($"vec_id", Pq.codesColumn($"embedding", cb).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(appendedCodes == freshCodes, "append must encode through the stored codebooks")
    // rebalance: codes ride through the rewrite byte-for-byte
    val before = lists.select($"vec_id", $"__codes").as[(Long, Seq[Int])].collect().toMap
    Ivf.rebalancePqIndex(spark, dir, "vec_id", "embedding")
    val (cents2, lists2, cb2) = Ivf.readPqIndex(spark, dir)
    assert(cb2.map(_.map(_.toSeq).toSeq).toSeq == cb.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks are centroid-independent and must be untouched")
    assert(lists2.count() == emb.count())
    val after = lists2.select($"vec_id", $"__codes").as[(Long, Seq[Int])].collect().toMap
    assert(after == before, "rebalance must carry every row's codes unchanged")
    val sizes = lists2.groupBy($"centroid_id").count().as[(Long, Long)].collect().map(_._2)
    assert(sizes.max <= sizes.sum.toDouble / sizes.length * 2.0 + 1,
      s"rebalance must balance the PQ lists: max ${sizes.max}")
    // the ADC cut is BLIND inside the drifted blob: members sit closer
    // together than the PQ cells resolve, every candidate scores the
    // same ADC number, the default cut decays to id order and drops the
    // planted neighbor (the flat index re-gated >= 0.9 on this exact
    // drift — its rerank is exact over whole lists, no cut)
    val recallFrozen = Ivf.plantedRecallPq(spark, dir, "vec_id", "embedding",
      k = 5, nprobe = 4)
    assert(recallFrozen < 0.9,
      s"drift fixture must degrade the default ADC cut, got $recallFrozen")
    // the documented mitigation for a dense region: probe at BLOB WIDTH
    // and widen the cut past the blob's membership. Inside the blob the
    // ~15 split lists' centroids are all within noise of a query, so the
    // top-4 probe ranking is arbitrary there (measured: recall is
    // INSENSITIVE to candMult and to +2/+4 nprobe — the misses are
    // queries whose planted list ranked 9th-15th); nprobe >= the blob's
    // list count makes every blob member a candidate and the EXACT
    // rerank does the rest. Same lesson as the flat index, which passes
    // its 0.9 gate at nprobe=4 only marginally for the same reason.
    val recallWide = Ivf.plantedRecallPq(spark, dir, "vec_id", "embedding",
      k = 5, nprobe = 16, candMult = 40)
    assert(recallWide >= 0.9, s"widened-cut PQ recall $recallWide must re-gate >= 0.9")
    // codebook refresh: preserves the set, actually retrains, and CANNOT
    // fix sub-resolution density (recall at the default cut is unchanged
    // — the measured boundary between what a refresh buys and what only
    // the cut width or prior dedup can)
    Ivf.reencodePqIndex(spark, dir, "vec_id", "embedding")
    val (_, lists3, cb3) = Ivf.readPqIndex(spark, dir)
    assert(lists3.count() == emb.count(), "re-encode must preserve the vector set")
    assert(cb3.map(_.map(_.toSeq).toSeq).toSeq != cb.map(_.map(_.toSeq).toSeq).toSeq,
      "re-encode must actually retrain the codebooks")
    val recallAfter = Ivf.plantedRecallPq(spark, dir, "vec_id", "embedding",
      k = 5, nprobe = 16, candMult = 40)
    assert(recallAfter >= 0.9,
      s"post-re-encode widened-cut recall $recallAfter must re-gate >= 0.9")
  }

  test("approx_count_distinct stays within 5% of exact (the documented 100-TB alternative)") {
    val ev = Readers.table(spark, sf0001, "events")
    val (exact, approx) = ev.agg(
      countDistinct($"user_id").cast("double"),
      approx_count_distinct($"user_id").cast("double")
    ).as[(Double, Double)].head()
    assert(math.abs(approx - exact) / exact < 0.05)
  }
}
