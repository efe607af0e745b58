package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The manifest-committed index store ([[IndexStore]]) under crashes, over
  * every family that persists through it. Each crash is simulated by the
  * on-disk state it leaves, made from a real run of the family's own
  * write: no hook or option in the code under test.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._
  import IndexStoreSpec.{copyTree, uncommit}

  /** A family under drill: a build over ids 1–20, an append of a batch
    * of ids, a compaction (if the family has one: the counts and label
    * families rewrite their one table on every fold), and the answer a
    * reader gets from the committed index. `replayNoop`: a replayed
    * append commits nothing (the cc and HLL folds are idempotent by
    * algebra, so their replay commits an equal answer instead).
    */
  private final case class Family(name: String, build: String => Unit,
      append: (String, Seq[Long]) => Unit, compact: Option[String => Unit],
      answer: String => Seq[String], replayNoop: Boolean = true) {
    def append1(p: String): Unit = append(p, 21L to 30L)
    def append2(p: String): Unit = append(p, 31L to 40L)
    def append3(p: String): Unit = append(p, 41L to 50L)
  }

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
  private def doc(i: Long): String = {
    val r = new scala.util.Random(i)
    Seq.fill(6)(words(r.nextInt(words.size))).mkString(" ")
  }
  private def docs(ids: Seq[Long]) = ids.map(i => (i, doc(i))).toDF("id", "text")
  /** Text that shares no 3-gram with any other id's. */
  private def udoc(i: Long): String = {
    val r = new scala.util.Random(i * 7919L)
    Seq.fill(6)(s"w${r.nextInt(100000)}").mkString(" ")
  }
  private def udocs(ids: Seq[Long]) = ids.map(i => (i, udoc(i))).toDF("id", "text")
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
  private def classified(df: DataFrame): Seq[String] = try rows(df) finally df.unpersist()

  private val bm25 = {
    val q = Seq((1L, "alpha gamma"), (2L, "zeta theta beta")).toDF("qid", "qt")
    Family("bm25",
      p => TextStats.writeBm25Index(docs(1L to 20L), "id", $"text", p),
      (p, ids) => TextStats.appendToBm25Index(spark, p, docs(ids), "id", $"text"),
      Some(p => TextStats.compactBm25Index(spark, p)),
      p => rows(TextStats.probeBm25Index(spark, p, q, "qid", $"qt")
        .select($"qid", $"id", Canonical.round6($"bm25"))))
  }

  private val hash = {
    // exact copies of docs 5, 25 and 35, plus text no write indexes
    val batch = Seq((105L, doc(5)), (125L, doc(25)), (135L, doc(35)), (199L, "never indexed"))
      .toDF("id", "text")
    Family("hash",
      p => Dedup.writeHashIndex(docs(1L to 20L), "id", "text", p, expectedItems = 100L),
      (p, ids) => Dedup.appendToHashIndex(spark, p, docs(ids), "id", "text"),
      Some(p => Dedup.compactHashIndex(spark, p)),
      p => classified(Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, p), batch, "id", "text")))
  }

  private val paragraph = {
    def para(i: Long) = { val w = udoc(i).split(" "); w.take(3).mkString(" ") + "\n" + w.drop(3).mkString(" ") }
    def pdocs(ids: Seq[Long]) = ids.map(i => (i, para(i))).toDF("id", "text")
    val batch = Seq((105L, para(5) + "\nfresh one"), (125L, para(25)), (135L, para(35) + "\nfresh two"))
      .toDF("id", "text")
    Family("paragraph",
      p => Dedup.writeParagraphIndex(pdocs(1L to 20L), "id", "text", p, expectedItems = 100L),
      (p, ids) => Dedup.appendToParagraphIndex(spark, p, pdocs(ids), "id", "text"),
      Some(p => Dedup.compactParagraphIndex(spark, p)),
      p => rows(Dedup.incrementalParagraphIndexed(Dedup.readParagraphIndex(spark, p), batch, "id", "text")))
  }

  private val span = {
    val batch = Seq((105L, udoc(5)), (125L, udoc(25) + " and more"), (135L, "q " + udoc(35)))
      .toDF("id", "text")
    Family("span",
      p => Dedup.writeSpanIndex(udocs(1L to 20L), "id", "text", p, expectedItems = 100L, k = 3),
      (p, ids) => Dedup.appendToSpanIndex(spark, p, udocs(ids), "id", "text"),
      Some(p => Dedup.compactSpanIndex(spark, p)),
      p => rows(Dedup.incrementalSubstringIndexed(Dedup.readSpanIndex(spark, p), batch, "id", "text")))
  }

  private val band = {
    // near copies (last word changed) of docs 5, 25 and 35, and new text
    def near(i: Long) = udoc(i).split(" ").dropRight(1).mkString(" ") + " changed"
    val batch = Seq((105L, near(5)), (125L, near(25)), (135L, near(35)), (199L, udoc(199)))
      .toDF("id", "text")
    Family("band",
      p => Dedup.writeBandIndex(udocs(1L to 20L), "id", $"text", p,
        n = 3, numPerm = 32, numBands = 16, rowsPerBand = 2),
      (p, ids) => Dedup.appendToBandIndex(spark, p, udocs(ids), "id", "text"),
      Some(p => Dedup.compactIngestIndex(spark, p)),
      p => classified(Dedup.incrementalDedupIndexed(Dedup.readIngestIndex(spark, p, org.apache.spark.sql.types.LongType),
        batch, "id", "text", threshold = 0.5)))
  }

  private def vec(i: Long): Array[Float] = {
    val r = new scala.util.Random(i)
    Array.fill(8)(r.nextFloat() - 0.5f)
  }
  private def vecs(ids: Seq[Long]) = ids.map(i => (i, vec(i))).toDF("id", "v")

  private val vecFamily = {
    val batch = Seq((105L, vec(5)), (125L, vec(25)), (135L, vec(35).map(_ * 2f)), (199L, vec(199)))
      .toDF("id", "v")
    Family("vec",
      p => Dedup.writeVecIndex(vecs(1L to 20L), "id", "v", p, numPlanes = 4, dim = 8, expectedItems = 100L),
      (p, ids) => Dedup.appendToVecIndex(spark, p, vecs(ids), "id", "v"),
      Some(p => Dedup.compactVecIngestIndex(spark, p)),
      p => classified(Dedup.incrementalSemanticIndexed(Dedup.readVecIngestIndex(spark, p, org.apache.spark.sql.types.LongType),
        batch, "id", "v", 0.99)))
  }

  private def sig(i: Long): Long = new scala.util.Random(i).nextLong() & Long.MaxValue
  private def sigs(ids: Seq[Long]) = ids.map(i => (i, sig(i))).toDF("id", "s")

  private val simhash = {
    val batch = Seq((105L, sig(5) ^ 1L), (125L, sig(25) ^ 4L), (135L, sig(35)), (199L, sig(199)))
      .toDF("id", "s")
    Family("simhash",
      p => Dedup.writeSimhashIndex(sigs(1L to 20L), "id", "s", p, maxDist = 2),
      (p, ids) => Dedup.appendToSimhashIndex(spark, p, sigs(ids), "id", "s"),
      Some(p => Dedup.compactSimhashIndex(spark, p)),
      p => rows(Dedup.probeSimhashIndex(Dedup.readSimhashIndex(spark, p), batch, "id", "s")))
  }

  /** Chains 1-2-…-k within each batch, and links each batch to id 1. */
  private def pairs(ids: Seq[Long]) =
    (ids.sliding(2).map(w => (w.head, w.last)).toSeq :+ ((1L, ids.head))).toDF("id_a", "id_b")

  private val cc = Family("cc",
    p => Dedup.writeCcIndex(spark, p, Dedup.components(pairs(1L to 20L))),
    (p, ids) => Dedup.appendToCcIndex(spark, p, pairs(ids)),
    None, p => rows(Dedup.readCcIndex(spark, p)), replayNoop = false)

  private lazy val emb = vecs(1L to 50L).withColumnRenamed("id", "vec_id").withColumnRenamed("v", "embedding")
  private def embOf(ids: Seq[Long]) = emb.filter($"vec_id".isin(ids: _*))
  private lazy val queries = Seq(5L, 25L, 35L, 45L).map(i => (i + 1000L, vec(i).map(_ + 0.01f)))
    .toDF("query_id", "qvec")

  // nprobe past the list count: exact search, so a rebalance leaves the answer
  private val ivf = Family("ivf",
    p => Ivf.writeIndex(p, embOf(1L to 20L), "vec_id", "embedding",
      Ivf.seedCentroids(embOf(1L to 20L), "vec_id", "embedding", 4)),
    (p, ids) => Ivf.appendToIndex(spark, p, embOf(ids), "vec_id", "embedding"),
    Some(p => Ivf.rebalanceIndex(spark, p, "vec_id", "embedding", splitFactor = 1.5)),
    p => rows(Ivf.searchIndex(spark, p, queries, "query_id", "qvec", "vec_id", "embedding",
      k = 2, nprobe = 1000)))

  // a candidate cut past the list sizes: exact rerank, so a re-encode leaves the answer
  private val ivfPq = Family("ivf-pq",
    p => Ivf.writePqIndex(p, embOf(1L to 20L), "vec_id", "embedding",
      Ivf.seedCentroids(embOf(1L to 20L), "vec_id", "embedding", 4),
      Pq.seedCodebooks(embOf(1L to 20L), "vec_id", "embedding", m = 4, ks = 4, dim = 8)),
    (p, ids) => Ivf.appendToPqIndex(spark, p, embOf(ids), "vec_id", "embedding"),
    Some(p => Ivf.reencodePqIndex(spark, p, "vec_id", "embedding", iters = 1)),
    p => {
      val (cents, lists, cb) = Ivf.readPqIndex(spark, p)
      rows(Ivf.searchPqAssigned(queries, "query_id", "qvec", lists, "vec_id", "embedding",
        cents, cb, k = 2, nprobe = 1000, candMult = 100))
    })

  private val lm = Family("lm",
    p => Lm.writeCountsIndex(spark, p, Some(Lm.trainCounts3(docs(1L to 20L)))),
    (p, ids) => Lm.foldIntoCountsIndex(spark, p, s"b${ids.head}", docs(ids)),
    None, p => rows(Lm.readCountsIndex(spark, p)) ++ Lm.foldedBatches(spark, p).toSeq.sorted)

  private val sourceToken = Family("source-token",
    p => Sampling.writeSourceTokenIndex(spark, p),
    (p, ids) => Sampling.foldIntoSourceTokenIndex(spark, p, s"b${ids.head}",
      docs(ids).withColumn("src", concat(lit("s"), ($"id" % 3).cast("string"))),
      $"src", size(split($"text", " "))),
    None, p => rows(Lm.countsTable(spark, p)))

  private def hllRows(ids: Seq[Long]) = ids.map(i => (s"k${i % 4}", i)).toDF("key", "value")
  private val hll = Family("hll",
    p => Frequency.writeHllIndex(spark, p, hllRows(1L to 20L), "key", "value"),
    (p, ids) => Frequency.foldIntoHllIndex(spark, p, hllRows(ids), "key", "value"),
    Some(p => Frequency.compactHllIndex(spark, p)),
    p => rows(Frequency.readHllEstimates(spark, p)), replayNoop = false)

  private val bench = {
    val corpus = Seq((105L, udoc(5)), (125L, udoc(25)), (135L, "x " + udoc(35)), (199L, udoc(199)))
      .toDF("id", "text")
    Family("bench",
      p => Decontaminate.writeBenchIndex(udocs(1L to 20L), "id", $"text", n = 3, p, expectedItems = 100L),
      (p, ids) => Decontaminate.appendToBenchIndex(spark, p, udocs(ids), "id", $"text"),
      Some(p => Decontaminate.compactBenchIndex(spark, p)),
      p => rows(Decontaminate.overlapsIndexed(Decontaminate.readBenchIndex(spark, p), corpus, "id", $"text")))
  }

  /** Appends as the streaming sink does: the batch of `ids` is ingest
    * `ids.head`, probed with its own id excluded, and only its survivors
    * are appended under that id.
    */
  private def ingestAppend(p: String, ids: Seq[Long]): Unit = {
    val b = udocs(ids)
    val r = probeIngest(p, b, ids.head)
    val survivors = b.join(r.filter($"status" === "new").select("id"), Seq("id"), "left_semi")
      .localCheckpoint()
    r.unpersist()
    Dedup.appendToIngestIndex(spark, p, survivors, "id", "text", ids.head)
  }

  private def probeIngest(p: String, b: DataFrame, exclude: Long): DataFrame =
    Dedup.probeIngestIndex(Dedup.readIngestIndex(spark, p, org.apache.spark.sql.types.LongType),
      b, "id", "text", threshold = 0.5, excludeIngest = exclude)

  private val ingestBatch = {
    def near(i: Long) = udoc(i).split(" ").dropRight(1).mkString(" ") + " changed"
    Seq((105L, udoc(5)), (125L, near(25)), (135L, near(35)), (199L, udoc(199))).toDF("id", "text")
  }

  /** Every family that persists through the store. The streaming sinks'
    * band and vec indexes are the `band` and `vec` families, appended
    * here through the batch API; the stream's own append and its replay
    * are the ingest replay test below and StreamingSpec's kill + resume.
    */
  private val families = Seq(bm25, hash, paragraph, span, band, vecFamily, simhash, cc,
    ivf, ivfPq, lm, sourceToken, hll, bench)

  /** A fresh index path inside a scratch dir (so a family may keep a
    * fixture beside it).
    */
  private def fresh(tag: String): String = s"${scratch(s"store_$tag")}/index"

  /** Everything the store owns on disk: manifests (committed or torn),
    * sketches and write dirs.
    */
  private def owned(index: String): Set[String] = {
    val root = Paths.get(index)
    def ls(p: Path): Vector[Path] =
      if (!Files.isDirectory(p)) Vector.empty
      else { val s = Files.list(p); try s.iterator().asScala.toVector finally s.close() }
    ls(root).flatMap { p =>
      val n = p.getFileName.toString
      if (n == "_manifest") ls(p).map(_.getFileName.toString).filterNot(_.endsWith(".crc"))
        .map(f => s"_manifest/$f")
      else if (Files.isDirectory(p))
        ls(p).map(_.getFileName.toString).filter(_.startsWith("__w=")).map(w => s"$n/$w")
      else if (n.startsWith("bloom-") && n.endsWith(".bin")) Vector(n)
      else Vector.empty
    }.toSet
  }

  /** What the two newest manifests name. */
  private def named(index: String): Set[String] =
    IndexStore.versions(spark, index).takeRight(2).flatMap { v =>
      val m = IndexStore.manifest(spark, index, v)
      (f"_manifest/$v%020d.json" +: m.sketch.toSeq) ++
        m.tables.toSeq.flatMap { case (t, ds) => ds.map(d => s"$t/${d.dir}") }
    }.toSet

  test("crash drill: a crash before, at or after a commit leaves the committed answer, " +
      "the next append succeeds, and the sweep keeps only what the two newest manifests name") {
    for (f <- families) {
      def sweptClean(index: String, when: String): Unit =
        assert(owned(index) == named(index), s"${f.name} $when: on disk ${owned(index)}, named ${named(index)}")

      // 1. the tables (and sketch) of an append are written, the commit is not
      val a = fresh(s"${f.name}_pre")
      f.build(a)
      val built = f.answer(a)
      f.append1(a)
      val appended = f.answer(a)
      assert(appended != built, s"${f.name}: the drill's batch must change the answer")
      uncommit(spark, a)
      assert(owned(a) != named(a), s"${f.name}: the simulated crash must leave orphans")
      assert(f.answer(a) == built, s"${f.name}: a reader must not see an uncommitted append")
      f.append1(a)
      assert(f.answer(a) == appended, s"${f.name}: the retried append must land whole")
      sweptClean(a, "after the retried append")

      // 2. the commit landed, the sweep did not run
      val b = fresh(s"${f.name}_post")
      f.build(b)
      f.append1(b)
      val before = scratch("store_snapshot")
      copyTree(Paths.get(b), before)
      f.append2(b)
      val committed = f.answer(b)
      copyTree(before, Paths.get(b)) // what the sweep removed comes back
      assert(owned(b) != named(b), s"${f.name}: the simulated crash must leave the unswept version")
      assert(f.answer(b) == committed, s"${f.name}: the committed append must be what a reader sees")
      f.append3(b)
      sweptClean(b, "after the next append")
      f.compact.foreach { compact =>
        compact(b)
        sweptClean(b, "after a compaction")
      }

      // 3. a compaction wrote its dirs and stopped before its commit
      val c = fresh(s"${f.name}_compact")
      f.build(c)
      f.append1(c)
      f.append2(c)
      val live = f.answer(c)
      f.compact.foreach { compact =>
        val liveDirs = IndexStore.latest(spark, c).tables
        compact(c)
        uncommit(spark, c)
        assert(IndexStore.latest(spark, c).tables == liveDirs,
          s"${f.name}: the uncommitted compaction must not be current")
        assert(f.answer(c) == live, s"${f.name}: a reader must not see an uncommitted compaction")
        compact(c)
        assert(f.answer(c) == live, s"${f.name}: the retried compaction moved the answer")
        val compacted = IndexStore.latest(spark, c).tables
        assert(compacted.values.forall(_.size == 1),
          s"${f.name}: a compaction must name one dir per table: $compacted")
        sweptClean(c, "after the retried compaction")
      }
      val versions = IndexStore.versions(spark, c)
      f.append1(c) // a replayed batch folds to nothing and commits nothing
      assert(f.answer(c) == live, s"${f.name}: a replayed append moved the answer")
      if (f.replayNoop)
        assert(IndexStore.versions(spark, c) == versions, s"${f.name}: a replayed append must commit nothing")
      f.append3(c)
      sweptClean(c, "after the next append")
    }
  }

  test("ingest replay: with batch b committed, a probe excluding b reproduces the pre-append " +
      "classification, and re-appending b leaves b's rows in exactly one dir") {
    val p = fresh("ingest_replay")
    Dedup.initIngestIndex(spark, p, n = 3, numPerm = 32, numBands = 16, rowsPerBand = 2,
      expectedItems = 100L)
    ingestAppend(p, 1L to 20L)
    val b = 21L
    val replayed = udocs(b until b + 10L).unionByName(ingestBatch)
    val pre = classified(probeIngest(p, replayed, b))
    // a first attempt of batch b with a different survivor, committed
    Dedup.appendToIngestIndex(spark, p, udocs(Seq(99L)), "id", "text", b)
    assert(classified(probeIngest(p, replayed, b)) == pre,
      "a probe excluding b must not see b's committed first attempt")
    ingestAppend(p, b until b + 10L) // the replay: ids 21–30 as batch b
    assert(classified(probeIngest(p, replayed, b)) == pre,
      "a probe excluding b must reproduce the pre-append classification")
    val m = IndexStore.latest(spark, p)
    for (t <- Seq("hashes", "shingles", "bands"))
      assert(m.tables(t).count(d => Dedup.ingestOf(m, d.dir) == b) == 1,
        s"$t: batch $b must sit in exactly one write dir: ${m.tables(t)}")
    val shingles = Dedup.readIngestIndex(spark, p, org.apache.spark.sql.types.LongType).shingles
      .filter($"__ingest" === b)
    assert(shingles.select("id").distinct().as[Long].collect().toSet == (b until b + 10L).toSet &&
      shingles.count() == Dedup.shingleTable(udocs(b until b + 10L), "id", $"text", 3).count(),
      "the replay must replace the first attempt and hold each of its rows once")
  }

  test("an append's cost does not grow with the corpus: the same 10-doc batch shuffles the same " +
      "bytes into a band or vec index of 20 and of 80 docs, and no manifest names a bucket table") {
    // the tap is scoped to this thread's job group: suites share the
    // context and run concurrently
    val tag = s"append-cost-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(tag, "append shuffle-byte measurement")
    val tap = new ShuffleTap(spark, jobGroup = Some(tag))
    try {
      val indexes = Seq(
        ("band", (p: String, n: Long) => Dedup.writeBandIndex(udocs(1L to n), "id", $"text", p,
            n = 3, numPerm = 32, numBands = 16, rowsPerBand = 2),
          (p: String) => Dedup.appendToBandIndex(spark, p, udocs(101L to 110L), "id", "text")),
        ("vec", (p: String, n: Long) => Dedup.writeVecIndex(vecs(1L to n), "id", "v", p,
            numPlanes = 4, dim = 8, expectedItems = 1000L),
          (p: String) => Dedup.appendToVecIndex(spark, p, vecs(101L to 110L), "id", "v")))
      for ((name, build, append) <- indexes) {
        val bytes = Seq(20L, 80L).map { n =>
          val p = fresh(s"cost_${name}_$n")
          build(p, n)
          val (_, d) = tap.measure(append(p))
          val m = IndexStore.latest(spark, p)
          assert(!m.tables.contains("buckets"), s"$name: the manifest names a bucket table: ${m.tables.keys}")
          d.write
        }
        assert(bytes.forall(_ > 0L), s"$name: the append shuffled nothing: $bytes")
        assert(math.abs(bytes(0) - bytes(1)) <= 0.05 * bytes.max,
          s"$name: the append shuffled ${bytes(0)} B into 20 docs but ${bytes(1)} B into 80")
      }
    } finally { tap.close(); spark.sparkContext.clearJobGroup() }
  }

  test("the families the streaming sinks create empty read back as empty frames with their schema") {
    val cc = fresh("empty_cc")
    Dedup.writeCcIndex(spark, cc, pairs(Seq(1L, 2L)).select($"id_a".as("id"), $"id_b".as("comp")).limit(0))
    val labels = Dedup.readCcIndex(spark, cc)
    assert(labels.isEmpty && labels.columns.toSeq == Seq("id", "comp"))

    val sh = fresh("empty_simhash")
    Dedup.writeSimhashIndex(sigs(Seq(1L)).limit(0), "id", "s", sh, maxDist = 2)
    val sx = Dedup.readSimhashIndex(spark, sh)
    assert(sx.sigs.isEmpty && sx.chunks.isEmpty && sx.maxDist == 2)
    assert(sx.sigs.columns.toSeq == Seq("corpus_id", "simhash") &&
      sx.chunks.columns.toSeq == Seq("corpus_id", "simhash", "chunk_idx", "chunk_val"))
    assert(Dedup.probeSimhashIndex(sx, sigs(Seq(7L)), "id", "s").isEmpty)

    val lmp = fresh("empty_lm")
    Lm.writeCountsIndex(spark, lmp)
    val counts = Lm.readCountsIndex(spark, lmp)
    assert(counts.isEmpty && counts.columns.toSeq == Seq("kind", "term", "n") &&
      Lm.foldedBatches(spark, lmp).isEmpty)

    val st = fresh("empty_source_token")
    Sampling.writeSourceTokenIndex(spark, st)
    val sources = Lm.countsTable(spark, st)
    assert(sources.isEmpty && sources.columns.toSeq == Seq("kind", "source", "n_tokens") &&
      Sampling.foldedSourceBatches(spark, st).isEmpty)

    val hp = fresh("empty_hll")
    Frequency.writeHllIndex(spark, hp, hllRows(Seq(1L)).limit(0), "key", "value")
    val est = Frequency.readHllEstimates(spark, hp)
    assert(est.isEmpty && est.columns.toSeq == Seq("key", "approx_distinct"))

    // and the sinks' first fold lands on each
    Dedup.appendToCcIndex(spark, cc, pairs(Seq(3L, 4L)))
    Dedup.appendToSimhashIndex(spark, sh, sigs(Seq(3L)), "id", "s")
    Lm.foldIntoCountsIndex(spark, lmp, "b0", docs(Seq(3L)))
    Sampling.foldIntoSourceTokenIndex(spark, st, "b0", docs(Seq(3L)), lit("s"), lit(6))
    Frequency.foldIntoHllIndex(spark, hp, hllRows(Seq(3L)), "key", "value")
    assert(Dedup.readCcIndex(spark, cc).count() == 3L &&
      Dedup.readSimhashIndex(spark, sh).sigs.count() == 1L &&
      Lm.foldedBatches(spark, lmp) == Set("b0") &&
      Sampling.foldedSourceBatches(spark, st) == Set("b0") &&
      rows(Frequency.readHllEstimates(spark, hp)) == Seq("[k3,1]"))
  }

  test("the manifest round-trips typed metadata and write dirs; a torn manifest is never read") {
    val p = fresh("roundtrip")
    val m = IndexStore.Manifest(IndexStore.nextVersion(spark, p),
      Map("id_col" -> "doc \"id\"", "n" -> 12L, "fpp" -> 0.05, "whole" -> 1.0),
      Map("t" -> Seq(IndexStore.WriteDir("__w=1", 3, 99L))), Some("bloom-1.bin"))
    IndexStore.commit(spark, p, m)
    val got = IndexStore.latest(spark, p)
    assert(got == m, s"$got != $m")
    assert(got.string("id_col") == "doc \"id\"" && got.long("n") == 12L &&
      got.double("fpp") == 0.05 && got.double("whole") == 1.0 && got.files("t") == 3)
    val bare = m.copy(version = 2L, sketch = None)
    IndexStore.commit(spark, p, bare)
    assert(IndexStore.latest(spark, p) == bare, "a manifest without a sketch must round-trip")
    Files.writeString(Paths.get(p, "_manifest", f"${3L}%020d.json.tmp"), "{\"version\":3,")
    assert(IndexStore.latest(spark, p) == bare && IndexStore.nextVersion(spark, p) == 3L)
    val e = intercept[IllegalArgumentException](IndexStore.commit(spark, p, bare))
    assert(e.getMessage.contains("next version"), e.getMessage)
    assert(!IndexStore.committed(spark, fresh("never")))
  }
}

object IndexStoreSpec {

  /** The newest commit of the index at `index` never happened: its
    * manifest is back to a torn `.json.tmp`, and its dirs and sketch are
    * orphans — what a writer that crashed before its commit leaves.
    */
  def uncommit(spark: SparkSession, index: String): Unit = {
    val v = IndexStore.versions(spark, index).last
    val m = Paths.get(index, "_manifest", f"$v%020d.json")
    val text = Files.readString(m)
    Files.writeString(Paths.get(m.toString + ".tmp"), text.take(text.length / 2))
    Files.delete(m)
    Files.deleteIfExists(Paths.get(m.getParent.toString, s".${m.getFileName}.crc"))
  }

  /** Copy every file under `from` that `to` lacks. */
  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.toVector.foreach { f =>
      val dst = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else if (!Files.exists(dst)) Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }
}
