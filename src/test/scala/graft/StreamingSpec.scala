package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.etl.Flatten
import graft.probes.EventsVocab
import graft.sources.Readers
import graft.streaming.StreamingIngest

/** Streaming ingest drives the SAME transformations as batch: the windowed
  * counts computed over a JSONL stream must equal the batch equivalents
  * over the same payloads.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val jsonlDir = {
    val dir = scratch("stream").toString
    Readers.table(spark, sf0001, "events")
      .select(EventsVocab.eventJson.as("value"))
      .coalesce(2)
      .write.text(s"$dir/in")
    s"$dir/in"
  }

  test("streaming windowed counts equal the batch computation (complete mode)") {
    val streamFlat = StreamingIngest.flatEvents(spark, jsonlDir)
    val streamed = StreamingIngest.runToMemory(spark,
      StreamingIngest.windowedEventCounts(streamFlat, "1 day", "1 hour"),
      "stream_counts", outputMode = "complete")
      .select($"window_start", $"event_code", $"n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet

    val batchFlat = Flatten(
      Readers.table(spark, sf0001, "events").select(EventsVocab.eventJson.as("event")))
    val batch = batchFlat
      .groupBy(window($"event_date", "1 day"), $"event_code")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start".as("window_start"), $"event_code", $"n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet

    assert(streamed == batch)
  }

  test("stateful shipment progress: last snapshot per key equals the batch aggregate") {
    val streamFlat = StreamingIngest.flatEvents(spark, jsonlDir)
    val snapshots = StreamingIngest
      .runToMemory(spark,
        StreamingIngest.statefulShipmentProgress(streamFlat, "1 hour").toDF(),
        "stream_stateful", outputMode = "append")
    // multiple snapshots per key may accumulate across micro-batches; the
    // LAST (max-nEvents) one must equal the batch per-key aggregate
    val last = snapshots
      .groupBy($"shippingId")
      .agg(
        max($"nEvents").as("n_events"),
        min($"firstEventAt").as("first_at"),
        max($"lastEventAt").as("last_at"))
      .as[(String, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet

    val batch = Flatten(
      Readers.table(spark, sf0001, "events").select(EventsVocab.eventJson.as("event")))
      .filter($"shipping_id".isNotNull && $"event_date".isNotNull)
      .groupBy($"shipping_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"event_date").as("first_at"),
        max($"event_date").as("last_at"))
      .as[(String, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet

    assert(last == batch)
  }

  test("streaming dedup within watermark equals batch dropDuplicates on the key triple") {
    val streamFlat = StreamingIngest.flatEvents(spark, jsonlDir)
    val streamed = StreamingIngest.runToMemory(spark,
      StreamingIngest.dedupedEvents(streamFlat, "30 days")
        .select($"shipping_id", $"event_code", $"event_date"),
      "stream_dedup", outputMode = "append")
      .as[(String, String, java.sql.Timestamp)].collect().toSet

    val batch = Flatten(
      Readers.table(spark, sf0001, "events").select(EventsVocab.eventJson.as("event")))
      .filter($"shipping_id".isNotNull && $"event_date".isNotNull)
      .dropDuplicates("shipping_id", "event_code", "event_date")
      .select($"shipping_id", $"event_code", $"event_date")
      .as[(String, String, java.sql.Timestamp)].collect().toSet

    assert(streamed == batch)
  }

  test("stream-stream join: collection→delivery pairs equal the batch join") {
    val streamFlat = StreamingIngest.flatEvents(spark, jsonlDir)
    val streamed = StreamingIngest.runToMemory(spark,
      StreamingIngest.collectionToDelivery(streamFlat, "30 days", "7 days"),
      "stream_join", outputMode = "append")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet

    val batchFlat = Flatten(
      Readers.table(spark, sf0001, "events").select(EventsVocab.eventJson.as("event")))
    val coll = batchFlat.filter($"event_code" === "PEC")
      .select($"shipping_id".as("c_id"), $"event_date".as("collected_at"))
    val deli = batchFlat.filter($"event_code" === "LIV")
      .select($"shipping_id".as("d_id"), $"event_date".as("delivered_at"))
    val batch = coll.join(deli,
        $"c_id" === $"d_id" && $"delivered_at" >= $"collected_at" &&
          $"delivered_at" <= $"collected_at" + expr("INTERVAL 7 days"))
      .select($"c_id", $"collected_at", $"delivered_at")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet

    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture must produce at least one matched pair")
  }

  test("streaming SCD2 dim maintenance equals batch fromHistory after two CDC batches") {
    val base = scratch("scd2s").toString
    val (in, dim, ckp) = (s"$base/in", s"$base/dim", s"$base/ckp")
    val full = Readers.table(spark, sf0001, "events")
      .select($"user_id", $"ts", $"event_type")
    full.filter($"ts" < "2024-01-15").write.mode("append").parquet(in)
    val q = StreamingIngest.scd2DimSink(
      spark.readStream.schema(full.schema).parquet(in),
      dim, ckp, Seq("user_id"), "ts", Seq("event_type"))
    try {
      q.processAllAvailable() // batch 1: dim bootstrapped via fromHistory
      full.filter($"ts" >= "2024-01-15").write.mode("append").parquet(in)
      q.processAllAvailable() // batch 2: incremental merge of the new keys
    } finally q.stop()
    val streamedDim = spark.read.parquet(dim)
    val direct = graft.ops.Scd.fromHistory(full, Seq("user_id"), "ts", Seq("event_type"))
    assert(streamedDim.count() == direct.count())
    assert(streamedDim.exceptAll(direct).isEmpty && direct.exceptAll(streamedDim).isEmpty)
    assert(streamedDim.filter($"is_current").count() ==
      full.select("user_id").distinct().count())
  }

  test("streaming curated corpus ingest: cross-batch dedup, append-only batch partitions") {
    val base = scratch("curateds").toString
    val (in, corpus, ckp) = (s"$base/in", s"$base/corpus", s"$base/ckp")
    def doc(prefix: String, n: Int, lastOverride: String = ""): String = {
      val toks = (1 to n).map(i => f"$prefix$i%02d")
      (if (lastOverride.isEmpty) toks else toks.init :+ lastOverride).mkString(" ")
    }
    val t1 = doc("w", 20)
    val t3 = doc("x", 20)
    val batch1 = Seq((1L, t1), (2L, t1), (3L, t3)).toDF("doc_id", "text")
    batch1.write.mode("append").parquet(in)
    val q = StreamingIngest.curatedCorpusSink(
      spark.readStream.schema(batch1.schema).parquet(in), corpus, ckp, "doc_id", "text")
    try {
      q.processAllAvailable() // batch 1: intra-batch exact dedup drops doc 2
      Seq(
        (4L, doc("w", 20, "zzz")), // near-dup of doc 1 (19/21-shingle jaccard)
        (5L, doc("y", 20)),        // genuinely new
        (6L, t3)                   // cross-batch exact dup of doc 3
      ).toDF("doc_id", "text").write.mode("append").parquet(in)
      q.processAllAvailable() // batch 2: corpus-probe dedup drops 4 and 6
    } finally q.stop()
    val got = spark.read.parquet(corpus)
    assert(got.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L),
      "corpus must keep one copy per exact/near-dup class across batches")
    // append-only layout: each batch owns its own partition dir
    assert(got.select("__batch").distinct().count() == 2)
  }

  test("curated corpus sink: kill + checkpoint resume over a stale partial ≡ uninterrupted run") {
    val base = scratch("curatedkr").toString
    def doc(prefix: String, n: Int): String = (1 to n).map(i => f"$prefix$i%02d").mkString(" ")
    val b1 = Seq((1L, doc("w", 20)), (2L, doc("x", 20))).toDF("doc_id", "text")
    val b2 = Seq(
      (3L, doc("x", 20)), // cross-batch exact dup of doc 2
      (4L, doc("y", 20))  // genuinely new
    ).toDF("doc_id", "text")
    val schema = b1.schema

    // killed-and-resumed leg -------------------------------------------------
    val (in, corpus, ckp) = (s"$base/in", s"$base/corpus", s"$base/ckp")
    b1.write.mode("append").parquet(in)
    val q1 = StreamingIngest.curatedCorpusSink(
      spark.readStream.schema(schema).parquet(in), corpus, ckp, "doc_id", "text")
    try q1.processAllAvailable() finally q1.stop() // batch 0 committed, then the "kill"
    b2.write.mode("append").parquet(in) // arrives while the query is down
    // simulate the crashed FIRST ATTEMPT of the replayed batch: a stale
    // PARTIAL __batch=1 output exists but its checkpoint commit never
    // happened. It is poisoned with doc 4's text under a foreign id — if
    // recovery wrongly counted it as corpus, doc 4 would dedup away.
    Seq((99L, doc("y", 20))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpus/__batch=1")
    val q2 = StreamingIngest.curatedCorpusSink(
      spark.readStream.schema(schema).parquet(in), corpus, ckp, "doc_id", "text")
    try q2.processAllAvailable() finally q2.stop() // batch 1 replays + overwrites

    // uninterrupted twin: same batch boundaries, no kill --------------------
    val (in2, corpus2, ckp2) = (s"$base/in2", s"$base/corpus2", s"$base/ckp2")
    b1.write.mode("append").parquet(in2)
    val u = StreamingIngest.curatedCorpusSink(
      spark.readStream.schema(schema).parquet(in2), corpus2, ckp2, "doc_id", "text")
    try {
      u.processAllAvailable()
      b2.write.mode("append").parquet(in2)
      u.processAllAvailable()
    } finally u.stop()

    val resumed = spark.read.parquet(corpus).select($"doc_id", $"text")
    val unbroken = spark.read.parquet(corpus2).select($"doc_id", $"text")
    assert(resumed.exceptAll(unbroken).isEmpty && unbroken.exceptAll(resumed).isEmpty,
      "resumed corpus must equal the uninterrupted run row for row")
    assert(resumed.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L),
      "stale partial must be overwritten (no 99), dup dropped (no 3), new doc kept (4)")
    assert(spark.read.parquet(corpus).select("__batch").distinct().count() == 2)
  }

  test("indexed curated corpus sink: cross-batch dedup through the persisted index equals the live sink") {
    val base = scratch("curatedix").toString
    def doc(prefix: String, n: Int, lastOverride: String = ""): String = {
      val toks = (1 to n).map(i => f"$prefix$i%02d")
      (if (lastOverride.isEmpty) toks else toks.init :+ lastOverride).mkString(" ")
    }
    val t1 = doc("w", 20)
    val t3 = doc("x", 20)
    val b1 = Seq((1L, t1), (2L, t1), (3L, t3)).toDF("doc_id", "text")
    val b2 = Seq(
      (4L, doc("w", 20, "zzz")), // near-dup of doc 1
      (5L, doc("y", 20)),        // genuinely new
      (6L, t3)                   // cross-batch exact dup of doc 3
    ).toDF("doc_id", "text")
    val b3 = Seq(
      (7L, doc("y", 20, "qqq")), // near-dup of doc 5 — INDEXED by batch 2's append
      (8L, t1),                  // exact dup of doc 1 — indexed by batch 1's append
      (9L, doc("v", 20))         // genuinely new
    ).toDF("doc_id", "text")
    val schema = b1.schema

    val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
    // single-file feeds: one part file appears atomically via the
    // committer rename, so the running stream can never split a logical
    // batch across two micro-batches (a multi-file write can be listed
    // mid-commit)
    b1.coalesce(1).write.mode("append").parquet(in)
    val q = StreamingIngest.curatedCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in), corpus, index, ckp, "doc_id", "text")
    try {
      q.processAllAvailable() // batch 1: intra-batch exact dedup drops doc 2
      b2.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable() // batch 2: index probe drops 4 and 6
      b3.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable() // batch 3: probes state appended by batches 1 AND 2
    } finally q.stop()
    val got = spark.read.parquet(corpus)
    assert(got.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L, 9L),
      "corpus must keep one copy per exact/near-dup class across all batches")
    assert(got.select("__batch").distinct().count() == 3)

    // live-sink twin on the same batch boundaries: identical corpus
    val (in2, corpus2, ckp2) = (s"$base/in2", s"$base/corpus2", s"$base/ckp2")
    b1.coalesce(1).write.mode("append").parquet(in2)
    val u = StreamingIngest.curatedCorpusSink(
      spark.readStream.schema(schema).parquet(in2), corpus2, ckp2, "doc_id", "text")
    try {
      u.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(in2)
      u.processAllAvailable()
      b3.coalesce(1).write.mode("append").parquet(in2)
      u.processAllAvailable()
    } finally u.stop()
    val live = spark.read.parquet(corpus2).select($"doc_id", $"text")
    val indexed = got.select($"doc_id", $"text")
    assert(indexed.exceptAll(live).isEmpty && live.exceptAll(indexed).isEmpty,
      "indexed sink corpus must equal the live sink row for row")
  }

  test("indexed sink with in-stream compaction: corpus unchanged, index partitions stay bounded") {
    val base = scratch("curatedixc").toString
    def doc(prefix: String, n: Int, lastOverride: String = ""): String = {
      val toks = (1 to n).map(i => f"$prefix$i%02d")
      (if (lastOverride.isEmpty) toks else toks.init :+ lastOverride).mkString(" ")
    }
    val t1 = doc("w", 20)
    val b1 = Seq((1L, t1), (3L, doc("x", 20))).toDF("doc_id", "text")
    val b2 = Seq((4L, doc("w", 20, "zzz")), (5L, doc("y", 20))).toDF("doc_id", "text")
    val b3 = Seq((8L, t1), (9L, doc("v", 20))).toDF("doc_id", "text")
    val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
    b1.coalesce(1).write.mode("append").parquet(in)
    // compactEvery = 1: fold after EVERY batch — maximum stress on the
    // keep-current-batch contract; single-file feeds keep the logical
    // batch ↔ micro-batch mapping deterministic
    val q = StreamingIngest.curatedCorpusIndexedSink(
      spark.readStream.schema(b1.schema).parquet(in), corpus, index, ckp,
      "doc_id", "text", compactEvery = 1)
    try {
      q.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable() // 4 near-dups 1 (via the compacted base), 5 new
      b3.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable() // 8 exact-dups 1, 9 new
    } finally q.stop()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 9L),
      "dedup across batches must work through the compacted base partition")
    val m = ops.IndexStore.latest(spark, index)
    val dirs = m.tables("hashes").map(d => ops.Dedup.ingestOf(m, d.dir))
    assert(dirs.sorted == Seq(-1L, 2L), s"compaction must fold all but the current batch: $dirs")
  }

  test("indexed sink: kill + resume over a poisoned partial INCLUDING a stale index partition ≡ uninterrupted run") {
    val base = scratch("curatedixkr").toString
    def doc(prefix: String, n: Int): String = (1 to n).map(i => f"$prefix$i%02d").mkString(" ")
    val b1 = Seq((1L, doc("w", 20)), (2L, doc("x", 20))).toDF("doc_id", "text")
    val b2 = Seq(
      (3L, doc("x", 20)), // cross-batch exact dup of doc 2
      (4L, doc("y", 20))  // genuinely new
    ).toDF("doc_id", "text")
    val schema = b1.schema

    // killed-and-resumed leg ------------------------------------------------
    val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
    b1.coalesce(1).write.mode("append").parquet(in)
    val q1 = StreamingIngest.curatedCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in), corpus, index, ckp, "doc_id", "text")
    try q1.processAllAvailable() finally q1.stop() // batch 0 committed, then the "kill"
    b2.coalesce(1).write.mode("append").parquet(in) // arrives while the query is down
    // simulate the crashed FIRST ATTEMPT of batch 1: it wrote its corpus
    // partition AND appended to the index, but the checkpoint commit never
    // happened. Both are poisoned with doc 4's text under a foreign id —
    // if recovery counted EITHER as corpus, doc 4 would dedup away.
    Seq((99L, doc("y", 20))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpus/__batch=1")
    graft.ops.Dedup.appendToIngestIndex(spark, index,
      Seq((99L, doc("y", 20))).toDF("doc_id", "text"), "doc_id", "text", ingestId = 1L)
    val q2 = StreamingIngest.curatedCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in), corpus, index, ckp, "doc_id", "text")
    try q2.processAllAvailable() finally q2.stop() // batch 1 replays + overwrites both

    // uninterrupted twin ----------------------------------------------------
    val (in2, corpus2, index2, ckp2) = (s"$base/in2", s"$base/corpus2", s"$base/index2", s"$base/ckp2")
    b1.coalesce(1).write.mode("append").parquet(in2)
    val u = StreamingIngest.curatedCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in2), corpus2, index2, ckp2, "doc_id", "text")
    try {
      u.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(in2)
      u.processAllAvailable()
    } finally u.stop()

    val resumed = spark.read.parquet(corpus).select($"doc_id", $"text")
    val unbroken = spark.read.parquet(corpus2).select($"doc_id", $"text")
    assert(resumed.exceptAll(unbroken).isEmpty && unbroken.exceptAll(resumed).isEmpty,
      "resumed corpus must equal the uninterrupted run row for row")
    assert(resumed.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L),
      "stale partials must be overwritten (no 99), dup dropped (no 3), new doc kept (4)")
    // the stale index partition was overwritten too: doc 4's content is
    // indexed under ITS id, so a later duplicate resolves to 4, not 99
    val idx = graft.ops.Dedup.readIngestIndex(spark, index,
      org.apache.spark.sql.types.LongType)
    val later = Seq((500L, doc("y", 20))).toDF("doc_id", "text")
    val res = graft.ops.Dedup.probeIngestIndex(idx, later, "doc_id", "text",
      threshold = 0.5, excludeIngest = 2L)
    val rows = res.as[(Long, String, Option[Long])].collect().toSeq
    res.unpersist()
    assert(rows == Seq((500L, "exact_dup", Some(4L))),
      s"index must hold the replay's survivors under their true ids: $rows")
  }

  test("semantic sink: kill + resume over a poisoned partial INCLUDING a stale vec-index partition ≡ uninterrupted run") {
    val base = scratch("semix").toString
    // one-hot directions: cross-class cosine is exactly 0, a positive
    // scaling is exactly 1 (same sign bucket by construction — LSH recall
    // is provably 1.0 on this fixture, same discipline as the x47 oracle)
    def e(k: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(8)(i => if (i == k) scale else 0f)
    val b1 = Seq((1L, e(0)), (5L, e(0, 2f)), (2L, e(1))).toDF("vec_id", "embedding")
    val b2 = Seq(
      (3L, e(1)),     // cross-batch exact dup of vec 2
      (4L, e(2))      // genuinely new
    ).toDF("vec_id", "embedding")
    val schema = b1.schema

    // killed-and-resumed leg ------------------------------------------------
    val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
    b1.coalesce(1).write.mode("append").parquet(in)
    val q1 = StreamingIngest.semanticCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in), corpus, index, ckp,
      "vec_id", "embedding", threshold = 0.9, numPlanes = 8, dim = 8)
    try q1.processAllAvailable() finally q1.stop() // batch 0 committed, then the "kill"
    b2.coalesce(1).write.mode("append").parquet(in) // arrives while the query is down
    // simulate the crashed FIRST ATTEMPT of batch 1: corpus partition
    // written AND vec index appended, checkpoint commit never happened.
    // Both are poisoned with vec 4's direction under a foreign id — if
    // recovery counted EITHER as corpus, vec 4 would dedup away.
    Seq((99L, e(2))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$corpus/__batch=1")
    graft.ops.Dedup.appendToVecIngestIndex(spark, index,
      Seq((99L, e(2))).toDF("vec_id", "embedding"), "vec_id", "embedding", ingestId = 1L)
    val q2 = StreamingIngest.semanticCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in), corpus, index, ckp,
      "vec_id", "embedding", threshold = 0.9, numPlanes = 8, dim = 8)
    try q2.processAllAvailable() finally q2.stop() // batch 1 replays + overwrites both

    // uninterrupted twin ----------------------------------------------------
    val (in2, corpus2, index2, ckp2) = (s"$base/in2", s"$base/corpus2", s"$base/index2", s"$base/ckp2")
    b1.coalesce(1).write.mode("append").parquet(in2)
    val u = StreamingIngest.semanticCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in2), corpus2, index2, ckp2,
      "vec_id", "embedding", threshold = 0.9, numPlanes = 8, dim = 8)
    try {
      u.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(in2)
      u.processAllAvailable()
    } finally u.stop()

    val resumed = spark.read.parquet(corpus).select($"vec_id", $"embedding")
    val unbroken = spark.read.parquet(corpus2).select($"vec_id", $"embedding")
    assert(resumed.exceptAll(unbroken).isEmpty && unbroken.exceptAll(resumed).isEmpty,
      "resumed corpus must equal the uninterrupted run row for row")
    // intra-batch near-dup 5 (2× scaled copy of 1) dropped by the SemDeDup
    // stage; cross-batch exact 3 dropped via the index; stale 99 invisible
    assert(resumed.select($"vec_id").as[Long].collect().toSet == Set(1L, 2L, 4L),
      "stale partials overwritten (no 99), dups dropped (no 3/5), new vec kept (4)")
    // the stale index partition was overwritten too: vec 4's direction is
    // indexed under ITS id, so later duplicates resolve to 4, not 99 —
    // exact (identical array) AND near (positive scaling, cosine 1)
    val idx = graft.ops.Dedup.readVecIngestIndex(spark, index,
      org.apache.spark.sql.types.LongType)
    val later = Seq((500L, e(2)), (501L, e(2, 3f))).toDF("vec_id", "embedding")
    val res = graft.ops.Dedup.probeVecIngestIndex(idx, later, "vec_id", "embedding",
      threshold = 0.9, excludeIngest = 2L)
    val rows = res.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
    res.unpersist()
    assert(rows == Seq((500L, "exact_dup", Some(4L)), (501L, "near_dup", Some(4L))),
      s"index must hold the replay's survivors under their true ids: $rows")
  }

  test("semantic sink with in-stream compaction: corpus unchanged, vec-index partitions stay bounded") {
    val base = scratch("semixc").toString
    def e(k: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(8)(i => if (i == k) scale else 0f)
    val b1 = Seq((1L, e(0)), (2L, e(1))).toDF("vec_id", "embedding")
    val b2 = Seq((4L, e(0, 2f)), (5L, e(3))).toDF("vec_id", "embedding")
    val b3 = Seq((8L, e(1)), (9L, e(4))).toDF("vec_id", "embedding")
    val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
    b1.coalesce(1).write.mode("append").parquet(in)
    // compactEvery = 1: fold after EVERY batch — maximum stress on the
    // keep-current-batch contract through the vec tables
    val q = StreamingIngest.semanticCorpusIndexedSink(
      spark.readStream.schema(b1.schema).parquet(in), corpus, index, ckp,
      "vec_id", "embedding", threshold = 0.9, numPlanes = 8, dim = 8,
      compactEvery = 1)
    try {
      q.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable() // 4 near-dups 1 (via the compacted base), 5 new
      b3.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable() // 8 exact-dups 2, 9 new
    } finally q.stop()
    assert(spark.read.parquet(corpus).select("vec_id").as[Long].collect().toSet ==
      Set(1L, 2L, 5L, 9L),
      "semantic dedup across batches must work through the compacted base partition")
    val m = ops.IndexStore.latest(spark, index)
    val dirs = m.tables("vecs").map(d => ops.Dedup.ingestOf(m, d.dir))
    assert(dirs.sorted == Seq(-1L, 2L), s"compaction must fold all but the current batch: $dirs")
  }

  test("indexed sink with bench index: contaminated docs never enter the corpus") {
    val base = scratch("curatedixb").toString
    def doc(prefix: String, from: Int, n: Int, lastOverride: String = ""): String = {
      val toks = (from until from + n).map(i => f"$prefix$i%02d")
      (if (lastOverride.isEmpty) toks else toks.init :+ lastOverride).mkString(" ")
    }
    // the eval suite: one long doc; the two contaminated stream docs each
    // overlap a DIFFERENT half of it (so they are not near-dups of each
    // other — what cuts them must be the bench probe, not dedup)
    val bench = Seq((100L, doc("c", 1, 40))).toDF("bid", "btext")
    graft.ops.Decontaminate.writeBenchIndex(bench, "bid", col("btext"), n = 3,
      s"$base/bench", expectedItems = 10000L)
    val b1 = Seq((1L, doc("w", 1, 20)), (2L, doc("c", 1, 20, "zzz"))).toDF("doc_id", "text")
    val b2 = Seq((3L, doc("c", 21, 20)), (4L, doc("y", 1, 20))).toDF("doc_id", "text")
    val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
    b1.coalesce(1).write.mode("append").parquet(in)
    val q = StreamingIngest.curatedCorpusIndexedSink(
      spark.readStream.schema(b1.schema).parquet(in), corpus, index, ckp,
      "doc_id", "text", benchIndexPath = Some(s"$base/bench"))
    try {
      q.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 4L),
      "both bench-overlapping docs must be cut by the index probe, clean docs kept")

    // twin without the bench arm: all four docs are mutually non-dup, so
    // the only thing separating the corpora is the decontamination probe
    val (in2, corpus2, index2, ckp2) = (s"$base/in2", s"$base/corpus2",
      s"$base/index2", s"$base/ckp2")
    b1.coalesce(1).write.mode("append").parquet(in2)
    val u = StreamingIngest.curatedCorpusIndexedSink(
      spark.readStream.schema(b1.schema).parquet(in2), corpus2, index2, ckp2,
      "doc_id", "text")
    try {
      u.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(in2)
      u.processAllAvailable()
    } finally u.stop()
    assert(spark.read.parquet(corpus2).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("source-token sink: streamed recipe ≡ live domainBalance; crash replay is a ledger no-op; fresh checkpoint fails fast") {
    val base = scratch("srctoksink").toString
    val b1 = Seq(("a", 60L), ("b", 100L)).toDF("src", "tk")
    val b2 = Seq(("a", 40L), ("c", 800L)).toDF("src", "tk")
    val targets = Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.5)
    val schema = b1.schema
    val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
    b1.write.mode("append").parquet(in)
    val q1 = StreamingIngest.sourceTokenIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "src", $"tk")
    try {
      q1.processAllAvailable()
      b2.write.mode("append").parquet(in)
      q1.processAllAvailable()
    } finally q1.stop()
    def card(p: String) = ops.Sampling.domainBalanceFromIndex(spark, p, targets)
      .orderBy("source").as[(String, Long, Double, Long, Double)].collect().toSeq
    val live = ops.Sampling.domainBalance(b1.unionByName(b2), $"src", $"tk", targets)
      .orderBy("source").as[(String, Long, Double, Long, Double)].collect().toSeq
    assert(card(idx) == live, s"streamed recipe must equal live: ${card(idx)} vs $live")
    // crash replay: batch 1's commit vanishes, the restart re-folds it —
    // the ledger must no-op and the recipe must not move
    assert(new java.io.File(s"$ckp/commits/1").delete())
    new java.io.File(s"$ckp/commits/.1.crc").delete()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    val q2 = StreamingIngest.sourceTokenIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "src", $"tk")
    try q2.processAllAvailable() finally q2.stop()
    assert(card(idx) == live, "replayed fold must be a ledger no-op")
    assert(ops.Sampling.foldedSourceBatches(spark, idx) == Set("stream-0", "stream-1"))
    // fresh-checkpoint guard (shared requireCheckpointIdentity)
    b1.write.mode("append").parquet(s"$base/in2")
    val qBad = StreamingIngest.sourceTokenIndexSink(
      spark.readStream.schema(schema).parquet(s"$base/in2"), idx, s"$base/ckpFresh", "src", $"tk")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.processAllAvailable()
    }
    qBad.stop()
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage)
      else String.valueOf(t.getMessage) + " | " + rootMsg(t.getCause)
    assert(rootMsg(err).contains("FRESH checkpoint"),
      s"fresh-checkpoint fold must fail fast: ${rootMsg(err).take(400)}")
    assert(card(idx) == live, "failed fold must not touch the index")
  }

  test("LM counts sink: folds equal one-shot counts; kill mid-fold (staged, unswapped) + resume ≡ uninterrupted") {
    val base = scratch("lmcs").toString
    val b1 = Seq((1L, "the cat sat on the mat"), (2L, "a dog in a fog"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "the cat ate the dog treat"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val schema = b1.schema

    // killed-and-resumed leg: batch 0 commits, batch 1's FIRST attempt
    // staged its whole fold (counts + ledger row) and died before the
    // commit (the exact crash window the single-table ledger design
    // exists for)
    val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
    b1.write.mode("append").parquet(in)
    val q1 = StreamingIngest.lmCountsIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "text")
    try q1.processAllAvailable() finally q1.stop()
    b2.write.mode("append").parquet(in) // arrives while the query is down
    // simulate the crashed attempt: the fold ran, its commit did not
    assert(ops.Lm.foldIntoCountsIndex(spark, idx, "stream-1", b2, "text"))
    IndexStoreSpec.uncommit(spark, idx)
    assert(!ops.Lm.foldedBatches(spark, idx).contains("stream-1"))
    val q2 = StreamingIngest.lmCountsIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "text")
    try q2.processAllAvailable() finally q2.stop() // the replayed fold commits

    // uninterrupted twin, same batch boundaries
    val (in2, idx2, ckp2) = (s"$base/in2", s"$base/idx2", s"$base/ckp2")
    b1.write.mode("append").parquet(in2)
    val u = StreamingIngest.lmCountsIndexSink(
      spark.readStream.schema(schema).parquet(in2), idx2, ckp2, "text")
    try {
      u.processAllAvailable()
      b2.write.mode("append").parquet(in2)
      u.processAllAvailable()
    } finally u.stop()

    def rows(p: String) = ops.Lm.readCountsIndex(spark, p)
      .orderBy("kind", "term").as[(String, String, Long)].collect().toSeq
    val resumed = rows(idx)
    assert(resumed == rows(idx2),
      "resumed counts index must equal the uninterrupted run row for row")
    // and both must equal the one-shot sufficient statistics of the union
    val oneShot = ops.Lm.trainCounts3(b1.unionByName(b2), "text")
      .orderBy("kind", "term").as[(String, String, Long)].collect().toSeq
    assert(resumed == oneShot, "folded stream stats must equal one-shot counts")
    // ledger carries exactly the two stream batches
    assert(ops.Lm.foldedBatches(spark, idx) == Set("stream-0", "stream-1"))

    // checkpoint-identity guard (ADVICE r12): a FRESH checkpoint over the
    // already-folded index would re-batch input under reused stream-<id>
    // ledger keys and silently skip new data — the sink must fail fast,
    // and the failure must name the footgun
    b1.write.mode("append").parquet(s"$base/in3")
    val qBad = StreamingIngest.lmCountsIndexSink(
      spark.readStream.schema(schema).parquet(s"$base/in3"), idx, s"$base/ckpFresh", "text")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.processAllAvailable()
    }
    qBad.stop()
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage)
      else String.valueOf(t.getMessage) + " | " + rootMsg(t.getCause)
    assert(rootMsg(err).contains("FRESH checkpoint"),
      s"fresh-checkpoint fold must fail fast with the footgun named: ${rootMsg(err).take(400)}")
    // and the guarded index is unchanged
    assert(rows(idx) == resumed, "failed fold must not touch the index")
  }

  test("media sink: intra + cross-batch Hamming dedup; kill + resume over a poisoned partial ≡ uninterrupted") {
    val base = scratch("mediakr").toString
    // well-separated base signatures (distinct high bit-blocks), planted
    // exact/near twins: hamming(s, s^1bit) = 1 ≤ 2; distinct bases differ
    // in ≥ 8 bits
    val s1 = 0x0101010101010101L
    val s2 = 0x00FF00FF00FF00FFL
    val s3 = 0x0F0F0F0F0F0F0F0FL
    val b1 = Seq((1L, s1), (2L, s2), (3L, s2 ^ 2L)) // 3 intra-near of 2 → dropped
      .toDF("media_id", "sig")
    val b2 = Seq(
      (4L, s2),      // cross-batch exact of 2 → dropped
      (5L, s1 ^ 4L), // cross-batch hamming-1 of 1 → dropped
      (6L, s3)       // genuinely new
    ).toDF("media_id", "sig")
    val schema = b1.schema

    // killed-and-resumed leg with a poisoned stale partial ---------------
    val (in, corpus, idx, ckp) = (s"$base/in", s"$base/corpus", s"$base/idx", s"$base/ckp")
    b1.write.mode("append").parquet(in)
    val q1 = StreamingIngest.mediaCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in), corpus, idx, ckp, "media_id", "sig")
    try q1.processAllAvailable() finally q1.stop()
    b2.write.mode("append").parquet(in)
    // stale partial of batch 1's first attempt: a foreign id with s3's
    // signature — if recovery wrongly counted it as indexed corpus, doc 6
    // would dedup away
    Seq((99L, s3)).toDF("media_id", "sig")
      .write.mode("overwrite").parquet(s"$corpus/__batch=1")
    val q2 = StreamingIngest.mediaCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in), corpus, idx, ckp, "media_id", "sig")
    try q2.processAllAvailable() finally q2.stop()

    // uninterrupted twin -------------------------------------------------
    val (in2, corpus2, idx2, ckp2) = (s"$base/in2", s"$base/corpus2", s"$base/idx2", s"$base/ckp2")
    b1.write.mode("append").parquet(in2)
    val u = StreamingIngest.mediaCorpusIndexedSink(
      spark.readStream.schema(schema).parquet(in2), corpus2, idx2, ckp2, "media_id", "sig")
    try {
      u.processAllAvailable()
      b2.write.mode("append").parquet(in2)
      u.processAllAvailable()
    } finally u.stop()

    val resumed = spark.read.parquet(corpus).select($"media_id", $"sig")
    val unbroken = spark.read.parquet(corpus2).select($"media_id", $"sig")
    assert(resumed.exceptAll(unbroken).isEmpty && unbroken.exceptAll(resumed).isEmpty,
      "resumed media corpus must equal the uninterrupted run row for row")
    assert(resumed.select("media_id").as[Long].collect().toSet == Set(1L, 2L, 6L),
      "intra near (3), cross exact (4), cross near (5), and the poison (99) must all be gone")
    // index state matches the corpus survivors
    assert(ops.Dedup.readSimhashIndex(spark, idx).sigs.select("corpus_id").as[Long]
      .collect().toSet == Set(1L, 2L, 6L))
  }

  test("media sink: same-batch crash replay with hot-bucket-missed intra twins keeps corpus ≡ index (ADVICE r12)") {
    // The scenario the batch-id exclusion exists for. maxDist=2 → 3
    // chunks of 22 bits; bucket (chunk0 = 0) is made hot (> 1638 rows).
    //   h2 (id 5):  1 bit in chunk0, heavy chunk1/chunk2 pattern H
    //   h  (id 10): chunk0 = 0, same H — live hub of the hot bucket, but
    //               a Hamming-1 twin of h2 via the cold (1, H1) bucket →
    //               h is dropped intra-batch and NEVER enters the index
    //   v  (id 20): sig 0 — after h drops, v is the MIN CORPUS ID in the
    //               hot bucket, i.e. the replay probe's persisted hub
    //   u  (id 5000): 1 bit in chunk1 + 1 bit in chunk2 → hamming(u,v)=2,
    //               sharing ONLY the hot chunk0 bucket → the live pair
    //               pass MISSES (u,v): both survive attempt 1
    // On a same-batch replay, the probe's star path pairs hub v against u
    // (hamming 2 ≤ 2) — without excluding the batch's own first-attempt
    // index rows, u is dropped from the rewritten corpus partition while
    // the index keeps its signature. The drill deletes the checkpoint's
    // commits/0 so batch 0 genuinely replays over the committed state.
    val base = scratch("mediareplay").toString
    val heavy1 = 0x155555L // 11 bits in chunk1
    val heavy2 = 0x0AAAAAL // 10 bits in chunk2
    val hSig = (heavy1 << 22) | (heavy2 << 44)
    val rows =
      Seq((5L, hSig | 1L), (10L, hSig), (20L, 0L), (5000L, (1L << 22) | (8L << 44))) ++
        (100L until 1800L).map(f => (f, (f << 22) | (f << 44)))
    val b = rows.toDF("media_id", "sig")
    val (in, corpus, idx, ckp) = (s"$base/in", s"$base/corpus", s"$base/idx", s"$base/ckp")
    b.write.mode("append").parquet(in)
    val q1 = StreamingIngest.mediaCorpusIndexedSink(
      spark.readStream.schema(b.schema).parquet(in), corpus, idx, ckp, "media_id", "sig")
    try q1.processAllAvailable() finally q1.stop()
    val firstCorpus = spark.read.parquet(corpus).select("media_id").as[Long].collect().toSet
    val firstIndex = ops.Dedup.readSimhashIndex(spark, idx).sigs.select("corpus_id").as[Long].collect().toSet
    assert(!firstCorpus.contains(10L), "h must be dropped intra (twin of h2)")
    assert(Set(5L, 20L, 5000L).subsetOf(firstCorpus),
      s"h2, v, and the missed twin u must all survive attempt 1: ${firstCorpus.size}")
    assert(firstCorpus == firstIndex, "attempt 1 must leave corpus ≡ index")
    // force a same-batch replay: offsets/0 stays, commits/0 goes (and its
    // checksum sibling — a leftover .0.crc makes the replay's atomic
    // commit rename collide and read as a concurrent-query error)
    val cf = new java.io.File(s"$ckp/commits/0")
    assert(cf.exists(), "drill precondition: batch 0 commit file")
    assert(cf.delete())
    new java.io.File(s"$ckp/commits/.0.crc").delete()
    // the checkpoint's active-query registration clears asynchronously
    // after stop(); an immediate restart races it ("concurrently using")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(spark.streams.active.isEmpty, "q1 must deregister before the replay starts")
    val q2 = StreamingIngest.mediaCorpusIndexedSink(
      spark.readStream.schema(b.schema).parquet(in), corpus, idx, ckp, "media_id", "sig")
    try q2.processAllAvailable() finally q2.stop()
    val replayCorpus = spark.read.parquet(corpus).select("media_id").as[Long].collect().toSet
    val replayIndex = ops.Dedup.readSimhashIndex(spark, idx).sigs.select("corpus_id").as[Long].collect().toSet
    assert(replayCorpus == firstCorpus,
      s"replay must rewrite the identical corpus partition (lost: ${firstCorpus -- replayCorpus})")
    assert(replayIndex == firstIndex, "replay must leave the index unchanged")
  }

  test("BM25 sink: streamed folds ≡ one-shot index; same-batch crash replay is an anti-join no-op") {
    val base = scratch("bm25sink").toString
    val b1 = Seq((1L, "the cat sat"), (2L, "a dog in a fog")).toDF("doc_id", "text")
    val b2 = Seq((3L, "the cat ate the dog"), (4L, "fox box")).toDF("doc_id", "text")
    val schema = b1.schema
    val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
    val q = Seq((10L, "the cat dog")).toDF("qid", "qt")
    def probe() = ops.TextStats.probeBm25Index(spark, idx, q, "qid", $"qt")
      .select($"qid", $"doc_id", graft.Canonical.round6($"bm25").as("s"))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    b1.write.mode("append").parquet(in)
    val s1 = StreamingIngest.bm25IndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "doc_id", "text")
    try {
      s1.processAllAvailable()
      b2.write.mode("append").parquet(in)
      s1.processAllAvailable()
    } finally s1.stop()
    val streamed = probe()
    // ≡ live scores over the union (no seam at the batch boundary)
    val live = ops.TextStats.bm25(b1.unionByName(b2), "doc_id", $"text", q, "qid", $"qt")
      .select($"qid", $"doc_id", graft.Canonical.round6($"bm25").as("s"))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(streamed == live, s"streamed index must score like live: $streamed vs $live")
    assert(streamed.size == 3, "docs 1-3 share query terms; doc 4 must be absent")
    // same-batch crash replay: batch 1's commit vanishes, the restart
    // re-folds it — the per-table anti-joins must land empty
    def postings() = ops.IndexStore.read(spark, idx, ops.IndexStore.latest(spark, idx), "postings")
    val nPost = postings().count()
    assert(new java.io.File(s"$ckp/commits/1").delete())
    new java.io.File(s"$ckp/commits/.1.crc").delete()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    val s2 = StreamingIngest.bm25IndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "doc_id", "text")
    try s2.processAllAvailable() finally s2.stop()
    assert(postings().count() == nPost,
      "replayed fold must append nothing")
    assert(probe() == streamed, "replay must not move scores")
  }

  test("BM25 sink: an EMPTY first micro-batch is skipped, not built — the first real batch builds the index") {
    // ADVICE r13: an empty first batch used to write an empty
    // partitionBy postings dir (no part files, schema uninferable) and
    // then mark the index built — permanently bricking every later fold
    val base = scratch("bm25empty").toString
    val docs = Seq((1L, "cat sat"), (2L, "dog fog")).toDF("doc_id", "text")
    val schema = docs.schema
    val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
    docs.limit(0).write.mode("append").parquet(in) // batch 0: zero rows
    val s1 = StreamingIngest.bm25IndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "doc_id", "text")
    try {
      s1.processAllAvailable()
      assert(!ops.IndexStore.committed(spark, idx),
        "empty first batch must leave the index UNBUILT (no manifest)")
      docs.write.mode("append").parquet(in) // batch 1: the real build
      s1.processAllAvailable()
    } finally s1.stop()
    val got = ops.TextStats.probeBm25Index(spark, idx,
        Seq((10L, "cat dog")).toDF("qid", "qt"), "qid", $"qt")
      .select($"doc_id").orderBy("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L), s"post-skip build must index both docs: $got")
  }

  test("CC label sink: streamed pair deltas fold to one-shot components; kill mid-fold + resume heals") {
    val base = scratch("ccsink").toString
    val b1 = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val b2 = Seq((2L, 5L), (8L, 9L)).toDF("id_a", "id_b") // bridges {1,2} and {5,6}
    val schema = b1.schema
    val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
    b1.write.mode("append").parquet(in)
    val q1 = StreamingIngest.ccIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp)
    try q1.processAllAvailable() finally q1.stop()
    b2.write.mode("append").parquet(in)
    // poison: batch 1's first attempt wrote its fold, then died before the commit
    ops.Dedup.appendToCcIndex(spark, idx, b2)
    IndexStoreSpec.uncommit(spark, idx)
    val q2 = StreamingIngest.ccIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp)
    try q2.processAllAvailable() finally q2.stop() // the replayed fold commits
    val got = ops.Dedup.readCcIndex(spark, idx)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val oneShot = ops.Dedup.components(b1.unionByName(b2))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == oneShot, "streamed folds must equal one-shot components over all pairs")
    assert(got == Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (8L, 8L), (9L, 8L)))
  }

  test("HLL sink: streamed folds equal one batch-built index; kill mid-fold + resume heals") {
    val base = scratch("hllsink").toString
    val b1 = Seq(("h1", 1L), ("h1", 2L), ("h2", 5L)).toDF("host", "uid")
    val b2 = Seq(("h1", 3L), ("h3", 9L), ("h1", 2L)).toDF("host", "uid")
    val schema = b1.schema
    val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
    b1.write.mode("append").parquet(in)
    val q1 = StreamingIngest.hllIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "host", "uid")
    try q1.processAllAvailable() finally q1.stop()
    b2.write.mode("append").parquet(in)
    // poison: batch 1's first attempt wrote its fold, then died before the commit
    ops.Frequency.foldIntoHllIndex(spark, idx, b2, "host", "uid")
    IndexStoreSpec.uncommit(spark, idx)
    val q2 = StreamingIngest.hllIndexSink(
      spark.readStream.schema(schema).parquet(in), idx, ckp, "host", "uid")
    try q2.processAllAvailable() finally q2.stop() // the replayed fold commits
    val got = ops.Frequency.readHllEstimates(spark, idx)
      .orderBy("key").as[(String, Long)].collect().toSeq
    // small-cardinality estimates are exact (HLL list/set mode)
    assert(got == Seq(("h1", 3L), ("h2", 1L), ("h3", 1L)),
      s"streamed folds must carry the exact small-set distincts: $got")
  }

  test("streaming sessionization produces sessions with positive event counts") {
    val streamFlat = StreamingIngest.flatEvents(spark, jsonlDir)
    val sessions = StreamingIngest.runToMemory(spark,
      StreamingIngest.sessionized(streamFlat, "30 minutes", "1 hour"),
      "stream_sessions", outputMode = "complete")
    assert(sessions.count() > 0)
    assert(sessions.filter($"n_events" <= 0).count() == 0)
    assert(sessions.filter($"session_end" <= $"session_start").count() == 0)
  }
}
