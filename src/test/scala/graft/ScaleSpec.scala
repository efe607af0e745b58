package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.etl._
import graft.probes.EventsVocab
import graft.sources.Readers

/** Scale-mechanism tests: bucketed co-located joins (no exchange),
  * partitioned fact writes (pruning), and the driver's entry smoke.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with no exchange on either side") {
    // a previous JVM's managed-table location survives on disk while the
    // in-memory catalog forgets it — clear both before writing
    Seq("ev_bucketed", "users_bucketed").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(s"spark-warehouse/$tbl")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    val ev = Readers.table(spark, sf0001, "events")
    Bucketing.writeBucketed(ev.select($"event_id", $"user_id", $"value"),
      "ev_bucketed", Seq("user_id"), 8, sortCols = Seq("user_id"))
    Bucketing.writeBucketed(ev.select($"user_id").distinct()
        .withColumn("user_sk", SurrogateKeys.key(SurrogateKeys.Deterministic, $"user_id")),
      "users_bucketed", Seq("user_id"), 8, sortCols = Seq("user_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("ev_bucketed")
        .join(spark.table("users_bucketed"), Seq("user_id"))
      joined.collect() // finalize AQE
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("marker caches invalidate when the source is regenerated in place") {
    // the round-6 hazard: the driver regenerated /root/testdata at the
    // SAME path mid-round, and every path-keyed marker cache kept serving
    // dead data. The source token folds (path, length, mtime) metadata
    // into the marker name, so an in-place regen lands on a fresh marker.
    val src = scratch("tokSrc").toString
    val out = scratch("tokOut").toString
    Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    val tok1 = TmpDir.sourceToken(s"$src/documents.parquet")
    BuildSf.buildScaled(spark, src, out, 1, Set("documents"))
    assert(spark.read.parquet(s"$out/documents.parquet").count() == 2)
    Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    // force mtimes past coarse filesystem timestamp granularity so the
    // token must move even if the rewrite reused file names and sizes
    new java.io.File(s"$src/documents.parquet").listFiles().foreach { f =>
      f.setLastModified(f.lastModified() + 5000)
    }
    val tok2 = TmpDir.sourceToken(s"$src/documents.parquet")
    assert(tok1 != tok2, "source token must change when content changes")
    BuildSf.buildScaled(spark, src, out, 1, Set("documents"))
    assert(spark.read.parquet(s"$out/documents.parquet").count() == 3,
      "scaled copy must rebuild after the source regenerated in place")
  }

  test("source token folds file paths, not only sizes and mtimes") {
    // round-7 advice: with path as a sort key only, a content swap
    // between same-size files within mtime granularity kept the token —
    // and silently served a stale cache. Path now folds into the mix.
    val d = scratch("tokPath")
    val t = 1700000000000L
    val f1 = d.resolve("a.bin"); val f2 = d.resolve("b.bin")
    Files.write(f1, Array[Byte](1, 2, 3)); f1.toFile.setLastModified(t)
    Files.write(f2, Array[Byte](9, 9, 9)); f2.toFile.setLastModified(t)
    assert(f1.toFile.length == f2.toFile.length && f1.toFile.lastModified == f2.toFile.lastModified)
    assert(TmpDir.sourceToken(f1.toString) != TmpDir.sourceToken(f2.toString),
      "same-size same-mtime files at different paths must produce different tokens")
  }

  test("partitioned fact write produces event_year/event_month dirs and prunes on read") {
    val base = scratch("partwh").toString
    val flat = Flatten(EventsVocab.synth(Readers.table(spark, sf0001, "events"))).cache()
    flat.count()
    val wh = EtlJob.buildFromFlat(flat, EtlJob.Config("", base, clock = () => "2026-01-01 00:00:00"))
    EtlJob.write(wh, EtlJob.Config("", base, partitionFactByMonth = true,
      clock = () => "2026-01-01 00:00:00"))
    flat.unpersist()
    val factDir = Paths.get(s"$base/FactShippingEvent")
    val partDirs = Files.list(factDir).iterator()
    val names = Iterator.continually(partDirs).takeWhile(_.hasNext).map(_.next().getFileName.toString).toList
    assert(names.exists(_.startsWith("event_year=")), names.toString)

    val pruned = spark.read.parquet(s"$base/FactShippingEvent")
      .filter($"event_year" === 2024 && $"event_month" === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      (plan.contains("event_year") || plan.contains("isnotnull(event_year")),
      s"partition filters must prune at the scan:\n$plan")
  }

  test("range-partitioned sorted store: a narrow value filter reads only overlapping files") {
    val tmp = scratch("sorted").toString
    Readers.table(spark, sf0001, "events")
      .select($"event_id", $"event_type", $"value")
      .repartitionByRange(8, $"value")
      .sortWithinPartitions("value")
      .write.mode("overwrite").parquet(tmp)
    val store = spark.read.parquet(tmp)
    val total = store.inputFiles.length
    assert(total >= 6, s"range write should spread across files, got $total")
    // [100, 140] covers <10% of the value range: with range layout at most
    // 2 of the 8 files can overlap it (vs ALL files for an unsorted write,
    // where every file spans the full range and yields matching rows)
    val filesRead = store.filter($"value".between(100.0, 140.0))
      .select(input_file_name().as("f")).distinct().count()
    assert(filesRead >= 1 && filesRead <= 2,
      s"sorted store must confine a narrow filter to the overlapping files, read $filesRead of $total")
  }

  test("compaction shrinks a 64-file shed to ~4 even files, content intact") {
    val tmp = scratch("compact").toString + "/t"
    val src = Readers.table(spark, sf0001, "events")
      .select($"event_id", $"event_type", $"value")
    src.repartition(64).write.parquet(tmp)
    val before = spark.read.parquet(tmp)
    val nBefore = before.inputFiles.length
    val rowsBefore = before.count()
    val compacted = Layout.compact(spark, tmp, Layout.dataBytes(spark, tmp) / 4)
    val nAfter = compacted.inputFiles.length
    assert(nBefore >= 60 && nAfter <= 6,
      s"compaction must collapse the small files: $nBefore -> $nAfter")
    assert(compacted.count() == rowsBefore)
    assert(compacted.exceptAll(src).isEmpty && src.exceptAll(compacted).isEmpty)
  }

  test("driver entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
