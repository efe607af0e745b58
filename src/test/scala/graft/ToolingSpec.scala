package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The measurement tooling: [[Profile]]'s plan reading and its run on the
  * shared session, the guard that keeps `src/main` at one session builder
  * and one profiling tool, the guard that keeps the star-schema build
  * and its stage in `graft.etl`, and the guard that keeps the
  * manifest-committed index families free of markers and heal paths.
  */
class ToolingSpec extends SparkSpec {

  test("broadcastHeads reads each exchange's own children, never the sibling after it") {
    // the left exchange has a single child line and its join sibling
    // follows at once; the sibling's deeper lines must not fill the head
    val plan =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   BroadcastHashJoin [k#1L], [k#2L], Inner, BuildLeft, false
        |   :- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=10]
        |   :  +- LocalTableScan [k#1L]
        |   +- Project [k#2L, v#3]
        |      +- BroadcastHashJoin [v#3], [w#4], Inner, BuildRight, false
        |         :- Filter isnotnull(k#2L)
        |         :  +- Scan ExistingRDD[k#2L,v#3]
        |         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, int, true]),false), [plan_id=11]
        |            +- AQEShuffleRead local
        |               +- ShuffleQueryStage 0
        |                  +- Exchange hashpartitioning(w#4, 8), ENSURE_REQUIREMENTS, [plan_id=9]
        |""".stripMargin
    assert(Profile.broadcastHeads(plan) == Seq(
      "+- LocalTableScan [k#1L]",
      "+- AQEShuffleRead local | +- ShuffleQueryStage 0"))
    assert(Profile.broadcastHeads("Project [a#1]\n+- Scan ExistingRDD[a#1]").isEmpty)
  }

  test("Profile on a catalog query prints its jobs, writes its plan and leaves the session running") {
    val out = scratch("profile").toString
    def stageDirs = Option(new java.io.File(TmpDir.root)
      .listFiles((_, n) => n.startsWith("parcel_flat_stage_"))).map(_.toSet).getOrElse(Set.empty)
    val before = stageDirs
    val lines = Profile.profile(spark, sf0001, Seq("q16_kpi_headline", "q17_parcel_etl_fact"), out)
    assert(!lines.exists(_.contains("\"error\"")), lines.mkString("\n"))
    assert(lines.count(_.contains("\"job\":")) >= 1, lines.mkString("\n"))
    assert(lines.count(_.contains("\"timed_s\":")) == 2, lines.mkString("\n"))
    val plan = Files.readString(Paths.get(out, "q16_kpi_headline.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
    // the plan the timed write ran, as adaptive execution finished it
    assert(plan.contains("isFinalPlan=true") || plan.contains("== Final Plan =="), plan)
    // every query is released: the parcel probe's stage leaves no dir and
    // no catalog table behind (stages another process made stay theirs)
    val stages = stageDirs -- before
    assert(stages.isEmpty, s"stage dirs left behind: $stages")
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("parcel_flat_stage_"))
    assert(tables.isEmpty, s"stage tables left behind: ${tables.toSeq}")
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }

  test("src/main has four mains and one SparkSession builder") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(sources.nonEmpty)
    val objectDecl = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)""".r
    val mains = sources.flatMap { p =>
      val text = Files.readString(p)
      text.linesIterator.foldLeft((Option.empty[String], Vector.empty[String])) {
        case ((owner, found), line) =>
          val o = objectDecl.findFirstMatchIn(line).map(_.group(1)).orElse(owner)
          (o, if (line.contains("def main(")) found ++ o else found)
      }._2
    }
    assert(mains.sorted == Vector("Bench", "BuildSf", "Profile", "Verify"),
      s"objects with a main: ${mains.sorted}")
    val builders = sources.filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString)
    assert(builders == Vector("Sessions.scala"), s"files building a SparkSession: $builders")
  }

  test("only graft.etl stages a flat frame or builds the star schema") {
    val etl = Paths.get("src/main/scala/graft/etl")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(etl)).toVector
    assert(sources.nonEmpty)
    // the argument list of every writeBucketed call, parentheses balanced
    def bucketedCalls(text: String): Iterator[String] =
      """writeBucketed\(""".r.findAllMatchIn(text).map { m =>
        val args = text.iterator.drop(m.end).scanLeft(1) {
          case (depth, '(') => depth + 1
          case (depth, ')') => depth - 1
          case (depth, _) => depth
        }.drop(1).takeWhile(_ > 0).size
        text.substring(m.end, m.end + args)
      }
    val offenders = sources.filter { p =>
      val text = Files.readString(p)
      """\b(?:FactBuilder|Dims)\.\w""".r.findFirstIn(text).nonEmpty ||
        bucketedCalls(text).exists(_.contains("\"shipping_id\""))
    }.map(_.getFileName.toString).sorted
    assert(offenders.isEmpty, s"files building the star schema or its stage outside graft.etl: $offenders")
  }

  test("the batch index families keep no marker, staging swap, meta.json, intent file, " +
      "layout file or heal path") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(sources.nonEmpty)
    def naming(word: String): Vector[String] =
      sources.filter(p => Files.readString(p).contains(word)).map(_.getFileName.toString).sorted
    assert(naming("_manifest") == Vector("IndexStore.scala"),
      s"only the index store may know its manifest dir: ${naming("_manifest")}")
    val retired = Seq("_compacting_batch", "publishBatchMarker", "finishBatchCompaction",
      "stageBatchCompaction", "compactBatchIndex", "maybeAutoCompact", "stats.dirty", "layout.json",
      "meta.json", "writeBloomFileAtomic", "_compacting.json", "stageIngestCompaction",
      "finishIngestCompaction", "writeBandDelta", "writeVecBuckets")
    val named = retired.flatMap(w => naming(w).map(f => s"$f: $w"))
    assert(named.isEmpty, s"src/main still names a retired index protocol: $named")
    // one band index and one vec index, in the ingest layout: the batch
    // families' own types and their corpus-wide bucket aggregate are gone
    val retiredTypes = """\b(?:BandIndex|VecIndex)\b""".r
    val typed = sources.flatMap(p => retiredTypes.findAllIn(Files.readString(p)).toSet
      .map((m: String) => s"${p.getFileName}: $m"))
    assert(typed.isEmpty, s"src/main still names a retired index type: $typed")
    val dedup = Files.readString(Paths.get("src/main/scala/graft/ops/Dedup.scala"))
    assert(!dedup.contains("\"buckets\""), "Dedup.scala still writes a bucket aggregate table")
    // the SCD2 dim sink's dir swap — a warehouse table, not an index — is
    // the one staging swap left
    val offenders = sources.flatMap { p =>
      val name = p.getFileName.toString
      val lines = Files.readAllLines(p).asScala.toVector
      val from = if (name == "StreamingIngest.scala") lines.indexWhere(_.contains("def scd2DimSink(")) else -1
      val to = if (from < 0) -1 else lines.indexWhere(_.startsWith("  def "), from + 1)
      assert(name != "StreamingIngest.scala" || (from >= 0 && to > from), s"$name: scd2DimSink moved")
      lines.zipWithIndex.collect {
        case (l, i) if l.contains(".staging\"") && !(i > from && i < to) => s"$name:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty, s"only scd2DimSink may keep a staging swap:\n${offenders.mkString("\n")}")
  }
}
