package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Kpi
import graft.etl.EtlJob
import graft.ops.{Curate, Ivf, Similarity, TextStats}
import graft.sources.Readers

/** One workload: inputs made in [[prepare]], then a closed loop of
  * iterations, each timed around production calls only and checked
  * against the generator's ground truth before the next one starts.
  */
trait Workload {
  def name: String
  /** Input rows one iteration processes. */
  def rows: Long
  /** Bytes of the source the iteration reads (for read amplification). */
  def sourceBytes: Long
  /** Child spans split out of a bench span by call-site attribution. */
  def children: Map[String, Seq[String]] = Map.empty
  def selfChild: Map[String, String] = Map.empty
  /** Every span this workload reports, bench spans and children. */
  def spanNames: Seq[String]

  /** Generate the inputs; replaces earlier ones. */
  def prepare(): Unit
  /** The timed part of iteration `i`. */
  def run(i: Int, spans: Spans): Unit
  /** Bytes iteration `i` left on disk (the space side of the workload), per
    * table or index.
    */
  def storedBytes(i: Int): Map[String, Long]
  /** Problems with iteration `i`'s output; empty when correct. */
  def check(i: Int): Seq[String]
  /** Remove everything iteration `i` wrote. */
  def cleanup(i: Int): Unit
}

object Workloads {

  /** Input sizes the benchmark is calibrated for (see README.md). */
  val Events = 20000
  val Docs = 2000

  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload = name match {
    case "etl_report" => new EtlReport(spark, seed, work, Events)
    case "curate_search" => new CurateSearch(spark, seed, work, Docs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Bytes under each entry of `dir`, one level into directories holding
    * more directories (warehouse tables, index parts).
    */
  def breakdown(dir: File): Map[String, Long] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      val subdirs = Option(f.listFiles()).map(_.filter(_.isDirectory)).getOrElse(Array.empty[File])
      if (subdirs.nonEmpty && !f.getName.startsWith("_"))
        Option(f.listFiles()).get.toSeq.map(g => s"${f.getName}/${g.getName}" -> du(g))
      else Seq(f.getName -> du(f))
    }.toMap

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}

import Workloads.{du, rm}

/** The reference's two entry points back to back: the batch ETL (CSV →
  * parse → DQ → stage → star schema → parquet + DQ report) into a fresh
  * warehouse, then the notebook report read back from that warehouse
  * (five parquet reads → star join → KPIs and date bounds).
  */
final class EtlReport(spark: SparkSession, seed: Long, work: File, events: Int) extends Workload {
  val name = "etl_report"
  private val input = new File(work, "input")
  private var truth: Gen.EventsTruth = _
  private var report: Checks.KpiOutput = _
  def rows: Long = events.toLong
  def sourceBytes: Long = du(input)
  override val children = Map("EtlJob.run" -> Seq("DqRunner.run", "EtlJob.write", "DqRunner.writeReport"))
  override val selfChild = Map("EtlJob.run" -> "EtlJob.stage")
  val spanNames = Seq("EtlJob.run", "DqRunner.run", "EtlJob.stage", "EtlJob.write", "DqRunner.writeReport",
    "Readers.parquet", "Kpi.enrich", "Kpi.headline", "Kpi.dateBounds")

  /** The DQ report's timestamp; fixed so every iteration writes the same
    * report bytes and the traced counters repeat exactly.
    */
  private val FixedClock: graft.etl.DqRunner.Clock = () => "2024-01-01 00:00:00"

  private def dir(i: Int) = new File(work, s"it-$i")
  private def warehouse(i: Int) = new File(dir(i), "warehouse")

  def prepare(): Unit = { rm(input); truth = Gen.events(seed, events, input) }

  def run(i: Int, spans: Spans): Unit = {
    val cfg = EtlJob.Config(new File(input, "events.csv").getPath, warehouse(i).getPath,
      dqReportPath = Some(new File(dir(i), "dq_report").getPath), clock = FixedClock)
    EtlJob.release(spans("EtlJob.run")(EtlJob.run(spark, cfg)))
    val Seq(fact, shipping, client, date, location) = spans("Readers.parquet") {
      Seq("FactShippingEvent", "DimShipping", "DimClient", "DimDate", "DimLocation")
        .map(t => Readers.parquet(spark, new File(warehouse(i), t).getPath))
    }
    val enriched = Kpi.enrich(fact, shipping, client, date, location)
    spans("Kpi.enrich")(enriched.write.format("noop").mode("overwrite").save())
    val k = spans("Kpi.headline")(Kpi.headline(spark, enriched).collect().head)
    val b = spans("Kpi.dateBounds")(Kpi.dateBounds(fact).collect().head)
    report = Checks.KpiOutput(k.avg_delivery_days, k.avg_lifecycle_days, k.avg_pickup_days, k.total_packages,
      (0 until 4).map(j => Checks.micros(b.getTimestamp(j))))
  }

  def storedBytes(i: Int): Map[String, Long] = Workloads.breakdown(dir(i))

  def check(i: Int): Seq[String] =
    Checks.etl(Checks.readEtl(spark, warehouse(i).getPath, new File(dir(i), "dq_report").getPath), truth) ++
      Checks.kpi(report, truth)

  def cleanup(i: Int): Unit = { report = null; rm(dir(i)) }
}

/** The heaviest text composition: x48 curation, then the x147 indexed
  * hybrid retrieval — two index writes and one indexed read.
  */
final class CurateSearch(spark: SparkSession, seed: Long, work: File, nDocs: Int) extends Workload {
  val name = "curate_search"
  val k = 5
  private val input = new File(work, "input")
  private var corpus: Gen.Corpus = _
  private var survivors: DataFrame = _
  private var hybrid: Checks.TopK = Nil
  private var firstHybrid: Option[Checks.TopK] = None
  def rows: Long = nDocs.toLong
  def sourceBytes: Long = du(input)
  override val children = Map("Curate.run" -> Seq("Dedup.components"))
  val spanNames = Seq("Readers.parquet", "Curate.run", "Dedup.components", "TextStats.writeBm25Index",
    "Ivf.writeIndex", "Similarity.hybridTopKIndexed")

  private def dir(i: Int) = new File(work, s"it-$i")
  private def path(t: String) = new File(input, t).getPath

  def prepare(): Unit = {
    import spark.implicits._
    rm(input)
    corpus = Gen.corpus(seed, nDocs)
    firstHybrid = None
    corpus.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(path("documents"))
    corpus.bench.map(d => (d.id, d.text)).toDF("bid", "btext")
      .coalesce(1).write.parquet(path("benchmark"))
    corpus.vectors.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(path("embeddings"))
  }

  def run(i: Int, spans: Spans): Unit = {
    val (docs, bench, emb) = spans("Readers.parquet") {
      (Readers.fanOut(Readers.parquet(spark, path("documents"))),
        Readers.parquet(spark, path("benchmark")),
        Readers.fanOut(Readers.parquet(spark, path("embeddings"))))
    }
    survivors = spans("Curate.run") {
      val kept = Curate.run(docs, "doc_id", "text", Some((bench, "bid", "btext")),
        Curate.Config(minQuality = 0.6))
      kept.write.format("noop").mode("overwrite").save()
      kept
    }
    val bm = new File(dir(i), "bm25").getPath
    val ivf = new File(dir(i), "ivf").getPath
    graft.Concurrent.par(
      spans("TextStats.writeBm25Index")(TextStats.writeBm25Index(docs, "doc_id", col("text"), bm)),
      spans("Ivf.writeIndex")(Ivf.writeIndex(ivf, emb, "vec_id", "embedding",
        Ivf.seedCentroids(emb, "vec_id", "embedding", 16))))
    val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
      .select((col("doc_id") * 1000L).as("query_id"),
        concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      .join(emb.filter(pmod(col("vec_id"), lit(97L)) === 1L)
          .select((col("vec_id") * 1000L).as("query_id"), col("embedding").as("qvec")),
        Seq("query_id"))
    hybrid = spans("Similarity.hybridTopKIndexed") {
      Checks.topK(Similarity.hybridTopKIndexed(spark, bm, ivf, queries, "query_id",
        col("qtext"), "qvec", "vec_id", "embedding", k = k, kPerArm = 10, nprobe = 16))
    }
  }

  def storedBytes(i: Int): Map[String, Long] = Workloads.breakdown(dir(i))

  def check(i: Int): Seq[String] = {
    val kept = survivors.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val problems = Checks.curate(kept, hybrid, corpus, k, firstHybrid)
    if (firstHybrid.isEmpty && problems.isEmpty) firstHybrid = Some(hybrid)
    problems
  }

  def cleanup(i: Int): Unit = { survivors = null; rm(dir(i)) }
}
