package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.analytics.Kpi
import graft.etl.{DqRunner, EtlJob}
import graft.ops.{Curate, Ivf, Similarity, TextStats}
import graft.sources.Readers

/** Tests of the benchmark's own code: generator determinism, every output
  * check rejecting a corrupted result, and job attribution.
  *
  *     python3 perfbench/run.py --selftest
  */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; System.err.println(s"[selftest] ok   $name") }
    catch { case NonFatal(e) => failures += s"$name: $e"; System.err.println(s"[selftest] FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

  private def rejects(problems: Seq[String], what: String): Unit =
    expect(problems.nonEmpty, s"check accepted $what")

  def main(argv: Array[String]): Unit = {
    val work = new File(Args.parse(argv.toSeq).work)
    work.mkdirs()

    test("events generator is deterministic per seed") {
      val (a, b, c) = (new File(work, "ga"), new File(work, "gb"), new File(work, "gc"))
      val ta = Gen.events(11L, 3000, a)
      val tb = Gen.events(11L, 3000, b)
      Gen.events(12L, 3000, c)
      def bytes(d: File) = Files.readAllBytes(new File(d, "events.csv").toPath).toSeq
      expect(ta == tb && bytes(a) == bytes(b), "same seed gave different events")
      expect(bytes(a) != bytes(c), "different seeds gave identical events")
      expect(ta.events == 3000 && Gen.countCsvRecords(new File(a, "events.csv")) == 3001, "row count")
    }

    test("corpus generator is deterministic per seed and plants what it claims") {
      def flat(c: Gen.Corpus) = (c.docs, c.bench, c.vectors.map { case (i, v) => (i, v.toSeq) },
        c.exactDups, c.nearDups, c.overlaps)
      val x = Gen.corpus(5L, 800)
      expect(flat(x) == flat(Gen.corpus(5L, 800)), "same seed gave different corpora")
      expect(flat(x) != flat(Gen.corpus(6L, 800)), "different seeds gave identical corpora")
      expect(x.exactDups.size == 16 && x.nearDups.size == 16 && x.overlaps.size == 8, "plant counts")
      val broken = x.copy(exactDups = x.exactDups + (x.docs.head.id -> x.docs(1).id))
      expect(scala.util.Try(Gen.checkCorpus(broken)).isFailure, "corpus self-check accepted a false plant")
    }

    test("attribution names the innermost public graft method") {
      val stack = Seq(
        "app//graft.ops.Curate$.pipeline(Curate.scala:140)",
        "app//graft.ops.Similarity$.$anonfun$hybridTopKIndexed$1(Similarity.scala:140)",
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
        "graft.etl.DqRunner$.run(DqRunner.scala:37)",
        "perfbench.Main$.main(Main.scala:1)").mkString("\n")
      val chain = Attribution.chain(stack)
      expect(chain == Seq("Similarity.hybridTopKIndexed", "DqRunner.run"), s"chain $chain")
      expect(Tracer.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L), (35L, 36L))) == 30L, "interval union")
    }

    test("BENCHMARK.json declares exactly the metrics the benchmark prints") {
      val root = new File(sys.props.getOrElse("perfbench.root", "."))
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(root, "BENCHMARK.json"))
      def names(key: String) = scala.jdk.CollectionConverters.IteratorHasAsScala(json.get(key).elements())
        .asScala.map(n => (n.get("name").asText, Option(n.get("unit")).map(_.asText).getOrElse(""))).toSeq
      expect(names("per_layer") == Layout.all, s"per_layer differs from Layout.all")
      expect(names("end_to_end").toSet == Main.EndToEnd.toSet, s"end_to_end differs: ${names("end_to_end")}")
      expect(names("workloads").map(_._1) == Layout.Workloads, "workloads differ")
    }

    val spark = graft.Sessions.local("perfbench-selftest", 2)
    try {
      test("a job is attributed to the graft method on its stack, else to its span") {
        val tracer = new Tracer(spark, Map("T" -> Seq("DqRunner.run")), Map.empty)
        val df = spark.range(100).toDF("id")
        tracer.traced(0) {
          tracer("T") {
            DqRunner.run(df, "probe")
            df.filter(col("id") > 3).count()
          }
        }
        val jobs = tracer.jobs
        expect(jobs.exists(j => j.method == "DqRunner.run" && j.span == "DqRunner.run"),
          s"DqRunner.run job not attributed: ${jobs.map(j => (j.method, j.span))}")
        expect(jobs.exists(j => j.method == "-" && j.span == "T"), "bench job not kept in its span")
        val m = tracer.metrics(0)
        expect(m("DqRunner.run")("jobs") >= 1 && m("T").contains("self_s"), s"metrics $m")
      }

      val events = new File(work, "events")
      val truth = Gen.events(3L, 4000, events)
      val wh = new File(work, "warehouse")
      val dq = new File(work, "dq_report")
      EtlJob.release(EtlJob.run(spark, EtlJob.Config(new File(events, "events.csv").getPath, wh.getPath,
        dqReportPath = Some(dq.getPath))))

      test("ETL check accepts the real warehouse and rejects corrupted ones") {
        val out = Checks.readEtl(spark, wh.getPath, dq.getPath)
        expect(Checks.etl(out, truth).isEmpty, s"real output rejected: ${Checks.etl(out, truth)}")
        rejects(Checks.etl(out.copy(rows = out.rows + ("DimClient" -> (out.rows("DimClient") - 1))), truth), "a short dim")
        rejects(Checks.etl(out.copy(dangling = out.dangling + ("FactShippingEvent.date_id" -> 1L)), truth), "a dangling key")
        rejects(Checks.etl(out.copy(dq = out.dq.tail), truth), "a missing DQ row")
        rejects(Checks.etl(out.copy(dq = out.dq.map(_.copy(status = "FAIL"))), truth), "failed DQ checks")
        rejects(Checks.etl(out.copy(dq = out.dq.map(r => r.copy(details = r.details.replace("Row count: 4000", "Row count: 3999")))), truth), "a wrong DQ count")
      }

      test("KPI check accepts the real report and rejects corrupted ones") {
        val t = Seq("FactShippingEvent", "DimShipping", "DimClient", "DimDate", "DimLocation")
          .map(n => Readers.parquet(spark, new File(wh, n).getPath))
        val enriched = Kpi.enrich(t(0), t(1), t(2), t(3), t(4))
        val k = Kpi.headline(spark, enriched).collect().head
        val b = Kpi.dateBounds(t(0)).collect().head
        val out = Checks.KpiOutput(k.avg_delivery_days, k.avg_lifecycle_days, k.avg_pickup_days,
          k.total_packages, (0 until 4).map(j => Checks.micros(b.getTimestamp(j))))
        expect(Checks.kpi(out, truth).isEmpty, s"real output rejected: ${Checks.kpi(out, truth)}")
        rejects(Checks.kpi(out.copy(avgDelivery = out.avgDelivery.map(_ + 1e-9)), truth), "a drifted average")
        rejects(Checks.kpi(out.copy(totalPackages = out.totalPackages + 1), truth), "a wrong package count")
        rejects(Checks.kpi(out.copy(bounds = out.bounds.updated(3, out.bounds(3) + 1)), truth), "a wrong bound")
      }

      test("curation check accepts the real result and rejects corrupted ones") {
        import spark.implicits._
        val c = Gen.corpus(9L, 1000)
        val docs = c.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
        val bench = c.bench.map(d => (d.id, d.text)).toDF("bid", "btext")
        val emb = c.vectors.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
        val kept = Curate.run(docs, "doc_id", "text", Some((bench, "bid", "btext")), Curate.Config(minQuality = 0.6))
          .select("doc_id").as[Long].collect().toSet
        val bm = new File(work, "bm25").getPath
        val ivf = new File(work, "ivf").getPath
        TextStats.writeBm25Index(docs, "doc_id", col("text"), bm)
        Ivf.writeIndex(ivf, emb, "vec_id", "embedding", Ivf.seedCentroids(emb, "vec_id", "embedding", 16))
        val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
          .select((col("doc_id") * 1000L).as("query_id"),
            concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
          .join(emb.filter(pmod(col("vec_id"), lit(97L)) === 1L)
            .select((col("vec_id") * 1000L).as("query_id"), col("embedding").as("qvec")), Seq("query_id"))
        val top = Checks.topK(Similarity.hybridTopKIndexed(spark, bm, ivf, queries, "query_id",
          col("qtext"), "qvec", "vec_id", "embedding", k = 5, kPerArm = 10, nprobe = 16))
        val ok = Checks.curate(kept, top, c, 5, Some(top))
        expect(ok.isEmpty, s"real output rejected: $ok")
        rejects(Checks.curate(kept + c.exactDups.keys.head, top, c, 5, None), "a surviving exact duplicate")
        rejects(Checks.curate(kept + c.nearDups.keys.head, top, c, 5, None), "a surviving near duplicate")
        rejects(Checks.curate(kept + c.overlaps.keys.head, top, c, 5, None), "a surviving contaminated doc")
        rejects(Checks.curate(kept - c.survivors.head, top, c, 5, None), "a lost clean doc")
        rejects(Checks.curate(kept, top.tail, c, 5, None), "a short top-k")
        rejects(Checks.curate(kept, top, c, 5, Some(top.updated(0, top.head.copy(_3 = top.head._3 + 1)))), "a changed top-k")
      }
    } finally spark.stop()

    val summary = s"selftest: $passed passed, ${failures.size} failed"
    failures.foreach(f => System.err.println(s"[selftest] $f"))
    println(summary)
    if (failures.nonEmpty) sys.exit(1)
  }
}
