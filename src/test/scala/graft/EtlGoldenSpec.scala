package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.etl._
import graft.analytics.Kpi

/** End-to-end golden test: miniature reference-shaped CSV → full ETL →
  * warehouse parquet → KPIs, with hand-computed expectations (SURVEY §5.2.3).
  */
class EtlGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def j(code: String, sub: String, eventDate: String, entryDate: String,
      ship: String, brand: String, sign: String): String = {
    def q(s: String) = if (s == null) "null" else s""""$s""""
    s"""{"event_code": ${q(code)}, "event_sub_code": ${q(sub)},
       | "event_date": ${q(eventDate)}, "entry_date": ${q(entryDate)}, "event_nature": "NAT",
       | "shipping": {"shipping_id": ${q(ship)}, "brand_code_alpha": ${q(brand)},
       |   "sign_code": ${q(sign)},
       |   "collection": {"prestation_code": "P", "round": {"codeAgence": 7, "pays": "FR"}},
       |   "delivery": {"round": {"codeAgence": 8, "pays": "BE"}},
       |   "sav_folder": true, "is_replaced": false,
       |   "state": {"code": "ST", "date": "2024-01-01", "nature": "N", "sousCode": "SC"},
       |   "parcel_number": 1, "shipping_number": 2, "parcel_sequence": 0}}""".stripMargin
  }

  private lazy val (warehouseDir, goldenChecks, goldenParseFailures) = {
    val base = scratch("golden").toString
    val rows = Seq(
      // SH1 complete: sent d1, delivered d3, picked d6 (+ a LATER duplicate
      // delivery on d4 that min(when) must ignore)
      j("PEC", "REL", "2024-01-01 10:00:00.000000", "2024-01-01 09:00:00.000000", "SH1", "B1", "S1"),
      j("TRN", "APM", "2024-01-03 10:00:00.000000", "2024-01-03 09:00:00.000000", "SH1", "B1", "S1"),
      j("TRN", "APM", "2024-01-04 10:00:00.000000", "2024-01-04 09:00:00.000000", "SH1", "B1", "S1"),
      j("LIV", null, "2024-01-06 10:00:00.000000", "2024-01-06 09:00:00.000000", "SH1", "B1", "S1"),
      // SH2 incomplete: sent d1, picked d4 (no delivery)
      j("PEC", "APM", "2024-01-01 08:00:00.000000", "2024-01-01 07:00:00.000000", "SH2", "B1", "S1"),
      j("LIV", null, "2024-01-04 08:00:00.000000", "2024-01-04 07:00:00.000000", "SH2", "B1", "S1"),
      // SH3: TRN with sub-code outside (REL, APM) → label null, but still
      // counted in total_packages (§2.12.2 population split)
      j("TRN", "XXX", "2024-01-02 08:00:00.000000", "2024-01-02 07:00:00.000000", "SH3", null, "S1"),
      // null shipping_id with a LIV event → null pivot group, excluded from countDistinct
      j("LIV", null, "2024-01-05 08:00:00.000000", "2024-01-05 07:00:00.000000", null, "B2", "S2"),
      // null event_date → DimDate null row, J6 never matches (§2.12.5)
      j("ANN", null, null, "2024-01-05 07:00:00.000000", "SH9", "B2", "S2")
    ).map(_.replace("\n", " ")) :+ "{this is not json" // malformed → PERMISSIVE struct of nulls

    val csvDir = s"$base/input"
    spark.createDataset(rows).toDF("event")
      .withColumn("row_id", monotonically_increasing_id().cast("string"))
      .withColumn("ingest_file", lit("golden.csv"))
      .coalesce(1)
      .write.options(Map("header" -> "true", "quote" -> "\"", "escape" -> "\"")).csv(csvDir)

    val cfg = EtlJob.Config(csvDir, s"$base/warehouse",
      dqReportPath = Some(s"$base/dq_report"),
      clock = () => "2026-01-01 00:00:00")
    val wh = EtlJob.run(spark, cfg)
    (s"$base/warehouse", wh.dqChecks, wh.parseFailures)
  }

  /** Catalog entries of run stages (`_stage/flat-<uuid>`). */
  private def stageTables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("flat_")).toSet

  test("star schema lands in parquet with expected grain") {
    val fact = spark.read.parquet(s"$warehouseDir/FactShippingEvent")
    val dimShipping = spark.read.parquet(s"$warehouseDir/DimShipping")
    val dimClient = spark.read.parquet(s"$warehouseDir/DimClient")
    assert(fact.count() == 10, "one fact row per source row incl. malformed")
    assert(dimShipping.count() == 4, "SH1, SH2, SH3, SH9 (null shipping_id dropped)")
    assert(dimShipping.select("shipping_id").distinct().count() == 4)
    assert(dimClient.count() == 2, "B1_S1 and B2_S2; (null,S1) and malformed rows filtered by the null guard")
  }

  test("referential integrity: deterministic keys close the FK loop (§2.12.1)") {
    val fact = spark.read.parquet(s"$warehouseDir/FactShippingEvent")
    val dimDate = spark.read.parquet(s"$warehouseDir/DimDate")
    val dangling = fact.filter($"date_id".isNotNull).as("f")
      .join(dimDate.as("d"), $"f.date_id" === $"d.date_id", "left_anti")
    assert(dangling.count() == 0, "every non-null fact.date_id resolves")
    // null event_date row: date_id stays null (J6 = is null-sensitive)
    assert(fact.filter($"event_date".isNull && $"date_id".isNotNull).count() == 0)
  }

  test("headline KPIs match hand computation (incl. §2.12.2 population split)") {
    val fact = spark.read.parquet(s"$warehouseDir/FactShippingEvent")
    val kpi = Kpi.headline(spark, fact).collect().head
    assert(kpi.avg_delivery_days.contains(2.0), "only SH1 has delivery: d3-d1=2 (later re-delivery ignored)")
    assert(kpi.avg_lifecycle_days.contains(4.0), "(SH1: 5, SH2: 3) avg 4")
    assert(kpi.avg_pickup_days.contains(3.0), "only SH1: d6-d3=3")
    assert(kpi.total_packages == 3, "SH1, SH2, SH3 — null shipping_id excluded, SH3 counted despite no labels")
  }

  test("completeOnly flag restricts every KPI to fully-timed shipments") {
    val fact = spark.read.parquet(s"$warehouseDir/FactShippingEvent")
    val filtered = fact.filter($"event_code".isin("PEC", "TRN", "LIV"))
    val labeled = Kpi.label(filtered, Kpi.parcelRules)
    val pivoted = Kpi.pivotEarliest(labeled, "shipping_id", "event_type", "event_date",
      Seq("SENT" -> "sent_time", "DELIVERED_TO_POINT" -> "delivered_time", "PICKED_UP" -> "picked_time"))
    val row = Kpi.kpis(Kpi.withDurations(pivoted), completeOnly = true).collect().head
    assert(row.getDouble(0) == 2.0 && row.getDouble(1) == 5.0 && row.getDouble(2) == 3.0)
    assert(row.getLong(3) == 1, "only SH1 is complete")
  }

  test("pivot yields at most one row per shipping_id (property)") {
    val fact = spark.read.parquet(s"$warehouseDir/FactShippingEvent")
    val labeled = Kpi.label(fact.filter($"event_code".isin("PEC", "TRN", "LIV")), Kpi.parcelRules)
    val pivoted = Kpi.pivotEarliest(labeled, "shipping_id", "event_type", "event_date",
      Seq("SENT" -> "sent_time", "DELIVERED_TO_POINT" -> "delivered_time", "PICKED_UP" -> "picked_time"))
    assert(pivoted.groupBy("shipping_id").count().filter($"count" > 1).count() == 0)
  }

  test("golden run: every DQ checkpoint's checks, in run order, and the same rows in the report") {
    def nulls(point: String, counts: (String, Int)*) = counts.map { case (c, n) =>
      (point, s"No nulls in column '$c'", if (n == 0) "PASS" else "FAIL", s"Null count: $n")
    }
    def checkpoint(point: String, rows: Int, counts: (String, Int)*) =
      (point, "Non-empty dataframe", "PASS", s"Row count: $rows") +: nulls(point, counts: _*)
    val build = "After Tables Build: "
    val expected =
      // the raw CSV columns: the malformed-JSON row is still a full CSV row
      checkpoint("Before Parsing", 10, "event" -> 0, "row_id" -> 0, "ingest_file" -> 0) ++
        checkpoint("After Parsing", 10, "event" -> 0, "row_id" -> 0, "ingest_file" -> 0) ++
        checkpoint(build + "DimClient", 2, "client_key" -> 0, "brand_code_alpha" -> 0, "sign_code" -> 0) ++
        // the malformed row's null rounds, once as collection and once as delivery
        checkpoint(build + "DimLocation", 4, "codeAgence" -> 2, "pays" -> 2, "location_type" -> 0) ++
        checkpoint(build + "DimState", 2, "state_code" -> 1, "state_date" -> 1, "state_nature" -> 1) ++
        // six event days plus the null-event_date row
        checkpoint(build + "DimDate", 7, "date" -> 1, "year" -> 1, "month" -> 1) ++
        // SH3 has a null brand, so no client
        checkpoint(build + "DimShipping", 4, "shipping_id" -> 0, "client_id" -> 1, "collection_location_id" -> 0) ++
        // 3 LIV + ANN + malformed have no sub-code
        checkpoint(build + "FactShippingEvent", 10, "event_id" -> 0, "event_code" -> 1, "event_sub_code" -> 5)
    assert(goldenChecks.map(c => (c.check_point, c.check_name, c.status, c.details)) == expected)
    assert(goldenChecks.forall(_.timestamp == "2026-01-01 00:00:00"))
    val report = spark.read.option("header", "true").csv(warehouseDir.replace("/warehouse", "/dq_report"))
      .select("check_point", "check_name", "status", "details").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(report.sorted == expected.sorted)
  }

  test("golden run: the staging write counts the malformed row as a parse failure, outside the DQ report") {
    assert(goldenParseFailures == 1)
    assert(!goldenChecks.exists(_.check_name.toLowerCase.contains("parse")))
  }

  test("a run that fails after its staging write leaves no stage files and no stage table") {
    val base = scratch("failedrun").toString
    val csvDir = warehouseDir.replace("/warehouse", "/input")
    // the first two calls stamp the pre-parse checkpoints; the third is the
    // first table's checkpoint, built after the stage is written
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val clock: DqRunner.Clock = () =>
      if (calls.incrementAndGet() <= 2) "2026-01-01 00:00:00"
      else throw new IllegalStateException("clock failed after the staging write")
    val before = stageTables()
    val e = intercept[IllegalStateException] {
      EtlJob.run(spark, EtlJob.Config(csvDir, s"$base/warehouse", clock = clock))
    }
    assert(e.getMessage == "clock failed after the staging write")
    assert(calls.get == 3, "the run failed at the first table checkpoint")
    val stageRoot = Paths.get(s"$base/warehouse/_stage")
    assert(Files.isDirectory(stageRoot), "the stage was written before the failure")
    val left = Files.list(stageRoot).iterator().asScala.map(_.getFileName.toString).toVector
    assert(left.isEmpty, s"stage data left behind: $left")
    assert(stageTables() == before, s"stage tables left behind: ${stageTables() -- before}")
  }

  test("EtlJob.run launches no standalone DQ job: every checkpoint rides an action the run needs anyway") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val input = warehouseDir.replace("/warehouse", "/input")
    val base = scratch("dqjobs").toString
    val tag = "graft.test.dqjobs"
    // a job's call site is its stage's, or (for the stages adaptive execution
    // submits from a pool thread) that of the SQL execution it runs for
    val execSites = scala.collection.concurrent.TrieMap.empty[String, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Seq[String])]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execSites(s.executionId.toString) = s.details
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty(tag) != null).foreach { p =>
          val execs = Seq("spark.sql.execution.id", "spark.sql.execution.root.id").flatMap(k => Option(p.getProperty(k)))
          jobs.add((js.stageInfos.map(_.details), execs))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // a local property reaches the pool threads the run starts, so only this
    // run's jobs are counted whatever else shares the session
    sc.setLocalProperty(tag, "1")
    try {
      EtlJob.release(EtlJob.run(spark, EtlJob.Config(input, s"$base/warehouse",
        dqReportPath = Some(s"$base/dq_report"), clock = () => "2026-01-01 00:00:00")))
    } finally {
      sc.setLocalProperty(tag, null)
      org.apache.spark.GraftTestSpark.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    val sites = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq
      .map { case (stages, execs) => (stages ++ execs.flatMap(execSites.get)).mkString("\n") }
    assert(sites.nonEmpty, "the listener saw the run's jobs")
    val dq = sites.filter(s => s.contains("DqRunner$.run(") || s.contains("DqRunner$.$anonfun$run$"))
    assert(dq.size == 0, s"of ${sites.size} jobs were launched by DqRunner.run, e.g.\n${dq.headOption.getOrElse("")}")
  }

  test("header-only input runs to completion and every checkpoint reports an empty frame") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val base = scratch("emptyetl").toString
    Files.createDirectories(Paths.get(s"$base/input"))
    Files.write(Paths.get(s"$base/input/part-0.csv"), "event,row_id,ingest_file\n".getBytes("UTF-8"))
    val cfg = EtlJob.Config(s"$base/input", s"$base/warehouse",
      dqReportPath = Some(s"$base/dq_report"), clock = () => "2026-01-01 00:00:00")
    // a checkpoint whose metrics never arrive would block the run forever:
    // bound it, so that shows as a failure instead of a hung suite
    val run = Future(EtlJob.run(spark, cfg))(ExecutionContext.global)
    val wh = Await.result(run, 5.minutes)
    val points = Seq("Before Parsing", "After Parsing") ++
      Seq("DimClient", "DimLocation", "DimState", "DimDate", "DimShipping", "FactShippingEvent")
        .map("After Tables Build: " + _)
    assert(wh.dqChecks.map(_.check_point).distinct == points)
    val (nonEmpty, nullChecks) = wh.dqChecks.partition(_.check_name == "Non-empty dataframe")
    assert(nonEmpty.map(c => (c.check_point, c.status, c.details)) ==
      points.map(p => (p, "FAIL", "Dataframe is empty")))
    assert(nullChecks.size == 8 * 3 && nullChecks.forall(c => c.status == "PASS" && c.details == "Null count: 0"))
    assert(spark.read.parquet(s"$base/warehouse/FactShippingEvent").count() == 0)
    EtlJob.release(wh)
  }

  test("DQ report: single-pass checks with PASS/FAIL statuses and audit CSV") {
    val df = Seq((Some(1), Some("a")), (None, Some("b"))).toDF("k", "v")
    val checks = DqRunner.run(df, "T", () => "2026-01-01 00:00:00")
    assert(checks.map(_.check_name) ==
      Seq("Non-empty dataframe", "No nulls in column 'k'", "No nulls in column 'v'"))
    assert(checks.map(_.status) == Seq("PASS", "FAIL", "PASS"))
    assert(checks(1).details == "Null count: 1")
    // audit trail CSV was written by the golden run
    val report = spark.read.option("header", "true").csv(warehouseDir.replace("/warehouse", "/dq_report"))
    assert(report.count() == 8 * 4, "8 checkpoints x (1 non-empty + 3 null checks)")
  }

  test("DQ report: a fresh path gets the new checks, an existing report is appended to, newest first") {
    val path = scratch("dqreport").toString + "/dq_report"
    val df = Seq((Some(1), Some("a"))).toDF("k", "v")
    def report() = spark.read.option("header", "true").csv(path)
      .select("check_point", "timestamp").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    DqRunner.writeReport(spark, DqRunner.run(df, "OLD", () => "2026-01-01 00:00:00"), path)
    assert(report() == Seq.fill(3)(("OLD", "2026-01-01 00:00:00")))
    DqRunner.writeReport(spark, DqRunner.run(df, "NEW", () => "2026-01-02 00:00:00"), path)
    assert(report() == Seq.fill(3)(("NEW", "2026-01-02 00:00:00")) ++ Seq.fill(3)(("OLD", "2026-01-01 00:00:00")))
    assert(!Files.exists(Paths.get(path + "_tmp")), "the staging copy is swapped into place")
  }

  test("re-run into the same warehouse: first run's frames stay live; release() sweeps its stage") {
    val base = scratch("rerunwh").toString
    val csvDir = warehouseDir.replace("/warehouse", "/input")
    val cfg = EtlJob.Config(csvDir, s"$base/warehouse", clock = () => "2026-01-01 00:00:00")
    val first = EtlJob.run(spark, cfg)
    val factBefore = first.fact.count()
    // second run targets the SAME warehouse; a fixed stage path would
    // overwrite the files the first run's lazy frames still read from
    val second = EtlJob.run(spark, cfg)
    assert(first.stagePath.isDefined && second.stagePath.isDefined &&
      first.stagePath != second.stagePath, "stage dirs must be run-unique")
    assert(first.fact.count() == factBefore, "first run's frames re-read their own stage")
    // release sweeps exactly the released run's stage dir and table
    def table(wh: EtlJob.Warehouse) = EtlJob.stageTable(wh.stagePath.get)
    assert(Set(table(first), table(second)).subsetOf(stageTables()))
    EtlJob.release(first)
    assert(!Files.exists(Paths.get(first.stagePath.get)))
    assert(!stageTables().contains(table(first)) && stageTables().contains(table(second)))
    assert(second.fact.count() == factBefore, "second run unaffected by first's release")
    EtlJob.release(second)
    assert(!Files.exists(Paths.get(second.stagePath.get)))
    assert(!stageTables().contains(table(second)))
  }

  test("uuid parity mode keeps FK closure via pinned evaluation") {
    val base = scratch("uuidwh").toString
    val csvDir = warehouseDir.replace("/warehouse", "/input")
    val cfg = EtlJob.Config(csvDir, s"$base/warehouse",
      keyMode = SurrogateKeys.UuidParity, parityDedup = true,
      clock = () => "2026-01-01 00:00:00")
    EtlJob.run(spark, cfg)
    val fact = spark.read.parquet(s"$base/warehouse/FactShippingEvent")
    val dimDate = spark.read.parquet(s"$base/warehouse/DimDate")
    val dangling = fact.filter($"date_id".isNotNull).as("f")
      .join(dimDate.as("d"), $"f.date_id" === $"d.date_id", "left_anti")
    assert(dangling.count() == 0, "pinning each dim before fan-out preserves the written FK closure")
  }
}
