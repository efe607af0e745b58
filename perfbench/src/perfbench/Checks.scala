package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-iteration output checks against the generators' ground truth. Each
  * check is a pure function over values read back from the program's
  * output and returns the list of problems found (empty = correct), so a
  * corrupted output can be fed to it directly in the self-test.
  */
object Checks {

  val Tables: Seq[String] =
    Seq("DimClient", "DimLocation", "DimState", "DimDate", "DimShipping", "FactShippingEvent")

  /** Foreign keys of the star schema: (child table, column, parent table,
    * parent key). Every generated key is non-null, so a null or
    * unresolved reference is a defect.
    */
  val ForeignKeys: Seq[(String, String, String, String)] = Seq(
    ("FactShippingEvent", "shipping_id", "DimShipping", "shipping_id"),
    ("FactShippingEvent", "date_id", "DimDate", "date_id"),
    ("DimShipping", "client_id", "DimClient", "client_id"),
    ("DimShipping", "collection_location_id", "DimLocation", "location_id"),
    ("DimShipping", "delivery_location_id", "DimLocation", "location_id"),
    ("DimShipping", "state_id", "DimState", "state_id"))

  final case class DqRow(checkPoint: String, checkName: String, status: String, details: String)

  final case class EtlOutput(
      rows: Map[String, Long],
      dangling: Map[String, Long], // "child.column" → unresolved references
      dq: Seq[DqRow])

  /** One Spark action for all table sizes and foreign-key counts (the check
    * runs between timed iterations, so it is kept cheap); the DQ report is
    * one small CSV part file, read directly.
    */
  def readEtl(spark: SparkSession, warehouse: String, dqReport: String): EtlOutput = {
    val t = Tables.map(n => n -> spark.read.parquet(s"$warehouse/$n")).toMap
    val sizes = Tables.map(n => t(n).agg(count(lit(1))).select(lit(s"rows:$n"), col("count(1)")))
    val dangling = ForeignKeys.map { case (child, c, parent, key) =>
      t(child).select(col(c).as("k"))
        .join(t(parent).select(col(key).as("k")).distinct(), Seq("k"), "left_anti")
        .agg(count(lit(1))).select(lit(s"fk:$child.$c"), col("count(1)"))
    }
    val counts = (sizes ++ dangling).reduce(_ union _).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val parts = new java.io.File(dqReport).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val lines = parts.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).toList finally src.close()
    }
    val dq = lines.map(_.split(",", -1)).map(c => DqRow(c(0), c(1), c(2), c(3)))
    EtlOutput(
      Tables.map(n => n -> counts(s"rows:$n")).toMap,
      ForeignKeys.map { case (child, c, _, _) => s"$child.$c" -> counts(s"fk:$child.$c") }.toMap,
      dq)
  }

  /** Six table sizes, referential closure of every foreign key, and the
    * DQ report: four checks per checkpoint, all PASS, with the expected row
    * count in each non-empty check.
    */
  def etl(out: EtlOutput, truth: Gen.EventsTruth): Seq[String] = {
    val rows = truth.tableRows.toSeq.sortBy(_._1).collect {
      case (n, want) if !out.rows.get(n).contains(want) => s"$n has ${out.rows.get(n)} rows, expected $want"
    }
    val refs = out.dangling.toSeq.sortBy(_._1).collect {
      case (fk, k) if k != 0 => s"$fk has $k unresolved references"
    }
    val expectedDq = truth.dqRows.size * 4
    val dqCount = if (out.dq.size != expectedDq) Seq(s"DQ report has ${out.dq.size} rows, expected $expectedDq") else Nil
    val dqStatus = out.dq.filter(_.status != "PASS").map(r => s"DQ ${r.checkPoint} / ${r.checkName}: ${r.status} (${r.details})")
    val dqRows = truth.dqRows.toSeq.sortBy(_._1).flatMap { case (cp, n) =>
      val got = out.dq.filter(r => r.checkPoint == cp && r.checkName == "Non-empty dataframe").map(_.details)
      if (got == Seq(s"Row count: $n")) Nil else Seq(s"DQ $cp reports $got, expected Row count: $n")
    }
    rows ++ refs ++ dqCount ++ dqStatus ++ dqRows
  }

  final case class KpiOutput(
      avgDelivery: Option[Double],
      avgLifecycle: Option[Double],
      avgPickup: Option[Double],
      totalPackages: Long,
      bounds: Seq[Long]) // micros: min/max entry_date, min/max event_date

  def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** The four headline KPIs and the date bounds; averages of whole-day
    * differences are sums of integers over a count, so they must agree
    * with the ground truth to the last bit.
    */
  def kpi(out: KpiOutput, truth: Gen.EventsTruth): Seq[String] = {
    def same(name: String, got: Option[Double], want: Option[Double]) =
      if (got == want) Nil else Seq(s"$name is $got, expected $want")
    val wantBounds = Seq(truth.minEntryMicros, truth.maxEntryMicros, truth.minEventMicros, truth.maxEventMicros)
    same("avg_delivery_days", out.avgDelivery, truth.avgDelivery) ++
      same("avg_lifecycle_days", out.avgLifecycle, truth.avgLifecycle) ++
      same("avg_pickup_days", out.avgPickup, truth.avgPickup) ++
      (if (out.totalPackages == truth.totalPackages) Nil
       else Seq(s"total_packages is ${out.totalPackages}, expected ${truth.totalPackages}")) ++
      (if (out.bounds == wantBounds) Nil else Seq(s"date bounds are ${out.bounds}, expected $wantBounds"))
  }

  /** Hybrid retrieval rows: (query_id, rank, doc_id). */
  type TopK = Seq[(Long, Int, Long)]

  def topK(df: DataFrame): TopK =
    df.select(col("query_id").cast("long"), col("rank").cast("int"), col("doc_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  /** Curation keeps exactly the unplanted documents (so no planted
    * duplicate or contaminated document survives, and nothing else is
    * lost); every query gets `k` results including the document it was
    * cut from; and the ranking is identical to the first iteration's.
    */
  def curate(survivors: Set[Long], hybrid: TopK, corpus: Gen.Corpus, k: Int,
      firstHybrid: Option[TopK]): Seq[String] = {
    val want = corpus.survivors
    val leaked = (survivors intersect corpus.planted).toSeq.sorted
    val lost = (want -- survivors).toSeq.sorted
    val extra = (survivors -- want -- corpus.planted).toSeq.sorted
    val byQuery = hybrid.groupBy(_._1)
    val queries = corpus.queryIds.map(_ * 1000L)
    val shape = queries.flatMap { q =>
      val got = byQuery.getOrElse(q, Nil)
      if (got.size != k) Seq(s"query $q has ${got.size} results, expected $k")
      else if (!got.exists(_._3 == q / 1000L)) Seq(s"query $q misses its own document")
      else Nil
    } ++ (byQuery.keySet -- queries).toSeq.sorted.map(q => s"unexpected query $q")
    (if (leaked.nonEmpty) Seq(s"planted documents survived: ${leaked.take(10)}") else Nil) ++
      (if (lost.nonEmpty) Seq(s"clean documents lost: ${lost.take(10)}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"unknown documents returned: ${extra.take(10)}") else Nil) ++
      shape ++
      firstHybrid.filter(_ != hybrid).map(_ => "hybrid top-k differs from the first iteration").toSeq
  }
}
