package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.probes.{AnalyticProbes, EngineProbes, ExtensionProbes, ParityProbes, PipelineProbes}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full probe catalog (SURVEY §2.13 parity probes +
  * training-data-pipeline extension probes); `oracleSql` carries the DuckDB
  * twin for every query whose math is engine-portable. Hash-family ops
  * (MinHash/SimHash/LSH) have no oracle → rows-only check + unit tests.
  */
object SparkEntry {

  private val probes =
    ParityProbes.all ++ AnalyticProbes.all ++ ExtensionProbes.all ++ EngineProbes.all ++
      PipelineProbes.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's headline 4-KPI pipeline (notebook `report.ipynb:
    * 173-202`) over the events fixture.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q16_kpi_headline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    probes.map(p => p.name -> p.fn).toMap

  /** Catalog order for the Verify dump, cheapest group first: parity →
    * analytic → engine probes (the §2 reference surface, sub-second each)
    * before the extension/pipeline compositions, with the streaming probes
    * (multi-second trigger waits) last — so a dump truncated by the
    * driver's window still grades the full §2 surface and most of the
    * extension catalog (round 13; CORRECTNESS_r12 came back empty).
    */
  def orderedQueryNames: Seq[String] = {
    val grouped =
      ParityProbes.all ++ AnalyticProbes.all ++ EngineProbes.all ++
        ExtensionProbes.all ++ PipelineProbes.all
    val (streaming, rest) = grouped.map(_.name).partition(_.contains("streaming"))
    rest ++ streaming
  }

  /** Frees what a catalog query leaves behind, for the tools that run
    * them in turn: cached frames, every persisted RDD (blocking; with the
    * `localCheckpoint` blocks `clearCache` misses), the parcel probes'
    * stages with their catalog tables and the probes' scratch dirs.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ParityProbes.dropStages(spark)
    TmpDir.dropScratch()
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    probes.flatMap(p => p.oracle.map(p.name -> _)).toMap
}
