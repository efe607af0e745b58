package graft.etl

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Readers

/** End-to-end ETL orchestration (reference `etl/main.py` main flow), with
  * the deliberate physical deltas of SURVEY §7.3:
  *
  *   - the flat frame is written once to a run-unique parquet staging table
  *     (`<warehouse>/_stage/flat-<uuid>`, [[stage]]) and re-read by every
  *     dim build and write (the reference recomputes the non-splittable CSV
  *     parse dozens of times). The stage is lineage-free (executor loss
  *     re-reads files), has no cache-manager involvement (no eviction, no
  *     block-lock races between the dim broadcast-exchange threads), and
  *     scans back columnar through the vectorized reader — measured on the
  *     round-11 host as the fastest multi-consumer form at 10× scale
  *     (q17@sf1 17.1 s vs 19.9 s columnar cache vs 35.1 s localCheckpoint).
  *     It is bucketed and sorted on `shipping_id`, the key of dimShipping's
  *     window dedup and of the fact join, so both read it without an
  *     exchange;
  *   - no DQ checkpoint runs a job of its own: each rides a write the run
  *     does anyway ([[DqRunner.observe]]) — the two pre-parse checkpoints
  *     the staging write, each table's checkpoint that table's write;
  *   - the six table writes are independent and run concurrently;
  *   - surrogate keys are deterministic sha2 by default, so the written
  *     star schema is referentially closed (SURVEY §2.12.1); `uuid()` parity
  *     mode caches each dim before fan-out so a single evaluation is reused;
  *   - fact writes can partition by event year/month for 100-TB pruning.
  */
object EtlJob {

  final case class Config(
      inputPath: String,
      warehousePath: String,
      dqReportPath: Option[String] = None,
      keyMode: SurrogateKeys.Mode = SurrogateKeys.Deterministic,
      parityDedup: Boolean = false,
      partitionFactByMonth: Boolean = false,
      clock: DqRunner.Clock = DqRunner.systemClock
  )

  final case class Warehouse(
      dimClient: DataFrame,
      dimLocation: DataFrame,
      dimState: DataFrame,
      dimDate: DataFrame,
      dimShipping: DataFrame,
      fact: DataFrame,
      dqChecks: Seq[DqCheck],
      // ids of the RDDs THIS run cached (the parity-mode dim pins) — the
      // handle [[release]] frees, so a long-lived app doesn't accumulate
      // cached blocks across runs
      releasableRddIds: Seq[Int] = Seq.empty,
      // the run-unique staging dir behind the returned frames — [[release]]
      // deletes it and drops its catalog entry, so repeated run()s into the
      // same warehouse don't accumulate stage copies
      stagePath: Option[String] = None,
      // source rows whose JSON payload is missing or did not parse, counted
      // by the staging write; not a DQ report row, whose columns are the
      // reference's
      parseFailures: Long = 0L
  )

  /** Build all tables from an already-flattened event frame (lazily, but
    * for the parity-mode pins); no DQ runs here — [[write]] reports the
    * tables' checkpoints.
    */
  def buildFromFlat(flat: DataFrame, cfg: Config): Warehouse = {
    // uuid() is per-evaluation non-deterministic: parity mode must pin ONE
    // evaluation of each dim before it is both joined and written.
    def pin(df: DataFrame): DataFrame = cfg.keyMode match {
      case SurrogateKeys.UuidParity => val c = df.cache(); c.count(); c
      case SurrogateKeys.Deterministic => df
    }

    val dimClient = pin(Dims.client(flat, cfg.keyMode, cfg.parityDedup))
    val dimLocation = pin(Dims.location(flat, cfg.keyMode))
    val dimState = pin(Dims.state(flat, cfg.keyMode))
    val dimDate = pin(Dims.date(flat, cfg.keyMode))
    val dimShipping = pin(FactBuilder.dimShipping(flat, dimClient, dimLocation, dimState, cfg.parityDedup))
    val fact = FactBuilder.fact(flat, dimShipping, dimDate, cfg.keyMode)

    Warehouse(dimClient, dimLocation, dimState, dimDate, dimShipping, fact, Seq.empty)
  }

  /** Stage a flat event frame: write it to `dir` as an external catalog
    * table bucketed and sorted on `shipping_id`, one file per bucket, and
    * read it back. One bucket per scan split of the source
    * (`spark.sql.files.maxPartitionBytes`), floor 1, cap 4096. A higher
    * floor costs disk: each bucket file repeats the dictionaries of the
    * 64-char hex keys. [[dropStage]] undoes it.
    */
  def stage(flat: DataFrame, dir: String, sourceBytes: BigInt): DataFrame = {
    val spark = flat.sparkSession
    Bucketing.writeBucketed(flat, stageTable(dir), Seq("shipping_id"), stageBuckets(spark, sourceBytes),
      sortCols = Seq("shipping_id"), path = Some(dir), onePerBucket = true)
    spark.table(stageTable(dir))
  }

  private def stageBuckets(spark: SparkSession, sourceBytes: BigInt): Int = {
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    ((sourceBytes + split - 1) / split).max(1).min(4096).toInt
  }

  /** The stage's catalog name: its dir's name, made an identifier. */
  private[graft] def stageTable(dir: String): String =
    new org.apache.hadoop.fs.Path(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")

  /** Drop a [[stage]]'s catalog entry and delete its files. */
  def dropStage(spark: SparkSession, dir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `${stageTable(dir)}`")
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  /** Full run: CSV → parse → flatten → star schema → parquet + DQ report. */
  def run(spark: SparkSession, cfg: Config): Warehouse = {
    val raw = Readers.parcelCsv(spark, cfg.inputPath)
    // the multiLine CSV scans as ONE task however large the file is —
    // spread the raw rows across the cluster before the JSON parse. Both
    // pre-parse checkpoints and the parse-failure count ride the staging
    // write: parsing only appends event_json, so every raw row reaches
    // the stage
    val (fanned, beforeParsing, _) = DqRunner.observe(Readers.fanOut(raw), "Before Parsing", cfg.clock)
    val (parsed, afterParsing, parseStats) = DqRunner.observe(Flatten.parse(fanned), "After Parsing",
      cfg.clock, extra = Seq(count_if(col("event_json").isNull || col(s"event_json.${Flatten.Unparsed}").isNotNull)
        .as("parse_failures")))

    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def pinnedByRun = spark.sparkContext.getPersistentRDDs.keys.filterNot(pinnedBefore).toSeq
    // Run-unique: a second run() into the same warehouse must not overwrite
    // the stage under the first run's still-live (lazily re-reading) frames.
    // The stage lives beside the warehouse it feeds and stays on disk until
    // the caller releases the run ([[release]] deletes it).
    val stageDir = s"${cfg.warehousePath}/_stage/flat-${java.util.UUID.randomUUID()}"
    try {
      val sourceBytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
      val wh0 = buildFromFlat(stage(Flatten.flatten(parsed), stageDir, sourceBytes), cfg)
      val parseFailures = parseStats()("parse_failures").asInstanceOf[Long]
      System.err.println(s"""{"stage":"$stageDir","source_bytes":$sourceBytes,""" +
        s""""buckets":${stageBuckets(spark, sourceBytes)},"parse_failures":$parseFailures}""")
      val allChecks = beforeParsing() ++ afterParsing() ++ write(wh0, cfg)

      cfg.dqReportPath.foreach(p => DqRunner.writeReport(spark, allChecks, p))
      // The warehouse is already safely on disk: callers done with the
      // returned frames free the stage and the parity-mode dim caches via
      // [[release]], scoped to exactly what this run pinned.
      wh0.copy(dqChecks = allChecks, releasableRddIds = pinnedByRun, stagePath = Some(stageDir),
        parseFailures = parseFailures)
    } catch {
      case e: Throwable =>
        // nothing the run made may outlive a failed run: no caller holds
        // a handle to release it
        free(spark, pinnedByRun, Some(stageDir))
        throw e
    }
  }

  /** Free the materialized state behind a [[run]] result (parity-mode
    * dim caches, the run-unique stage — nothing the caller pinned
    * themselves). After this the returned frames must not be re-executed
    * (the staged parquet they read is gone) — re-read the written
    * warehouse instead.
    */
  def release(wh: Warehouse): Unit = free(wh.fact.sparkSession, wh.releasableRddIds, wh.stagePath)

  private def free(spark: SparkSession, rddIds: Seq[Int], stagePath: Option[String]): Unit = {
    val pinned = spark.sparkContext.getPersistentRDDs
    rddIds.foreach(id => pinned.get(id).foreach(_.unpersist(blocking = false)))
    stagePath.foreach(dropStage(spark, _))
  }

  /** Write the six tables concurrently; returns their "After Tables Build"
    * checkpoints, each computed by its table's write.
    */
  def write(wh: Warehouse, cfg: Config): Seq[DqCheck] = {
    // Dims are small: single file each (the reference leaks 200-partition
    // shuffles into its part-file counts). AQE coalescing handles the rest.
    def single(df: DataFrame) = df.coalesce(1).write
    def fact(df: DataFrame) =
      if (cfg.partitionFactByMonth)
        df.withColumn("event_year", year(col("event_date")))
          .withColumn("event_month", month(col("event_date")))
          .write.partitionBy("event_year", "event_month")
      else df.write
    val tables = Seq[(String, DataFrame, DataFrame => DataFrameWriter[Row])](
      ("DimClient", wh.dimClient, single),
      ("DimLocation", wh.dimLocation, single),
      ("DimState", wh.dimState, _.write),
      ("DimDate", wh.dimDate, single),
      ("DimShipping", wh.dimShipping, _.write),
      ("FactShippingEvent", wh.fact, fact))
    val writes = tables.map { case (table, df, writer) =>
      val (observed, checks, _) = DqRunner.observe(df, s"After Tables Build: $table", cfg.clock)
      (() => writer(observed).mode(SaveMode.Overwrite).parquet(s"${cfg.warehousePath}/$table"), checks)
    }
    graft.Concurrent.all(writes.map(_._1))
    writes.flatMap(_._2())
  }
}
