package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source readers, options centralized.
  *
  * Reference ingest is a quoted, multi-line CSV whose `event` column holds a
  * JSON document (`etl/main.py:75-80`). `multiLine=true` makes the file
  * non-splittable (single-task scan) — kept for parity; [[jsonl]] is the
  * splittable 100-TB ingest path (same payload, one JSON doc per line).
  */
object Readers {

  /** Reference CSV options (`etl/main.py:75-80`): header, `"`-quoted,
    * `"`-escaped, comma-separated, multi-line values; every column string.
    */
  val parcelCsvOptions: Map[String, String] = Map(
    "header" -> "true",
    "escape" -> "\"",
    "multiLine" -> "true",
    "quote" -> "\"",
    "sep" -> ","
  )

  def parcelCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.options(parcelCsvOptions).csv(path)

  /** Splittable scale ingest: JSON Lines with an explicit schema (no
    * inference pass, parallel scan).
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Fan a frame out to full parallelism before CPU-heavy per-row work
    * (JSON parse, shingling, hashing). A non-splittable source (multiLine
    * CSV) or a small/single-row-group file scans as ONE task no matter how
    * many cores exist; without this, everything computed on top of it
    * inherits parallelism 1. The exchange moves the cheap raw rows once —
    * strictly cheaper than serializing the downstream compute.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Testdata table loader (`TESTDATA.md` layout: one parquet per table).
    *
    * `events.ts` has shipped as two physical types across fixture
    * generations: parquet TIMESTAMP(NANOS) — which Spark rejects outright
    * (PARQUET_TYPE_ILLEGAL) unless read as a raw nano count via the legacy
    * conf — and plain µs TIMESTAMP. Only a file whose footer declares
    * NANOS turns that session conf on; a µs file leaves the caller's
    * session as it was. Dispatch on the *read schema* so both work:
    * LongType (nanosAsLong in effect) → truncate ns→µs, the same
    * truncation DuckDB applies, so both engines see identical values;
    * any timestamp flavor → cast to the session timestamp type.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      if (tsIsNanos(spark, path))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path)
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case other =>
          throw new IllegalStateException(s"unsupported events.ts type: $other")
      }
    } else spark.read.parquet(path)
  }

  /** Whether the footer of `path` (a parquet file, or the first data file
    * of a parquet directory) declares its `ts` column TIMESTAMP(NANOS).
    */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    val file =
      if (!fs.exists(root)) None // the read below reports the missing path
      else if (!fs.getFileStatus(root).isDirectory) Some(root)
      else fs.listStatus(root).map(_.getPath)
        .find(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    file.exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, hconf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.containsField("ts") && (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
      } finally reader.close()
    }
  }
}
