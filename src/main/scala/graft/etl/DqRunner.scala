package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality checks + audit report (reference `etl/main.py:21-65,304-315`).
  *
  * Surface parity: non-empty check + null check on the first 3 columns per
  * checkpoint, same check names / status / details strings. Implementation is
  * NOT the reference's: the reference runs 1 + 3 separate Spark actions per
  * checkpoint (each re-evaluating the full upstream lineage — SURVEY
  * §2.12.8); here every checkpoint is ONE job,
  * `agg(count(*), sum(when(isNull,1)) …)`, and the audit trail is
  * Spark-native CSV instead of driver-side pandas.
  */
object DqRunner {

  /** Injectable clock for deterministic tests; format matches the
    * reference's `datetime.now().strftime("%Y-%m-%d %H:%M:%S")`.
    */
  type Clock = () => String
  val systemClock: Clock = () =>
    java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** All checks for one checkpoint in a single pass over `df`. */
  def run(df: DataFrame, checkPointName: String, clock: Clock = systemClock): Seq[DqCheck] = {
    val ts = clock()
    val colsToCheck = df.columns.take(3)
    val aggs = count(lit(1)).as("__total") +:
      colsToCheck.zipWithIndex.map { case (c, i) =>
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"__nulls_$i")
      }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head

    val total = row.getLong(0)
    val nonEmpty =
      if (total > 0)
        DqCheck(checkPointName, "Non-empty dataframe", "PASS", s"Row count: $total", ts)
      else
        DqCheck(checkPointName, "Non-empty dataframe", "FAIL", "Dataframe is empty", ts)

    val nullChecks = colsToCheck.zipWithIndex.map { case (c, i) =>
      val nulls = if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)
      val status = if (nulls == 0) "PASS" else "FAIL"
      DqCheck(checkPointName, s"No nulls in column '$c'", status, s"Null count: $nulls", ts)
    }
    nonEmpty +: nullChecks
  }

  /** Checks as a DataFrame (for the probe catalog / report sink). */
  def toDf(spark: SparkSession, checks: Seq[DqCheck]): Dataset[DqCheck] = {
    import spark.implicits._
    spark.createDataset(checks)
  }

  /** Append-style audit trail (reference `etl/main.py:304-315`, re-homed
    * from pandas): union with the existing report, newest first, overwrite.
    */
  def writeReport(spark: SparkSession, checks: Seq[DqCheck], path: String): Unit = {
    import spark.implicits._
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = spark.createDataset(checks).toDF()
    val combined =
      if (!fs.exists(target)) fresh
      else {
        val existing = spark.read.option("header", "true").csv(path)
        if (existing.columns.sameElements(fresh.columns)) existing.unionByName(fresh) else fresh
      }
    val out = combined.orderBy(col("timestamp").desc).coalesce(1).cache()
    out.count() // materialize before overwriting the path we just read
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path + "_tmp")
    out.unpersist()
    // atomic-ish swap: read side is a directory; rename tmp over it
    fs.delete(target, true)
    fs.rename(new org.apache.hadoop.fs.Path(path + "_tmp"), target)
  }
}
