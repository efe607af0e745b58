package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality checks + audit report (reference `etl/main.py:21-65,304-315`).
  *
  * Surface parity: non-empty check + null check on the first 3 columns per
  * checkpoint, same check names / status / details strings. Implementation is
  * NOT the reference's: the reference runs 1 + 3 separate Spark actions per
  * checkpoint (each re-evaluating the full upstream lineage — SURVEY
  * §2.12.8); here a checkpoint is ONE aggregate,
  * `count(*), sum(when(isNull,1)) …`, computed either as its own job
  * ([[run]]) or riding an action the caller runs anyway ([[observe]]: the
  * aggregate is attached with `observe()` and reported by that action), and
  * the audit trail is Spark-native CSV instead of driver-side pandas.
  */
object DqRunner {

  /** Injectable clock for deterministic tests; format matches the
    * reference's `datetime.now().strftime("%Y-%m-%d %H:%M:%S")`.
    */
  type Clock = () => String
  val systemClock: Clock = () =>
    java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** All checks for one checkpoint in a single pass over `df`: one job. */
  def run(df: DataFrame, checkPointName: String, clock: Clock = systemClock): Seq[DqCheck] = {
    val ts = clock()
    val cols = df.columns.take(3).toSeq
    val aggs = aggregates(cols)
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    render(checkPointName, ts, cols, row.getAs[Any](_))
  }

  /** The same checks without a job of their own: `df` with the checkpoint's
    * aggregate attached, the checks, and the observed values by alias
    * (`extra` rides the same aggregate, for engine-side counts that are not
    * report rows). Both are ready once an action on that frame (or on a
    * frame derived from it that reads every row, such as a write) has
    * finished; asking earlier blocks until then.
    */
  def observe(df: DataFrame, checkPointName: String, clock: Clock = systemClock,
      extra: Seq[Column] = Nil): (DataFrame, () => Seq[DqCheck], () => Map[String, Any]) = {
    val ts = clock()
    val cols = df.columns.take(3).toSeq
    val aggs = aggregates(cols) ++ extra
    val obs = new Observation()
    (df.observe(obs, aggs.head, aggs.tail: _*), () => render(checkPointName, ts, cols, obs.get), () => obs.get)
  }

  private def aggregates(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("__total") +: cols.zipWithIndex.map { case (c, i) =>
      sum(when(col(c).isNull, 1).otherwise(0)).as(s"__nulls_$i")
    }

  /** The checks from the aggregate's values, looked up by alias. */
  private def render(checkPointName: String, ts: String, cols: Seq[String],
      value: String => Any): Seq[DqCheck] = {
    val total = value("__total").asInstanceOf[Long]
    val nonEmpty =
      if (total > 0)
        DqCheck(checkPointName, "Non-empty dataframe", "PASS", s"Row count: $total", ts)
      else
        DqCheck(checkPointName, "Non-empty dataframe", "FAIL", "Dataframe is empty", ts)

    val nullChecks = cols.zipWithIndex.map { case (c, i) =>
      // sum over no rows is null
      val nulls = Option(value(s"__nulls_$i")).fold(0L)(_.asInstanceOf[Long])
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
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = spark.createDataset(checks).toDF()
    val combined =
      if (!fs.exists(target)) fresh
      else {
        val existing = spark.read.option("header", "true").csv(path)
        if (existing.columns.sameElements(fresh.columns)) existing.unionByName(fresh) else fresh
      }
    // the job reads the old report and writes the sibling tmp dir; the old
    // report goes only after that job has finished, so nothing needs to be
    // materialized first
    combined.orderBy(col("timestamp").desc).coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(tmp.toString)
    // atomic-ish swap: read side is a directory; rename tmp over it
    fs.delete(target, true)
    fs.rename(tmp, target)
  }
}
