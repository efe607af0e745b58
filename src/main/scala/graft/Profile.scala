package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Bench.escape

/** The one measurement tool over the query catalog: for each named
  * [[SparkEntry.queries]] entry it finds where the time goes and what the
  * plan looks like, in one pass.
  *
  *  - one warm-up and one timed run through the noop sink; the timed run
  *    prints one JSONL line per Spark job with its wall seconds and the
  *    job description active when it was submitted, or else its result
  *    stage's call site —
  *    `localCheckpoint`-pinned stages, index builds and the final sink each
  *    surface as separate jobs, so the composition's cost splits operator
  *    by operator;
  *  - the plan the timed run executed, formatted, written to
  *    `<outDir>/<query>.txt`: the final adaptive plan, with the runtime
  *    join and partitioning decisions;
  *  - the head of every BroadcastExchange subtree in that final plan (see
  *    [[broadcastHeads]]).
  *
  * Scaling of a query is `runMain graft.BuildSf <src> <out> <N>` and this
  * tool at both dirs.
  *
  * `runMain graft.Profile <sfDir> <name,name,…|headline> [outDir]`, with
  * `SPARK_GRAFT_CPUS` cores (default 8). Every line on stdout is JSON.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <sfDir> <name,name,…|headline> [outDir]"
    val sfDir = args.lift(0).getOrElse(sys.error(usage))
    val names = args.lift(1).getOrElse(sys.error(usage)) match {
      case "headline" => Bench.headline
      case csv => csv.split(",").toSeq.filter(_.nonEmpty)
    }
    val outDir = args.lift(2).getOrElse(s"${TmpDir.root}/profile")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Sessions.local("graft-profile", cpus)
    try profile(spark, sfDir, names, outDir)
    finally spark.stop()
  }

  /** Profiles each query in turn on `spark` (which it leaves running),
    * printing every output line and returning them. A query that fails
    * yields one `error` line and the next query runs.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    def emit(line: String): Unit = { println(line); out += line }
    Files.createDirectories(Paths.get(outDir))

    val starts = TrieMap.empty[Int, (Long, String)]
    val jobLines = new ConcurrentLinkedQueue[String]()
    @volatile var recording: Option[String] = None
    val listener = new SparkListener {
      // durations from the events' own time fields: listener-bus delivery
      // is asynchronous and would skew both endpoints
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("")
        starts.put(e.jobId, (e.time, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, desc) =>
          recording.foreach { n =>
            jobLines.add(f"""{"query":${escape(n)},"job":${e.jobId},"sec":${(e.time - t0) / 1e3}%.3f,"desc":${escape(desc)}}""")
          }
        }
    }
    // wait (bounded) until every delivered job start has its job end, plus
    // a short settle for starts still in flight, so no job of one run is
    // dropped or attributed to the next
    def drain(): Unit = {
      val deadline = System.nanoTime() + 5_000_000_000L
      while (starts.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
    }
    // the timed noop write's own QueryExecution, as adaptive execution
    // left it (the noop sink is the only overwrite a catalog query issues)
    @volatile var written: Option[QueryExecution] = None
    val writeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.logical.isInstanceOf[OverwriteByExpression]) written = Some(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(writeListener)
    try names.foreach { n =>
      try {
        val fn = SparkEntry.queries(n)
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val warmS = (System.nanoTime() - w0) / 1e9
        SparkEntry.release(spark)
        drain()
        written = None
        recording = Some(n)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val constructS = (System.nanoTime() - t0) / 1e9
        df.write.format("noop").mode("overwrite").save()
        val timedS = (System.nanoTime() - t0) / 1e9
        drain()
        recording = None
        val deadline = System.nanoTime() + 5_000_000_000L
        while (written.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        val qe = written.getOrElse(df.queryExecution)
        jobLines.asScala.foreach(emit)
        emit(f"""{"query":${escape(n)},"warm_s":$warmS%.3f,"construct_s":$constructS%.3f,"timed_s":$timedS%.3f}""")

        val file = Paths.get(outDir, s"$n.txt")
        val header = s"== $n @ $sfDir (${spark.sparkContext.master}) ==\n" +
          "NOTE: stages pinned via localCheckpoint appear as 'Scan ExistingRDD' —\n" +
          "their subtree plans executed eagerly during construction.\n\n"
        Files.writeString(file, header + qe.explainString(FormattedMode))
        emit(s"""{"query":${escape(n)},"plan":${escape(file.toString)}}""")
        val finalPlan = qe.executedPlan.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .getOrElse(qe.executedPlan)
        broadcastHeads(finalPlan.toString).foreach { h =>
          emit(s"""{"query":${escape(n)},"bx":${escape(h)}}""")
        }
      } catch {
        case e: Throwable =>
          emit(s"""{"query":${escape(n)},"error":${escape(String.valueOf(e.getMessage).take(160))}}""")
      } finally {
        recording = None
        jobLines.clear()
        SparkEntry.release(spark)
      }
    } finally {
      spark.listenerManager.unregister(writeListener)
      spark.sparkContext.removeSparkListener(listener)
    }
    out.result()
  }

  /** One entry per BroadcastExchange in a plan's tree string: its first
    * two child lines, without the ancestors' tree glyphs, joined by " | ".
    * Children are read by indentation depth, stopping at the first line at
    * or above the exchange's indent, so a sibling or parent subtree never
    * leaks into a head.
    *
    * [[profile]] reads the final adaptive plan the timed noop write ran,
    * so every exchange it lists is one that ran, after adaptive execution
    * re-planned from the measured stage sizes — including a broadcast
    * over a checkpoint-backed subtree (`Scan ExistingRDD`), whose
    * Catalyst estimates do not grow with the data.
    */
  def broadcastHeads(plan: String): Seq[String] = {
    val ls = plan.linesIterator.toVector
    ls.indices.filter(i => ls(i).contains("BroadcastExchange")).map { i =>
      val indent = ls(i).indexOf("BroadcastExchange")
      ls.drop(i + 1)
        .takeWhile(x => x.length > indent && x.take(indent + 1).forall(c => ":+- |".contains(c)))
        .take(2)
        .map(_.drop(indent).trim.take(100))
        .mkString(" | ")
    }
  }
}
