package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.concurrent.TrieMap

/** Per-JOB wall-clock attribution for one catalog query — the measurement
  * tool behind the optimization rounds' stage checklists (guide §1.1: find
  * where the time goes before touching anything). Runs the named query
  * once (warm-up) and once timed through the noop sink, printing one JSONL
  * line per Spark job with its wall seconds and the job group/description
  * active when it was submitted — `localCheckpoint`-pinned stages, index
  * builds and the final sink each surface as separate jobs, so the
  * composition's cost splits operator by operator.
  *
  * Args: `<sfDir> <queryName> [warmRounds=1] [timedRounds=1]`.
  */
object JobProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse(sys.error("need a query name"))
    val warm = args.lift(2).map(_.toInt).getOrElse(1)
    val timed = args.lift(3).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local("graft-jobprofile", cpus.toInt)
    val fn = SparkEntry.queries(name)

    val starts = TrieMap.empty[Int, (Long, String)]
    @volatile var record = false
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      // durations from the EVENTS' OWN time fields, not listener-bus
      // delivery time (ADVICE r15: async delivery skews both endpoints)
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(e.jobId, (e.time, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, desc) =>
          if (record) {
            val s = (e.time - t0) / 1e3
            lines.add(f"""{"job":${e.jobId},"sec":$s%.3f,"desc":"${desc.replace("\"", "'")}"}""")
          }
        }
    })

    def runOnce(): Double = {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val planned = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      System.err.println(f"""{"construct_s":$planned%.3f}""")
      (System.nanoTime() - t0) / 1e9
    }

    for (_ <- 0 until warm) {
      val s = runOnce()
      System.err.println(f"""{"warm_total_s":$s%.3f}""")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    record = true
    for (_ <- 0 until timed) {
      val s = runOnce()
      // drain: listener events are async — wait (bounded) until every
      // delivered job-start has its job-end, plus a short settle for
      // starts still in flight, so late lines aren't dropped by the
      // clear() below or misattributed to the next round (ADVICE r15)
      val deadline = System.nanoTime() + 5_000_000_000L
      while (!starts.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      lines.asScala.foreach(System.err.println)
      lines.clear()
      System.err.println(f"""{"timed_total_s":$s%.3f}""")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
