package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans the benchmark opens around its calls into the program. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

/** Untraced iterations: no span bookkeeping, no listener. */
object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

/** Attribution of a Spark job to program code from its call-site stack. */
object Attribution {

  /** `Object.method` for every frame of a `graft.*` class whose method
    * is public, innermost first. A lambda frame (`$anonfun$run$1`) counts
    * as its enclosing method.
    */
  def chain(callSite: String): Seq[String] =
    callSite.split('\n').toSeq.flatMap(frame)

  private val publicCache = mutable.HashMap.empty[(String, String), Boolean]

  private def frame(line: String): Option[String] = {
    val call = line.trim.stripPrefix("at ")
    val paren = call.indexOf('(')
    if (paren < 0) return None
    val qualified = call.substring(0, paren).split('/').last // drop "app//" loader prefixes
    val dot = qualified.lastIndexOf('.')
    if (dot < 0) return None
    val cls = qualified.substring(0, dot)
    if (!cls.startsWith("graft.")) return None
    val raw = qualified.substring(dot + 1)
    val method =
      if (raw.startsWith("$anonfun$")) raw.stripPrefix("$anonfun$").takeWhile(_ != '$')
      else raw
    if (method.isEmpty || method.contains('$') || !isPublic(cls, method)) None
    else Some(cls.split('.').last.split('$').filter(_.nonEmpty).mkString(".") + "." + method)
  }

  private def isPublic(cls: String, method: String): Boolean = publicCache.synchronized {
    publicCache.getOrElseUpdate((cls, method),
      try Class.forName(cls, false, getClass.getClassLoader).getMethods.exists(_.getName == method)
      catch { case _: ClassNotFoundException => false })
  }
}

/** One Spark job seen by the tracer, with its task counters summed. */
final class JobRec(val id: Int, val iter: Int, val benchSpan: String, val span: String,
    val method: String, val start: Long) {
  var end: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** A span the benchmark opened: wall in ns, bounds in epoch ms (the clock
  * Spark stamps job events with), and the span open when it began.
  */
final case class SpanRec(name: String, parent: Option[String], iter: Int, startMs: Long, endMs: Long,
    wallNs: Long)

/** Traced iterations: spans around the benchmark's calls plus a
  * SparkListener that attributes every job to a span. A job belongs to the
  * span open on the thread that submitted it (a local property, which Spark
  * hands on to the threads it starts for broadcasts and to `graft
  * .Concurrent.par` pool threads), refined to a named child span when a
  * child's method is on the job's call-site stack: the result stage's
  * stack, else that of the SQL execution the job runs for (broadcast jobs
  * run on pool threads whose own stack holds no program frame).
  *
  * @param children bench span → the program methods split out of it
  * @param selfChild bench span → the child that takes jobs launched by
  *                  the span's own method rather than by a named child
  */
final class Tracer(spark: SparkSession, children: Map[String, Seq[String]],
    selfChild: Map[String, String]) extends SparkListener with Spans {

  import Tracer._

  private val sc = spark.sparkContext
  private var iter = -1
  private val spanRecs = mutable.ArrayBuffer.empty[SpanRec]
  private val jobRecs = mutable.ArrayBuffer.empty[JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  private val execSites = mutable.HashMap.empty[Long, (String, Option[Long])]
  private var heapPeak = 0L

  // live heap after each collection: under G1 the used heap before a
  // collection is just how far eden filled, so the peak that means
  // something is the post-GC one
  private val gcListener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = scala.jdk.CollectionConverters.MapHasAsScala(info.getGcInfo.getMemoryUsageAfterGc)
          .asScala.values.map(_.getUsed).sum
        Tracer.this.synchronized { heapPeak = heapPeak max after }
      }
  }
  private def gcEmitters =
    scala.jdk.CollectionConverters.ListHasAsScala(ManagementFactory.getGarbageCollectorMXBeans).asScala
      .collect { case e: javax.management.NotificationEmitter => e }

  def apply[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    sc.setLocalProperty(IterKey, iter.toString)
    val w0 = System.currentTimeMillis
    val t0 = System.nanoTime
    try body
    finally {
      val rec = SpanRec(name, Option(prev), iter, w0, System.currentTimeMillis, System.nanoTime - t0)
      spanRecs.synchronized(spanRecs += rec)
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Run one traced iteration: listener on, spans tagged with `i`. */
  def traced[T](i: Int)(body: => T): T = {
    iter = i
    sc.addSparkListener(this)
    gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))
    try body
    finally {
      org.apache.spark.PerfbenchSpark.drain(sc)
      sc.removeSparkListener(this)
      gcEmitters.foreach(_.removeNotificationListener(gcListener))
      sc.setLocalProperty(IterKey, null)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized(execSites(e.executionId) = (e.details, e.rootExecutionId))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    val bench = props.flatMap(p => Option(p.getProperty(SpanKey)))
    bench.foreach { b =>
      val it = props.flatMap(p => Option(p.getProperty(IterKey))).map(_.toInt).getOrElse(-1)
      val own = js.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val stacks = synchronized {
        val e = exec.flatMap(execSites.get)
        Seq(own) ++ e.map(_._1) ++ e.flatMap(_._2).flatMap(execSites.get).map(_._1)
      }
      val chain = stacks.map(Attribution.chain).find(_.nonEmpty).getOrElse(Nil)
      val named = children.getOrElse(b, Nil)
      val span = chain.find(named.contains).getOrElse(selfChild.getOrElse(b, b))
      val rec = new JobRec(js.jobId, it, b, span, chain.headOption.getOrElse("-"), js.time)
      synchronized {
        jobRecs += rec
        byId(js.jobId) = rec
        js.stageIds.foreach(s => byStage(s) = rec)
      }
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- byStage.get(te.stageId); m <- Option(te.taskMetrics)) {
      rec.tasks += 1
      rec.cpuNs += m.executorCpuTime
      rec.runMs += m.executorRunTime
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.inputBytes += m.inputMetrics.bytesRead
      rec.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def heapPeakBytes: Long = synchronized(heapPeak)
  def spans: Seq[SpanRec] = spanRecs.synchronized(spanRecs.toList)
  def jobs: Seq[JobRec] = synchronized(jobRecs.toList)

  /** Per-span metrics of one traced iteration. Bench spans report their
    * measured wall; a child span's wall is its share of the parent's
    * interval: the time its jobs ran (overlaps go to the earlier job) plus
    * the driver time before each of its jobs (the planning that precedes a
    * job belongs to the call that launches it). `driver_s` is wall not
    * covered by any job of the span; `self_s` is a parent's wall minus its
    * children's.
    */
  def metrics(i: Int): Map[String, Map[String, Double]] = {
    val js = jobs.filter(_.iter == i)
    val out = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    def counters(sel: Seq[JobRec]): Map[String, Double] = Map(
      "task_cpu_s" -> sel.map(_.cpuNs).sum / 1e9,
      "jobs" -> sel.size.toDouble,
      "tasks" -> sel.map(_.tasks).sum.toDouble,
      "shuffle_mb" -> sel.map(_.shuffleBytes).sum / Mb,
      "spill_mb" -> sel.map(_.spillBytes).sum / Mb,
      "input_mb" -> sel.map(_.inputBytes).sum / Mb,
      "output_mb" -> sel.map(_.outputBytes).sum / Mb)
    spans.filter(_.iter == i).groupBy(_.name).foreach { case (name, recs) =>
      val mine = js.filter(_.benchSpan == name)
      val wall = recs.map(_.wallNs).sum / 1e9
      val covered = recs.map(r => unionMs(mine.map(j => (j.start max r.startMs, endOf(j) min r.endMs)))).sum
      out(name) = counters(mine) ++ Map("wall_s" -> wall, "driver_s" -> (wall - covered / 1e3).max(0.0))
      val kids = (children.getOrElse(name, Nil) ++ selfChild.get(name)).distinct
      if (kids.nonEmpty) {
        val share = recs.map(r => partition(r, mine)).reduce(merge)
        kids.foreach { k =>
          val (w, d) = share.getOrElse(k, (0L, 0L))
          out(k) = counters(mine.filter(_.span == k)) ++ Map("wall_s" -> w / 1e3, "driver_s" -> d / 1e3)
        }
        out(name) = out(name) + ("self_s" -> (wall - kids.map(k => out(k)("wall_s")).sum))
      }
    }
    out.toMap
  }

  /** Splits a bench span's interval among the spans of its jobs:
    * span → (wall ms, uncovered ms).
    */
  private def partition(r: SpanRec, mine: Seq[JobRec]): Map[String, (Long, Long)] = {
    val inside = mine.map(j => (j, j.start max r.startMs, endOf(j) min r.endMs)).filter(x => x._3 > x._2)
    val cuts = (Seq(r.startMs, r.endMs) ++ inside.flatMap(x => Seq(x._2, x._3))).distinct.sorted
    val acc = mutable.HashMap.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val active = inside.filter(x => x._2 <= a && x._3 >= b)
      val (owner, idle) =
        if (active.nonEmpty) (active.minBy(_._2)._1.span, false)
        else inside.filter(_._2 >= b).sortBy(_._2).headOption
          .map(x => (x._1.span, true)).getOrElse((r.name, true))
      val (w, d) = acc(owner)
      acc(owner) = (w + (b - a), d + (if (idle) b - a else 0L))
    }
    acc.toMap
  }

  private def merge(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]) =
    (a.keySet ++ b.keySet).map { k =>
      val (x, y) = a.getOrElse(k, (0L, 0L)); val (u, v) = b.getOrElse(k, (0L, 0L))
      k -> (x + u, y + v)
    }.toMap

  private def endOf(j: JobRec): Long = if (j.end < 0) j.start else j.end

  /** Iteration totals: task input bytes and task run time. */
  def inputBytes(i: Int): Long = jobs.filter(_.iter == i).map(_.inputBytes).sum
  def runMs(i: Int): Long = jobs.filter(_.iter == i).map(_.runMs).sum
}

object Tracer {
  val SpanKey = "perfbench.span"
  val IterKey = "perfbench.iter"
  val Mb: Double = Main.Mb

  /** Length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (b > reach) { total += b - (a max reach); reach = b }
    }
    total
  }
}
