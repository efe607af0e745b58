package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named catalog queries to files —
  * the plan-shape evidence the optimization rounds commit under
  * `plans/<round>/`. Args: `<sfDir> <outDir> [name,name,...] [suffix]`
  * (default: the full Bench headline set, suffix "before").
  *
  * Plans are captured AFTER AQE-independent planning (the initial
  * physical plan — Exchange count, join strategy, PushedFilters and
  * ReadSchema are all visible there). Probes that pin stage boundaries
  * with `localCheckpoint` EXECUTE those stages during construction; the
  * dumped plan then shows the post-checkpoint tail with `ExistingRDD`
  * scans — inherent to the pinned-stage design and noted in the header
  * line of each file.
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r15")
    val names: Seq[String] = args.lift(2) match {
      case Some(csv) if csv.nonEmpty && csv != "headline" => csv.split(",").toSeq
      case _ => Bench.headline
    }
    val suffix = args.lift(3).getOrElse("before")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local("graft-plandump", cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    val fns = SparkEntry.queries
    names.filter(fns.contains).foreach { n =>
      try {
        spark.sparkContext.setJobDescription(s"plandump: $n")
        val df = fns(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val header = s"== $n @ $sfDir (local[$cpus], $suffix) ==\n" +
          "NOTE: stages pinned via localCheckpoint appear as 'Scan ExistingRDD' —\n" +
          "their subtree plans executed eagerly during construction.\n\n"
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), header + plan)
        System.err.println(s"""{"plandump":"$n","ok":true}""")
      } catch {
        case e: Throwable =>
          System.err.println(s"""{"plandump":"$n","error":"${String.valueOf(e.getMessage).take(160).replace("\"", "'")}"}""")
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
