package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness (round 13: `CORRECTNESS_r12.json` came back EMPTY — the
  * 191-probe dump outgrew the driver's window and, unlike Bench, left
  * NOTHING when killed; never again):
  *   - `oracle_sql.json` is written FIRST (it is the cheapest artifact and
  *     the driver's compare is keyed on it — a run killed at minute N still
  *     grades every query dumped in those N minutes);
  *   - queries run cheapest-group-first ([[SparkEntry.orderedQueryNames]]:
  *     parity/analytic/engine → extension → pipeline, streaming probes
  *     last) so a truncated run still covers the §2 parity surface;
  *   - each result is written to a hidden `.stage_<name>` dir and renamed
  *     into place only when complete — a kill mid-write cannot leave a
  *     half-dump that DuckDB then fails to read as a "result";
  *   - `SPARK_GRAFT_VERIFY_BUDGET_S` (default 1500) is a wall-clock
  *     budget: once exceeded no NEW query starts (skips are recorded);
  *   - a JVM shutdown hook writes the summary artifact with
  *     `"partial":true` — a SIGTERM'd run still leaves the telemetry;
  *   - per-query wall goes to stderr as a JSONL line the moment it lands,
  *     so the next timeout is attributable to specific probes;
  *   - the round-7 `System.gc()` hygiene (localCheckpoint blocks otherwise
  *     accumulate until the ContextCleaner's 30-min periodic GC) is kept
  *     but amortized: explicit blocking unpersist per query, forced GC
  *     every [[GcEvery]] queries instead of 191 full GCs per dump.
  *
  * Summary telemetry (`VERIFY_full_latest.json`, repo root, tracked — the
  * catalog's verify cost is a tracked number, not a surprise): total wall,
  * per-query wall, p95, skips, failures.
  */
object Verify {

  private val GcEvery = 12

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration on a few probes (driver always passes 2 args → full dump)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET_S", "1500").toDouble
    val wallT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - wallT0) / 1e9
    val spark = Sessions.local("graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()

    // — oracle_sql.json FIRST: cheapest artifact, and the one the driver's
    //   compare is keyed on. JSON string escape covers backslash, quote,
    //   and ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    //   would otherwise make the driver's json.load fail and silently zero
    //   the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracleJson = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)

    val fns = SparkEntry.queries
    val names = SparkEntry.orderedQueryNames.filter(n => only.forall(_.contains(n)))

    // per-query outcome state, readable from the shutdown hook at any moment
    val wall = TrieMap.empty[String, Double]   // name -> seconds (success)
    val failedQ = TrieMap.empty[String, String] // name -> error head
    @volatile var skipped: Seq[String] = Nil
    val emitLock = new Object
    var summaryWritten = false // only touched under emitLock

    def summaryJson(partial: Boolean): String = {
      val done = names.filter(n => wall.contains(n) || failedQ.contains(n))
      val walls = done.flatMap(wall.get).sorted
      val p95 = if (walls.isEmpty) 0.0 else walls((walls.size - 1) * 95 / 100)
      val qs = done.map { n =>
        wall.get(n) match {
          case Some(s) => "\"" + n + f"\":$s%.2f"
          case None => "\"" + n + "\":" + q("ERR " + failedQ(n))
        }
      }.mkString("{", ",", "}")
      val skippedJson = skipped.map(q).mkString("[", ",", "]")
      f"""{"metric":"verify_total","value":${elapsed()}%.1f,"unit":"sec","sf":${q(sfDir.stripSuffix("/").split('/').last)},"cpus":$cpus,"budget_s":$budgetS%.0f,"n_probes":${names.size},"n_done":${done.size},"n_failed":${failedQ.size},"n_skipped":${skipped.size},"p95_s":$p95%.2f,"partial":$partial,"skipped":$skippedJson,"queries":$qs}"""
    }

    /** Write the summary once (normal path and shutdown hook both funnel
      * here): repo-root tracked copy + an outDir copy for the curious.
      */
    def emitSummary(partial: Boolean): Unit = emitLock.synchronized {
      if (!summaryWritten) {
        val json = summaryJson(partial) + "\n"
        // the repo-root copy is the tracked full-catalog telemetry — a
        // filtered local-iteration run must not clobber it
        val targets =
          if (only.isDefined) Seq(Paths.get(s"$outDir/verify_summary.json"))
          else Seq(Paths.get("VERIFY_full_latest.json"),
            Paths.get(s"$outDir/verify_summary.json"))
        targets
          .foreach { p =>
            try Files.writeString(p, json)
            catch { case e: Throwable =>
              System.err.println(s"[verify] summary write failed at $p: ${e.getMessage}")
            }
          }
        summaryWritten = true
      }
    }
    val hook = new Thread(() => emitSummary(partial = true))
    Runtime.getRuntime.addShutdownHook(hook)

    // self-termination test knob (the Bench pattern): exit(143) from a
    // timer mid-dump drives the SAME shutdown-hook path an external
    // SIGTERM does — the deterministic proof that a killed dump still
    // leaves oracle_sql.json + every completed query dir + the partial
    // summary (hunting the forked JVM's pid from outside races the run)
    sys.env.get("SPARK_GRAFT_VERIFY_SELFTERM_AFTER_S").map(_.toDouble).foreach { s =>
      val t = new Thread(() => {
        Thread.sleep((s * 1000).toLong)
        System.err.println(s"""{"verify_note":"self-terminating after ${s}s (test knob)"}""")
        Runtime.getRuntime.exit(143)
      })
      t.setDaemon(true)
      t.start()
    }

    var sinceGc = 0
    val it = names.iterator
    var overBudget = false
    while (it.hasNext && !overBudget) {
      val name = it.next()
      if (elapsed() > budgetS) {
        overBudget = true
        skipped = (name +: it.toSeq).toVector
        System.err.println(
          f"""{"verify_note":"budget exceeded","elapsed_s":${elapsed()}%.1f,"budget_s":$budgetS%.0f,"skipped":${skipped.size}}""")
      } else {
        val t0 = System.nanoTime()
        // stage-then-rename: the driver's DuckDB compare globs
        // `<outDir>/<name>/*.parquet`; a kill mid-write must not leave a
        // half-written dir that reads as a (wrong) result
        val stage = s"$outDir/.stage_$name"
        val dest = Paths.get(s"$outDir/$name")
        try {
          fns(name)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(stage)
          if (Files.exists(dest)) { // stale dir from a prior run in the same outDir
            // recursive: a killed pre-round-13 run leaves a nested
            // _temporary dir a flat file sweep can't remove (ADVICE r13 —
            // the query would be recorded failed on DirectoryNotEmpty)
            val w = Files.walk(dest)
            try w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
            finally w.close()
          }
          Files.move(Paths.get(stage), dest, StandardCopyOption.ATOMIC_MOVE)
          val dt = (System.nanoTime() - t0) / 1e9
          wall.update(name, dt)
          System.err.println(
            f"""{"verify_sample":"$name","sec":$dt%.3f,"cum_s":${elapsed()}%.1f}""")
        } catch { case e: Throwable =>
          val msg = String.valueOf(e.getMessage).take(200)
          failedQ.update(name, msg)
          System.err.println(
            f"""{"verify_sample":"$name","error":${q(msg)},"cum_s":${elapsed()}%.1f}""")
        }
        // hygiene: free what the query left behind so the dump doesn't
        // accumulate every dropped plan's storage and stages (round 7
        // measured this; round 13 amortized the forced GC)
        SparkEntry.release(spark)
        sinceGc += 1
        if (sinceGc >= GcEvery) { System.gc(); sinceGc = 0 }
      }
    }
    emitSummary(partial = false)
    try Runtime.getRuntime.removeShutdownHook(hook) catch { case _: IllegalStateException => }
    spark.stop()
  }
}
