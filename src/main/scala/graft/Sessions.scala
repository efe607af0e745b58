package graft

import org.apache.spark.sql.SparkSession

/** The one `SparkSession` builder: the knobs every graft job sets the same
  * way, sized for local[n] testing but with the 100-TB rationale attached.
  * Every main, the benchmark and the test suite get their session here.
  *
  * '''Generated-code cache.''' Spark keys compiled generated classes by
  * their source text in one JVM-wide cache (`spark.sql.codegen.cache.maxEntries`,
  * default 100). One run of an entry point compiles more classes than
  * that: ≈250 for `EtlJob.run` plus the KPI report, ≈265 for x48 curation
  * plus indexed hybrid retrieval. An LRU walk over a working set larger
  * than the cache misses on every key, so each run recompiled every class
  * (Janino) and the JIT compiled the new classes again — more process CPU
  * than the tasks themselves. [[CodegenCacheEntries]] holds several runs'
  * working sets, so a repeated plan reuses its classes.
  *
  * The cache stays bounded on purpose. A repeated run still produces
  * ≈14–24 sources it has not seen: whole-stage classes whose only
  * difference is the `codegenStageId` in their name, because adaptive
  * execution numbers the stages differently on each run. An unbounded
  * cache would grow by that many classes for every run of a long-lived
  * app; the LRU bound evicts them.
  *
  * The setting is a static conf and the cache is JVM-wide: it is sized
  * once, from the session active when Spark first generates code. So
  * `local` must create the first session in the JVM. `getOrCreate`
  * returns an already running session unchanged and ignores the static
  * confs passed here.
  */
object Sessions {

  /** Generated classes kept per JVM: ≈4× one run's working set. */
  val CodegenCacheEntries = 1000

  /** @param cores parallelism; shuffle partitions match it locally (on a
    *              real cluster: 2-3× total executor cores, or rely on AQE
    *              coalescing from a higher initial value)
    */
  def local(appName: String, cores: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // custom kernels (vec_dot, minhash_agg, …) visible to SQL text
      .withExtensions(new graft.functions.GraftExtensions)
      // AQE: runtime re-plan (broadcast demotion/promotion, skew-join
      // splitting, partition coalescing)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // 128 MB scan splits: big enough to amortize task overhead, small
      // enough that a partition's working set fits executor memory
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
