package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Manifest-committed storage for a persisted index — the snapshot/manifest
  * idea of table formats, on the Hadoop-FS helpers. Under an index dir:
  *   - `_manifest/<20-digit version>.json`, one per committed version: the
  *     family's typed metadata, the write dirs each table reads and the
  *     name of the sketch file, if the family keeps one;
  *   - `<table>/__w=<version>/`, one parquet write of a table (a family
  *     may partition inside it);
  *   - `bloom-<version>.bin`, a sketch in [[Dedup.writeBloomFile]]'s
  *     format.
  *
  * A writer writes fresh dirs and a fresh sketch at the next version, then
  * [[commit]]s: the manifest lands as `<version>.json.tmp` and is renamed
  * into `_manifest/`, the one atomic step. Readers take the highest version
  * and read only what it names, so whatever a crash leaves before the
  * rename is invisible and no reader ever repairs anything. After the
  * rename the writer sweeps every `__w` dir, sketch and manifest that
  * neither of the two newest manifests names, so a reader that loaded the
  * previous version still finds its files.
  *
  * Single writer per index: a second writer racing for one version fails
  * its commit, but it shares that version's write dirs with the first and
  * a sweep can delete what it has not committed yet.
  */
object IndexStore {

  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One write of a table: its `__w=<version>` dir, part files and bytes
    * (which size the auto-compaction trigger).
    */
  final case class WriteDir(dir: String, files: Int, bytes: Long)

  /** One committed version. `meta` values are strings or numbers. */
  final case class Manifest(version: Long, meta: Map[String, Any],
      tables: Map[String, Seq[WriteDir]], sketch: Option[String] = None) {
    def string(key: String): String = field(key).toString
    def long(key: String): Long = field(key).asInstanceOf[Number].longValue
    def double(key: String): Double = field(key).asInstanceOf[Number].doubleValue
    def files(table: String): Int = tables.getOrElse(table, Nil).map(_.files).sum
    def bytes(table: String): Long = tables.getOrElse(table, Nil).map(_.bytes).sum
    private def field(key: String): Any = meta.getOrElse(key,
      throw new IllegalStateException(s"index manifest v$version has no '$key'"))
  }

  private def manifestPath(index: String, version: Long) = f"$index/_manifest/$version%020d.json"

  /** Committed versions, oldest first. */
  private[graft] def versions(spark: SparkSession, index: String): Seq[Long] = {
    val (fs, dir) = Dedup.hadoopFs(spark, s"$index/_manifest")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("[0-9]{20}\\.json")).map(_.stripSuffix(".json").toLong).sorted
  }

  private[graft] def manifest(spark: SparkSession, index: String, version: Long): Manifest =
    Json.readValue(Dedup.readTextFile(spark, manifestPath(index, version)), classOf[Manifest])

  /** Whether any version of the index at `index` is committed. */
  def committed(spark: SparkSession, index: String): Boolean = versions(spark, index).nonEmpty

  /** The newest committed version; fails loud when there is none. */
  def latest(spark: SparkSession, index: String): Manifest =
    manifest(spark, index, versions(spark, index).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed index at $index (never built, or its build did not finish) — build it first")))

  /** The version the next write must use. */
  def nextVersion(spark: SparkSession, index: String): Long =
    versions(spark, index).lastOption.getOrElse(0L) + 1L

  /** `table` as the write dirs `dirs` name it, without the `__w` column.
    * One `basePath` read: Spark refuses separate `partitionBy` roots in
    * one read, while `__w=` dirs under one base are partitions of it, and
    * a family's own partition filters (e.g. on `__tp`) still prune.
    */
  def read(spark: SparkSession, index: String, table: String, dirs: Seq[WriteDir]): DataFrame = {
    require(dirs.nonEmpty, s"index at $index names no write of table '$table'")
    spark.read.option("basePath", s"$index/$table")
      .parquet(dirs.map(d => s"$index/$table/${d.dir}"): _*)
      .drop("__w")
  }

  def read(spark: SparkSession, index: String, m: Manifest, table: String): DataFrame =
    read(spark, index, table, m.tables.getOrElse(table, Nil))

  /** Write `df` as `table`'s dir for `version`, over whatever a crashed
    * writer of that version left there.
    */
  def writeTable(index: String, table: String, version: Long, df: DataFrame,
      partitionBy: Seq[String] = Nil): WriteDir = {
    val dir = s"__w=$version"
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(s"$index/$table/$dir")
    val (fs, p) = Dedup.hadoopFs(df.sparkSession, s"$index/$table/$dir")
    val it = fs.listFiles(p, true)
    val parts = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).toSeq
    WriteDir(dir, parts.size, parts.sum)
  }

  /** Write `bf` as the sketch of `version`; returns its file name. */
  def writeSketch(spark: SparkSession, index: String, version: Long, bf: BloomFilter,
      expectedItems: Long, fpp: Double): Option[String] = {
    Dedup.writeBloomFile(spark, s"$index/bloom-$version.bin", bf, expectedItems, fpp)
    Some(s"bloom-$version.bin")
  }

  /** The sketch `m` names, with its creation params. */
  def readSketch(spark: SparkSession, index: String, m: Manifest): (BloomFilter, Long, Double) =
    Dedup.readBloomFile(spark, s"$index/${m.sketch.getOrElse(
      throw new IllegalStateException(s"index manifest v${m.version} at $index names no sketch"))}")

  /** Make `m`, which must be at [[nextVersion]], the current version, then
    * sweep. Write dirs without part files are left out: an empty
    * partitioned write makes none, and a table of none is unreadable.
    */
  def commit(spark: SparkSession, index: String, m: Manifest): Manifest = {
    val expected = nextVersion(spark, index)
    require(m.version == expected, s"commit of v${m.version} at $index, but the next version is v$expected")
    val kept = m.copy(tables = m.tables.map { case (t, ds) => t -> ds.filter(_.files > 0) })
    val (fs, dst) = Dedup.hadoopFs(spark, manifestPath(index, m.version))
    val tmp = new org.apache.hadoop.fs.Path(s"$dst.tmp")
    val out = fs.create(tmp, true)
    try out.write(Json.writeValueAsBytes(kept)) finally out.close()
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"index manifest commit $tmp -> $dst failed")
    sweep(spark, index)
    kept
  }

  /** Delete every `__w` dir, sketch and manifest file (committed or torn)
    * that neither of the two newest manifests names.
    */
  private def sweep(spark: SparkSession, index: String): Unit = {
    val (fs, root) = Dedup.hadoopFs(spark, index)
    val named = versions(spark, index).takeRight(2).map(manifest(spark, index, _)).flatMap { m =>
      Seq(f"_manifest/${m.version}%020d.json") ++ m.sketch ++
        m.tables.toSeq.flatMap { case (t, ds) => ds.map(d => s"$t/${d.dir}") }
    }.toSet
    def drop(s: org.apache.hadoop.fs.FileStatus, rel: String): Unit =
      if (!named(rel)) fs.delete(s.getPath, true)
    fs.listStatus(root).foreach { s =>
      val name = s.getPath.getName
      if (name == "_manifest") fs.listStatus(s.getPath).foreach(f => drop(f, s"$name/${f.getPath.getName}"))
      else if (s.isDirectory)
        fs.listStatus(s.getPath).filter(_.getPath.getName.startsWith("__w="))
          .foreach(w => drop(w, s"$name/${w.getPath.getName}"))
      else if (name.matches("bloom-[0-9]+\\.bin")) drop(s, name)
    }
  }
}
