package graft

/** Repo-local scratch root for probe fixtures, spec temp dirs and
  * synthetic scale corpora.
  *
  * Resolved RELATIVE to the working directory (sbt forks both `run` and
  * `test` JVMs with the project base as cwd), overridable with
  * `-Dgraft.tmp.dir=<path>` — so a checkout at any location works; the
  * probes previously hardcoded `/root/repo/target` and broke anywhere
  * else (round-5 advice). The directory is created on first use so
  * [[scratch]] and the spec temp dirs never race a missing parent.
  */
object TmpDir {
  lazy val root: String = {
    val f = sys.props.get("graft.tmp.dir").map(new java.io.File(_))
      .getOrElse(new java.io.File("target"))
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Cheap content token for a source dataset: a hex mix over the sorted
    * (path, length, mtime) of every file under the given paths. Folded
    * into marker-cache names (x49 fixture, [[BuildSf.buildScaled]]'s
    * `_built` marker) so a source regenerated IN PLACE — same path, new
    * bytes, as the driver did to `/root/testdata` mid-round-6 — yields a
    * different token and self-invalidates the stale cache. Metadata only:
    * no file is read, so the token costs microseconds even on a large
    * fixture tree. Limitation: a rewrite that lands within the
    * filesystem's mtime granularity AND preserves every file's size goes
    * undetected — the token is a cache key, not an integrity hash.
    */
  def sourceToken(paths: String*): String = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(files)
      else if (f.exists()) Seq(f) else Nil
    // path is FOLDED IN (not just a sort key): a content swap between two
    // same-size files, or a regen preserving sizes+mtimes, still moves
    // the token when any path changes (round-7 advice)
    val mixed = paths.flatMap(p => files(new java.io.File(p)))
      .sortBy(_.getPath)
      .foldLeft(17L)((a, f) =>
        ((a * 1000003L + f.getPath.hashCode) * 1000003L + f.length) * 1000003L + f.lastModified)
    java.lang.Long.toHexString(mixed)
  }

  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** A build-once on-disk cache for a probe fixture or index, at
    * `<root>/tmp/<name>_<version>_<dir slug>_<source token of sources>`.
    * `build` runs once per path and a `_done` marker is written after it
    * returns, so a build that did not finish is redone and a build of
    * several steps (two indexes, a write then an append) counts only when
    * its last step has. Bump `version` when the cached layout changes:
    * building also deletes the caches of `name` under any other version.
    */
  def cached(name: String, version: String, dir: String, sources: String*)(
      build: String => Unit): String = {
    val path = s"$root/tmp/${name}_${version}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      sourceToken(sources: _*)
    val done = new java.io.File(path, "_done")
    if (!done.exists()) buildLocks.computeIfAbsent(path, _ => new AnyRef).synchronized {
      if (!done.exists()) {
        build(path)
        done.getParentFile.mkdirs()
        if (!done.createNewFile()) throw new java.io.IOException(s"cache marker create failed at $done")
        Option(new java.io.File(s"$root/tmp").listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith(s"${name}_") &&
            !f.getName.startsWith(s"${name}_${version}_"))
          .foreach(delete)
      }
    }
    path
  }

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh dir `<root>/<name>_<random>` for one probe run's scratch
    * state, deleted by [[dropScratch]]. The probe cannot delete it
    * itself: the frame it returns still reads from it lazily.
    */
  def scratch(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(root), s"${name}_").toFile
    scratchDirs.add(d)
    d.getPath
  }

  /** Delete every dir [[scratch]] made in this JVM so far. */
  def dropScratch(): Unit =
    Iterator.continually(scratchDirs.poll()).takeWhile(_ != null).foreach(delete)

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
