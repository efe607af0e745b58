package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.ops._

/** The manifest-committed index store ([[IndexStore]]) under crashes, over
  * every family that persists through it. Each crash is simulated by the
  * on-disk state it leaves, made from a real run of the family's own
  * write: no hook or option in the code under test.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  /** A family under drill: a build, three batch appends, a compaction,
    * and the answer a reader gets from the committed index.
    */
  private final case class Family(name: String, build: String => Unit,
      append1: String => Unit, append2: String => Unit, append3: String => Unit,
      compact: String => Unit, answer: String => Seq[String])

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
  private def doc(i: Long): String = {
    val r = new scala.util.Random(i)
    Seq.fill(6)(words(r.nextInt(words.size))).mkString(" ")
  }
  private def docs(ids: Seq[Long]) = ids.map(i => (i, doc(i))).toDF("id", "text")

  private val bm25 = {
    val q = Seq((1L, "alpha gamma"), (2L, "zeta theta beta")).toDF("qid", "qt")
    Family("bm25",
      p => TextStats.writeBm25Index(docs(1L to 20L), "id", $"text", p),
      p => TextStats.appendToBm25Index(spark, p, docs(21L to 30L), "id", $"text"),
      p => TextStats.appendToBm25Index(spark, p, docs(31L to 40L), "id", $"text"),
      p => TextStats.appendToBm25Index(spark, p, docs(41L to 50L), "id", $"text"),
      p => TextStats.compactBm25Index(spark, p),
      p => TextStats.probeBm25Index(spark, p, q, "qid", $"qt")
        .select($"qid", $"id", Canonical.round6($"bm25"))
        .collect().map(_.toString).toSeq.sorted)
  }

  private val hash = {
    // exact copies of docs 5, 25 and 35, plus text no write indexes
    val batch = Seq((105L, doc(5)), (125L, doc(25)), (135L, doc(35)), (199L, "never indexed"))
      .toDF("id", "text")
    Family("hash",
      p => Dedup.writeHashIndex(docs(1L to 20L), "id", "text", p, expectedItems = 100L),
      p => Dedup.appendToHashIndex(spark, p, docs(21L to 30L), "id", "text"),
      p => Dedup.appendToHashIndex(spark, p, docs(31L to 40L), "id", "text"),
      p => Dedup.appendToHashIndex(spark, p, docs(41L to 50L), "id", "text"),
      p => Dedup.compactHashIndex(spark, p),
      p => {
        val r = Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, p), batch, "id", "text")
        try r.collect().map(_.toString).toSeq.sorted finally r.unpersist()
      })
  }

  private def fresh(tag: String): String =
    Files.createTempDirectory(Paths.get(TmpDir.root), s"store_$tag").toString

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.toVector.foreach { f =>
      val dst = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else if (!Files.exists(dst)) Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  /** The newest commit never happened: its manifest is back to a torn
    * `.json.tmp`, and its dirs and sketch are orphans.
    */
  private def uncommit(index: String): Unit = {
    val v = IndexStore.versions(spark, index).last
    val m = Paths.get(index, "_manifest", f"$v%020d.json")
    val text = Files.readString(m)
    Files.writeString(Paths.get(m.toString + ".tmp"), text.take(text.length / 2))
    Files.delete(m)
    Files.deleteIfExists(Paths.get(m.getParent.toString, s".${m.getFileName}.crc"))
  }

  /** Everything the store owns on disk: manifests (committed or torn),
    * sketches and write dirs.
    */
  private def owned(index: String): Set[String] = {
    val root = Paths.get(index)
    def ls(p: Path): Vector[Path] =
      if (!Files.isDirectory(p)) Vector.empty
      else { val s = Files.list(p); try s.iterator().asScala.toVector finally s.close() }
    ls(root).flatMap { p =>
      val n = p.getFileName.toString
      if (n == "_manifest") ls(p).map(_.getFileName.toString).filterNot(_.endsWith(".crc"))
        .map(f => s"_manifest/$f")
      else if (Files.isDirectory(p))
        ls(p).map(_.getFileName.toString).filter(_.startsWith("__w=")).map(w => s"$n/$w")
      else if (n.startsWith("bloom-") && n.endsWith(".bin")) Vector(n)
      else Vector.empty
    }.toSet
  }

  /** What the two newest manifests name. */
  private def named(index: String): Set[String] =
    IndexStore.versions(spark, index).takeRight(2).flatMap { v =>
      val m = IndexStore.manifest(spark, index, v)
      (f"_manifest/$v%020d.json" +: m.sketch +:
        m.tables.toSeq.flatMap { case (t, ds) => ds.map(d => s"$t/${d.dir}") })
    }.toSet

  test("crash drill: a crash before, at or after a commit leaves the committed answer, " +
      "the next append succeeds, and the sweep keeps only what the two newest manifests name") {
    for (f <- Seq(bm25, hash)) {
      def sweptClean(index: String, when: String): Unit =
        assert(owned(index) == named(index), s"${f.name} $when: on disk ${owned(index)}, named ${named(index)}")

      // 1. the tables and sketch of an append are written, the commit is not
      val a = fresh(s"${f.name}_pre")
      f.build(a)
      val built = f.answer(a)
      f.append1(a)
      val appended = f.answer(a)
      assert(appended != built, s"${f.name}: the drill's batch must change the answer")
      uncommit(a)
      assert(owned(a) != named(a), s"${f.name}: the simulated crash must leave orphans")
      assert(f.answer(a) == built, s"${f.name}: a reader must not see an uncommitted append")
      f.append1(a)
      assert(f.answer(a) == appended, s"${f.name}: the retried append must land whole")
      sweptClean(a, "after the retried append")

      // 2. the commit landed, the sweep did not run
      val b = fresh(s"${f.name}_post")
      f.build(b)
      f.append1(b)
      val before = Files.createTempDirectory(Paths.get(TmpDir.root), "store_snapshot")
      copyTree(Paths.get(b), before)
      f.append2(b)
      val committed = f.answer(b)
      copyTree(before, Paths.get(b)) // what the sweep removed comes back
      assert(owned(b) != named(b), s"${f.name}: the simulated crash must leave the unswept version")
      assert(f.answer(b) == committed, s"${f.name}: the committed append must be what a reader sees")
      f.append3(b)
      sweptClean(b, "after the next append")
      f.compact(b)
      sweptClean(b, "after a compaction")

      // 3. a compaction wrote its dirs and stopped before its commit
      val c = fresh(s"${f.name}_compact")
      f.build(c)
      f.append1(c)
      f.append2(c)
      val live = f.answer(c)
      val liveDirs = IndexStore.latest(spark, c).tables
      f.compact(c)
      uncommit(c)
      assert(IndexStore.latest(spark, c).tables == liveDirs,
        s"${f.name}: the uncommitted compaction must not be current")
      assert(f.answer(c) == live, s"${f.name}: a reader must not see an uncommitted compaction")
      f.compact(c)
      assert(f.answer(c) == live, s"${f.name}: the retried compaction moved the answer")
      assert(IndexStore.latest(spark, c).tables.values.forall(_.size == 1),
        s"${f.name}: a compaction must name one dir per table")
      sweptClean(c, "after the retried compaction")
      val versions = IndexStore.versions(spark, c)
      f.append1(c) // a replayed batch folds to nothing and commits nothing
      assert(f.answer(c) == live && IndexStore.versions(spark, c) == versions,
        s"${f.name}: a replayed append must commit nothing")
      f.append3(c)
      sweptClean(c, "after the next append")
    }
  }

  test("the manifest round-trips typed metadata and write dirs; a torn manifest is never read") {
    val p = fresh("roundtrip")
    val m = IndexStore.Manifest(IndexStore.nextVersion(spark, p),
      Map("id_col" -> "doc \"id\"", "n" -> 12L, "fpp" -> 0.05, "whole" -> 1.0),
      Map("t" -> Seq(IndexStore.WriteDir("__w=1", 3, 99L))), "bloom-1.bin")
    IndexStore.commit(spark, p, m)
    val got = IndexStore.latest(spark, p)
    assert(got == m, s"$got != $m")
    assert(got.string("id_col") == "doc \"id\"" && got.long("n") == 12L &&
      got.double("fpp") == 0.05 && got.double("whole") == 1.0 && got.files("t") == 3)
    Files.writeString(Paths.get(p, "_manifest", f"${2L}%020d.json.tmp"), "{\"version\":2,")
    assert(IndexStore.latest(spark, p) == m && IndexStore.nextVersion(spark, p) == 2L)
    val e = intercept[IllegalArgumentException](IndexStore.commit(spark, p, m))
    assert(e.getMessage.contains("next version"), e.getMessage)
    assert(!IndexStore.committed(spark, fresh("never")))
  }
}
