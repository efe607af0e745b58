package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Readers

/** Materialize a full synthetic sf directory (all 10 tables, key-shifted
  * N× copies, `events.ts` stored as ns-long so [[Readers.table]] reads it
  * like real testdata) — the stand-in for an sf1 fixture:
  * `runMain graft.BuildSf <srcSfDir> [outDir] [copies=10]`. Scaling of any
  * catalog query is this build followed by [[Profile]] at both dirs.
  */
object BuildSf {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse(sys.error("usage: BuildSf <srcSfDir> [outDir] [copies=10]"))
    val out = args.lift(1).getOrElse(s"${graft.TmpDir.root}/sf1_synth")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local("graft-build-sf")
    buildScaled(spark, src, out, copies, AllTables)
    println(s"[build-sf] $out ready (${copies}x $src)")
    spark.stop()
  }

  val AllTables: Set[String] = Set("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Key-shifted N× copies of the base tables: ids are offset per copy so
    * group cardinality grows N× while per-group size stays constant (the
    * shape a bigger day-range of real data would have). Document text is
    * token-prefixed per copy so near-dup structure is replicated, not
    * crossed — otherwise every doc would near-match its N−1 clones and
    * pair work would grow quadratically in N by construction rather than
    * by data. Fixed-size dims (nation/region) are copied once — they do
    * not scale with data volume.
    */
  private[graft] def buildScaled(spark: SparkSession, sfDir: String, out: String, copies: Int,
      tables: Set[String]): Unit = {
    val fs = java.nio.file.Paths.get(out)
    // marker carries a source-content token: regenerating the source sf
    // dir IN PLACE changes the token, so the scaled copy rebuilds instead
    // of serving dead data
    val srcTok = graft.TmpDir.sourceToken(
      tables.toSeq.sorted.map(t => s"$sfDir/$t.parquet"): _*)
    val marker = fs.resolve(s"_built_${tables.toSeq.sorted.mkString("_")}_$srcTok")
    if (java.nio.file.Files.exists(marker)) return

    def shifted(name: String, shift: (DataFrame, Int) => DataFrame, nCopies: Int = copies): Unit = {
      if (!tables.contains(name)) return
      val baseDf = Readers.table(spark, sfDir, name)
      val union = (0 until nCopies).map(i => shift(baseDf, i)).reduce(_ unionByName _)
      union.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    shifted("region", (df, _) => df, nCopies = 1)
    shifted("nation", (df, _) => df, nCopies = 1)
    shifted("customer", (df, i) => df
      .withColumn("c_custkey", col("c_custkey") + lit(i.toLong * 100000000L)))
    shifted("supplier", (df, i) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(i.toLong * 100000000L)))
    shifted("part", (df, i) => df
      .withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 100000000L)))
    shifted("lineitem", (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
    shifted("orders", (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L))
      .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * 100000000L)))
    // 3e7 shift (not 1e8): the vocab-synth/JSONL paths cast event ids
    // through INT per the reference's parcel-field types, so even a
    // 64-copy build must keep max(user_id) = 63·shift + base under 2^31
    shifted("events", (df, i) => df
      .withColumn("event_id", col("event_id") + lit(i.toLong * 30000000L))
      .withColumn("user_id", col("user_id") + lit(i.toLong * 30000000L))
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L)))
    shifted("documents", (df, i) => df
      .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), "\\s+"), t => concat(lit(s"c${i}_"), t)))))
    // per-copy circular rotation of the dimensions: preserves every
    // within-copy norm/cosine EXACTLY (it is a permutation) while making
    // cross-copy pairs pseudo-random — without it every copy is an exact
    // duplicate vector and a dedup/pair query would measure a
    // quadratic-by-construction clique instead of the operator (the same
    // reason document text is token-prefixed per copy)
    shifted("embeddings", (df, i) => df
      .withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L))
      .withColumn("embedding",
        if (i == 0) col("embedding")
        else transform(sequence(lit(0), size(col("embedding")) - 1),
          j => element_at(col("embedding"), pmod(j + lit(i), size(col("embedding"))) + 1))))
    if (!java.nio.file.Files.exists(marker)) java.nio.file.Files.createFile(marker)
  }
}
