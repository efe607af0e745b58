package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.ops._
import graft.sources.Readers

/** Extension-operator correctness: vector kernels, dedup families,
  * similarity search, sessionization, multimodal plumbing.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Readers.table(spark, sf0001, "documents")
  private lazy val emb = Readers.table(spark, sf0001, "embeddings")
  private lazy val events = Readers.table(spark, sf0001, "events")

  test("vec_dot matches manual computation for float, double and mixed arrays") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0, -5.0, 6.0))).toDF("f", "d")
    val got = df.select(
      vec_dot($"f", $"f"), vec_dot($"d", $"d"), vec_dot($"f", $"d")
    ).as[(Double, Double, Double)].head()
    assert(got == ((14.0, 77.0, 12.0)))
  }

  test("vec_cosine of a vector with itself is 1") {
    val one = emb.select(round(vec_cosine($"embedding", $"embedding"), 9)).as[Double].head()
    assert(one == 1.0)
  }

  test("exact dedup groups identical content and keeps the smallest id") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("id", "text")
    val got = Dedup.exact(df, Seq("text"), "id").orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L)))
    assert(Dedup.exactKeepFirst(df, Seq("text"), "id").count() == 2)
  }

  test("keep-first dedup throws on a null id instead of silently dropping the row") {
    // min() ignores nulls and the semi-join matches nothing on null, so
    // without the guard a null-id row would VANISH (round-4 advice: data
    // loss, not dedup). The precondition now fails loudly at runtime.
    val df = Seq((java.lang.Long.valueOf(1L), "same"), (null: java.lang.Long, "same"))
      .toDF("id", "text")
    val e1 = intercept[Exception](Dedup.exactKeepFirst(df, Seq("text"), "id").count())
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](Dedup.exactNormalizedKeepFirst(df, "text", "id").count())
    assert(e2.getMessage != null)
    // non-null ids still dedup exactly as before
    val ok = Seq((1L, "same"), (2L, "same")).toDF("id", "text")
    assert(Dedup.exactKeepFirst(ok, Seq("text"), "id").select("id").as[Long].head() == 1L)
  }

  test("paragraph and substring dedup throw on a null id instead of corrupting the election") {
    // Worse than the keep-first case: a null id SORTS FIRST inside the
    // min(struct(id, pos)) election, so it would phantom-win and cut OTHER
    // documents' genuine first occurrences while the (id, pos) joins never
    // match the null-id doc itself — silent wrong output on every row
    // (round-5 advice). The guard fails loudly instead.
    val df = Seq(
      (java.lang.Long.valueOf(1L), "shared para\nunique one"),
      (null: java.lang.Long, "shared para\nunique two")).toDF("id", "text")
    val e1 = intercept[Exception](Dedup.paragraphDedup(df, "id", "text").count())
    assert(e1.getMessage != null)
    val toks = (1 to 10).map(i => s"tok$i").mkString(" ")
    val sub = Seq(
      (java.lang.Long.valueOf(1L), toks + " tail one"),
      (null: java.lang.Long, toks + " tail two")).toDF("id", "text")
    val e2 = intercept[Exception](Dedup.substringDedup(sub, "id", "text", k = 8).count())
    assert(e2.getMessage != null)
    // non-null ids: first occurrence still wins, duplicate paragraph cut
    val ok = Seq((1L, "shared para\nunique one"), (2L, "shared para\nunique two"))
      .toDF("id", "text")
    val got = Dedup.paragraphDedup(ok, "id", "text").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "shared para\nunique one"), (2L, "unique two")))
  }

  test("multi-column exact dedup: separator-adjacent values cannot alias across columns") {
    // under a '§'-joined preimage these two rows hashed identically
    val df = Seq((1L, "x§0y", "z"), (2L, "x", "y§0z")).toDF("id", "a", "b")
    assert(Dedup.exact(df, Seq("a", "b"), "id").count() == 2,
      "hash-of-hashes must keep cross-column boundaries distinct")
    val dup = Seq((1L, "p", "q"), (2L, "p", "q")).toDF("id", "a", "b")
    val got = Dedup.exact(dup, Seq("a", "b"), "id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)), s"true multi-column duplicates still group: $got")
  }

  test("null text and the literal sentinel string never collide in exact/incremental dedup") {
    val df = Seq((1L, null: String), (2L, "␀"), (3L, null: String)).toDF("id", "text")
    val groups = Dedup.exact(df, Seq("text"), "id")
      .orderBy("keep_id").select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(groups == Seq((1L, 2L), (2L, 1L)), "null≠'␀': two groups, nulls together")
    assert(Dedup.exactKeepFirst(df, Seq("text"), "id").count() == 2)
    val corpus = Seq((10L, null: String)).toDF("doc_id", "text")
    val batch = Seq((20L, "␀")).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, batch, "doc_id", $"text",
        n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq((20L, "new", None)), s"'␀' must not match a null-text corpus doc: $got")
  }

  test("identical docs have identical minhash signatures; LSH pairs them; jaccard = 1") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "z y x w v u t s"))
      .toDF("id", "text")
    val sig = Dedup.minhashSignatures(df, "id", $"text", 3, 64)
    val sigs = sig.orderBy("id").select("sig").as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1) && sigs(0) != sigs(2))
    val cands = Dedup.lshCandidates(sig, "id", 16, 4)
    val verified = Dedup.jaccardVerify(df, "id", $"text", 3, cands, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(verified.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhash-LSH candidates recover every exact high-jaccard pair on the fixture corpus") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", $"text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sig = Dedup.minhashSignatures(docs, "doc_id", $"text", 3, 64)
    val lsh = Dedup.lshCandidates(sig, "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture contains near-duplicate documents")
    assert(exact.subsetOf(lsh),
      s"16x4 banding at jaccard>=0.5 must catch all: missing ${exact -- lsh}")
  }

  test("hot-shingle df-cap: stop-phrase pockets generate no pairs, true dups keep exact scores") {
    // one shingle ("w x y") shared by ~90% of docs; docs are otherwise
    // disjoint except one true exact-dup pair (100, 101)
    val hot = (1L to 20L).map(i => (i, s"w x y a$i b$i c$i d$i e$i"))
    val df = (hot :+ ((100L, "p q r s t u v")) :+ ((101L, "p q r s t u v"))).toDF("id", "text")
    // cap at 5: the hot shingle (df=20) is dropped from candidate
    // generation; the dup pair (100,101) shares only low-df shingles
    val got = Dedup.ngramJaccardPairs(df, "id", $"text", 3, 0.2, maxDf = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((100L, 101L, 1.0)),
      s"hot-shingle-only pairs must be pruned, true dup kept exact: $got")
    // unguarded: the hot shingle makes every doc pair a candidate, but the
    // verified jaccard of unrelated pairs stays below threshold — same
    // final answer, quadratic candidate work (the thing the cap prevents)
    val unguarded = Dedup.ngramJaccardPairs(df, "id", $"text", 3, 0.2, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSeq
    assert(unguarded == Seq((100L, 101L, 1.0)))
  }

  test("LSH/simhash bucket caps: an oversized bucket degrades to linear star candidates") {
    // 12 identical docs → every band bucket and every simhash chunk bucket
    // has 12 members. Under the cap the full C(12,2) pair set appears;
    // over the cap the bucket degrades to the min-id hub star (11 pairs,
    // linear) instead of being dropped — a mass-dup cluster bigger than
    // the cap is exactly what the guard must still find.
    val df = (1L to 12L).map(i => (i, "a b c d e f g h")).toDF("id", "text")
    val star = (2L to 12L).map(i => (1L, i)).toSet
    val sig = Dedup.minhashSignatures(df, "id", $"text", 3, 64)
    assert(Dedup.lshCandidates(sig, "id", 16, 4).count() == 66L) // C(12,2), default cap
    assert(Dedup.lshCandidates(sig, "id", 16, 4, maxBucket = 8)
      .as[(Long, Long)].collect().toSet == star)
    val ssig = Dedup.simhash(df, "id", $"text")
    assert(Dedup.simhashPairs(ssig, "id", 6).count() == 66L)
    val sstar = Dedup.simhashPairs(ssig, "id", 6, maxBucket = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(sstar.map(t => (t._1, t._2)).toSet == star)
    assert(sstar.forall(_._3 == 0L), "identical docs must verify at hamming 0")
  }

  test("mass-dup cluster larger than maxBucket: star candidates + components recover it whole") {
    val df = (1L to 30L).map(i => (i, "same boilerplate text repeated again and again ok"))
      .toDF("id", "text")
    val sig = Dedup.minhashSignatures(df, "id", $"text", 3, 64)
    val cands = Dedup.lshCandidates(sig, "id", 16, 4, maxBucket = 8)
    val verified = Dedup.jaccardVerify(df, "id", $"text", 3, cands, 0.9)
    val comps = Dedup.components(verified)
    assert(comps.count() == 30L, "every clone appears in the pair graph")
    assert(comps.select("comp").distinct().as[Long].collect().toSeq == Seq(1L),
      "all 30 clones collapse into one cluster via the hub")
  }

  test("incrementalDedup: batch doc matching a hot (over-cap) corpus cluster is still flagged") {
    val corpus = (1L to 20L)
      .map(i => (i, "mass duplicated boilerplate text block sits here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "mass duplicated boilerplate text block sits here extra"), // near-dup of the cluster
      (101L, "entirely unrelated words appear in this document")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, batch, "doc_id", $"text",
        n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2, maxBucket = 8)
      .orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    got.head match { case (id, status, dupOf) =>
      assert(id == 100L && status == "near_dup" && dupOf.contains(1L),
        s"hot-bucket star candidate must surface the cluster hub: $got")
    }
    assert(got(1) == ((101L, "new", None)))
  }

  test("standalone pair ops leave the SQL cache manager empty after returning") {
    def sqlCacheEmpty: Boolean = {
      val ss = spark.sharedState
      val cm = ss.getClass.getMethod("cacheManager").invoke(ss)
      cm.getClass.getMethod("isEmpty").invoke(cm).asInstanceOf[Boolean]
    }
    // suites share the session and run in parallel: serialize with the
    // other cache-sensitive sections (EngineProps' bloom property,
    // PipelineOpsSpec's bloom test) so a neighbor's transient persist
    // cannot trip the global-emptiness asserts
    SparkSpec.session.synchronized {
    spark.catalog.clearCache()
    val small = docs.limit(60)
    val sig = Dedup.minhashSignatures(small, "doc_id", $"text", 3, 64)
    val cands = Dedup.lshCandidates(sig, "doc_id", 16, 4)
    cands.count()
    assert(sqlCacheEmpty, "lshCandidates must not leave cache entries")
    Dedup.jaccardVerify(small, "doc_id", $"text", 3, cands, 0.2).count()
    assert(sqlCacheEmpty, "jaccardVerify must not leave cache entries")
    Dedup.ngramJaccardPairs(small, "doc_id", $"text", 3, 0.2).count()
    assert(sqlCacheEmpty, "ngramJaccardPairs must not leave cache entries")
    Dedup.simhashPairs(Dedup.simhash(small, "doc_id", $"text"), "doc_id", 6).count()
    assert(sqlCacheEmpty, "simhashPairs must not leave cache entries")
    Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, 4, 64).count()
    assert(sqlCacheEmpty, "cosinePairs must not leave cache entries")
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    Ivf.search(queries, "query_id", "qvec", emb, "vec_id", "embedding", cents, 3, 2).count()
    assert(sqlCacheEmpty, "Ivf.search must not leave cache entries")
    // the composed eager ops own their result cache: empty after release
    val inc = Dedup.incrementalDedup(
      small.select($"doc_id", $"text"),
      small.select(($"doc_id" + 5000000L).as("doc_id"), $"text"),
      "doc_id", $"text", 3, 64, 16, 4, 0.2)
    inc.unpersist()
    assert(sqlCacheEmpty, "incrementalDedup result released ⇒ cache empty")
    }
  }

  test("simhash: identical docs get identical signatures, hamming 0; pairs surface them") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "completely different words here"))
      .toDF("id", "text")
    val sig = Dedup.simhash(df, "id", $"text")
    val pairs = Dedup.simhashPairs(sig, "id", maxDist = 3).as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("bruteForceTopK is exactly the naive top-k and LSH top-k only returns true cosines") {
    val queries = emb.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val brute = Similarity.bruteForceTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", 3)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect()
      .groupBy(_._1)
    // naive check for query 0: compute all cosines, sort, take 3
    val all = emb.crossJoin(queries.filter($"query_id" === 0))
      .filter($"vec_id" =!= $"query_id")
      .select($"vec_id", round(vec_cosine($"qvec", $"embedding"), 6).as("c"))
      .as[(Long, Double)].collect()
    val expected = all.sortBy { case (id, c) => (-c, id) }.take(3).toSeq
    assert(brute(0L).map(t => (t._2, t._3)).sortBy { case (id, c) => (-c, id) }.toSeq == expected)

    val lsh = Similarity.lshBucketTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", 3, 8, 64)
      .select("query_id", "vec_id", "cosine_sim").as[(Long, Long, Double)].collect()
    val bruteMap = all.toMap
    lsh.filter(_._1 == 0L).foreach { case (_, cid, sim) =>
      assert(bruteMap(cid) == sim, "LSH candidate cosine must equal the exact cosine")
    }
  }

  test("multi-probe LSH: strictly more candidates than single-probe, recall never lower") {
    val queries = emb.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val brute = Similarity.bruteForceTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def hits(mp: Boolean) =
      Similarity.lshBucketTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding",
          5, 4, 64, multiProbe = mp)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val (single, multi) = (hits(false), hits(true))
    assert((single & brute).size <= (multi & brute).size,
      "Hamming-1 probing must not lose recall")
    assert((multi & brute).size > 0, "multi-probe should recover some true neighbors")
  }

  test("cosinePairs (LSH) is a subset of cosinePairsExact with identical similarities") {
    val exact = Similarity.cosinePairsExact(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toMap2
    val lsh = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4, 4, 64)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, s) => assert(exact((a, b)) == s) }
  }

  implicit private class PairMap(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("session_window grouping equals the gaps-and-islands formulation") {
    val a = Sessionize.bySessionWindow(events, "user_id", "ts", "30 minutes", Some("value"))
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"total_value")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)].collect().toSet
    val b = Sessionize.byGaps(events, "user_id", "ts", 1800, Some("value"))
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"total_value")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("media codec: BMP/WAV/PPM headers round-trip through encode → decode") {
    import Multimodal.{MediaCodec, MediaRecord}
    val bmp = MediaCodec.decode(MediaRecord(1L, "bmp", MediaCodec.bmpBytes(17, 9), "t"))
    assert((bmp.width, bmp.height, bmp.channels) == ((17, 9, 3)))
    assert(bmp.byte_len == 54 + ((17 * 3 + 3) / 4) * 4 * 9)
    val wav = MediaCodec.decode(MediaRecord(2L, "wav", MediaCodec.wavBytes(2, 44100, 16, 100), "t"))
    assert((wav.width, wav.height, wav.channels) == ((44100, 16, 2)))
    assert(wav.byte_len == 44 + 100 * 2 * 2)
    val ppm = MediaCodec.decode(MediaRecord(3L, "ppm", MediaCodec.ppmBytes(123, 45), "t"))
    assert((ppm.width, ppm.height, ppm.channels) == ((123, 45, 3)))
    assert(ppm.byte_len == "P6\n123 45\n255\n".length + 123 * 45 * 3)
    // unknown format degrades to byte-length-only metadata, never throws
    val raw = MediaCodec.decode(MediaRecord(4L, "bin", Array[Byte](1, 2, 3), "t"))
    assert((raw.byte_len, raw.width, raw.height, raw.channels) == ((3L, 0, 0, 0)))
  }

  test("media codec resize: true nearest-neighbor sampling for BMP and PPM, audio untouched") {
    import Multimodal.{MediaCodec, MediaRecord}
    // 4x2 BMP with per-pixel values v = (x, y-coded): pixel (x,y) blue
    // channel = 16*y + x, so sampled positions are checkable exactly
    val src = MediaCodec.bmpBytes(4, 2)
    val rowSize = ((4 * 3 + 3) / 4) * 4
    for (y <- 0 until 2; x <- 0 until 4) src(54 + y * rowSize + x * 3) = (16 * y + x).toByte
    val out = MediaCodec.resize(MediaRecord(1L, "bmp", src, "t"), 2, 1)
    val m = MediaCodec.decode(out)
    assert((m.width, m.height, m.channels) == ((2, 1, 3)))
    // NN: target (0,0)←src(0,0)=0; target (1,0)←src(2,0)=2
    assert(out.bytes(54) == 0 && out.bytes(57) == 2)
    // PPM: 2x2 with distinct reds; downsample to 1x1 keeps pixel (0,0)
    val p = MediaCodec.ppmBytes(2, 2)
    val off = p.length - 12
    for (i <- 0 until 4) p(off + i * 3) = (10 + i).toByte
    val pout = MediaCodec.resize(MediaRecord(2L, "ppm", p, "t"), 1, 1)
    val pm = MediaCodec.decode(pout)
    assert((pm.width, pm.height) == ((1, 1)))
    assert(pout.bytes(pout.bytes.length - 3) == 10)
    // upsample replicates source pixels (2x2 -> 4x4: each src pixel 2x2 block)
    val up = MediaCodec.resize(MediaRecord(3L, "ppm", p, "t"), 4, 4)
    val um = MediaCodec.decode(up)
    assert((um.width, um.height) == ((4, 4)))
    val uoff = up.bytes.length - 48
    assert(up.bytes(uoff) == 10 && up.bytes(uoff + 3) == 10 && up.bytes(uoff + 6) == 11)
    // WAV passes through unchanged
    val wav = MediaCodec.wavBytes(1, 8000, 16, 10)
    val wout = MediaCodec.resize(MediaRecord(4L, "wav", wav, "t"), 16, 12)
    assert(wout.bytes.sameElements(wav))
  }

  test("multimodal: typed byte-level metadata equals the declarative SQL twin") {
    val media = Multimodal.pack(docs, "doc_id", "text", "image")
    val typed = Multimodal.extractMeta(spark, media).toDF()
      .select($"media_id", $"byte_len", $"checksum").orderBy("media_id").collect().toSeq
    val sql = Multimodal.byteMetaSql(media)
      .select($"media_id", $"byte_len", $"checksum").orderBy("media_id").collect().toSeq
    assert(typed == sql)
  }

  test("binaryFile source: glob-filtered files arrive as binary rows, bytes intact") {
    val dir = scratch("media")
    val payloads = Map("a.img" -> "alpha-bytes", "b.img" -> "beta", "skip.txt" -> "nope")
    payloads.foreach { case (name, content) =>
      java.nio.file.Files.write(dir.resolve(name), content.getBytes("UTF-8"))
    }
    val media = Multimodal.readBinaryDir(spark, dir.toString, "*.img", "image")
    val rows = media
      .select($"source", decode($"bytes", "UTF-8").as("content"), $"kind", $"media_id")
      .as[(String, String, String, Long)].collect()
    assert(rows.length == 2, "pathGlobFilter must exclude skip.txt")
    rows.foreach { case (source, content, kind, id) =>
      val name = source.split('/').last
      assert(payloads(name) == content)
      assert(kind == "image")
    }
    assert(rows.map(_._4).distinct.length == 2, "path-addressed ids must differ")
    // and the decoded stream feeds the same downstream decode stage
    val meta = Multimodal.extractMeta(spark, media).collect()
    assert(meta.map(_.byte_len).sorted.toSeq == Seq(4L, 11L))
  }

  test("frame sampling: every-2nd 64-byte frames with correct count and sizes") {
    val media = Multimodal.pack(docs.limit(5), "doc_id", "text", "video")
    val frames = Multimodal.sampleFrames(spark, media, 64, 2).toDF()
    val byDoc = frames.groupBy("media_id")
      .agg(count(lit(1)).as("n"), max(length($"frame_bytes")).as("maxlen"))
      .as[(Long, Long, Int)].collect()
    val lens = docs.limit(5).select($"doc_id", length($"text")).as[(Long, Int)].collect().toMap
    byDoc.foreach { case (id, n, maxlen) =>
      val chunks = (lens(id) + 63) / 64
      assert(n == (chunks + 1) / 2)
      assert(maxlen <= 64)
    }
  }

  test("hashSplit: disjoint, complete, deterministic, fractions within tolerance") {
    val ev = Readers.table(spark, sf0001, "events")
    val total = ev.count()
    val split1 = Sampling.hashSplit(ev, $"event_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split1.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == total, "every row gets exactly one split")
    assert(math.abs(counts("train").toDouble / total - 0.8) < 0.05)
    assert(math.abs(counts("val").toDouble / total - 0.1) < 0.05)
    assert(math.abs(counts("test").toDouble / total - 0.1) < 0.05)
    // content-addressed: same assignment on an independent evaluation over
    // a reshuffled input
    val split2 = Sampling.hashSplit(ev.repartition(3), $"event_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val a = split1.select($"event_id", $"split").as[(Long, String)].collect().toSet
    val b = split2.select($"event_id", $"split").as[(Long, String)].collect().toSet
    assert(a == b)
  }

  test("stratifiedExact: ceil(frac*n) rows per stratum, subset, deterministic") {
    val ev = Readers.table(spark, sf0001, "events")
    val perStratum = ev.groupBy("event_type").count().as[(String, Long)].collect().toMap
    val sample = Sampling.stratifiedExact(ev, $"event_type", $"event_id", 0.2)
    val got = sample.groupBy("event_type").count().as[(String, Long)].collect().toMap
    perStratum.foreach { case (k, n) =>
      assert(got(k) == math.ceil(n * 0.2).toLong, s"stratum $k")
    }
    val ids = sample.select("event_id").as[Long].collect().toSet
    val all = ev.select("event_id").as[Long].collect().toSet
    assert(ids.subsetOf(all))
    val ids2 = Sampling.stratifiedExact(ev.repartition(5), $"event_type", $"event_id", 0.2)
      .select("event_id").as[Long].collect().toSet
    assert(ids == ids2, "hash-ordered pick is independent of input partitioning")
  }

  test("bucketed two-pass sampling ≡ the single-window reference plan, row for row") {
    import org.apache.spark.sql.expressions.Window
    // the scale-safe bucketed rewrites must keep the IDENTICAL row set as
    // the naive one-window-per-key formulation they replaced (concatenated
    // per-bucket ranks = global hash-order rank; same-hash rows share a
    // bucket, so ties resolve identically)
    val ev = Readers.table(spark, sf0001, "events")
    val naiveStrat = {
      val w = Window.partitionBy($"event_type").orderBy(xxhash64($"event_id"), $"event_id")
      ev.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy($"event_type")))
        .filter($"__rn" <= ceil($"__n" * 0.2)).drop("__rn", "__n")
        .select("event_id").as[Long].collect().toSet
    }
    val bucketedStrat = Sampling.stratifiedExact(ev, $"event_type", $"event_id", 0.2)
      .select("event_id").as[Long].collect().toSet
    assert(bucketedStrat == naiveStrat)

    val docs = Readers.table(spark, sf0001, "documents")
    val toks = size(graft.ops.TextStats.tokens($"text")).cast("long")
    val naiveBudget = {
      val w = Window.partitionBy(lit("s")).orderBy(xxhash64($"doc_id", lit("s")), $"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.withColumn("__tok", toks)
        .withColumn("__cum", coalesce(sum($"__tok").over(w), lit(0L)))
        .filter($"__cum" < 2000L)
        .select("doc_id").as[Long].collect().toSet
    }
    val bucketedBudget = Sampling.tokenBudget(Seq(("s", docs, 2000L)), $"doc_id", toks)
      .select("doc_id").as[Long].collect().toSet
    assert(bucketedBudget == naiveBudget)
  }

  // the JVM twin of the positional-fingerprint kernel (1-based position,
  // weight (pos % 64) + 1) — lets the tests state expected tie-break
  // orders independently of the Spark expression under test
  private def fpOf(s: String): Long =
    s.zipWithIndex.map { case (c, i) => c.toLong * (((i + 1) % 64) + 1) }.sum

  test("quality prune exact ≡ the naive per-language rank window, row for row") {
    import org.apache.spark.sql.expressions.Window
    // the boundary-group rewrite must keep the identical row set as the
    // per-language rank window it replaced (whole score groups classify
    // by their cumulative counts; only the one straddling group ranks).
    // Score ties break in the portable-hash order (fp%256, fp, id) of the
    // id-string fingerprint, so the naive window replays that order.
    val docs = Readers.table(spark, sf0001, "documents")
    def naiveOrder(idCol: org.apache.spark.sql.Column) = {
      val fp = graft.functions.TextFunctions.fingerprint(idCol.cast("string"))
      Seq($"quality_score".asc, pmod(fp, lit(256L)).asc, fp.asc, idCol.asc)
    }
    val naive = {
      val w = Window.partitionBy($"pred_lang").orderBy(naiveOrder($"doc_id"): _*)
      val wAll = Window.partitionBy($"pred_lang")
      ops.TextStats.withStats(docs)
        .withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter($"__rn" > floor($"__n" * 0.2))
        .select("doc_id").as[Long].collect().toSet
    }
    val got = ops.TextStats.qualityPrune(docs, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(got == naive)
    // the persist-once entry point (already-scored frame) keeps the set
    val statsCached = ops.TextStats.withStats(docs).cache()
    try {
      val viaStats = ops.TextStats.qualityPruneStats(statsCached, "doc_id", 0.2)
        .select("doc_id").as[Long].collect().toSet
      assert(viaStats == naive)
    } finally statsCached.unpersist()
    // all-ties corpus: every row shares one score, so the ENTIRE language
    // is the boundary group — the bucketed fingerprint rank must drop
    // exactly the floor(frac·n) first ids in (fp%256, fp, id) order
    val const = docs.select($"doc_id", lit("all docs share this text").as("text"))
    val n = const.count()
    val keptIds = ops.TextStats.qualityPrune(const, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    val expected = const.select("doc_id").as[Long].collect()
      .sortBy(id => (fpOf(id.toString) % 256, fpOf(id.toString), id))
      .drop(math.floor(n * 0.3).toInt).toSet
    assert(keptIds == expected)
    // the 256-way spread is REAL for dense sequential longs (the round-4
    // raw-id bucketing put every such id in bucket 0 — one sort task):
    // measured at execution time, not read off the plan
    val nBuckets = const
      .select(pmod(graft.functions.TextFunctions.fingerprint($"doc_id".cast("string")),
        lit(256L)).as("b"))
      .distinct().count()
    assert(nBuckets > 64, s"dense ids must spread over many buckets, got $nBuckets")
    // string-id corpus (URL-ish ids — the case the round-4 plan sent to a
    // single task): same all-ties equivalence, same portable order
    val surl = docs.select(
      concat(lit("https://example.com/doc/"), $"doc_id").as("url"),
      lit("all docs share this text").as("text"))
    val keptUrls = ops.TextStats.qualityPrune(surl, "url", 0.3)
      .select("url").as[String].collect().toSet
    val expectedUrls = surl.select("url").as[String].collect()
      .sortBy(u => (fpOf(u) % 256, fpOf(u), u))
      .drop(math.floor(n * 0.3).toInt).toSet
    assert(keptUrls == expectedUrls)
  }

  test("minhash → LSH → verify pairs ⊆ exact pairs; withStats, hashSplit keep every row") {
    val docsT = Readers.table(spark, sf0001, "documents")
    assert(TextStats.withStats(docsT).count() == docsT.count())
    val sig = Dedup.minhashSignatures(docsT, "doc_id", $"text", 3, 64)
    val lsh = Dedup.jaccardVerify(docsT, "doc_id", $"text", 3,
      Dedup.lshCandidates(sig, "doc_id", 16, 4), 0.2).select("id_a", "id_b")
    val exact = Dedup.ngramJaccardPairs(docsT, "doc_id", $"text", 3, 0.2, maxDf = Int.MaxValue)
      .select("id_a", "id_b")
    assert(lsh.count() > 0, "the fixture must yield LSH pairs for the subset check to mean anything")
    assert(lsh.exceptAll(exact).isEmpty, "an LSH-verified pair must be an exact pair at the same threshold")
    val ev = Readers.table(spark, sf0001, "events")
    val split = Sampling.hashSplit(ev, $"event_id", Seq("train" -> 0.9, "test" -> 0.1))
    assert(split.count() == ev.count())
    assert(split.select("split").distinct().count() == 2)
  }

  test("vec_dot on int8 (tinyint) arrays is the exact integer dot") {
    // Scala Array[Byte] would encode as BINARY; build array<tinyint> in SQL
    val got = spark.sql("SELECT array(1Y, -2Y, 3Y) AS a, array(4Y, 5Y, -6Y) AS b")
      .select(vec_dot($"a", $"b")).as[Double].head()
    assert(got == (4 - 10 - 18).toDouble)
  }

  test("incrementalDedup: exact dup beats near dup beats new; corpus never self-pairs") {
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (11L, "p q r s t u v w"),
      (12L, "completely unrelated words here now ok yes")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "a b c d e f g h"), // exact dup of 10
      (101L, "a b c d e f g X"), // near dup of 10 (shares most 3-grams)
      (102L, "nothing in common with anything else at all")).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, batch, "doc_id", $"text",
        n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq(
      (100L, "exact_dup", Some(10L)),
      (101L, "near_dup", Some(10L)),
      (102L, "new", None)))
  }

  test("incrementalDedupIndexed: persisted hash+band indexes classify identically to the live path") {
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (11L, "p q r s t u v w"),
      (12L, "completely unrelated words here now ok yes")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "a b c d e f g h"), // exact dup of 10
      (101L, "a b c d e f g X"), // near dup of 10
      (102L, "nothing in common with anything else at all")).toDF("doc_id", "text")
    val base = scratch("bandIdx").toString
    Dedup.writeBandIndex(corpus, "doc_id", $"text", s"$base/band",
      n = 3, numPerm = 64, numBands = 16, rowsPerBand = 4)
    val live = Dedup.incrementalDedup(corpus, batch, "doc_id", $"text",
      n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
    val idx = Dedup.incrementalDedupIndexed(
      Dedup.readIngestIndex(spark, s"$base/band", org.apache.spark.sql.types.LongType),
      batch, "doc_id", "text", threshold = 0.2)
    val liveRows = live.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    val idxRows = idx.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    live.unpersist(); idx.unpersist()
    assert(idxRows == liveRows, s"live $liveRows\nidx  $idxRows")
    assert(idxRows == Seq(
      (100L, "exact_dup", Some(10L)),
      (101L, "near_dup", Some(10L)),
      (102L, "new", None)))
  }

  test("incrementalDedupIndexed: append folds accepted docs in; hot bucket star-degrades via persisted hub") {
    val corpus = (1L to 30L).map(i => (i, s"common shared boilerplate tail here x$i"))
      .toDF("doc_id", "text") // every doc shares most 3-grams → one hot-ish cluster
    val base = scratch("bandIdxApp").toString
    Dedup.writeBandIndex(corpus, "doc_id", $"text", s"$base/band",
      n = 3, numPerm = 64, numBands = 16, rowsPerBand = 4)
    def index() = Dedup.readIngestIndex(spark, s"$base/band", org.apache.spark.sql.types.LongType)
    def classify(b: org.apache.spark.sql.DataFrame, maxBucket: Int = Dedup.DefaultMaxBucket) =
      Dedup.incrementalDedupIndexed(index(), b, "doc_id", "text", threshold = 0.2, maxBucket = maxBucket)
    // tight maxBucket forces the star path: a batch doc near-dup of the
    // hot cluster must still be found via the persisted min-id hub
    val b1 = Seq((200L, "common shared boilerplate tail here y200"),
      (201L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
    val c1 = classify(b1, maxBucket = 2)
    val r1 = c1.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    c1.unpersist()
    assert(r1.head == (200L, "near_dup", Some(1L)),
      s"hot-cluster near dup must resolve to the persisted hub: $r1")
    assert(r1(1) == (201L, "new", None), s"got $r1")
    // append doc 201 (the accepted new doc) and re-see its content
    Dedup.appendToBandIndex(spark, s"$base/band", b1.filter($"doc_id" === 201L), "doc_id", "text")
    val b2 = Seq((300L, "zz yy xx ww vv uu tt ss"),   // exact dup of appended 201
      (301L, "zz yy xx ww vv uu tt QQ")).toDF("doc_id", "text") // near dup of appended 201
    val c2 = classify(b2)
    val r2 = c2.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    c2.unpersist()
    assert(r2 == Seq((300L, "exact_dup", Some(201L)), (301L, "near_dup", Some(201L))), s"got $r2")
    // REPLAYED append (a retried ingest): the append must be idempotent
    // — duplicate shingle or hash rows would inflate Jaccard and fan out
    // the exact join
    def tableRows() = { val i = index(); (i.hashes.count(), i.shingles.count(), i.bands.count()) }
    val rowsBefore = tableRows()
    Dedup.appendToBandIndex(spark, s"$base/band", b1.filter($"doc_id" === 201L), "doc_id", "text")
    assert(tableRows() == rowsBefore, "a replayed batch double-inserted band-index rows")
    val c3 = classify(b2)
    val r3 = c3.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    c3.unpersist()
    assert(r3 == r2, s"classification changed after an append replay: $r3 vs $r2")
  }

  test("probeIngestIndex: live-path parity; excluding the batch's own partition reproduces the pre-append decision") {
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (11L, "p q r s t u v w"),
      (12L, "completely unrelated words here now ok yes")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "a b c d e f g h"), // exact dup of 10
      (101L, "a b c d e f g X"), // near dup of 10
      (102L, "nothing in common with anything else at all")).toDF("doc_id", "text")
    val base = scratch("ingestIdx").toString
    Dedup.initIngestIndex(spark, base, n = 3, numPerm = 64, numBands = 16,
      rowsPerBand = 4, expectedItems = 1000L)
    def idx() = Dedup.readIngestIndex(spark, base, org.apache.spark.sql.types.LongType)
    def probe(b: org.apache.spark.sql.DataFrame, exclude: Long) = {
      val r = Dedup.probeIngestIndex(idx(), b, "doc_id", "text",
        threshold = 0.2, excludeIngest = exclude)
      val rows = r.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
      r.unpersist()
      rows
    }
    // empty index (no appends yet): everything classifies new
    val r0 = probe(corpus, exclude = 0L)
    assert(r0.forall(_._2 == "new"), s"empty index must classify all new: $r0")
    Dedup.appendToIngestIndex(spark, base, corpus, "doc_id", "text", ingestId = 0L)
    val live = Dedup.incrementalDedup(corpus, batch, "doc_id", $"text",
      n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
    val liveRows = live.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    live.unpersist()
    val r1 = probe(batch, exclude = 1L)
    assert(r1 == liveRows, s"live $liveRows\ningest $r1")
    assert(r1 == Seq(
      (100L, "exact_dup", Some(10L)),
      (101L, "near_dup", Some(10L)),
      (102L, "new", None)))
    // crash replay: batch 1's survivor was already appended but the commit
    // was lost — the own-partition exclusion must reproduce the original
    // classification exactly (no self-dedup)
    Dedup.appendToIngestIndex(spark, base,
      batch.filter($"doc_id" === 102L), "doc_id", "text", ingestId = 1L)
    val r2 = probe(batch, exclude = 1L)
    assert(r2 == r1, s"replay classification changed after the batch's own append: $r2 vs $r1")
    // a LATER batch must see batch 1's appended survivor
    val b2 = Seq(
      (200L, "nothing in common with anything else at all"), // exact dup of appended 102
      (201L, "nothing in common with anything else at QQ")   // near dup of appended 102
    ).toDF("doc_id", "text")
    val r3 = probe(b2, exclude = 2L)
    assert(r3 == Seq((200L, "exact_dup", Some(102L)), (201L, "near_dup", Some(102L))),
      s"got $r3")
    // an all-duplicate batch appends ZERO survivors; the empty partition
    // must not disturb later classification
    Dedup.appendToIngestIndex(spark, base,
      b2.limit(0), "doc_id", "text", ingestId = 2L)
    assert(probe(b2, exclude = 3L) == r3, "empty append changed classification")
  }

  test("ingest index: hot bucket star-degrades via the indexed hub; append overwrite is replay-idempotent") {
    val corpus = (1L to 30L).map(i => (i, s"common shared boilerplate tail here x$i"))
      .toDF("doc_id", "text")
    val base = scratch("ingestHot").toString
    Dedup.initIngestIndex(spark, base, n = 3, numPerm = 64, numBands = 16,
      rowsPerBand = 4, expectedItems = 1000L)
    Dedup.appendToIngestIndex(spark, base, corpus, "doc_id", "text", ingestId = 0L)
    def probe(b: org.apache.spark.sql.DataFrame, exclude: Long, maxBucket: Int) = {
      val r = Dedup.probeIngestIndex(
        Dedup.readIngestIndex(spark, base, org.apache.spark.sql.types.LongType),
        b, "doc_id", "text", threshold = 0.2, excludeIngest = exclude,
        maxBucket = maxBucket)
      val rows = r.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
      r.unpersist()
      rows
    }
    // tight maxBucket forces the star path: a batch doc near-dup of the
    // hot cluster must resolve via the min-id hub computed from the index
    val b1 = Seq((200L, "common shared boilerplate tail here y200"),
      (201L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
    val r1 = probe(b1, exclude = 1L, maxBucket = 2)
    assert(r1 == Seq((200L, "near_dup", Some(1L)), (201L, "new", None)),
      s"hot-cluster near dup must resolve to the indexed hub: $r1")
    // replayed append (retried ingest) replaces its own write dirs —
    // duplicate shingle/size rows would inflate Jaccard
    Dedup.appendToIngestIndex(spark, base,
      b1.filter($"doc_id" === 201L), "doc_id", "text", ingestId = 1L)
    val shinglesOnce = Dedup.readIngestIndex(spark, base,
      org.apache.spark.sql.types.LongType).shingles.count()
    Dedup.appendToIngestIndex(spark, base,
      b1.filter($"doc_id" === 201L), "doc_id", "text", ingestId = 1L)
    assert(Dedup.readIngestIndex(spark, base,
      org.apache.spark.sql.types.LongType).shingles.count() == shinglesOnce,
      "a replayed append double-inserted index rows")
    // a later batch sees the appended doc through both exact and near paths
    val b2 = Seq((300L, "zz yy xx ww vv uu tt ss"),
      (301L, "zz yy xx ww vv uu tt QQ")).toDF("doc_id", "text")
    val r2 = probe(b2, exclude = 2L, maxBucket = Dedup.DefaultMaxBucket)
    assert(r2 == Seq((300L, "exact_dup", Some(201L)), (301L, "near_dup", Some(201L))),
      s"got $r2")
  }

  test("ingest index compaction: write dirs fold into the base; appends continue beside it") {
    val base = scratch("ingestCompact").toString
    Dedup.initIngestIndex(spark, base, n = 3, numPerm = 64, numBands = 16,
      rowsPerBand = 4, expectedItems = 1000L)
    def append(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Dedup.appendToIngestIndex(spark, base, df, "doc_id", "text", id)
    append(Seq((1L, "aa bb cc dd ee ff"), (2L, "gg hh ii jj kk ll")).toDF("doc_id", "text"), 0L)
    append(Seq((10L, "mm nn oo pp qq rr")).toDF("doc_id", "text"), 1L)
    append(Seq((20L, "ss tt uu vv ww xx")).toDF("doc_id", "text"), 2L)
    def probe(b: org.apache.spark.sql.DataFrame) = {
      val r = Dedup.probeIngestIndex(
        Dedup.readIngestIndex(spark, base, org.apache.spark.sql.types.LongType),
        b, "doc_id", "text", threshold = 0.2, excludeIngest = 99L)
      val rows = r.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
      r.unpersist()
      rows
    }
    // the batch each write dir of `tbl` holds, as the committed manifest names them
    def batches(tbl: String): Seq[Long] = {
      val m = IndexStore.latest(spark, base)
      m.tables.getOrElse(tbl, Nil).map(d => Dedup.ingestOf(m, d.dir))
    }
    val pb = Seq(
      (100L, "aa bb cc dd ee ff"),              // exact dup of 1 (ingest 0)
      (101L, "mm nn oo pp qq ZZ"),              // near dup of 10 (ingest 1)
      (102L, "totally different words entirely here ok")).toDF("doc_id", "text")
    val before = probe(pb)
    assert(before == Seq((100L, "exact_dup", Some(1L)), (101L, "near_dup", Some(10L)),
      (102L, "new", None)), s"got $before")
    Dedup.compactIngestIndex(spark, base)
    assert(batches("hashes") == Seq(-1L) && batches("shingles") == Seq(-1L) &&
      batches("bands") == Seq(-1L),
      s"compaction must fold every write dir into the base: ${batches("hashes")}")
    assert(probe(pb) == before, "classification changed after compaction")
    // appends continue after compaction, alongside the base partition
    append(Seq((30L, "yy zz ab cd ef gh")).toDF("doc_id", "text"), 3L)
    val pb2 = pb.unionByName(Seq((103L, "yy zz ab cd ef gh")).toDF("doc_id", "text"))
    val after = probe(pb2)
    assert(after == before :+ ((103L, "exact_dup", Some(30L))), s"got $after")
    assert(batches("hashes").sorted == Seq(-1L, 3L), s"got ${batches("hashes")}")
    // negative ingest ids are reserved for the base
    intercept[IllegalArgumentException] {
      append(Seq((40L, "zz zz zz")).toDF("doc_id", "text"), -1L)
    }
  }

  test("batch index compaction: hash/band/vec/paragraph appends fold to few files, probes classify identically") {
    val base = scratch("batchCompact").toString
    // a table's part files, as its committed manifest names them
    def partFiles(index: String, table: String): Int = IndexStore.latest(spark, index).files(table)

    // hash + band (text) — corpus write + two appends accumulate parts
    val corpus = Seq((10L, "a b c d e f g h"), (11L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    Dedup.writeHashIndex(corpus, "doc_id", "text", s"$base/hash", expectedItems = 100L)
    Dedup.writeBandIndex(corpus, "doc_id", $"text", s"$base/band",
      n = 3, numPerm = 64, numBands = 16, rowsPerBand = 4)
    for (d <- Seq((20L, "k l m n o p q r"), (21L, "z y x w v u t s"))) {
      Dedup.appendToHashIndex(spark, s"$base/hash", Seq(d).toDF("doc_id", "text"), "doc_id", "text")
      Dedup.appendToBandIndex(spark, s"$base/band", Seq(d).toDF("doc_id", "text"), "doc_id", "text")
    }
    val batch = Seq((100L, "a b c d e f g h"), (101L, "k l m n o p q X"),
      (102L, "totally different content here okay")).toDF("doc_id", "text")
    def classifyText() = {
      val r = Dedup.incrementalDedupIndexed(
        Dedup.readIngestIndex(spark, s"$base/band", org.apache.spark.sql.types.LongType),
        batch, "doc_id", "text", threshold = 0.2)
      val rows = r.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
      r.unpersist(); rows
    }
    val textBefore = classifyText()
    // the hash table's part files, as its committed manifest names them
    def hashFiles(): Int = partFiles(s"$base/hash", "hashes")
    assert(hashFiles() >= 3, "appends must have accumulated parts")
    Dedup.compactHashIndex(spark, s"$base/hash")
    Dedup.compactIngestIndex(spark, s"$base/band")
    assert(hashFiles() == 1, "hash table must fold to one file")
    assert(partFiles(s"$base/band", "shingles") == 1 && partFiles(s"$base/band", "bands") == 1,
      "band tables must fold to one file")
    assert(classifyText() == textBefore, "text classification changed after compaction")

    // vec — write + append, then compact
    def e(k: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(8)(i => if (i == k) scale else 0f)
    val vcorpus = Seq((1L, e(0)), (2L, e(1))).toDF("vec_id", "embedding")
    Dedup.writeVecIndex(vcorpus, "vec_id", "embedding", s"$base/vec",
      numPlanes = 8, dim = 8, expectedItems = 100L)
    Dedup.appendToVecIndex(spark, s"$base/vec",
      Seq((3L, e(2))).toDF("vec_id", "embedding"), "vec_id", "embedding")
    val vbatch = Seq((100L, e(2)), (101L, e(1, 2f)), (102L, e(4))).toDF("vec_id", "embedding")
    def classifyVec() = {
      val r = Dedup.incrementalSemanticIndexed(
        Dedup.readVecIngestIndex(spark, s"$base/vec", org.apache.spark.sql.types.LongType),
        vbatch, "vec_id", "embedding", 0.9)
      val rows = r.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
      r.unpersist(); rows
    }
    val vecBefore = classifyVec()
    assert(vecBefore == Seq((100L, "exact_dup", Some(3L)), (101L, "near_dup", Some(2L)),
      (102L, "new", None)), s"got $vecBefore")
    Dedup.compactVecIngestIndex(spark, s"$base/vec")
    assert(partFiles(s"$base/vec", "vecs") == 1 && partFiles(s"$base/vec", "hashes") == 1)
    assert(classifyVec() == vecBefore, "vec classification changed after compaction")

    // paragraph — write + append, then compact
    val pcorpus = Seq((1L, "alpha\nshared line"), (2L, "beta\nother")).toDF("doc_id", "text")
    Dedup.writeParagraphIndex(pcorpus, "doc_id", "text", s"$base/para", expectedItems = 100L)
    Dedup.appendToParagraphIndex(spark, s"$base/para",
      Seq((3L, "gamma\nmore")).toDF("doc_id", "text"), "doc_id", "text")
    val pbatch = Seq((100L, "shared line\ngamma\nfresh para")).toDF("doc_id", "text")
    def classifyPara() = {
      Dedup.incrementalParagraphIndexed(
        Dedup.readParagraphIndex(spark, s"$base/para"), pbatch, "doc_id", "text")
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
    }
    val paraBefore = classifyPara()
    assert(paraBefore == Seq((100L, "fresh para")), s"got $paraBefore")
    Dedup.compactParagraphIndex(spark, s"$base/para")
    assert(partFiles(s"$base/para", "paras") == 1)
    assert(classifyPara() == paraBefore, "paragraph dedup changed after compaction")
  }

  test("auto-compaction: appends past the part-file trigger fold in place; classification unchanged") {
    val base = scratch("autoCompact").toString
    // the hash table's part files and write dirs, as its committed
    // manifest names them
    def partFiles(): Int = IndexStore.latest(spark, s"$base/hash").files("hashes")
    def writeDirs(): Int = IndexStore.latest(spark, s"$base/hash").tables("hashes").size

    val corpus = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")
    Dedup.writeHashIndex(corpus, "doc_id", "text", s"$base/hash", expectedItems = 100L)
    val baselineFiles = partFiles()
    // appends below the trigger accumulate part files; the one that
    // crosses it folds the table automatically — no compact* call anywhere
    val trigger = baselineFiles + 3
    var i = 0L
    while (partFiles() < trigger - 1) {
      Dedup.appendToHashIndex(spark, s"$base/hash",
        Seq((100L + i, s"unique doc number $i body")).toDF("doc_id", "text"),
        "doc_id", "text", autoCompactAt = trigger)
      i += 1
    }
    val before = partFiles()
    assert(before >= trigger - 1 && before < trigger, s"drill setup: $before files")
    Dedup.appendToHashIndex(spark, s"$base/hash",
      Seq((999L, "the crossing append body")).toDF("doc_id", "text"),
      "doc_id", "text", autoCompactAt = trigger)
    val after = partFiles()
    assert(after < trigger, s"append past the trigger must fold the table, got $after files")
    assert(writeDirs() == 1, "the fold must commit the table as one rewritten dir")
    // every appended doc still classifies exact_dup against the folded table
    val batch = ((0L until i).map(k => (5000L + k, s"unique doc number $k body")) :+
      ((9000L, "the crossing append body")) :+ ((9001L, "never seen before text")))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalExactIndexed(
      Dedup.readHashIndex(spark, s"$base/hash"), batch, "doc_id", "text")
    val rows = r.as[(Long, String, Option[Long])].collect()
    r.unpersist()
    assert(rows.count(_._2 == "exact_dup") == i + 1,
      s"every pre-fold append must survive the fold: $rows")
    assert(rows.filter(_._1 == 9001L).head._2 == "new")
    // autoCompactAt = 0 disables: the next append accumulates again
    Dedup.appendToHashIndex(spark, s"$base/hash",
      Seq((1000L, "another unique body")).toDF("doc_id", "text"),
      "doc_id", "text", autoCompactAt = 0)
    assert(partFiles() > after, "autoCompactAt=0 must not fold")
  }

  test("exactQuantiles: histogram refinement matches the sorted ground truth at every edge") {
    // deterministic mixed fixture: pseudo-random spread, a heavy tie run,
    // negatives, and near-extreme longs (exercises the BigInt width path)
    val vals: Seq[Long] = (1 to 1000).map(i => ((i * 2654435761L) % 10007L) - 5000L) ++
      Seq.fill(50)(42L) ++ Seq(Long.MinValue + 5, Long.MaxValue - 3)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val sorted = vals.sorted
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = Quantiles.exactQuantiles(df, "v", qs)
      .orderBy("q").as[(Double, Long, Long)].collect().toSeq
    assert(got.map(_._1) == qs.sorted)
    got.foreach { case (q, rank, value) =>
      val expRank = (BigDecimal.valueOf(q) * BigDecimal(vals.size))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLong.max(1L)
      assert(rank == expRank, s"q=$q rank $rank != $expRank")
      assert(value == sorted((rank - 1).toInt),
        s"q=$q rank=$rank got $value expected ${sorted((rank - 1).toInt)}")
    }
    // tiny bucket count forces the maximum round count — same answers
    val coarse = Quantiles.exactQuantiles(df, "v", Seq(0.5), buckets = 2)
      .select("value").as[Long].head()
    assert(coarse == sorted((got.find(_._1 == 0.5).get._2 - 1).toInt))
    // constant column: bounds collapse, zero refinement rounds
    val const = (1 to 100).map(i => (i.toLong, 7L)).toDF("id", "v")
    assert(Quantiles.exactQuantiles(const, "v", Seq(0.5))
      .select("value").as[Long].head() == 7L)
    // empty input: empty result, no throw
    assert(Quantiles.exactQuantiles(df.filter(lit(false)), "v", Seq(0.5)).isEmpty)
    // rank API: direct k-th smallest
    assert(Quantiles.exactRankValues(df, "v", Seq(1L, vals.size.toLong)) ==
      Seq(1L -> sorted.head, vals.size.toLong -> sorted.last))
  }

  test("duplicationWeightsLsh: planted-copy clusters weight identically to the exact arm") {
    def doc(prefix: String, n: Int): String = (1 to n).map(i => f"$prefix$i%02d").mkString(" ")
    // three identical-copy clusters (sizes 3, 2, 1) + a near pair
    val docs = Seq(
      (1L, doc("a", 12)), (2L, doc("a", 12)), (3L, doc("a", 12)),
      (10L, doc("b", 12)), (11L, doc("b", 12)),
      (20L, doc("c", 12)),
      (30L, doc("d", 12)), (31L, doc("d", 11) + " zz")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    val exact = rows(Dedup.duplicationWeights(docs, "doc_id", $"text", n = 3, threshold = 0.2))
    val lsh = rows(Dedup.duplicationWeightsLsh(docs, "doc_id", $"text", n = 3,
      numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2))
    assert(lsh == exact, s"exact $exact\nlsh   $lsh")
    assert(exact.filter(_._1 <= 3L).forall(r => r._2 == 3L && r._3 == 0.3333))
    assert(exact.find(_._1 == 20L).get._2 == 1L)
    assert(exact.find(_._1 == 30L).get._2 == 2L, "the near pair must cluster in both arms")
  }

  test("audioHash64: invariant to integer volume scaling and silence padding; WAV PCM roundtrip is exact") {
    // deterministic "loud" waveform per class: every sample magnitude ≥ 9
    // (strictly above the silence threshold, so trim bounds cannot shift
    // between a signal and its 2× copy), alternating sign for texture
    def sig(cls: Long, n: Int): Seq[Int] = (0 until n).map { i =>
      (1 - 2 * (i % 2)) * (9 + ((i * 73L + cls * 7919L + i.toLong * i * 31L + i * cls * 101L) % 1980L)).toInt
    }
    val rows = (0L until 6L).flatMap { cls =>
      val base = sig(cls, 320)
      Seq(
        (cls * 10L, base),                                             // base
        (cls * 10L + 1L, base.map(_ * 2)),                             // 2× volume
        (cls * 10L + 2L, Seq.fill(40)(0) ++ base ++ Seq.fill(40)(0)))  // silence-padded
    }
    val df = rows.toDF("media_id", "samples")
    val hashes = df.select($"media_id", Multimodal.audioHash64($"samples").as("h"))
      .as[(Long, Long)].collect().toMap
    (0L until 6L).foreach { cls =>
      assert(hashes(cls * 10L) == hashes(cls * 10L + 1L),
        s"class $cls: 2x volume must be hash-invariant")
      assert(hashes(cls * 10L) == hashes(cls * 10L + 2L),
        s"class $cls: silence padding must be hash-invariant")
    }
    // distinct classes stay far apart (no accidental near-pairs)
    val byClass = (0L until 6L).map(c => hashes(c * 10L))
    for (a <- byClass.indices; b <- byClass.indices if a < b)
      assert(java.lang.Long.bitCount(byClass(a) ^ byClass(b)) > 8,
        s"classes $a/$b unexpectedly close")
    // degenerate streams: all-silent and empty hash to 0
    assert(Seq((0L, Seq.fill(100)(3)), (1L, Seq.empty[Int])).toDF("media_id", "samples")
      .select(Multimodal.audioHash64($"samples")).as[Long].collect().toSeq == Seq(0L, 0L))
    // the pair machinery finds exactly the planted trios
    val pairs = Multimodal.audioNearDupPairs(df, "media_id", $"samples", maxDist = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val want = (0L until 6L).flatMap(c =>
      Seq((c * 10L, c * 10L + 1L), (c * 10L, c * 10L + 2L), (c * 10L + 1L, c * 10L + 2L))).toSet
    assert(pairs == want, s"got ${pairs.toSeq.sorted}")
    // WAV roundtrip: encode 16-bit PCM, decode via the chunk walker, hash
    // over the decoded stream equals the direct hash
    val wav = rows.map { case (id, s) =>
      Multimodal.MediaRecord(id, "wav",
        Multimodal.MediaCodec.wavBytesPcm16(8000, s.map(_.toShort).toArray), "synth")
    }
    assert(wav.forall(r => Multimodal.MediaCodec.pcm16(r).toSeq ==
      rows.find(_._1 == r.media_id).get._2), "PCM roundtrip must be sample-exact")
    val decodedHashes = Multimodal.pcmAll(spark, spark.createDataFrame(wav))
      .select($"media_id", Multimodal.audioHash64($"samples").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(decodedHashes == hashes, "hash over decoded WAV must equal the direct hash")
    // non-WAV bytes degrade to an empty stream (hash 0), never throw
    assert(Multimodal.MediaCodec.pcm16(
      Multimodal.MediaRecord(99L, "bmp", Multimodal.MediaCodec.bmpBytes(4, 4), "synth"))
      .isEmpty)
  }

  test("audio gated pairs: coarse key shares the kernel invariances; gated = ungated on planted twins") {
    def sig(cls: Long, n: Int): Seq[Int] = (0 until n).map { i =>
      (1 - 2 * (i % 2)) * (9 + ((i * 73L + cls * 7919L + i.toLong * i * 31L + i * cls * 101L) % 1980L)).toInt
    }
    // mostly-singleton population (the crawl shape): 20 unique streams of
    // varied length, plus 3 planted twin families (2x volume + padded)
    val singles = (100L until 120L).map(c => (c, sig(c, 280 + (c % 7).toInt * 16)))
    val twins = (0L until 3L).flatMap { cls =>
      val base = sig(cls, 320)
      Seq((cls * 10L, base), (cls * 10L + 1L, base.map(_ * 2)),
        (cls * 10L + 2L, Seq.fill(40)(0) ++ base ++ Seq.fill(40)(0)))
    }
    val df = (singles ++ twins).toDF("media_id", "samples")
    // the coarse key is exactly invariant to the pad/scale transforms
    val keys = df.select($"media_id", Multimodal.audioCoarseKey64($"samples").as("k"))
      .as[(Long, Long)].collect().toMap
    (0L until 3L).foreach { cls =>
      assert(keys(cls * 10L) == keys(cls * 10L + 1L), s"class $cls: 2x volume moved the key")
      assert(keys(cls * 10L) == keys(cls * 10L + 2L), s"class $cls: padding moved the key")
    }
    // degenerate streams key to 0 like they hash to 0
    assert(Seq((0L, Seq.fill(50)(2)), (1L, Seq.empty[Int])).toDF("media_id", "samples")
      .select(Multimodal.audioCoarseKey64($"samples")).as[Long].collect().toSeq == Seq(0L, 0L))
    // gated result = ungated result on the planted fixture
    def pairs(f: => org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      f.select($"id_a", $"id_b", $"hamming".cast("long")).as[(Long, Long, Long)].collect().toSet
    val ungated = pairs(Multimodal.audioNearDupPairs(df, "media_id", $"samples", maxDist = 2))
    val gated = pairs(Multimodal.audioNearDupPairsGated(df, "media_id", $"samples", maxDist = 2))
    assert(ungated == (0L until 3L).flatMap(c => Seq(
      (c * 10L, c * 10L + 1L, 0L), (c * 10L, c * 10L + 2L, 0L),
      (c * 10L + 1L, c * 10L + 2L, 0L))).toSet, s"fixture drifted: $ungated")
    assert(gated == ungated, s"gated must find every planted pair: $gated vs $ungated")
  }

  test("pHash64: column-stripe noise flips dHash in every class; the DC-cropped DCT hash never moves") {
    // 16×16 images (1:1 with the DCT grid): base = dense pseudo-random
    // texture in [60, 100) (dense spectrum → the 64 kept coefficients
    // are well separated from the median, no knife edges); noisy twin
    // adds ±30 alternating by COLUMN parity — a separable single-axis
    // pattern, which projects only onto the v = 0 coefficient column
    // that the DC-cropped hash excludes (up to the ≤8-unit rounding
    // orthogonality sum), while flipping dHash's horizontal orderings
    // wherever adjacent sampled columns have opposite stripe sign.
    // Empirical separation across all 105 classes: pHash hamming ≡ 0,
    // dHash hamming ∈ [4, 12].
    val fixtures = (1 to 105).map { s =>
      def lum(x: Int, y: Int): Int = 60 + ((x * 73 + y * 151 + s * 7919 + x * y * 31) % 997) % 40
      def px(noise: Boolean): Seq[Int] = (0 until 256).flatMap { i =>
        val (x, y) = (i % 16, i / 16)
        val v = lum(x, y) + (if (noise) 30 * (if ((x & 1) == 0) 1 else -1) else 0)
        Seq(v, v, v)
      }
      (s, px(noise = false), px(noise = true))
    }
    val df = fixtures.flatMap { case (s, b, n) =>
      Seq((s.toLong * 2, b), (s.toLong * 2 + 1, n))
    }.toDF("media_id", "px")
    val hashes = df.select(col("media_id"),
        Multimodal.pHash64(col("px"), 16, 16).as("p"),
        Multimodal.dHash64(col("px"), 16, 16).as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (1 to 105).foreach { s =>
      val (pb, db) = hashes(s * 2L)
      val (pn, dn) = hashes(s * 2L + 1)
      val hp = java.lang.Long.bitCount(pb ^ pn)
      val hd = java.lang.Long.bitCount(db ^ dn)
      assert(hp == 0, s"class $s: pHash hamming $hp != 0 under stripe noise")
      assert(hd > 2, s"class $s: dHash hamming $hd <= 2 — the fixture lost its bite")
    }
    // through the chunk-bucketed pair machinery: the DCT arm catches
    // every planted pair, the gradient arm misses every one
    val planted = (1 to 105).map(s => (s * 2L, s * 2L + 1)).toSet
    val pairsP = Multimodal.imageNearDupPairsPHash(df, "media_id", col("px"),
        16, 16, maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairsD = Multimodal.imageNearDupPairsDHash(df, "media_id", col("px"),
        16, 16, maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(planted.subsetOf(pairsP),
      s"pHash arm missed planted pairs: ${(planted -- pairsP).take(5)}")
    assert(planted.intersect(pairsD).isEmpty,
      s"dHash arm should miss every noisy twin: ${planted.intersect(pairsD).take(5)}")
  }

  test("soft dedup: cluster sizes and 1/k weights; the sampled arm equals the per-id coin") {
    val a = "aa bb cc dd ee ff gg hh"
    val b = "pp qq rr ss tt uu vv ww"
    val docs = Seq(
      (1L, a), (2L, a), (3L, a),                      // exact triplet → k = 3
      (10L, b), (11L, "pp qq rr ss tt uu vv XX"),     // near pair → k = 2
      (20L, "totally unrelated words entirely here")  // singleton → k = 1
    ).toDF("doc_id", "text")
    val w = Dedup.duplicationWeights(docs, "doc_id", $"text", n = 3, threshold = 0.2)
    val rows = w.orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(rows == Seq(
      (1L, 3L, 0.3333), (2L, 3L, 0.3333), (3L, 3L, 0.3333),
      (10L, 2L, 0.5), (11L, 2L, 0.5),
      (20L, 1L, 1.0)), s"got $rows")
    // the sampled arm is exactly the coin filter over the weights frame
    val sampled = Dedup.softDedupSample(docs, "doc_id", $"text", n = 3, threshold = 0.2)
      .select("doc_id").as[Long].collect().toSet
    val coin = w.filter(Dedup.softDedupKeep(col("doc_id"), col("cluster_size")))
      .select("doc_id").as[Long].collect().toSet
    assert(sampled == coin, s"sampled $sampled != coin $coin")
    assert(sampled.contains(20L), "a singleton's rate is 1.0 — it must always survive")
    // expected-one-per-cluster at scale: a 400-copy cluster keeps ~1 doc
    // (deterministic — the coin is a fixed function of the ids)
    val big = (1L to 400L).map(i => (i, "same text body repeated verbatim ok fine"))
      .toDF("doc_id", "text")
    val keptBig = Dedup.softDedupSample(big, "doc_id", $"text", n = 3, threshold = 0.2).count()
    assert(keptBig >= 1 && keptBig <= 5,
      s"a 400-copy cluster at rate 1/400 kept $keptBig docs — coin badly biased")
  }

  test("incrementalDedup: over-cap corpus hash index degrades to merge, never broadcast-builds") {
    // the corpus hash index is the only broadcastable side of the exact
    // left join (batch preserved) — with a checkpoint-backed corpus its
    // size estimate collapses and a static broadcast would ship the whole
    // index at scale. Past the batch cap (0 here) the exact join merges
    // both sides; within it the index scan is cut to the batch's keys.
    // Results must be identical either way.
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (11L, "p q r s t u v w")).toDF("doc_id", "text").localCheckpoint()
    val batch = Seq(
      (100L, "a b c d e f g h"),
      (102L, "nothing in common with anything else at all")).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, batch, "doc_id", $"text",
      n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2,
      batchBroadcastCap = 0L)
    val plan = got.queryExecution.executedPlan.toString
    val rows = got.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    got.unpersist()
    assert(rows == Seq((100L, "exact_dup", Some(10L)), (102L, "new", None)))
    // the exact stage is the only one that joins on the content hash __h
    val bxHeads = Profile.broadcastHeads(plan)
    assert(plan.contains("SortMergeJoin") && !bxHeads.exists(_.contains("__h")),
      s"over-cap exact join must merge, never broadcast-build:\n$plan")
    val underCap = Dedup.incrementalDedup(corpus, batch, "doc_id", $"text",
      n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
    assert(underCap.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq == rows)
    underCap.unpersist()
  }

  test("quantizedTopK: int8 candidates + exact rerank reproduce brute-force top-k") {
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val exact = Similarity.bruteForceTopK(queries, "query_id", "qvec",
        emb, "vec_id", "embedding", k = 5)
      .select("query_id", "vec_id", "cosine_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val quant = Similarity.quantizedTopK(queries, "query_id", "qvec",
        emb, "vec_id", "embedding", k = 5, candMult = 4)
      .select("query_id", "vec_id", "cosine_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // exact rerank means every shared (query, vec) pair scores identically;
    // recall of the int8 candidate stage is ≥ 0.9 on this fixture
    val overlap = quant.map(t => (t._1, t._2)).intersect(exact.map(t => (t._1, t._2)))
    assert(overlap.size >= (exact.size * 0.9).toInt, s"recall too low: ${overlap.size}/${exact.size}")
    assert(quant.size == exact.size)
  }

  test("quantizeInt8: codes within [-127,127], max-|x| coordinate maps to ±127") {
    val df = Seq((Array(0.5f, -1.0f, 0.25f), 1)).toDF("v", "one")
    val got = df.select(Similarity.quantizeInt8($"v").as("q"))
      .select($"q.q".cast("array<int>").as[Seq[Int]], $"q.s".as[Double]).head()
    assert(got._1 == Seq(64, -127, 32))
    assert(math.abs(got._2 - 1.0 / 127.0) < 1e-12)
  }

  test("components: chained pairs collapse to one cluster labeled by min id") {
    // path graph 1-2-3-4-5 (diameter 4, exercises multi-round propagation)
    // plus a separate pair {8,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("id_a", "id_b")
    val got = Dedup.components(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("components: star contraction collapses a 1000-edge chain within default maxIter") {
    // min-label propagation needs O(diameter)=1000 rounds here and threw;
    // large-star/small-star needs O(log n) ≈ 10
    val chain = (1L to 1001L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("id_a", "id_b")
    val got = Dedup.components(chain)
    assert(got.count() == 1001L)
    assert(got.select("comp").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  test("components equals a driver-side union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2)
    val parent = scala.collection.mutable.Map((0L until 120L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inGraph = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expected = inGraph.map(i => i -> find(i)).toMap
    val got = Dedup.components(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("components: throws rather than returning split clusters when maxIter is too small") {
    // a 5-node path needs 2 contraction rounds; with the round-16 star-set
    // convergence check (detected on the producing round, no confirm round)
    // maxIter = 1 stops after round 0's non-star output and must throw
    val chain = (1L to 5L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.components(chain, maxIter = 1).collect()
    }
  }

  test("components: exhaustive over every 4-node graph + random 8-node graphs ≡ union-find") {
    // pins the round-16 star-set convergence check: for EVERY edge subset
    // of the 4-node complete graph (64 graphs — includes the flat-but-not-
    // function shapes like {(3,1),(3,2)} where a satellite has two centers)
    // and 40 seeded random 8-node graphs, components() must converge within
    // the default maxIter AND match a driver-side union-find exactly
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.map(i => i -> find(i)).toMap
    }
    val allPairs4 = (for { a <- 1L to 4L; b <- (a + 1L) to 4L } yield (a, b)).toSeq
    val exhaustive4 = (1 until (1 << allPairs4.size)).map { mask =>
      allPairs4.zipWithIndex.collect { case (p, i) if (mask & (1 << i)) != 0 => p }
    }
    val rnd = new scala.util.Random(16)
    val random8 = Seq.fill(40) {
      Seq.fill(2 + rnd.nextInt(10))((rnd.nextInt(8) + 1L, rnd.nextInt(8) + 1L))
        .filter(p => p._1 != p._2)
    }.filter(_.nonEmpty)
    (exhaustive4 ++ random8).foreach { pairs =>
      val got = Dedup.components(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(pairs), s"pairs=$pairs")
    }
  }

  test("quantizedTopK: same column names on both sides (queries ⊂ corpus) work") {
    val queries = emb.filter($"vec_id" < 3).withColumnRenamed("vec_id", "query_id")
    val got = Similarity.quantizedTopK(queries, "query_id", "embedding",
      emb, "vec_id", "embedding", k = 3)
    assert(got.count() == 3 * 3)
    assert(got.columns.toSeq == Seq("query_id", "vec_id", "cosine_sim", "rank"))
  }

  test("scd2 fromHistory: compresses no-change records and chains valid_to") {
    val hist = Seq(
      (1L, 10L, "A"), (1L, 20L, "A"), (1L, 30L, "B"), (1L, 40L, "A"),
      (2L, 10L, "X")
    ).toDF("uid", "ts", "state")
    val got = Scd.fromHistory(hist, Seq("uid"), "ts", Seq("state"))
      .orderBy("uid", "valid_from")
      .select("uid", "state", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, "A", 10L, Some(30L), false), // the 20L re-statement opens no version
      (1L, "B", 30L, Some(40L), false),
      (1L, "A", 40L, None, true),
      (2L, "X", 10L, None, true)))
  }

  test("scd2 merge: no broadcast hint — a whole-dimension batch plans as shuffle joins") {
    // with autoBroadcastJoinThreshold=-1 ONLY a hint can force a broadcast;
    // a backfill batch touching every key must not drive 10⁸ keys through
    // the driver, so the plan must contain no BroadcastHashJoin
    // restore-by-UNSET when a key was not set before: reading the prior
    // value with a "-1" default and "restoring" it wrote an EXPLICIT -1
    // into the shared session, silently disabling AQE broadcast
    // conversion for every test that ran after this one (caught in round
    // 15 when the composed-sweep plan assertion saw a SortMergeJoin
    // in-suite but a broadcast standalone)
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val full = events.select($"user_id", $"ts", $"event_type")
      val dim = Scd.fromHistory(full.filter($"ts" < "2024-01-10"), Seq("user_id"), "ts", Seq("event_type"))
      val merged = Scd.merge(dim, full, Seq("user_id"), "ts", Seq("event_type"))
      merged.count() // force AQE final plan
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"merge must not hint a broadcast of the changed-key set:\n$plan")
    } finally {
      def restore(key: String, v: Option[String]): Unit = v match {
        case Some(x) => spark.conf.set(key, x)
        case None => spark.conf.unset(key)
      }
      restore("spark.sql.autoBroadcastJoinThreshold", prev)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("scd2 merge of an append-only batch equals fromHistory of the full history") {
    val full = events.select($"user_id", $"ts", $"event_type")
    val cutoff = "2024-01-15"
    val dim = Scd.fromHistory(full.filter($"ts" < cutoff), Seq("user_id"), "ts", Seq("event_type"))
    val merged = Scd.merge(dim, full.filter($"ts" >= cutoff), Seq("user_id"), "ts", Seq("event_type"))
    val direct = Scd.fromHistory(full, Seq("user_id"), "ts", Seq("event_type"))
    assert(merged.count() == direct.count())
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("scd2 repairLate: a late change splits a change-compressed span correctly") {
    // history A@10, A@30 compresses to ONE version [10,∞); late B@20 must
    // split it into A[10,20) B[20,30) A[30,∞) — the A@30 row no longer
    // exists in the dim, so only a raw-history replay can get this right
    val raw = Seq((1L, 10L, "A"), (1L, 30L, "A")).toDF("uid", "ts", "state")
    val dim = Scd.fromHistory(raw, Seq("uid"), "ts", Seq("state"))
    assert(dim.count() == 1) // compressed
    val late = Seq((1L, 20L, "B")).toDF("uid", "ts", "state")
    val got = Scd.repairLate(dim, raw, late, Seq("uid"), "ts", Seq("state"))
      .orderBy("valid_from")
      .select("state", "valid_from", "valid_to", "is_current")
      .as[(String, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      ("A", 10L, Some(20L), false),
      ("B", 20L, Some(30L), false),
      ("A", 30L, None, true)))
  }

  test("scd2 repairLate equals a full rebuild for any late slice; untouched keys unread") {
    val full = events.select($"user_id", $"ts", $"event_id", $"event_type")
    val late = full.filter($"event_id" % 17 === 3)
    val onTime = full.filter($"event_id" % 17 =!= 3)
    val dim = Scd.fromHistory(onTime, Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"))
    val repaired = Scd.repairLate(dim, onTime, late,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"))
    val direct = Scd.fromHistory(full, Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"))
    assert(repaired.count() == direct.count())
    assert(repaired.exceptAll(direct).isEmpty && direct.exceptAll(repaired).isEmpty)
  }

  test("cms frequency estimates never undercount and stay within eps·N") {
    val toks = docs.select(explode(TextStats.tokens($"text")).as("term")).persist()
    val n = toks.count()
    val cms = Frequency.sketch(toks, $"term", eps = 1e-3, confidence = 0.99, seed = 7)
    val exact = toks.groupBy("term").count().as[(String, Long)].collect()
    toks.unpersist()
    val slack = math.ceil(1e-3 * n).toLong
    exact.foreach { case (term, cnt) =>
      val est = cms.estimateCount(term)
      assert(est >= cnt, s"CMS undercounted '$term': $est < $cnt")
      assert(est <= cnt + slack, s"'$term' estimate $est exceeds $cnt + $slack")
    }
  }

  test("cms merged day-sketches equal the whole-corpus sketch estimates") {
    val a = docs.filter($"doc_id" % 2 === 0).select(explode(TextStats.tokens($"text")).as("term"))
    val b = docs.filter($"doc_id" % 2 === 1).select(explode(TextStats.tokens($"text")).as("term"))
    val whole = docs.select(explode(TextStats.tokens($"text")).as("term"))
    val m = Frequency.merged(Seq(
      Frequency.sketch(a, $"term"), Frequency.sketch(b, $"term")))
    val w = Frequency.sketch(whole, $"term")
    Seq("the", "a", "data").foreach(t => assert(m.estimateCount(t) == w.estimateCount(t)))
  }

  test("packing concatChunk: exact hand-computed spans, straddle splits across sequences") {
    val docs = Seq((1L, 4), (2L, 5), (3L, 3), (4L, 8)).toDF("id", "t")
    val got = Packing.concatChunk(docs, "id", $"t", budget = 10, shards = 1,
        shardBy = Some(lit(0)), orderBy = Some($"id"))
      .orderBy("seq_id", "start_in_seq")
      .select("id", "seq_id", "start_in_seq", "end_in_seq")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // stream offsets: 1→[0,4) 2→[4,9) 3→[9,12) 4→[12,20)
    assert(got == Seq(
      (1L, 0L, 0L, 4L), (2L, 0L, 4L, 9L), (3L, 0L, 9L, 10L),
      (3L, 1L, 0L, 2L), (4L, 1L, 2L, 10L)))
  }

  test("packing invariants on the corpus: full sequences are exactly budget, docs fully covered") {
    val packed = Packing.concatChunk(docs, "doc_id",
      size(TextStats.tokens($"text")), budget = 256, shards = 4).persist()
    val perSeq = packed.groupBy("shard", "seq_id")
      .agg(sum($"end_in_seq" - $"start_in_seq").as("filled"), max("seq_id").as("sid"))
    val lastSeq = packed.groupBy("shard").agg(max("seq_id").as("last_sid"))
    val nonLastUnderfilled = perSeq.join(lastSeq, Seq("shard"))
      .filter($"sid" =!= $"last_sid" && $"filled" =!= 256).count()
    assert(nonLastUnderfilled == 0, "every non-final sequence must be exactly budget tokens")
    // every doc's slices add up to its token count (no token lost or duplicated)
    val uncovered = packed.groupBy("doc_id", "n_tokens")
      .agg(sum($"end_in_seq" - $"start_in_seq").as("covered"))
      .filter($"covered" =!= $"n_tokens").count()
    assert(uncovered == 0)
    packed.unpersist()
  }

  test("qualityPrune: frac=0 keeps everything; pruning drops the per-language low end") {
    assert(TextStats.qualityPrune(docs, "doc_id", 0.0).count() == docs.count())
    val pruned = TextStats.qualityPrune(docs, "doc_id", 0.5)
    assert(pruned.count() < docs.count())
    // within each language, every kept score >= every dropped score
    val all = TextStats.withStats(docs).select($"doc_id", $"pred_lang", $"quality_score")
    val dropped = all.join(pruned.select("doc_id"), Seq("doc_id"), "left_anti")
    val minKept = pruned.groupBy("pred_lang").agg(min("quality_score").as("mn"))
    val bad = dropped.join(minKept, Seq("pred_lang"))
      .filter($"quality_score" > $"mn").count()
    assert(bad == 0, "a dropped doc outscored a kept doc in the same language")
  }

  test("dedupCorpusExact keeps exactly one canonical doc per near-dup cluster") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // clone of 1
      (3L, "alpha beta gamma delta zeta"),    // near-dup of 1/2
      (4L, "totally different text entirely here")
    ).toDF("id", "text")
    val kept = Dedup.dedupCorpusExact(df, "id", $"text", n = 3, threshold = 0.4)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("dedupCorpusKeepBest elects the argmax-quality member, min id on ties") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon", 5.0),
      (2L, "alpha beta gamma delta epsilon", 9.0), // clone of 1, best quality
      (3L, "alpha beta gamma delta zeta", 7.0),    // near-dup of 1/2
      (4L, "totally different text entirely here", 1.0)
    ).toDF("id", "text", "q")
    val kept = Dedup.dedupCorpusKeepBest(df, "id", $"text", $"q", n = 3, threshold = 0.4)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), "cluster {1,2,3} must keep the quality-9 member, not min id")
    // tie on quality -> min id wins (coincides with keep-first)
    val tied = df.withColumn("q", lit(3.0))
    val keptTied = Dedup.dedupCorpusKeepBest(tied, "id", $"text", $"q", n = 3, threshold = 0.4)
      .select("id").as[Long].collect().toSet
    assert(keptTied == Set(1L, 4L))
    // an UNSCORED member (null quality) must never beat a scored one —
    // struct-min alone would elect it (nulls sort first in an ASC struct)
    val withNull = df.withColumn("q", when($"id" === 1L, lit(null).cast("double"))
      .otherwise($"q"))
    val keptNull = Dedup.dedupCorpusKeepBest(withNull, "id", $"text", $"q", n = 3, threshold = 0.4)
      .select("id").as[Long].collect().toSet
    assert(keptNull == Set(2L, 4L), "null-quality member elected canonical over quality 9")
    // all-null cluster degrades to keep-first
    val allNull = df.withColumn("q", lit(null).cast("double"))
    val keptAllNull = Dedup.dedupCorpusKeepBest(allNull, "id", $"text", $"q", n = 3, threshold = 0.4)
      .select("id").as[Long].collect().toSet
    assert(keptAllNull == Set(1L, 4L))
  }

  test("semanticOverlaps: bucketed candidates are a subset of the exact arm " +
      "and self-matches always surface; over-cap guards throw") {
    val bench = emb.filter($"vec_id" % 41 === 0)
      .select(($"vec_id" + 1000000L).as("bench_id"), $"embedding")
    val exact = Decontaminate.semanticOverlaps(emb, "vec_id", "embedding",
        bench, "bench_id", "embedding", threshold = 0.8, exact = true)
      .select($"corpus_id", $"bench_id").persist()
    val bucketed = Decontaminate.semanticOverlaps(emb, "vec_id", "embedding",
        bench, "bench_id", "embedding", threshold = 0.8, numPlanes = 4)
      .select($"corpus_id", $"bench_id").persist()
    // candidates only prune; scored pairs carry exact cosines, so every
    // bucketed flag must also be an exact flag
    assert(bucketed.join(exact, Seq("corpus_id", "bench_id"), "left_anti").isEmpty)
    // each bench vector's corpus original shares its bucket (identical
    // vector -> identical signs), so self-matches never depend on recall
    val selfPairs = bucketed.filter($"corpus_id" + 1000000L === $"bench_id").count()
    assert(selfPairs == bench.count(), "every re-labeled bench vector must flag its original")
    exact.unpersist(); bucketed.unpersist()
    // exact mode refuses an over-cap bench instead of going quadratic
    intercept[IllegalArgumentException] {
      Decontaminate.semanticOverlaps(emb, "vec_id", "embedding",
        bench, "bench_id", "embedding", threshold = 0.8, exact = true,
        benchBroadcastCap = 1L).count()
    }
    // over-cap bucketed arm demands enough planes to bound bucket fan-out
    intercept[IllegalArgumentException] {
      Decontaminate.semanticOverlaps(emb, "vec_id", "embedding",
        bench, "bench_id", "embedding", threshold = 0.8, numPlanes = 8,
        benchBroadcastCap = 1L).count()
    }
  }

  test("Bpe.train: frequency-ordered merges, overlap counting, greedy rewrite, early exhaustion") {
    val df = Seq("aa aa ab").toDF("text")
    val got = Bpe.train(df, $"text", numMerges = 6)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1, "a", "a", 2L), (2, "a", "b", 1L)),
      "merge 1 = most frequent pair; exhaustion stops training at 2 rows")
    // overlapping occurrences all count, and merged symbols re-pair next round
    val tri = Seq("aaa").toDF("text")
    val gotTri = Bpe.train(tri, $"text", numMerges = 6)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(gotTri == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
    // counting with the learned table reproduces training-time segmentation
    val learned = Bpe.mergesOf(Bpe.train(df, $"text", 2))
    val n = df.select(TextStats.bpeTokenCount($"text", learned)).as[Long].head()
    assert(n == 3L, "'aa' 'aa' 'ab' all collapse to one symbol each")
  }

  test("Bpe.trainBatched: batchSize=1 degenerates to sequential train; " +
      "jobs stay far below merges at real batch sizes") {
    // batchSize = 1: the greedy admission trivially admits the single top
    // candidate, so the variant IS the sequential trainer
    val seqT = Bpe.train(docs, $"text", numMerges = 8)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      .map { case (r, a, b, c) => (r.toLong, a, b, c) }
    val bat1 = Bpe.trainBatched(docs, $"text", rounds = 8, batchSize = 1)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(bat1 == seqT, s"seq $seqT\nbat $bat1")
    // real batch size: count Spark jobs across the whole run — the point
    // of batching is jobs ∝ rounds, not merges
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val trained =
      try {
        val t = Bpe.trainBatched(docs, $"text", rounds = 10, batchSize = 32)
          .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
        Thread.sleep(2000) // listener events are posted asynchronously
        t
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(trained.size >= 64, s"expected a ≥64-merge vocabulary, got ${trained.size}")
    assert(jobs.get() < trained.size,
      s"batched training must run fewer jobs (${jobs.get()}) than merges (${trained.size})")
    // admission invariant: within a round (contiguous rank block elected
    // together), operands and outputs are pairwise disjoint — the property
    // that keeps every recorded pair_count exact at application time
    // (checked globally pair-vs-later-pair is too strong; re-election
    // across rounds is the design). Instead check the trained table is
    // CONSISTENT (every multi-char operand is an earlier rule's output) so
    // the kernel's portable-id mapping never needs its sentinel:
    trained.foreach { case (r, a, b, _) =>
      Seq(a, b).filter(_.length > 1).foreach { op =>
        assert(trained.exists { case (r2, a2, b2, _) => r2 < r && a2 + b2 == op },
          s"rank-$r operand '$op' has no earlier producing rule")
      }
    }
    // counting with the batched-trained table goes through the fast kernel
    // and the portable fold identically
    val merges = trained.map { case (_, a, b, _) => (a, b) }
    val cmp = docs.select(
      TextStats.bpeTokenCount($"text", merges).as("k"),
      TextStats.bpeTokenCountFold($"text", merges).as("f"))
      .filter($"k" =!= $"f").count()
    assert(cmp == 0L, "kernel and fold disagree under the batched-trained table")
  }

  test("Pq: seed vectors encode to their own codes, ADC over a seed corpus equals " +
      "exact dot ranking, training reduces distortion, rerank finds a planted clone") {
    val seeds = emb.orderBy("vec_id").limit(16).persist()
    val cb = Pq.seedCodebooks(seeds, "vec_id", "embedding", m = 8, ks = 16, dim = 64)
    // codes of seed k are [k]*m: every subvector hits its own codeword at dist 0
    val codes = Pq.encode(seeds, "vec_id", "embedding", cb)
    val rankByIdx = seeds.select($"vec_id").as[Long].collect().sorted.zipWithIndex.toMap
    Pq.encode(seeds, "vec_id", "embedding", cb).as[(Long, Seq[Int])].collect().foreach {
      case (id, cs) => assert(cs.forall(_ == rankByIdx(id)), s"seed $id codes $cs")
    }
    // over a corpus the codebooks reconstruct EXACTLY, ADC == exact dot
    val queries = seeds.select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val adc = Pq.adcTopK(queries, "query_id", "qvec", codes, "vec_id", cb, k = 3)
      .select($"query_id", $"vec_id", $"rank")
    val wExact = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"d".desc, $"vec_id".asc)
    val exact = queries.crossJoin(seeds).filter($"query_id" =!= $"vec_id")
      .withColumn("d", round(vec_dot($"qvec", $"embedding"), 6))
      .withColumn("rank", row_number().over(wExact)).filter($"rank" <= 3)
      .select($"query_id", $"vec_id", $"rank")
    assert(adc.exceptAll(exact).isEmpty && exact.exceptAll(adc).isEmpty,
      "ADC over an exactly-reconstructed corpus must reproduce exact dot ranking")
    seeds.unpersist()
    // Lloyd refinement never increases quantization distortion
    val d0 = Pq.distortion(emb, "vec_id", "embedding", cb)
    val cb2 = Pq.train(emb, "vec_id", "embedding", m = 8, ks = 16, dim = 64, iters = 2)
    val d2 = Pq.distortion(emb, "vec_id", "embedding", cb2)
    assert(d2 <= d0 + 1e-9, s"distortion rose after training: $d0 -> $d2")
    // exact rerank surfaces a planted clone at cosine 1.0
    val clone = emb.filter($"vec_id" === 0L)
      .select(lit(999999L).as("vec_id"), $"embedding", lit(0).as("label"))
    val q0 = emb.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val top1 = Pq.adcTopKRerank(q0, "query_id", "qvec",
        emb.unionByName(clone), "vec_id", "embedding", cb, k = 1)
      .select($"vec_id", $"cosine_sim").as[(Long, Double)].head()
    assert(top1 == ((999999L, 1.0)), s"clone not found: $top1")
  }

  test("bpeTokenize: length equals bpeTokenCount, ids decode merged vs raw symbols") {
    // corpus-wide invariant: the tokenize scan and the count scan agree
    val bad = docs.select(
        (size(TextStats.bpeTokenize($"text")).cast("long") =!=
          TextStats.bpeTokenCount($"text")).as("m"))
      .filter($"m").count()
    assert(bad == 0, "size(bpeTokenize) != bpeTokenCount on the fixture corpus")
    // 'the' folds to the single merged symbol of rank 1 (t+h then th+e);
    // 'xq' stays two raw chars = code points
    val ids = Seq("the xq").toDF("text")
      .select(TextStats.bpeTokenize($"text")).as[Seq[Long]].head()
    assert(ids == Seq(0x110000L + 1, 'x'.toLong, 'q'.toLong), s"got $ids")
    // null text -> empty sequence, not null
    val nul = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(TextStats.bpeTokenize($"text")).as[Seq[Long]].head()
    assert(nul == Seq.empty)
  }

  test("searchPq with an exhaustive candidate cut equals plain IVF search " +
      "(ADC only prunes; the rerank is the same exact cosine)") {
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16)
    val cb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16, dim = 64)
    // candMult large enough that no probed-list member is cut -> the PQ
    // stage is a no-op and the composed plan must reproduce Ivf.search
    val pq = Ivf.searchPq(queries, "query_id", "qvec", emb, "vec_id", "embedding",
      cents, cb, k = 5, nprobe = 4, candMult = 1000)
    val plain = Ivf.search(queries, "query_id", "qvec", emb, "vec_id", "embedding",
      cents, k = 5, nprobe = 4)
    assert(pq.exceptAll(plain).isEmpty && plain.exceptAll(pq).isEmpty)
  }

  test("dedupCorpusLsh: planted clones always collapse, drops are a subset of the " +
      "exact arm, and the quality election applies") {
    // identical text -> identical signatures -> guaranteed bucket collision,
    // so clone recall never depends on LSH luck
    val base = docs.select($"doc_id", $"text")
    val corpus = base.unionByName(
      base.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val lsh = Dedup.dedupCorpusLsh(corpus, "doc_id", $"text",
        n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
      .select("doc_id").persist()
    assert(lsh.filter($"doc_id" >= 100000L).count() == 0,
      "every planted clone must collapse onto its lower-id original")
    // LSH candidates only PRUNE the exact pair set, so exact-arm survivors
    // are always a subset of LSH-arm survivors
    val exact = Dedup.dedupCorpusExact(corpus, "doc_id", $"text", n = 3, threshold = 0.2)
      .select("doc_id")
    assert(exact.exceptAll(lsh).isEmpty,
      "an exact-arm survivor was dropped by the LSH arm")
    lsh.unpersist()
    // argmax-quality canonical: the clone cluster {1, 2} keeps quality-9
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon", 5.0),
      (2L, "alpha beta gamma delta epsilon", 9.0),
      (4L, "totally different text entirely here", 1.0)
    ).toDF("id", "text", "q")
    val kept = Dedup.dedupCorpusLsh(tiny, "id", $"text",
        n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.4,
        quality = Some($"q"))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("dedupCorpusLsh with quality equals dedupCorpusKeepBest where LSH recall is 1") {
    // identical documents collide in every band, so at threshold 1.0 (pair
    // iff identical shingle SETS) the LSH arm's pair set equals the exact
    // arm's — the production keep-best path must then elect identical
    // survivors to dedupCorpusKeepBest
    val base = docs.select($"doc_id", $"text")
    val corpus = base.unionByName(
        base.filter($"doc_id" % 3 === 0).select(($"doc_id" + 100000L).as("doc_id"), $"text"))
      .withColumn("q", ($"doc_id" * 37 % 101).cast("double"))
    val lsh = Dedup.dedupCorpusLsh(corpus, "doc_id", $"text",
        n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 1.0,
        quality = Some($"q"))
      .select("doc_id")
    val best = Dedup.dedupCorpusKeepBest(corpus, "doc_id", $"text", $"q",
        n = 3, threshold = 1.0)
      .select("doc_id")
    assert(lsh.exceptAll(best).isEmpty && best.exceptAll(lsh).isEmpty,
      "LSH+quality survivors diverged from keep-best under recall-1 conditions")
  }

  test("aHash64/imageNearDupPairs: clones at hamming 0, one-pixel nudge within 1, " +
      "unrelated pattern excluded, undersized raster refused") {
    def raster(seedMul: Int, bump: Int): Seq[Int] =
      (0 until 16 * 12 * 3).map(i => (i * seedMul) % 256)
        .updated(0, ((0 * seedMul) % 256 + bump) % 256)
    val df = Seq(
      (1L, raster(7, 0)), (2L, raster(7, 0)),   // exact clones
      (3L, raster(7, 1)),                       // one-pixel nudge of 1/2
      (4L, raster(151, 0))                      // unrelated pattern
    ).toDF("id", "px")
    val pairs = Multimodal.imageNearDupPairs(df, "id", $"px", w = 16, h = 12, maxDist = 2)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect().toSeq.sorted
    assert(pairs.contains((1L, 2L, 0)), s"clone pair missing: $pairs")
    assert(pairs.filter(p => p._1 == 1L && p._2 == 3L).forall(_._3 <= 1))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L), s"unrelated id joined a pair: $pairs")
    intercept[IllegalArgumentException] {
      Multimodal.aHash64($"px", w = 4, h = 4)
    }
  }

  test("dHash64: clamped brightness shift keeps dHash at hamming 0 and flips >2 aHash bits " +
      "for ALL 105 x87 step classes; undersized raster refused") {
    // the exact x87 fixture, enumerated over every reachable step class
    // (s has period 105 in g): this is the exhaustive proof that the
    // probe's planted pairs are aHash-missed / dHash-caught at EVERY sf
    val ids = spark.range(0, 210).select($"id".as("media_id"))
    val g = floor($"media_id" / 2).cast("long")
    val odd = pmod($"media_id", lit(2L))
    val step = pmod(g * 2 + 3, lit(105L)) + 1L
    val px = flatten(transform(sequence(lit(0L), lit(16 * 12 - 1L)), p => {
      val raw = when(pmod(p, lit(16L)).isin(2L, 4L, 6L), lit(255L))
        .otherwise(pmod((p + 1L) * step, lit(107L)))
      val v = least(lit(255L), raw + lit(150L) * odd).cast("int")
      array(v, v, v)
    }))
    val hashed = ids
      .select(g.as("g"), odd.as("odd"),
        Multimodal.aHash64(px, 16, 12).as("ah"), Multimodal.dHash64(px, 16, 12).as("dh"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (gv, o, ah, dh) => (gv, o) -> ((ah, dh)) }.toMap
    val hams = (0L until 105L).map { gv =>
      val (ah0, dh0) = hashed((gv, 0L))
      val (ah1, dh1) = hashed((gv, 1L))
      (gv, java.lang.Long.bitCount(ah0 ^ ah1), java.lang.Long.bitCount(dh0 ^ dh1))
    }
    assert(hams.forall(_._3 == 0),
      s"dHash not brightness-invariant: ${hams.filter(_._3 != 0)}")
    assert(hams.forall(_._2 > 2),
      s"aHash caught a planted pair (hamming <= maxDist): ${hams.filter(_._2 <= 2)}")
    intercept[IllegalArgumentException] {
      Multimodal.dHash64($"px", w = 8, h = 8)
    }
  }

  test("temperatureRates: alpha=1 is proportional, alpha<1 upweights the small source, " +
      "budget over corpus caps at 1, floor guards the mixture granularity") {
    val big = docs.filter($"doc_id" < 400)   // 400 docs
    val small = docs.filter($"doc_id" >= 400) // 100 docs
    val srcs = Seq(("big", big), ("small", small))
    // alpha = 1: p_s = n_s/N, so every rate is budget/N — uniform thinning
    val r1 = Sampling.temperatureRates(srcs, alpha = 1.0, budget = 100L).map(r => r._1 -> r._3).toMap
    assert(math.abs(r1("big") - 0.2) < 1e-9 && math.abs(r1("small") - 0.2) < 1e-9)
    // alpha = 0.5: the small source's rate strictly exceeds the big one's
    val r05 = Sampling.temperatureRates(srcs, alpha = 0.5, budget = 100L).map(r => r._1 -> r._3).toMap
    assert(r05("small") > r05("big"), s"got $r05")
    // budget >= corpus: every rate caps at 1.0 and mixture keeps everything
    val rAll = Sampling.temperatureRates(srcs, alpha = 0.5, budget = 10000L)
    assert(rAll.forall(_._3 == 1.0))
    assert(Sampling.temperatureMixture(srcs, $"doc_id", 0.5, 10000L).count() == docs.count())
    // a tiny budget floors at the mixture granularity instead of throwing
    val rTiny = Sampling.temperatureRates(srcs, alpha = 0.5, budget = 1L)
    assert(rTiny.forall(_._3 >= 1.0 / 10000))
    // ALL sources empty (an upstream stage dropped everything): z = 0
    // must degrade to floor rates and an empty mixture, never a NaN rate
    // poisoning mixture's require — the sf1 assembly bench hit this
    val none = docs.filter($"doc_id" < 0)
    val rEmpty = Sampling.temperatureRates(Seq(("a", none), ("b", none)), 0.5, 100L)
    assert(rEmpty.forall(r => !r._3.isNaN && r._3 == 1.0 / 10000), s"got $rEmpty")
    assert(Sampling.temperatureMixture(Seq(("a", none), ("b", none)), $"doc_id", 0.5, 100L)
      .count() == 0L)
  }

  test("mixturePortable: short-key coin is unbiased (realized fraction tracks the rate) " +
      "and disjoint from nothing the caller didn't sample") {
    // the raw positional fingerprint of a short key clusters far below
    // the slot count — this pins the multiplicative mix actually fixed
    // the bias (pre-fix this fixture kept ~100% at rate 0.3)
    val df = spark.range(0, 2000).toDF("id")
    for (rate <- Seq(0.2, 0.5, 0.8)) {
      val frac = Sampling.mixturePortable(Seq(("src", df, rate)), $"id")
        .count().toDouble / 2000
      assert(math.abs(frac - rate) < 0.06, s"rate $rate realized $frac")
    }
    // determinism: same inputs, same kept set
    val a = Sampling.mixturePortable(Seq(("s", df, 0.4)), $"id").select("id")
    val b = Sampling.mixturePortable(Seq(("s", df, 0.4)), $"id").select("id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("slidingChunks: overlap, short-doc single chunk, and exact chunk text") {
    val df = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens: chunks [0,6) [4,10)
      (2L, "x y z")                // 3 tokens: single short chunk
    ).toDF("id", "text")
    val got = Packing.slidingChunks(df, "id", $"text", chunkSize = 6, stride = 4)
      .orderBy("id", "chunk_idx")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 6L, "a b c d e f"),
      (1L, 1L, 4L, 10L, "e f g h i j"),
      (2L, 0L, 0L, 3L, "x y z")))
  }

  test("mixture: rate 1.0 keeps all, realized fractions near rates, deterministic") {
    val a = docs.filter($"doc_id" % 3 === 0)
    val b = docs.filter($"doc_id" % 3 =!= 0)
    val mixed = Sampling.mixture(Seq(("full", a, 1.0), ("half", b, 0.5)), $"doc_id")
    val counts = mixed.groupBy("mix_source").count().as[(String, Long)].collect().toMap
    assert(counts("full") == a.count())
    val frac = counts("half").toDouble / b.count()
    assert(math.abs(frac - 0.5) < 0.1, s"realized half-rate $frac")
    val again = Sampling.mixture(Seq(("full", a, 1.0), ("half", b, 0.5)), $"doc_id")
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
  }

  test("slidingChunks with stride == chunkSize reconstructs every document exactly") {
    val rebuilt = Packing.slidingChunks(docs, "doc_id", $"text", chunkSize = 32, stride = 32)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct($"chunk_idx", $"chunk_text")))
        .getField("chunk_text")).as("rebuilt"))
    val orig = docs.select($"doc_id",
      concat_ws(" ", TextStats.tokens($"text")).as("normalized"))
    val mismatches = rebuilt.join(orig, Seq("doc_id"))
      .filter($"rebuilt" =!= $"normalized").count()
    assert(mismatches == 0, "non-overlapping chunks must tile the token stream exactly")
  }

  test("resample gapFilled: dense spine, zero-filled empties; locf carries values forward") {
    val ev = Seq(
      ("a", "2024-01-01 00:10:00", 1.0),
      ("a", "2024-01-01 03:20:00", 2.0), // hours 1 and 2 are gaps
      ("b", "2024-01-01 05:00:00", 7.0)
    ).toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val got = Resample.gapFilled(ev, "k", "ts", "v", "hour")
      .orderBy("k", "bucket")
      .select("k", "n_events", "total_value").as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 1L, 1.0), ("a", 0L, 0.0), ("a", 0L, 0.0), ("a", 1L, 2.0),
      ("b", 1L, 7.0)))

    val sparse = Seq(("a", 1L, Some(10.0)), ("a", 2L, None), ("a", 3L, None),
      ("a", 4L, Some(20.0)), ("b", 1L, None)).toDF("k", "t", "v")
    val filled = Resample.locf(sparse, "k", "t", Seq("v"))
      .orderBy("k", "t").select("v").as[Option[Double]].collect().toSeq
    assert(filled == Seq(Some(10.0), Some(10.0), Some(10.0), Some(20.0), None))
  }

  test("locf tie-break columns make same-timestamp fills deterministic") {
    // two rows share t=2; with a tie column the later seq's value (30)
    // must carry forward regardless of partition order
    val sparse = Seq(("a", 1L, 1L, Some(10.0)), ("a", 2L, 1L, Some(20.0)),
      ("a", 2L, 2L, Some(30.0)), ("a", 3L, 1L, None)).toDF("k", "t", "seq", "v")
    (1 to 5).foreach { n =>
      val got = Resample.locf(sparse.repartition(n), "k", "t", Seq("v"), tieCols = Seq("seq"))
        .orderBy("t", "seq").select("v").as[Option[Double]].collect().toSeq
      assert(got == Seq(Some(10.0), Some(20.0), Some(30.0), Some(30.0)),
        s"partitioning $n changed the fill")
    }
  }

  test("trigram langId separates all 14 planted languages and degrades to unknown") {
    // every planted x39 fixture sentence must classify AS its language —
    // this is the gate that keeps the probe's 14-way planting honest
    val plants = graft.probes.ExtensionProbes.LangIdPlants.zipWithIndex
      .map { case ((lang, sent), i) => (i.toLong, lang, sent) }
    val edge = Seq(
      (100L, "unknown", "zzzz qqqq xxxx wwww kkkk"), // no profile trigrams
      (101L, "unknown", null: String),
      (102L, "unknown", ""),
      // kanji + kana mixed → ja (kana range checked before Han)
      (103L, "ja", "日本語のテキストです"))
    val samples = (plants ++ edge).map { case (id, lang, s) => (id, s, lang) }
      .toDF("id", "text", "expected")
    val got = samples.select($"id", TextStats.langId($"text").as("l"), $"expected")
      .as[(Long, String, String)].collect()
    val wrong = got.filter { case (_, l, exp) => l != exp }
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(", ")}")
  }

  test("every langid trigram profile holds exactly 40 distinct length-3 entries") {
    // the scaladoc's pinned invariant: a duplicate entry would double-count
    // one trigram's hits in that language's score with nothing failing
    for ((lang, ts) <- TextStats.LangTrigramProfiles) {
      assert(ts.size == 40, s"$lang: expected 40 trigrams, got ${ts.size}")
      assert(ts.forall(_.length == 3),
        s"$lang: non-length-3 entries: ${ts.filterNot(_.length == 3).mkString(", ")}")
      assert(ts.distinct.size == 40,
        s"$lang: duplicated entries: ${ts.diff(ts.distinct).mkString(", ")}")
    }
    // alphabetical order IS the tie-break priority — pin that too
    val names = TextStats.LangTrigramProfiles.map(_._1)
    assert(names == names.sorted, s"profiles must stay alphabetical: $names")
  }

  test("tfidfTopTerms: a document's unique word outranks corpus-wide words") {
    val df = Seq(
      (1L, "shared unicorn unicorn"),
      (2L, "shared shared shared"),
      (3L, "shared other other")).toDF("doc_id", "text")
    val top = TextStats.tfidfTopTerms(df, "doc_id", $"text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) == "unicorn") // tf 2/3 at df=1 beats tf 1/3 at df=3
    assert(top(2L) == "shared")  // only term present
    assert(top(3L) == "other")
  }

  test("clusterTemperature: exact rate arithmetic, tail upweighted, repartition-invariant") {
    def v(k: Int): Array[Float] = Array.tabulate(4)(i => if (i == k) 1f else 0f)
    // 90 docs on axis 0, 10 on axis 1 — two exact cosine clusters
    val cdocs = ((0 until 90).map(i => (i.toLong, v(0))) ++
      (100 until 110).map(i => (i.toLong, v(1)))).toDF("id", "vec")
    val cents = Seq((0L, v(0)), (100L, v(1))).toDF("centroid_id", "centroid_vec")
    val out = Sampling.clusterTemperature(cdocs, "id", "vec", cents,
      alpha = 0.5, budget = 50).cache()
    val rates = out.select("centroid_id", "cluster_rate").distinct()
      .as[(Long, Double)].collect().toMap
    // replay the canonical arithmetic: weights sqrt(n), left-fold z in
    // centroid-id order, rate = floor-quantized min(1, b·p/n)
    val (w0, w1) = (math.sqrt(90.0), math.sqrt(10.0))
    val z = 0.0 + w0 + w1
    def rate(w: Double, n: Double) = math.max(1.0 / 10000,
      math.floor(math.min(1.0, 50.0 * (w / z) / n) * 10000 + 0.5) / 10000)
    assert(rates(0L) == rate(w0, 90.0), s"head rate: $rates")
    assert(rates(100L) == rate(w1, 10.0), s"tail rate: $rates")
    // α = 0.5 flattens the head: the tail cluster keeps a higher fraction
    assert(rates(100L) > rates(0L))
    assert(rates(100L) == 1.0) // budget·p_tail exceeds the tail size
    // the coin is content-addressed: physical layout cannot move a row
    val kept = out.select("id").as[Long].collect().sorted.toSeq
    val again = Sampling.clusterTemperature(cdocs.repartition(7), "id", "vec",
      cents, alpha = 0.5, budget = 50).select("id").as[Long].collect().sorted.toSeq
    assert(kept == again)
    assert(kept.count(_ >= 100L) == 10) // whole tail cluster rides through
    out.unpersist()
  }

  test("videoNearDupPairs: clip/reorder/duplicate-frame robust, set-exact jaccard") {
    val full = "aaaabbbbccccdddd" // 4-byte frames: aaaa bbbb cccc dddd
    val vids = Seq(
      (1L, full),                 // reference
      (2L, "bbbbccccdddd"),       // clipped (first frame dropped) → 3/4
      (3L, "ddddccccbbbbaaaa"),   // re-ordered → same SET → 1.0
      (4L, full + "aaaa"),        // looped frame → set unchanged → 1.0
      (5L, "eeeeffffgggghhhh"))   // disjoint → no pair
      .toDF("media_id", "text").withColumn("source", lit("s"))
    val m = Multimodal.pack(vids, "media_id", "text", "video")
    val pairs = Multimodal.videoNearDupPairs(spark, m, frameBytes = 4,
        everyN = 1, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs == Map(
      (1L, 2L) -> 0.75, (2L, 3L) -> 0.75, (2L, 4L) -> 0.75,
      (1L, 3L) -> 1.0, (1L, 4L) -> 1.0, (3L, 4L) -> 1.0), s"got $pairs")
  }

  test("leakage-safe split: near-dup clusters never straddle; cluster coins on its min id") {
    val t1 = (1 to 20).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, t1), (2L, t1 + " xtra"), (3L, "zz " + t1),   // one near-dup cluster
      (4L, (1 to 20).map(i => f"q$i%02d").mkString(" "))) // singleton
      .toDF("doc_id", "text")
    val splits = Seq("train" -> 0.5, "test" -> 0.5)
    val m = Sampling.leakageSafeSplit(docs, "doc_id", col("text"), 3, 0.5, splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(m.keySet == Set(1L, 2L, 3L, 4L))
    assert(m(1L) == m(2L) && m(2L) == m(3L), s"cluster straddled splits: $m")
    // the precomputed-components path is the same assignment
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), 3, 0.5)
    val viaComps = Sampling.leakageSafeSplitFromComponents(
        docs, "doc_id", Dedup.components(pairs), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(viaComps == m)
    // the cluster's coin IS hashSplit of its component label (min id 1);
    // the singleton's is hashSplit of its own id
    def coinOf(id: Long): String =
      Sampling.hashSplit(Seq((id, 0)).toDF("doc_id", "x"), col("doc_id"), splits)
        .select("split").as[String].head()
    assert(m(1L) == coinOf(1L) && m(4L) == coinOf(4L))
  }

  test("span index: indexed substring dedup = live on combined corpus; append indexes new spans") {
    val base = scratch("spanIdx").toString
    def span(prefix: String, n: Int): String =
      (1 to n).map(i => f"$prefix$i%02d").mkString(" ")
    val shared = span("s", 9)
    val corpus = Seq(
      (1L, span("a", 12) + " " + shared), // owns the shared span
      (2L, span("b", 12))
    ).toDF("doc_id", "text")
    Dedup.writeSpanIndex(corpus, "doc_id", "text", s"$base/span",
      expectedItems = 10000L, k = 8)
    val batchSpan = span("t", 9)
    val batch = Seq(
      (11L, span("c", 12) + " " + shared),    // shared span cut, body kept
      (12L, span("d", 12) + " " + batchSpan), // batch span: min id keeps it
      (13L, span("e", 12) + " " + batchSpan), // ... this one loses it
      (14L, span("a", 12) + " " + shared),    // all windows corpus-known → drops
      (15L, "short doc under window")         // < k tokens → untouched
    ).toDF("doc_id", "text")
    def probe(b: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Dedup.incrementalSubstringIndexed(Dedup.readSpanIndex(spark, s"$base/span"),
          b, "doc_id", "text")
        .as[(Long, String)].collect().toMap
    val got = probe(batch)
    // live twin over corpus ∪ batch (corpus ids smaller → corpus wins every
    // shared window, exactly the index contract), restricted to batch ids
    val live = Dedup.substringDedup(corpus.unionByName(batch), "doc_id", "text", k = 8)
      .filter(col("doc_id") >= 10L).as[(Long, String)].collect().toMap
    assert(got == live, s"indexed=$got\nlive=$live")
    assert(got.keySet == Set(11L, 12L, 13L, 15L)) // 14 fully covered → gone
    assert(got(11L) == span("c", 12))
    assert(got(12L) == span("d", 12) + " " + batchSpan)
    // doc 13 loses the batch span; its straddle windows are unique to it
    // (they start inside e-tokens), so exactly the 9 span tokens go
    assert(got(13L) == span("e", 12))
    assert(got(15L) == "short doc under window")

    // append the survivors' FINAL text; a later batch repeating doc 12's
    // batch span now loses it to the CORPUS, and re-append is a no-op
    val survivors = Seq((12L, got(12L)), (11L, got(11L))).toDF("doc_id", "text")
    Dedup.appendToSpanIndex(spark, s"$base/span", survivors, "doc_id", "text")
    Dedup.appendToSpanIndex(spark, s"$base/span", survivors, "doc_id", "text")
    val b2 = Seq((21L, span("f", 12) + " " + batchSpan)).toDF("doc_id", "text")
    assert(probe(b2) == Map(21L -> span("f", 12)))
    // compaction: classification unchanged through the folded table
    Dedup.compactSpanIndex(spark, s"$base/span")
    assert(probe(b2) == Map(21L -> span("f", 12)))
  }

  test("bench index: indexed decontamination = live path; append folds; phantom sketch keys harmless") {
    val base = scratch("benchIdx").toString
    val corpus = Seq(
      (1L, "aa bb cc dd ee"),         // 2 shared 3-grams with bench 100
      (2L, "xx yy zz ww vv"),         // clean
      (3L, "one two three four five") // 2 shared 3-grams with bench 200 (appended)
    ).toDF("doc_id", "text")
    val benchA = Seq((100L, "aa bb cc dd qq")).toDF("bid", "btext")
    val benchB = Seq((200L, "zero one two three four")).toDF("bid", "btext")

    Decontaminate.writeBenchIndex(benchA, "bid", col("btext"), n = 3,
      s"$base/bench", expectedItems = 1000L)
    def probe(): Map[(Long, Long), Long] =
      Decontaminate.overlapsIndexed(
          Decontaminate.readBenchIndex(spark, s"$base/bench"),
          corpus, "doc_id", col("text"), minHits = 2)
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(probe() == Map((1L, 100L) -> 2L))

    // append the new eval task: doc 3 flips to contaminated; re-append is
    // a no-op (pair-level anti-join idempotence)
    Decontaminate.appendToBenchIndex(spark, s"$base/bench", benchB, "bid", col("btext"))
    val expected = Map((1L, 100L) -> 2L, (3L, 200L) -> 2L)
    assert(probe() == expected)
    Decontaminate.appendToBenchIndex(spark, s"$base/bench", benchB, "bid", col("btext"))
    assert(probe() == expected)

    // equivalence with the live operator on the full suite
    val live = Decontaminate.overlaps(corpus, "doc_id", col("text"),
        benchA.unionByName(benchB), "bid", col("btext"), n = 3, minHits = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(live == expected)

    // keys in the sketch without pair rows (committed on purpose) must be
    // harmless — the join verifies exactly
    val idx = Decontaminate.readBenchIndex(spark, s"$base/bench")
    idx.bloom.mergeInPlace(
      spark.range(500).select(xxhash64(concat(lit("phantom "), col("id"))).as("__k"))
        .stat.bloomFilter("__k", idx.expectedItems, idx.fpp))
    val m = IndexStore.latest(spark, s"$base/bench")
    IndexStore.commit(spark, s"$base/bench", m.copy(version = m.version + 1,
      sketch = IndexStore.writeSketch(spark, s"$base/bench", m.version + 1, idx.bloom,
        idx.expectedItems, idx.fpp)))
    assert(probe() == expected)

    // compaction: pair parts fold to one file, classification unchanged
    Decontaminate.compactBenchIndex(spark, s"$base/bench")
    val parts = IndexStore.latest(spark, s"$base/bench").files("pairs")
    assert(parts == 1, s"expected 1 compacted part file, got $parts")
    assert(probe() == expected)

    // cutting form preserves the caller's schema and drops the flagged
    val kept = Decontaminate.cleanIndexed(
        Decontaminate.readBenchIndex(spark, s"$base/bench"),
        corpus, "doc_id", col("text"), minHits = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("index append sketch-before-table: phantom hash-index keys never flip classification") {
    // keys in the sketch without rows (here: committed on purpose, the
    // exact digests a batch WOULD add) are false positives: the probe
    // still classifies through the exact verify join
    val base = scratch("hashIdxCrash").toString
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    Dedup.writeHashIndex(corpus, "doc_id", "text", s"$base/hash", expectedItems = 100L)
    val idx = Dedup.readHashIndex(spark, s"$base/hash")
    val batch = Seq((10L, "gamma"), (11L, "alpha")).toDF("doc_id", "text")
    idx.bloom.mergeInPlace(
      batch.select(xxhash64(sha2(
          concat(isnull(col("text")).cast("string"), coalesce(col("text"), lit(""))),
          256)).as("__k"))
        .stat.bloomFilter("__k", idx.expectedItems, idx.fpp))
    val m = IndexStore.latest(spark, s"$base/hash")
    IndexStore.commit(spark, s"$base/hash", m.copy(version = m.version + 1,
      sketch = IndexStore.writeSketch(spark, s"$base/hash", m.version + 1, idx.bloom,
        idx.expectedItems, idx.fpp)))
    val st = Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, s"$base/hash"),
        batch, "doc_id", "text")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(st == Map(10L -> "new", 11L -> "exact_dup"), s"got $st")
    // and the next append still inserts the rows the sketch already claims
    Dedup.appendToHashIndex(spark, s"$base/hash", batch, "doc_id", "text")
    val st2 = Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, s"$base/hash"),
        Seq((20L, "gamma")).toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(st2 == Map(20L -> "exact_dup"), s"got $st2")
  }

  test("lm train: exact counts and quantized centi, caps bind deterministically, unk folds") {
    // the null-text row must contribute nothing to any count
    val ref = Seq(Some("the cat sat"), Some("the cat ran"), Some("a dog sat"), None)
      .toDF("text")
    // vocab cap 3 binds on the count-2 tie {cat, sat, the} (term-asc
    // order); a/dog/ran fold to <unk> with mass 3. N=9, V=3, denom=13.
    val m = Lm.train(ref, "text", vocabSize = 3, bigramSize = 3, minBigramCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // hand-computed: floor(100*log10((n+1)/13)+0.5)
    assert(m(("uni", "cat")) == (2L, -64L))
    assert(m(("uni", "sat")) == (2L, -64L))
    assert(m(("uni", "the")) == (2L, -64L))
    assert(m(("uni", Lm.Unk)) == (3L, -51L))
    // folded bigrams: "the cat"x2, then four singletons; cap 3 keeps the
    // count-2 row + the two term-asc singletons — the election BINDS
    assert(m.count(_._1._1 == "bi") == 3)
    assert(m(("bi", "the cat")) == (2L, 0L))            // log10(2/2)=0
    assert(m(("bi", s"${Lm.Unk} ${Lm.Unk}")) == (1L, -48L)) // log10(1/3)
    assert(m(("bi", s"${Lm.Unk} sat")) == (1L, -48L))
    assert(!m.contains(("bi", "cat sat")) && !m.contains(("bi", s"cat ${Lm.Unk}")))

    // partition invariance: same model from a 7-way shuffle of the corpus
    val m2 = Lm.train(ref.repartition(7), "text", vocabSize = 3, bigramSize = 3,
        minBigramCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(m2 == m)
  }

  test("lm incremental retrain: merged counts = union counts exactly, model identical") {
    val a = Seq("the cat sat", "the cat ran").toDF("text")
    val b = Seq("a dog sat", "the cat sat again").toDF("text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // sufficient statistics are additive — raw counts merge EXACTLY
    val merged = Lm.mergeCounts(Lm.trainCounts(a), Lm.trainCounts(b))
    val full = Lm.trainCounts(a.unionByName(b))
    assert(rows(merged) == rows(full))
    // and the compiled models agree row-for-row (fold/caps commute with
    // the merge because they apply at compile time over merged counts)
    def model(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
    assert(
      model(Lm.modelFromCounts(merged, vocabSize = 3, bigramSize = 4, minBigramCount = 1L))
        == model(Lm.train(a.unionByName(b), vocabSize = 3, bigramSize = 4,
            minBigramCount = 1L)))
  }

  test("lm trained scoring: bigram hits, backoff, unk, empty doc; prune keeps fluent") {
    val ref = Seq("the cat sat", "the cat ran", "a dog sat").toDF("text")
    val model = Lm.train(ref, "text", vocabSize = 3, bigramSize = 10, minBigramCount = 1L)
    val docs = Seq(
      (1L, "the cat sat"),  // first=uni(the)=-64, "the cat"=0, "cat sat"=-30 → -94
      (2L, "sat dog the"),  // -64, backoff unk: -51-40=-91, backoff the: -64-40=-104 → -259
      (3L, "!!!"),          // token-free
      (4L, null: String))   // null text scores like the empty document
      .toDF("doc_id", "text")
    val out = Lm.annotate(docs, model).select("doc_id", "slm_n_toks",
        "slm_centi_sum", "slm_mean_log10p", "slm_bucket")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getString(4))).toMap
    assert(out(1L) == (3L, -94L, Some(-0.3133), "head"),  s"got ${out(1L)}")
    assert(out(2L) == (3L, -259L, Some(-0.8633), "head"), s"got ${out(2L)}")
    assert(out(3L) == (0L, 0L, None, "tail"),             s"got ${out(3L)}")
    assert(out(4L) == (0L, 0L, None, "tail"),             s"got ${out(4L)}")
    // a gate at stricter thresholds separates the bigram-fluent doc
    val kept = Lm.perplexityPrune(docs, model, keep = Seq("head"),
        headThr = -0.5, midThr = -1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("containment pairs: embedded snippet reads 1.0 where jaccard vanishes; directions labeled") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")            // 38 shingles
    val snippet = (10 to 17).map(i => s"w$i").mkString(" ")        // 6 shingles, all in long
    val docs = Seq((1L, long), (2L, snippet), (3L, "completely different tokens here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", $"text", n = 3, threshold = 0.8)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0, 0.1579, 1.0)),
      s"got $pairs") // inter=6: a_in_b = 6/38 = 0.1579, b_in_a = 6/6 = 1.0
    // the same pair through Jaccard: 6/(38+6-6) = 0.1579 — below any
    // useful near-dup threshold; containment is the only lens that sees it
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", $"text", 3, 0.5)
    assert(jac.count() == 0, "jaccard at 0.5 must miss the embedded snippet")
    val jacLoose = Dedup.ngramJaccardPairs(docs, "doc_id", $"text", 3, 0.1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(jacLoose == Seq((1L, 2L, 0.1579)))
    // cutting form: the contained snippet drops, container + unrelated stay
    val kept = Dedup.removeContained(docs, "doc_id", $"text", n = 3, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"got $kept")
    // mutual containment (identical sets): smaller id survives
    val twins = Seq((7L, long), (8L, long)).toDF("doc_id", "text")
    val keptTwins = Dedup.removeContained(twins, "doc_id", $"text", n = 3, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTwins == Set(7L))
  }

  test("lm trigram: exact model rows, recursive backoff arithmetic, trigram context beats bigram") {
    val ref = Seq.fill(3)("the cat sat on the mat").toDF("text")
    val m3 = Lm.train3(ref, vocabSize = 8, bigramSize = 16, trigramSize = 16,
      minBigramCount = 1L, minTrigramCount = 1L)
    val rows = m3.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // hand replay: N=18, V=5, denom=24; c1(the)=6, others 3
    assert(rows(("uni", "the")) == (6L, -54L))
    assert(rows(("uni", "cat")) == (3L, -78L))
    assert(rows(("uni", Lm.Unk)) == (0L, -138L))
    assert(rows(("bi", "the cat")) == (3L, -30L))   // 3/6
    assert(rows(("bi", "cat sat")) == (3L, 0L))     // 3/3
    assert(rows(("tri", "the cat sat")) == (3L, 0L)) // 3 / c(the cat)=3
    assert(rows(("tri", "on the mat")) == (3L, 0L))  // 3 / c(on the)=3
    assert(rows.count(_._1._1 == "tri") == 4)
    // scoring: every trigram hits → uni(the) + bi(the cat) + 4×0 = −84;
    // the BIGRAM model pays "the mat" = −30 again → −114: the trigram
    // order ranks the in-context continuation strictly higher
    val doc = Seq((1L, "the cat sat on the mat"), (2L, "mat cat the"))
      .toDF("doc_id", "text")
    val s3 = Lm.annotate3(doc, m3)
      .select("doc_id", "slm_n_toks", "slm_centi_sum")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(s3(1L) == (6L, -84L), s"got ${s3(1L)}")
    // unseen context backs off recursively: uni(mat)=−78; bi(mat cat)
    // missing → uni(cat)−78 + B(−40) = −118; tri(mat cat the) missing →
    // B + (bi(cat the) missing → uni(the)−54 + B) = −134; total −330
    assert(s3(2L) == (3L, -330L), s"got ${s3(2L)}")
    val m2 = Lm.train(ref, vocabSize = 8, bigramSize = 16, minBigramCount = 1L)
    val s2 = Lm.annotate(doc.filter($"doc_id" === 1L), m2)
      .select("slm_centi_sum").as[Long].head()
    assert(s2 == -114L, s"bigram model score $s2")
    assert(s3(1L)._2 > s2, "trigram context must rank the fluent doc above the bigram score")
    // trigram sufficient statistics stay additive (the mergeCounts contract)
    val a = Seq("the cat sat on the mat").toDF("text")
    val b = Seq.fill(2)("the cat sat on the mat").toDF("text")
    def cnt(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cnt(Lm.mergeCounts(Lm.trainCounts3(a), Lm.trainCounts3(b)))
      == cnt(Lm.trainCounts3(ref)))
  }

  test("persisted LM counts index: folds exact, replay no-op, single-table-atomic crash swap") {
    val base = scratch("lmCounts").toString
    val a = Seq("the cat sat on the mat").toDF("text")
    val b = Seq.fill(2)("the dog sat on the rug").toDF("text")
    Lm.writeCountsIndex(spark, s"$base/lm")
    assert(Lm.foldIntoCountsIndex(spark, s"$base/lm", "day1", a))
    assert(Lm.foldIntoCountsIndex(spark, s"$base/lm", "day2", b))
    assert(!Lm.foldIntoCountsIndex(spark, s"$base/lm", "day1", a), "replay must no-op")
    assert(Lm.foldedBatches(spark, s"$base/lm") == Set("day1", "day2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // folded statistics == one-shot statistics of the union, row for row
    assert(rows(Lm.readCountsIndex(spark, s"$base/lm"))
      == rows(Lm.trainCounts3(a.unionByName(b))))
    // and the compiled trigram model agrees with direct training
    def model(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(model(Lm.modelFromCounts3(Lm.readCountsIndex(spark, s"$base/lm"),
        vocabSize = 16, bigramSize = 32, trigramSize = 32,
        minBigramCount = 1L, minTrigramCount = 1L))
      == model(Lm.train3(a.unionByName(b), vocabSize = 16, bigramSize = 32,
        trigramSize = 32, minBigramCount = 1L, minTrigramCount = 1L)))
    // crash before the commit: a fold that wrote its table and never
    // committed is invisible — ledger and counts move TOGETHER — and its
    // replay lands once, then is replay-protected like any other
    val folded = rows(Lm.readCountsIndex(spark, s"$base/lm"))
    assert(Lm.foldIntoCountsIndex(spark, s"$base/lm", "day3", a))
    IndexStoreSpec.uncommit(spark, s"$base/lm")
    assert(!Lm.foldedBatches(spark, s"$base/lm").contains("day3") &&
      rows(Lm.readCountsIndex(spark, s"$base/lm")) == folded, "an uncommitted fold leaked into a read")
    assert(Lm.foldIntoCountsIndex(spark, s"$base/lm", "day3", a))
    assert(Lm.foldedBatches(spark, s"$base/lm").contains("day3"))
    assert(!Lm.foldIntoCountsIndex(spark, s"$base/lm", "day3", a),
      "a retried fold must be replay-protected like any other")
  }

  test("lm separation: trained gate ranks disfluent twins below fluent; bigram structure is the signal") {
    // the classifier's round-trip drill at LM scale (r11 verdict task #5):
    // x104 proved the gate BINDS; this proves the trained model WORKS —
    // it ranks planted disfluent text below fluent text. Twins share the
    // EXACT token multiset (scrambled order), so unigram mass is equal by
    // construction and any separation is provably the learned bigram
    // structure, not word choice.
    val ref = Seq.tabulate(10)(i => Seq(
      "the cat sat on the mat and then the cat slept",
      "the dog sat on the rug and then the dog slept",
      "a bird flew over the house and then a bird sang")(i % 3)).toDF("text")
    val model = Lm.train(ref, "text", vocabSize = 32, bigramSize = 64,
      minBigramCount = 2L)
    val fluent = "the cat sat on the mat and then the dog slept"
    val disfluent = "mat the slept cat dog on the and sat then the" // same multiset
    assert(fluent.split(" ").sorted.toSeq == disfluent.split(" ").sorted.toSeq,
      "fixture: twins must share the exact token multiset")
    val twins = Seq((1L, fluent), (2L, disfluent)).toDF("doc_id", "text")
    val scored = Lm.annotate(twins, model)
      .select("doc_id", "slm_n_toks", "slm_mean_log10p")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(scored(1L)._1 == scored(2L)._1, "twins must have equal token counts")
    val (fluentMean, disfluentMean) = (scored(1L)._2, scored(2L)._2)
    assert(fluentMean > disfluentMean + 0.3,
      s"trained model must rank fluent ($fluentMean) clearly above scrambled ($disfluentMean)")
    // negative control: with the bigram table compiled away the twins are
    // indistinguishable — the separation above IS the trained structure
    val uniOnly = Lm.modelFromCounts(Lm.trainCounts(ref), vocabSize = 32,
      bigramSize = 64, minBigramCount = Long.MaxValue)
    val uniScored = Lm.annotate(twins, uniOnly)
      .select("doc_id", "slm_mean_log10p").as[(Long, Double)].collect().toMap
    assert(uniScored(1L) == uniScored(2L),
      "unigram-only twin scores must be identical — equal multisets")
    // a gate thresholded between the twins keeps exactly the fluent one
    val mid = (fluentMean + disfluentMean) / 2
    val kept = Lm.gateFilter(twins,
        Lm.gateOf(model, keep = Seq("head"), headThr = mid, midThr = mid - 1.0))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"gate must keep the fluent twin only, kept $kept")
  }

  test("classifier train: exact NB weights, partition-invariant, round-trip separates classes") {
    val posText = "because therefore however which would about"
    val negText = "click subscribe casino winner buy now"
    val tdocs = (Seq.tabulate(20)(i => (i.toLong, posText, true)) ++
      Seq.tabulate(20)(i => ((100 + i).toLong, negText, false))).toDF("id", "text", "lab")
    val trained = Classify.train(tdocs, $"lab", "text").cache()
    val rows = trained.select("bucket", "n_pos", "n_neg", "weight_centi")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // hand-replay one weight end to end: "casino" appears once per neg doc,
    // never in a pos doc; totals are 11 features × 20 docs per class
    val casino = Math.floorMod(
      graft.functions.PositionalFingerprint.of("casino"), Classify.Buckets.toLong)
    val (_, np, nn, w) = rows(casino)
    assert((np, nn) == (0L, 20L), s"casino counts: $np/$nn (collision in fixture?)")
    val expect = math.floor((math.log(1.0 / (220 + 4096.0))
      - math.log(21.0 / (220 + 4096.0))) * 100.0 + 0.5).toLong
    assert(w == expect, s"casino weight $w != $expect")
    // class direction: every pos-only bucket positive, neg-only negative
    rows.values.foreach { case (b, p, n, wc) =>
      if (p > 0 && n == 0) assert(wc > 0, s"bucket $b")
      if (n > 0 && p == 0) assert(wc < 0, s"bucket $b")
    }
    // order-free training: any partitioning yields the identical table
    val again = Classify.train(tdocs.repartition(7), $"lab", "text")
      .orderBy("bucket").as[(Long, Long, Long, Long)].collect().toSeq
    assert(again == trained.orderBy("bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq)
    // round trip: the trained model separates the classes it saw
    val scored = Classify.annotateWith(tdocs, Classify.trainedTable(trained), "text")
      .select($"lab", $"clf_score").as[(Boolean, Double)].collect()
    val posMin = scored.filter(_._1).map(_._2).min
    val negMax = scored.filterNot(_._1).map(_._2).max
    assert(posMin > negMax, s"posMin $posMin must exceed negMax $negMax")
    // incremental retrain: NB sufficient statistics are additive, so
    // merging two split-trained tables must reproduce the full-corpus
    // model EXACTLY (counts AND quantized weights, row for row)
    val merged = Classify.mergeTrained(
      Classify.train(tdocs.filter($"id" % 2 === 0), $"lab", "text"),
      Classify.train(tdocs.filter($"id" % 2 =!= 0), $"lab", "text"))
      .orderBy("bucket").as[(Long, Long, Long, Long)].collect().toSeq
    assert(merged == trained.orderBy("bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq,
      "mergeTrained(train(A), train(B)) must equal train(A ∪ B) exactly")
    trained.unpersist()
  }

  test("pageRank: uniform on a ring, hand-checked on a star, mass conserved") {
    // 3-cycle: every node has out-degree 1 and in-degree 1, so the
    // uniform vector is the exact fixpoint — ranks must read 1/3 after
    // any number of iterations (this pins the update arithmetic, not
    // just "it runs")
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(ring, "src", "dst", iters = 4)
      .orderBy("node").as[(Long, Double)].collect()
    val third = math.floor(1.0 / 3 * 1e6 + 0.5) / 1e6
    assert(r.toSeq == Seq((1L, third), (2L, third), (3L, third)))

    // star with a dangling center: B→A, C→A; A has no out-edges. One
    // iteration by hand (d = 0.85, N = 3, r0 = 1/3):
    //   dangling = r0(A) = 1/3
    //   A: 0.05 + 0.85*(1/3 + 1/3 + (1/3)/3)
    //   B, C: 0.05 + 0.85*(0 + (1/3)/3)
    val star = Seq((2L, 1L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pageRank(star, "src", "dst", iters = 1)
      .orderBy("node").as[(Long, Double)].collect().toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val third3 = 1.0 / 3
    assert(got(1L) == r6((1.0 - 0.85) / 3 + 0.85 * (third3 + third3 + third3 / 3)))
    assert(got(2L) == r6((1.0 - 0.85) / 3 + 0.85 * (third3 / 3)))
    assert(got(2L) == got(3L))

    // dangling redistribution conserves total mass (within the round6
    // grain) on an irregular graph with multi-edges and a self-loop
    val g = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (4L, 1L), (5L, 1L))
      .toDF("src", "dst")
    val mass = Graph.pageRank(g, "src", "dst", iters = 6)
      .agg(sum($"pagerank")).as[Double].head()
    assert(math.abs(mass - 1.0) < 1e-4, s"mass $mass must stay ~1")

    // empty edge list: empty result, no crash
    assert(Graph.pageRank(ring.filter($"src" < 0), "src", "dst", iters = 2).count() == 0)

    // iteration stability: on an irregular graph the ranks move < 1e-5
    // between iterations 15 and 20 — the scaladoc's "K ≈ 10 suffices"
    // guidance, measured (power iteration converges geometrically at
    // rate ~damping)
    val r15 = Graph.pageRank(g, "src", "dst", iters = 15)
      .orderBy("node").as[(Long, Double)].collect().toMap
    val r20 = Graph.pageRank(g, "src", "dst", iters = 20)
      .orderBy("node").as[(Long, Double)].collect().toMap
    val maxDelta = r15.map { case (n, v) => math.abs(v - r20(n)) }.max
    assert(maxDelta < 1e-5, s"rank movement $maxDelta between iters 15→20 too large")

    // host dictionary encode: dense, deterministic, lexicographic
    val enc = Graph.encodeHosts(
      Seq("b.com", "a.com", "b.com", "c.com").toDF("host"), "host")
      .orderBy("host_id").as[(String, Long)].collect().toSeq
    assert(enc == Seq(("a.com", 1L), ("b.com", 2L), ("c.com", 3L)))

    // bit-identity to the retired single-task window form on a frame big
    // enough to span many partitions (round 13: encodeHosts became a
    // parallel range sort + zipWithIndex; the id contract must not move)
    val many = (0 until 3000).map(i => s"host-${(i * 7919) % 1000}.com").toDF("host")
      .repartition(16)
    val fast = Graph.encodeHosts(many, "host")
      .orderBy("host_id").as[(String, Long)].collect().toSeq
    val windowForm = many.select($"host").distinct()
      .withColumn("host_id",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"host"))
          .cast("long"))
      .orderBy("host_id").as[(String, Long)].collect().toSeq
    assert(fast == windowForm, "bucketed encode must be bit-identical to the window form")
    assert(fast.size == 1000 && fast.map(_._2) == (1L to 1000L))

    // plan shape: NO window operator anywhere (the single-task
    // no-partition window is exactly what this encode exists to avoid)
    val encPlan = Graph.encodeHosts(many, "host").queryExecution.executedPlan
    assert(!encPlan.toString.contains("Window"),
      s"encodeHosts must not plan a window:\n$encPlan")
  }

  test("pageRankWeighted: unit weights ≡ pageRank; weights shift mass; trust stays in the seed component") {
    val g = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (4L, 1L), (5L, 1L))
      .toDF("src", "dst")
    // unit weights + uniform teleport reproduce plain pageRank at the
    // shared round6 grain (duplicate edges dedup in BOTH: pageRank
    // distincts, the weighted form aggregates 1+1 → w=2 — so use the
    // DISTINCT edge set for the equivalence)
    val gd = g.distinct()
    val plain = Graph.pageRank(gd, "src", "dst", iters = 6)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    val unit = Graph.pageRankWeighted(gd.withColumn("w", lit(1L)), "src", "dst", "w", iters = 6)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    assert(plain == unit, "unit-weight pageRankWeighted must equal pageRank")

    // weights shift mass: B→A with weight 9 vs B→C weight 1 — A must
    // outrank C (same in-degree, 9× the share)
    val wg = Seq((2L, 1L, 9L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val wr = Graph.pageRankWeighted(wg, "src", "dst", "w", iters = 3)
      .orderBy("node").as[(Long, Double)].collect().toMap
    assert(wr(1L) > wr(3L), s"weight-9 target must outrank weight-1 target: $wr")

    // TrustRank: two disconnected components {1,2} and {10,11}; teleport
    // concentrated on node 1 — the unseeded component's rank must be
    // EXACTLY 0 (trust cannot teleport there, and dangling mass
    // redistributes by the teleport vector, not uniformly)
    val two = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
      .withColumn("w", lit(1L))
    val tf = Seq((1L, 1.0)).toDF("node", "t")
    val tr = Graph.pageRankWeighted(two, "src", "dst", "w", iters = 4,
      teleport = Some(tf)).orderBy("node").as[(Long, Double)].collect().toMap
    assert(tr(10L) == 0.0 && tr(11L) == 0.0, s"unseeded component must hold zero trust: $tr")
    assert(tr(1L) > 0.0 && tr(2L) > 0.0, s"seed component must hold all trust: $tr")

    // unnormalized teleport fails loudly
    val bad = Seq((1L, 0.7)).toDF("node", "t")
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(two, "src", "dst", "w", iters = 1, teleport = Some(bad))
    }
  }

  test("random projection: deterministic, sign-exact on unit axes, identical vectors stay cosine-1, rerank ⊇ exact-surviving shortlist") {
    // matrix is pure function of (seed, dims): two builds identical
    val m1 = Similarity.projectionMatrix(8, 64, seed = 7L)
    val m2 = Similarity.projectionMatrix(8, 64, seed = 7L)
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    assert(m1.flatten.forall(v => v == 1.0 || v == -1.0))
    // projecting the i-th unit vector reads column i of the matrix
    // exactly (±1 products are exact in float)
    val unit = Array.fill(64)(0.0f); unit(3) = 1.0f
    val proj = Seq(Tuple1(unit)).toDF("v")
      .select(Similarity.project($"v", m1).as("p"))
      .as[Seq[Double]].head()
    assert(proj == m1.map(_(3)).toSeq)
    // identical vectors project identically → projected cosine 1
    val two = emb.limit(5).select($"vec_id", $"embedding")
    val p = two.select($"vec_id",
      Similarity.project($"embedding", m1).as("p"))
    val self = p.select(round(vec_cosine($"p", $"p"), 9)).as[Double].collect()
    assert(self.forall(_ == 1.0))
    // rerank at shortlist = corpus size IS exact brute force (every
    // candidate survives, exact rerank re-ranks everything)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(queries, "query_id", "qvec",
      emb, "vec_id", "embedding", k = 5)
      .select($"query_id", $"vec_id", $"cosine_sim", $"rank").collect().toSet
    val full = Similarity.topKProjectedRerank(queries, "query_id", "qvec",
      emb, "vec_id", "embedding", k = 5, shortlist = n, outDim = 8, dim = 64)
      .select($"query_id", $"vec_id", $"cosine_sim", $"rank").collect().toSet
    assert(full == exact,
      "shortlist = |corpus| must reduce rerank to exact brute force")
  }

  test("simhash index: probe ≡ live cold pairs, append idempotent, hot star-degrades, post-marker crash heals") {
    val base = scratch("shidx").toString
    val path = s"$base/idx"
    // engine-portable mixed signatures + planted xor twins (the x119 grain)
    val sig = docs.select($"doc_id".as("d"))
      .select($"d", ((($"d" * 48271L) % 2147483647L) * 4194301L +
        ($"d" * 69621L) % 1048573L).as("s"))
    val corpus = sig.filter($"d" % 2 === 0).select(($"d" * 10).as("id"), $"s")
    val batch = sig.filter($"d" % 2 === 1).select(($"d" * 10).as("id"), $"s")
      .unionByName(sig.filter($"d" % 10 === 0)
        .select(($"d" * 10 + 2).as("id"),
          $"s".bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), CAST(d % 22 AS INT))")).as("s")))
    Dedup.writeSimhashIndex(corpus, "id", "s", path, maxDist = 2)
    def probe() = Dedup.probeSimhashIndex(
      Dedup.readSimhashIndex(spark, path), batch, "id", "s")
      .select(least($"batch_id", $"corpus_id"), greatest($"batch_id", $"corpus_id"),
        $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // equivalence: the live pair op over corpus ∪ batch, restricted to
    // cross (batch, corpus) pairs, is exactly what the probe must emit
    val corpusIds = corpus.select("id").as[Long].collect().toSet
    val batchIds = batch.select("id").as[Long].collect().toSet
    val liveAll: Set[(Long, Long, Long)] = Dedup.simhashPairs(
      corpus.unionByName(batch).withColumnRenamed("s", "simhash"), "id", maxDist = 2)
      .select(least($"id_a", $"id_b"), greatest($"id_a", $"id_b"), $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val live = liveAll.filter(t =>
      (corpusIds(t._1) && batchIds(t._2)) || (corpusIds(t._2) && batchIds(t._1)))
    val got = probe()
    assert(got == live, s"probe must equal live cross pairs: got ${got.size}, live ${live.size}")
    assert(got.nonEmpty, "planted xor twins must produce pairs")
    // append idempotence: replaying an append must not duplicate rows
    val extra = sig.filter($"d" % 7 === 3).select(($"d" * 10 + 5).as("id"), $"s")
    Dedup.appendToSimhashIndex(spark, path, extra, "id", "s")
    val afterOnce = Dedup.readSimhashIndex(spark, path).sigs.count()
    Dedup.appendToSimhashIndex(spark, path, extra, "id", "s")
    assert(Dedup.readSimhashIndex(spark, path).sigs.count() == afterOnce,
      "replayed append must be an anti-join no-op")
    // hot bucket: maxBucket = 0 forces EVERY touched bucket hot — pairs
    // must degrade to hub stars but planted twins of the hub still verify
    val hotPairs = Dedup.probeSimhashIndex(
      Dedup.readSimhashIndex(spark, path), batch, "id", "s", maxBucket = 0)
      .as[(Long, Long, Int)].collect()
    assert(hotPairs.forall(_._3 <= 2), "star pairs must stay Hamming-verified")
    // crash after the commit (the manifest is the marker), before the
    // sweep: the superseded dirs come back, and the reader still sees
    // exactly the committed compaction (baseline re-captured AFTER the
    // appends: `extra` shares signatures with odd d ≡ 3 mod 7 batch rows,
    // so the cross pair set grew)
    val got2 = probe()
    val before = scratch("simhashUnswept")
    IndexStoreSpec.copyTree(java.nio.file.Paths.get(path), before)
    Dedup.compactSimhashIndex(spark, path)
    IndexStoreSpec.copyTree(before, java.nio.file.Paths.get(path))
    assert(IndexStore.latest(spark, path).tables.values.forall(_.size == 1))
    assert(probe() == got2, "a read after a post-commit crash changed the pairs")
  }

  test("componentsIncremental: delta merges to the global min, singletons survive, staged crash heals") {
    val l0 = Dedup.components(Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"))
    val labels = l0.unionByName(Seq((9L, 9L)).toDF("id", "comp"))
    val delta = Seq((2L, 5L)).toDF("id_a", "id_b")
    val merged = Dedup.componentsIncremental(labels, delta)
    val m = merged.orderBy("id").as[(Long, Long)].collect().toSeq
    assert(m == Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (9L, 9L)),
      "bridged components must relabel to the global min; the singleton keeps its label")
    // idempotent: the same delta folded into the merged labels is a fixpoint
    val again = Dedup.componentsIncremental(merged, delta)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(again == m, "replaying the delta must be a fixpoint")
    // persisted form + the staged-but-uncommitted crash window: the fold
    // wrote its labels and never committed; readers see the old labels
    // and the replayed fold lands
    val path = scratch("ccidx").toString
    Dedup.writeCcIndex(spark, path, labels)
    def persisted() = Dedup.readCcIndex(spark, path).orderBy("id").as[(Long, Long)].collect().toSeq
    val before = persisted()
    Dedup.appendToCcIndex(spark, path, delta)
    IndexStoreSpec.uncommit(spark, path)
    assert(persisted() == before, "an uncommitted fold leaked into a read")
    Dedup.appendToCcIndex(spark, path, delta)
    assert(persisted() == m, "the replayed fold must land the folded labels")
  }

  test("compressionRatio: repetition deflates below prose, empty reads 1, null stays null, codegen stable") {
    val df = Seq(
      (1L, "spam ham " * 50),
      (2L, "The quick brown fox jumps over the lazy dog near the river bank today."),
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val got = df.select($"id", ops.TextStats.compressionRatio($"text").as("r"))
      .orderBy("id").collect()
    val rep = got(0).getDouble(1)
    val prose = got(1).getDouble(1)
    assert(rep > 0 && prose > 0 && rep < prose,
      s"repetitive ($rep) must deflate below prose ($prose)")
    assert(prose <= 1.2, s"prose ratio $prose out of bounds")
    assert(got(2).getDouble(1) == 1.0, "empty text pins ratio 1.0")
    assert(got(3).isNullAt(1), "null stays null")
    // deterministic across evaluations (interpreted + codegen paths agree:
    // a second run through a different plan shape must reproduce values)
    val again = df.filter($"id" <= 2)
      .select($"id", ops.TextStats.compressionRatio($"text").as("r"))
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(again == Seq(rep, prose))
  }

  test("sentenceChunks: never splits a sentence, overflow lands in the open chunk, reassembly exact") {
    val df = Seq(
      (1L, "a b c. d e f g h! i j"),
      (2L, "one two three four five six seven"), // no terminator, over maxTokens
      (3L, "...")                                // punctuation only: no sentences
    ).toDF("id", "text")
    val got = Packing.sentenceChunks(df, "id", $"text", maxTokens = 5)
      .orderBy("id", "chunk_idx")
      .select($"id", $"chunk_idx", $"chunk_text", $"n_sentences", $"n_tokens")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    // doc 1: sentences "a b c." (3), " d e f g h!" (5), " i j" (2);
    // cum-before buckets 0,0,1 → chunk 0 holds the first two (8 tokens —
    // the straddling sentence overflows, it is never cut), chunk 1 the tail
    assert(got.filter(_._1 == 1L) == Seq(
      (1L, 0L, "a b c. d e f g h!", 2L, 8L),
      (1L, 1L, " i j", 1L, 2L)))
    // doc 2: one over-length sentence → one over-length chunk
    assert(got.filter(_._1 == 2L) == Seq(
      (2L, 0L, "one two three four five six seven", 1L, 7L)))
    // doc 3: no sentences, no chunks
    assert(!got.exists(_._1 == 3L))

    // overlap = 1: chunk 1 additionally carries chunk 0's LAST sentence,
    // duplicated and counted in both; a single-chunk doc gains nothing
    val ov = Packing.sentenceChunksOverlap(df, "id", $"text", maxTokens = 5, overlap = 1)
      .orderBy("id", "chunk_idx")
      .select($"id", $"chunk_idx", $"chunk_text", $"n_sentences", $"n_tokens")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(ov.filter(_._1 == 1L) == Seq(
      (1L, 0L, "a b c. d e f g h!", 2L, 8L),
      (1L, 1L, " d e f g h! i j", 2L, 7L)))
    assert(ov.filter(_._1 == 2L) == Seq(
      (2L, 0L, "one two three four five six seven", 1L, 7L)))
  }

  test("HLL index: small-cardinality estimates exact, new keys appear on fold, staged crash heals") {
    val path = scratch("hllidx").toString
    val a = Seq(("h1", 1L), ("h1", 2L), ("h1", 2L), ("h2", 5L)).toDF("host", "uid")
    val b = Seq(("h1", 3L), ("h3", 9L)).toDF("host", "uid")
    ops.Frequency.writeHllIndex(spark, path, a, "host", "uid")
    ops.Frequency.foldIntoHllIndex(spark, path, b, "host", "uid")
    // DataSketches HLL stores small sets exactly (list/set mode), so at
    // this cardinality estimates ARE the exact distinct counts
    val est = ops.Frequency.readHllEstimates(spark, path)
      .orderBy("key").as[(String, Long)].collect().toSeq
    assert(est == Seq(("h1", 3L), ("h2", 1L), ("h3", 1L)),
      s"small-set estimates must be exact: $est")
    // staged-but-uncommitted crash: the fold's delta is invisible until
    // its replay commits it
    val extra = Seq(("h2", 6L)).toDF("host", "uid")
    ops.Frequency.foldIntoHllIndex(spark, path, extra, "host", "uid")
    IndexStoreSpec.uncommit(spark, path)
    def estimates() = ops.Frequency.readHllEstimates(spark, path)
      .orderBy("key").as[(String, Long)].collect().toSeq
    assert(estimates() == est, "an uncommitted fold leaked into a read")
    ops.Frequency.foldIntoHllIndex(spark, path, extra, "host", "uid")
    assert(estimates() == Seq(("h1", 3L), ("h2", 2L), ("h3", 1L)),
      s"the replayed fold must land the folded sketches: ${estimates()}")
  }

  test("HLL index: folds append deltas (no index rewrite), compaction unions per key, lgK pin rejects mismatch") {
    val path = scratch("hllidx2").toString
    val a = Seq(("h1", 1L), ("h2", 5L)).toDF("host", "uid")
    val b = Seq(("h1", 2L), ("h3", 9L)).toDF("host", "uid")
    ops.Frequency.writeHllIndex(spark, path, a, "host", "uid")
    ops.Frequency.foldIntoHllIndex(spark, path, b, "host", "uid")
    // the fold APPENDED delta rows — h1 is present twice on disk (the
    // O(batch) shape; the old fold would have rewritten to 1 row per key)
    def sketches() = IndexStore.read(spark, path, IndexStore.latest(spark, path), "sketches")
    val rows = sketches()
    assert(rows.count() == 4 && rows.select("key").distinct().count() == 3,
      "fold must append delta rows, not rewrite the table")
    val est = ops.Frequency.readHllEstimates(spark, path)
      .orderBy("key").as[(String, Long)].collect().toSeq
    assert(est == Seq(("h1", 2L), ("h2", 1L), ("h3", 1L)))
    // compaction collapses to one row per key; estimates unchanged
    ops.Frequency.compactHllIndex(spark, path)
    assert(sketches().count() == 3, "compaction must union deltas to one row per key")
    assert(ops.Frequency.readHllEstimates(spark, path)
      .orderBy("key").as[(String, Long)].collect().toSeq == est)
    // auto-compact trigger: threshold 1 part file → fold compacts in place
    ops.Frequency.foldIntoHllIndex(spark, path, b, "host", "uid", autoCompactAt = 1)
    assert(sketches().count() == 3,
      "auto-compact at threshold must leave one row per key")
    // lgK mismatch fails loudly (ADVICE r12: a mixed-precision fold would
    // silently degrade or error at union time)
    val e = intercept[IllegalArgumentException] {
      ops.Frequency.foldIntoHllIndex(spark, path, b, "host", "uid", lgK = 14)
    }
    assert(e.getMessage.contains("lgK"), s"mismatch message must name lgK: ${e.getMessage}")
  }

  test("bm25: hand-checked single-term score, no-shared-term docs absent, duplicate query words don't double-count") {
    // corpus: 3 docs; "cat" appears in doc 1 (tf 2, dl 4) and doc 2
    // (tf 1, dl 2); doc 3 shares nothing. N=3, avgdl=(4+2+3)/3=3.
    val docs = Seq(
      (1L, "cat cat sat mat"),
      (2L, "a cat"),
      (3L, "dog dog fox")).toDF("id", "text")
    val q = Seq((10L, "cat CAT")).toDF("qid", "qt") // dup + case → ONE term
    val got = ops.TextStats.bm25(docs, "id", $"text", q, "qid", $"qt")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    val idf = math.log((3.0 - 2.0 + 0.5) / (2.0 + 0.5) + 1.0)
    def s(tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / 3.0))
    assert(got.map(_._2) == Seq(1L, 2L), "doc 3 shares no term and must be absent")
    assert(math.abs(got(0)._3 - s(2, 4)) < 1e-12 && math.abs(got(1)._3 - s(1, 2)) < 1e-12,
      s"hand-check failed: $got vs ${s(2, 4)}, ${s(1, 2)}")
    // two-term query sums per-term contributions
    val q2 = Seq((20L, "cat dog")).toDF("qid", "qt")
    val got2 = ops.TextStats.bm25(docs, "id", $"text", q2, "qid", $"qt")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(got2.map(_._2) == Seq(1L, 2L, 3L), "dog matches doc 3 now")
    val idfDog = math.log((3.0 - 1.0 + 0.5) / (1.0 + 0.5) + 1.0)
    val dog3 = idfDog * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0))
    assert(math.abs(got2(2)._3 - dog3) < 1e-12)

    // over-cap path: cap 0 forces every query-side join to shuffle —
    // scores must be bit-identical to the broadcast path
    val overCap = ops.TextStats.bm25(docs, "id", $"text", q2, "qid", $"qt",
        queryBroadcastCap = 0L)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(overCap == got2, "gated shuffle path must equal the broadcast path")
  }

  test("BM25 postings index: probe ≡ live, replayed append is a no-op, probe prunes term partitions, crash heals") {
    val path = scratch("bm25idx").toString
    val corpus = docs.select($"doc_id".as("id"), $"text")
    val a = corpus.filter($"id" % 2 === 0)
    val b = corpus.filter($"id" % 2 === 1)
    val q = corpus.filter($"id" % 83 === 1)
      .select(($"id" * 100).as("qid"),
        concat_ws(" ", slice(ops.TextStats.tokens($"text"), 1, 3)).as("qt"))
    // a table as the index's committed manifest names it
    def table(t: String) = IndexStore.read(spark, path, IndexStore.latest(spark, path), t)
    ops.TextStats.writeBm25Index(a, "id", $"text", path)
    ops.TextStats.appendToBm25Index(spark, path, b, "id", $"text")
    val nPostings = table("postings").count()
    ops.TextStats.appendToBm25Index(spark, path, b, "id", $"text")
    assert(table("postings").count() == nPostings,
      "replayed append must anti-join to nothing")
    assert(table("doclen").count() == corpus.count())
    // round6-quantized compare: the two paths sum identical per-term
    // contributions in different partition orders (IEEE add order)
    def r6(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"id", graft.Canonical.round6($"bm25").as("bm25"))
      .orderBy("qid", "id").as[(Long, Long, Double)].collect().toSeq
    def probe() = r6(ops.TextStats.probeBm25Index(spark, path, q, "qid", $"qt"))
    val live = r6(ops.TextStats.bm25(corpus, "id", $"text", q, "qid", $"qt"))
    val first = probe()
    assert(first == live, s"index probe must equal live bm25 (${first.size} vs ${live.size})")
    assert(first.nonEmpty)
    // the postings scan prunes to the query terms' hash partitions
    val plan = ops.TextStats.probeBm25Index(spark, path, q, "qid", $"qt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__tp"),
      s"probe must carry a __tp partition filter:\n${plan.take(2000)}")
    // compaction preserves values + layout; what a writer that crashed
    // before its commit leaves (a write dir at the next version) is
    // never read
    ops.TextStats.compactBm25Index(spark, path)
    assert(probe() == live, "compaction must not move scores")
    table("doclen").limit(1)
      .write.parquet(s"$path/doclen/__w=${IndexStore.nextVersion(spark, path)}")
    assert(probe() == live, "probe after a pre-commit crash must score identically")
    // id-column contract is pinned in the manifest
    val e = intercept[IllegalArgumentException] {
      ops.TextStats.appendToBm25Index(spark, path, b.withColumnRenamed("id", "x"), "x", $"text")
    }
    assert(e.getMessage.contains("id"), e.getMessage)

    // — round 14: meta counters + bloom-pruned fold invariants ——————————
    // the probe plan reads ONLY the pruned postings — no doclen scan
    // (N/avgdl come from the manifest's exact additive counters)
    assert(!plan.contains("doclen"),
      s"probe plan must not scan doclen (meta counters):\n${plan.take(2000)}")
    // the id sketch exists and the manifest's counters equal the table's
    val m = IndexStore.latest(spark, path)
    assert(new java.io.File(s"$path/${m.sketch.get}").exists(), "fold sketch must persist")
    val agg = table("doclen")
      .agg(org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.sum($"__dl".cast("long")))
      .as[(Long, Long)].head()
    assert((m.long("n_docs"), m.long("sum_dl")) == agg,
      s"manifest counters (${m.long("n_docs")},${m.long("sum_dl")}) must equal doclen $agg")
    // building an EMPTY index fails loud (an empty partitionBy dir would
    // be unreadable forever) and commits no manifest
    val path2 = scratch("bm25empty").toString
    val e2 = intercept[IllegalArgumentException] {
      ops.TextStats.writeBm25Index(corpus.filter($"id" < 0), "id", $"text", path2)
    }
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
    assert(!IndexStore.committed(spark, path2), "a refused empty build must commit no manifest")
  }

  test("BM25 index round-15 contract drills: the fold's sketch keeps the build's pinned params, " +
      "duplicate-id batch fails loud") {
    val path = scratch("bm25r15").toString
    val corpus = docs.select($"doc_id".as("id"), $"text")
    val a = corpus.filter($"id" % 2 === 0)
    val b = corpus.filter($"id" % 2 === 1)
    val q = corpus.filter($"id" % 83 === 1)
      .select(($"id" * 100).as("qid"),
        concat_ws(" ", slice(ops.TextStats.tokens($"text"), 1, 3)).as("qt"))
    def r6(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"id", graft.Canonical.round6($"bm25").as("bm25"))
      .orderBy("qid", "id").as[(Long, Long, Double)].collect().toSeq
    def probe() = r6(ops.TextStats.probeBm25Index(spark, path, q, "qid", $"qt"))
    def doclen() = IndexStore.read(spark, path, IndexStore.latest(spark, path), "doclen")

    // custom sketch sizing pinned in the manifest (advice r15): a fold's
    // sketch must keep the BUILD's params, not the defaults
    ops.TextStats.writeBm25Index(a, "id", $"text", path,
      expectedItems = 1234L, fpp = 0.05)
    val built = IndexStore.latest(spark, path)
    assert(built.long("bloom_items") == 1234L && built.double("bloom_fpp") == 0.05,
      s"build params must ride the manifest: ${built.meta}")
    ops.TextStats.appendToBm25Index(spark, path, b, "id", $"text")
    val folded = IndexStore.latest(spark, path)
    assert(folded.sketch != built.sketch, "the fold must commit a fresh sketch")
    val (fs, _) = ops.Dedup.hadoopFs(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/${folded.sketch.get}"))
    val dis = new java.io.DataInputStream(in)
    val (items, fpp) = try (dis.readLong(), dis.readDouble()) finally in.close()
    assert((items, fpp) == ((1234L, 0.05)),
      s"the fold's sketch must use the pinned params, got ($items, $fpp)")
    val live = r6(ops.TextStats.bm25(corpus, "id", $"text", q, "qid", $"qt"))
    assert(probe() == live, "probe after the param-pinned fold must equal live")

    // duplicate ids inside one batch: fail loud BEFORE any mutation
    // (different text under one id would make live and indexed scores
    // diverge via the partition-order first(__dl))
    val nBefore = doclen().count()
    val dup = Seq((999999L, "aa bb"), (999999L, "aa bb cc dd ee")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      ops.TextStats.appendToBm25Index(spark, path, dup, "id", $"text")
    }
    assert(e.getMessage.contains("duplicated"), e.getMessage)
    assert(doclen().count() == nBefore && IndexStore.latest(spark, path) == folded,
      "a refused fold must not have touched the index")

    // writeTextFile is atomic: the destination is only ever whole, and
    // no .__tmp residue survives a completed write
    ops.Dedup.writeTextFile(spark, s"$path/probe.txt", "first")
    ops.Dedup.writeTextFile(spark, s"$path/probe.txt", "second")
    assert(ops.Dedup.readTextFile(spark, s"$path/probe.txt") == "second")
    assert(!new java.io.File(s"$path/probe.txt.__tmp").exists(),
      "the atomic swap must consume its tmp file")
  }

  test("bm25Decontaminate: k-boundary tie breaks on doc id, multi-query docs removed once, threshold respected") {
    // docs 1 and 2 are IDENTICAL → identical scores for any query; with
    // k=1 the tie at the cut breaks on doc id asc: doc 1 is retrieved
    // (contaminated), doc 2 survives. Doc 3 matches both queries (multi-
    // query) and is removed once; doc 4 shares no term and survives.
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta delta epsilon"),
      (4L, "omega psi chi")).toDF("id", "text")
    val queries = Seq((10L, "delta"), (20L, "epsilon")).toDF("qid", "qt")
    val survivors = ops.TextStats.bm25Decontaminate(
        corpus, "id", $"text", queries, "qid", $"qt", k = 1)
      .select($"id").orderBy("id").as[Long].collect().toSeq
    assert(survivors == Seq(1L, 2L, 4L),
      s"doc 3 is top-1 for BOTH queries and must be removed once: $survivors")
    // tie case: query matching docs 1 and 2 equally, k=1 → doc 1 (lower
    // id) takes the cut and is removed; doc 2 survives on the tiebreak
    val qTie = Seq((30L, "alpha")).toDF("qid", "qt")
    val tie = ops.TextStats.bm25Decontaminate(
        corpus, "id", $"text", qTie, "qid", $"qt", k = 1)
      .select($"id").orderBy("id").as[Long].collect().toSeq
    assert(tie == Seq(2L, 3L, 4L), s"k-boundary tie must break on doc id asc: $tie")
    // minScore above every score → nothing is contaminated
    val none = ops.TextStats.bm25Decontaminate(
        corpus, "id", $"text", qTie, "qid", $"qt", k = 1, minScore = 1e9)
      .select($"id").orderBy("id").as[Long].collect().toSeq
    assert(none == Seq(1L, 2L, 3L, 4L), s"minScore gate must keep sub-threshold hits: $none")
  }

  test("source-token index: folds sum exactly, replay is a ledger no-op, staged crash heals, recipe ≡ live") {
    val path = scratch("srctok").toString
    val rows = Seq(("a", 60L), ("a", 40L), ("b", 100L), ("c", 800L)).toDF("src", "tk")
    val targets = Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.5)
    ops.Sampling.writeSourceTokenIndex(spark, path)
    assert(ops.Sampling.foldIntoSourceTokenIndex(spark, path, "d1",
      rows.filter($"tk" < 100L), $"src", $"tk"))
    assert(ops.Sampling.foldIntoSourceTokenIndex(spark, path, "d2",
      rows.filter($"tk" >= 100L), $"src", $"tk"))
    assert(!ops.Sampling.foldIntoSourceTokenIndex(spark, path, "d2",
      rows.filter($"tk" >= 100L), $"src", $"tk"), "replayed batch id must be a no-op")
    def card() = ops.Sampling.domainBalanceFromIndex(spark, path, targets)
      .orderBy("source").as[(String, Long, Double, Long, Double)].collect().toSeq
    val live = ops.Sampling.domainBalance(rows, $"src", $"tk", targets)
      .orderBy("source").as[(String, Long, Double, Long, Double)].collect().toSeq
    assert(card() == live, s"indexed recipe must equal live: ${card()} vs $live")
    assert(card().map(r => (r._1, r._2)) == Seq(("a", 100L), ("b", 100L), ("c", 800L)))
    // crash drill: a fold wrote its merged table, then died before its
    // commit — readers keep the committed recipe, and the replay lands
    assert(ops.Sampling.foldIntoSourceTokenIndex(spark, path, "d3",
      rows.filter($"src" === "b"), $"src", $"tk"))
    IndexStoreSpec.uncommit(spark, path)
    assert(card() == live, "an uncommitted fold must leave the identical recipe")
    assert(ops.Sampling.foldedSourceBatches(spark, path) == Set("d1", "d2"))
    assert(ops.Sampling.foldIntoSourceTokenIndex(spark, path, "d3",
      rows.filter($"src" === "b"), $"src", $"tk"))
    assert(ops.Sampling.foldedSourceBatches(spark, path) == Set("d1", "d2", "d3"))
  }

  test("rrfFuse: hand-checked contribution sums, single-list items score, ties break on id") {
    // q=1: list A ranks (10→1, 20→2); list B ranks (20→1, 30→2).
    // rrf(20) = 1/61 + 1/62, rrf(10) = 1/61, rrf(30) = 1/62 →
    // fused order 20, 10, 30 (items ranked by ONE list still score)
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("q", "id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("q", "id", "rank")
    val got = ops.Similarity.rrfFuse(a, b, "q", "id", k = 3)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect().toSeq
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got.map(r => (r._2, r._4)) == Seq((20L, 1L), (10L, 2L), (30L, 3L)),
      s"fused order mismatch: $got")
    assert(got.map(_._3) == Seq(r6(1.0 / 61 + 1.0 / 62), r6(1.0 / 61), r6(1.0 / 62)),
      s"contribution sums mismatch: $got")
    // k cuts the fused list, not the inputs
    assert(ops.Similarity.rrfFuse(a, b, "q", "id", k = 1).count() == 1)
    // equal-rrf tie (two items each ranked 1 by one list) breaks on id asc
    val a2 = Seq((1L, 10L, 1L)).toDF("q", "id", "rank")
    val b2 = Seq((1L, 20L, 1L)).toDF("q", "id", "rank")
    val tie = ops.Similarity.rrfFuse(a2, b2, "q", "id", k = 2)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect().toSeq
    assert(tie.map(_._2) == Seq(10L, 20L), s"tie must break on id asc: $tie")
    assert(tie.map(_._3).distinct.size == 1, "tied items carry the same rrf")
  }

  test("domainBalance: binding source keeps rate 1, quotas follow targets, missing source fails fast") {
    // tokens: a=100, b=100, c=800; targets .25/.25/.5 → C = min(400, 400,
    // 1600) = 400; quotas 100/100/200; rates 1/1/0.25
    val docs = Seq(
      ("a", 100L), ("b", 60L), ("b", 40L), ("c", 800L)).toDF("src", "tk")
    val got = ops.Sampling.domainBalance(docs, $"src", $"tk",
        Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.5))
      .orderBy("source").as[(String, Long, Double, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 100L, 0.25, 100L, 1.0),
      ("b", 100L, 0.25, 100L, 1.0),
      ("c", 800L, 0.5, 200L, 0.25)), s"water-fill mismatch: $got")
    // a source absent from targets fails fast, named
    val e = intercept[IllegalArgumentException] {
      ops.Sampling.domainBalance(docs, $"src", $"tk", Seq("a" -> 0.5, "b" -> 0.5))
    }
    assert(e.getMessage.contains("c"), s"missing source must be named: ${e.getMessage}")
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      ops.Sampling.domainBalance(docs, $"src", $"tk", Seq("a" -> 0.5, "b" -> 0.4, "c" -> 0.2))
    }
  }

  test("balanceToTarget: binding source keeps everything, others thin toward quota, deterministic across runs") {
    // a=100 single doc, b=100 over 2 docs, c=800 over 80 docs; targets
    // .25/.25/.5 → rates 1/1/0.25: a and b keep ALL docs, c thins
    val rows = Seq(("a", 0L, 100L), ("b", 1L, 60L), ("b", 2L, 40L)) ++
      (10L until 90L).map(i => ("c", i, 10L))
    val docs = rows.toDF("src", "id", "tk")
    val kept = ops.Sampling.balanceToTarget(docs, $"src", $"id", $"tk",
      Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.5))
    val bySrc = kept.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc("a") == 1 && bySrc("b") == 2, "rate-1 sources keep every doc")
    assert(bySrc("c") < 80, "the over-represented source must thin")
    // every kept row carries its source's rate
    assert(kept.filter($"src" === "c" && $"balance_rate" =!= 0.25).count() == 0)
    // content-addressed coin: a second run keeps the identical set
    val again = ops.Sampling.balanceToTarget(docs, $"src", $"id", $"tk",
      Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.5))
      .select("id").as[Long].collect().toSet
    assert(again == kept.select("id").as[Long].collect().toSet)
  }

  test("weightedTopKPerGroup: giant weight always wins, non-positive weights excluded, equal weights = coin order") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 10.0), ("a", 4L, 1e9),
      ("a", 5L, 0.0), ("a", 6L, -3.0), ("b", 7L, 2.0), ("b", 8L, 0.0)
    ).toDF("g", "id", "w")
    val kept = Sampling.weightedTopKPerGroup(df, $"g", $"id", $"w", k = 2)
      .select($"g", $"id").as[(String, Long)].collect().toSet
    assert(kept.contains(("a", 4L)), "a ~1e9-weight row must always rank first (key ln(u)/w → 0⁻)")
    assert(!kept.exists(t => t._2 == 5L || t._2 == 6L), "zero/negative weights never sampled")
    assert(kept.count(_._1 == "a") == 2 && kept.count(_._1 == "b") == 1,
      "exactly min(k, eligible) rows per group")
    // equal weights reduce to the unweighted portable-coin reservoir:
    // selection must be a deterministic function of ids only
    val eq = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 5.0)).toDF("g", "id", "w")
    val k1 = Sampling.weightedTopKPerGroup(eq, $"g", $"id", $"w", k = 1)
      .select($"id").as[Long].head()
    val k1again = Sampling.weightedTopKPerGroup(eq, $"g", $"id", $"w", k = 1)
      .select($"id").as[Long].head()
    assert(k1 == k1again, "deterministic across runs")
  }

  test("repairEncoding: single + double mojibake invert exactly; clean, >0xFF, and invalid inputs are fixpoints") {
    val clean = "résumé – café’s naïve façade"
    def moji(s: String) = new String(s.getBytes("UTF-8"), "ISO-8859-1")
    val df = Seq(
      (1L, clean),                      // real UTF-8: '–' > 0xFF aborts the round-trip
      (2L, moji(clean)),                // single mojibake
      (3L, moji(moji(clean))),          // double mojibake (two rounds)
      (4L, "plain ascii text"),         // no shrink possible → fixpoint
      (5L, "Ã")                         // lone 0xC3 byte: malformed UTF-8 → untouched
    ).toDF("id", "text")
    val got = df.select($"id", ops.TextStats.repairEncoding($"text").as("r"))
      .orderBy("id").as[(Long, String)].collect().toMap
    assert(got(1L) == clean, "clean text must be a fixpoint")
    assert(got(2L) == clean, "single mojibake must invert exactly")
    assert(got(3L) == clean, "double mojibake must invert in two rounds")
    assert(got(4L) == "plain ascii text")
    assert(got(5L) == "Ã", "malformed byte stream must abort untouched")
    // idempotence: repairing repaired text changes nothing
    val twice = df.select($"id",
      ops.TextStats.repairEncoding(ops.TextStats.repairEncoding($"text")).as("r"))
      .orderBy("id").as[(Long, String)].collect().toMap
    assert(twice == got, "repair must be idempotent")
  }

  test("piiStats: masking order makes an email inside a URL count as URL, not email") {
    val df = Seq(
      (1L, "see https://x.com/a@b.cc then mail a@b.cc or call 555-123-4567"),
      (2L, "clean text, no pii at all"),
      (3L, null.asInstanceOf[String])).toDF("id", "text")
    val got = ops.TextStats.piiStats(df, "id").orderBy("id")
      .select($"id", $"n_urls", $"n_emails", $"n_phones").collect()
    assert(got(0).getLong(1) == 1L, "one URL")
    assert(got(0).getLong(2) == 1L, "only the standalone email — the embedded one is URL-masked")
    assert(got(0).getLong(3) == 1L, "one phone")
    assert(got(1).getLong(1) == 0L && got(1).getLong(2) == 0L && got(1).getLong(3) == 0L)
    assert(got(2).isNullAt(1), "null text stays null, not zero")
    // and the scrubbed text agrees with the standalone scrub pass
    val scrubbed = ops.TextStats.piiStats(df, "id").orderBy("id")
      .select($"text_scrubbed").as[String].head()
    assert(scrubbed == "see <URL> then mail <EMAIL> or call <PHONE>")
  }

  test("text stats: ratios bounded, langid sane, fingerprint stable") {
    val st = ops.TextStats.withStats(docs).cache()
    assert(st.filter($"stopword_ratio" < 0 || $"stopword_ratio" > 1).count() == 0)
    assert(st.filter($"quality_score" < 0 || $"quality_score" > 1).count() == 0)
    val langs = (ops.TextStats.LangTrigramProfiles.map(_._1) ++
      ops.TextStats.ScriptRanges.map(_._1) :+ "unknown").distinct
    assert(st.filter($"pred_lang".isin(langs: _*)).count() == st.count())
    val fp1 = st.select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    val fp2 = ops.TextStats.withStats(docs).select("doc_id", "fingerprint")
      .as[(Long, Long)].collect().toMap
    assert(fp1 == fp2)
    st.unpersist()
  }
}
