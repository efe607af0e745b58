package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curate, Decontaminate, Dedup, IndexStore, Ivf, Repetition, Similarity, TextStats}

/** Corpus-curation operators: benchmark decontamination, Gopher-style
  * repetition stats, and end-to-end semantic dedup.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val bench = Seq((100L, "alpha beta gamma delta")).toDF("bid", "btext")
  private lazy val corpus = Seq(
    (1L, "alpha beta gamma epsilon"),              // shares 1 trigram
    (2L, "alpha beta gamma delta zeta"),           // shares 2 trigrams
    (3L, "unrelated text entirely different here") // shares none
  ).toDF("doc_id", "text")

  test("decontaminate overlaps: distinct shared shingles per pair, minHits gate") {
    val got = Decontaminate.overlaps(corpus, "doc_id", $"text", bench, "bid", $"btext", 3)
      .orderBy("corpus_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 100L, 1L), (2L, 100L, 2L)))
    val strict = Decontaminate.overlaps(corpus, "doc_id", $"text", bench, "bid", $"btext", 3, minHits = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(strict == Seq((2L, 100L, 2L)))
  }

  test("decontaminate hits count shared VOCABULARY, not repeated occurrences") {
    val repeaty = Seq((4L, "alpha beta gamma alpha beta gamma alpha beta gamma")).toDF("doc_id", "text")
    val got = Decontaminate.overlaps(repeaty, "doc_id", $"text", bench, "bid", $"btext", 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((4L, 100L, 1L)), s"100 repeats of one benchmark phrase must score 1: $got")
  }

  test("decontaminate clean removes flagged docs, preserves layout") {
    val cleaned = Decontaminate.clean(corpus, "doc_id", $"text", bench, "bid", $"btext", 3)
    assert(cleaned.columns.toSeq == corpus.columns.toSeq)
    assert(cleaned.select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("decontaminate broadcasts the BENCH side even when corpus estimates collapse") {
    // the Curate composition hands the corpus over through checkpoint /
    // anti-join subtrees whose Catalyst size estimates fall below the
    // broadcast threshold — the static planner then broadcast-built the
    // CORPUS side of the shingle join (driver OOM at 100 TB). overlaps()
    // now decides the side by a bounded probe of the bench: the bench
    // subtree must sit under the BroadcastExchange (BuildRight), never
    // the corpus.
    val pinned = corpus.localCheckpoint() // the estimate-collapsing shape
    val ov = Decontaminate.overlaps(pinned, "doc_id", $"text", bench, "bid", $"btext", 3)
    ov.collect()
    val plan = ov.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildRight"),
      s"bench side must broadcast-build:\n$plan")
    assert(!plan.contains("BuildLeft"), s"corpus side must never broadcast-build:\n$plan")
    // over-cap bench (cap = 0 forces the degrade): neither unbounded side
    // may build an in-memory hash relation — the shingle equi-join must be
    // a shuffled merge join. The hot-shingle GUARD anti-joins are exempt:
    // their broadcast side is the df>maxDf aggregate, bounded by Zipf.
    val big = Decontaminate.overlaps(pinned, "doc_id", $"text", bench, "bid", $"btext", 3,
      benchBroadcastCap = 0L)
    big.collect()
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(bigPlan.contains("SortMergeJoin"),
      s"over-cap bench must degrade to a shuffled merge join:\n$bigPlan")
    val innerBhj = bigPlan.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && !l.contains("LeftAnti"))
    assert(innerBhj.isEmpty,
      s"no unbounded side may broadcast-build in the over-cap arm:\n$bigPlan")
  }

  test("decontaminate: bench shingle frame pins — explode feeds probe and join from one run") {
    // the bench explode has two consumers (the bounded side probe and the
    // shingle join); the localCheckpoint runs it ONCE. Proof in two
    // parts: (a) constructing overlaps() fires exactly 2 jobs — the
    // checkpoint materialization and the bounded probe count; (b) the
    // returned join plan reads the checkpoint (ExistingRDD), not the
    // bench text — so executing it cannot re-explode.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = { // poll the async listener bus to quiescence
      var prev = -1; var cur = jobs.get(); var stable = 0; var waited = 0
      while (stable < 2 && waited < 2000) {
        Thread.sleep(25); waited += 25; prev = cur; cur = jobs.get()
        if (cur == prev) stable += 1 else stable = 0
      }
      cur
    }
    spark.sparkContext.addSparkListener(l)
    try SparkSpec.session.synchronized {
      settled(); jobs.set(0)
      val ov = Decontaminate.overlaps(corpus, "doc_id", $"text", bench, "bid", $"btext", 3)
      val constructionJobs = settled()
      // checkpoint (1 job) + bounded probe count (1-2 jobs under AQE);
      // without the pin the probe AND the later join would each run the
      // explode subtree — the plan assertion below is the sharp proof
      assert(constructionJobs >= 2 && constructionJobs <= 3,
        s"overlaps() construction must cost only checkpoint + bounded probe, got $constructionJobs jobs")
      assert(!ov.queryExecution.executedPlan.toString.contains("btext"),
        "join plan must read the pinned bench shingles, not re-explode the bench text")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("decontaminate over-cap arm: PRODUCT df-cap prunes both-sides-hot pockets only, " +
      "one-sided-hot contamination matches the broadcast arm") {
    // the quadratic pocket in the merge-join arm is per-KEY pair fan-out
    // df_bench·df_corpus, so the guard caps the PRODUCT: a boilerplate
    // stop-shingle hot on BOTH sides drops; contamination detected
    // through rare shingles (or hot on ONE side only) always stays.
    val boiler = " click here to accept cookies"
    val c2 = Seq(
      (1L, "the quick brown fox jumps over dogs" + boiler),   // contaminated
      (2L, "completely unrelated corpus text body" + boiler), // boilerplate-only overlap
      (3L, "another unrelated document entirely here" + boiler)
    ).toDF("doc_id", "text")
    // three bench docs all carry the boilerplate: its shingles are hot on
    // both sides (df_b·df_c = 9 > maxDf² = 4) → excluded from the join
    val b2 = Seq(
      (100L, "the quick brown fox jumps over dogs" + boiler),
      (101L, "benchmark question about geography facts" + boiler),
      (102L, "benchmark question about arithmetic sums" + boiler)
    ).toDF("bid", "btext")
    def flagged(bench: org.apache.spark.sql.DataFrame, maxDf: Int, cap: Long) =
      Decontaminate.overlaps(c2, "doc_id", $"text", bench, "bid", $"btext",
          n = 3, minHits = 1, benchBroadcastCap = cap, maxDf = maxDf)
        .select("corpus_id").as[Long].collect().toSet
    assert(flagged(b2, maxDf = 2, cap = 0L) == Set(1L),
      "both-sides-hot stop-shingles must drop; rare-shingle contamination must stay")
    // product cap above every product here: exact semantics
    assert(flagged(b2, maxDf = 1000, cap = 0L) == Set(1L, 2L, 3L))
    // ONE-SIDED-hot shingles stay in: mass-pasted contamination (hot in
    // the corpus, df_bench = 1 → product 3 ≤ 4) must classify exactly as
    // the broadcast arm would — the arm choice must not change the answer
    val b1 = Seq((100L, "the quick brown fox jumps over dogs" + boiler)).toDF("bid", "btext")
    val mergeArm = flagged(b1, maxDf = 2, cap = 0L)
    val broadcastArm = flagged(b1, maxDf = 2, cap = Decontaminate.BenchBroadcastCap)
    assert(mergeArm == broadcastArm && mergeArm == Set(1L, 2L, 3L),
      s"arm-dependent classification: merge=$mergeArm broadcast=$broadcastArm")
  }

  test("line stats: hand-computed duplicate-line and char fractions") {
    val df = Seq(
      (1L, "a\nb\na\nc"),   // 4 lines, 3 distinct → 0.25; chars 4 vs 3 → 0.25
      (2L, "aa\nbb\naa"),   // chars 6 vs 4 → 0.3333; lines 3 vs 2 → 0.3333
      (3L, "x\ny"),         // no dups
      (4L, "")              // no lines → 0.0
    ).toDF("id", "text")
    val got = Repetition.withLineStats(df, "text")
      .orderBy("id").select("dup_line_frac", "dup_line_char_frac")
      .as[(Double, Double)].collect().toSeq
    assert(got == Seq((0.25, 0.25), (0.3333, 0.3333), (0.0, 0.0), (0.0, 0.0)))
  }

  test("top/dup n-gram char fractions: hand-computed, deterministic tie-break") {
    val df = Seq(
      (1L, "x y x y z"), // top 2-gram "x y"×2, 6 chars / 9 → 0.6667; dup same
      (2L, "a b c d"),   // all 2-grams unique: top = lexicographically largest "c d" → 3/7
      (3L, "w")          // shorter than n → 0.0
    ).toDF("id", "text")
    val top = Repetition.topNgramCharFrac(df, "id", "text", 2)
      .orderBy("id").select("top_2gram_char_frac").as[Double].collect().toSeq
    assert(top == Seq(0.6667, 0.4286, 0.0))
    val dup = Repetition.dupNgramCharFrac(df, "id", "text", 2)
      .orderBy("id").select("dup_2gram_char_frac").as[Double].collect().toSeq
    assert(dup == Seq(0.6667, 0.0, 0.0))
  }

  test("fused gopher stats equal the per-width operators row for row") {
    // gopherStats now computes both n-gram families from ONE tagged
    // explode (ngramCharAgg); this pins it against the per-width
    // originals on a fixture exercising ties, no-gram docs, repeats,
    // empty and whitespace-only text
    val df = Seq(
      (1L, "x y x y z"),
      (2L, "a b c d"),
      (3L, "w"),
      (4L, ""),
      (5L, "p q r s t p q r s t p q r s t"),
      (6L, "one two three four five six seven")
    ).toDF("id", "text")
    val fused = Repetition.gopherStats(df, "id", "text")
      .orderBy("id")
      .select("id", "top_2gram_char_frac", "dup_5gram_char_frac")
      .as[(Long, Double, Double)].collect().toSeq
    val perWidth = Repetition.topNgramCharFrac(df, "id", "text", 2)
      .join(Repetition.dupNgramCharFrac(df, "id", "text", 5), Seq("id"))
      .orderBy("id")
      .select("id", "top_2gram_char_frac", "dup_5gram_char_frac")
      .as[(Long, Double, Double)].collect().toSeq
    assert(fused == perWidth, s"fused $fused\nper-width $perWidth")
  }

  test("curate fused repetition gate keeps exactly gopherStats' keep set") {
    val docs = Seq(
      (1L, "click here to buy click here to buy click here to buy click here to buy ok"),
      (2L, "the quick brown fox jumps over a lazy dog and then it ran away home"),
      (3L, "pad pad pad pad pad pad pad pad pad pad"),
      (4L, "assorted natural words with no repetition at all whatsoever in sight today")
    ).toDF("doc_id", "text")
    // minQuality -1: quality gate passes everything, isolating the
    // repetition stage; no bench → gate + dedup only
    val fusedIds = Curate.run(docs, "doc_id", "text", None,
        Curate.Config(minQuality = -1.0))
      .select("doc_id").as[Long].collect().toSet
    val stats = TextStats.withStats(
      docs.withColumn("text", TextStats.scrub($"text")))
    val refIds = stats
      .join(Repetition.gopherStats(stats, "doc_id", "text").filter($"keep")
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(fusedIds == refIds, s"fused $fusedIds vs gopherStats $refIds")
  }

  test("gopher gate: boilerplate loop fails, natural text passes") {
    val df = Seq(
      (1L, "click here to buy\nclick here to buy\nclick here to buy\nclick here to buy"),
      (2L, "the quick brown fox jumps over a lazy dog\nand then it ran away home")
    ).toDF("id", "text")
    val got = Repetition.gopherStats(df, "id", "text")
      .orderBy("id").select("keep").as[Boolean].collect().toSeq
    assert(got == Seq(false, true))
  }

  test("overlap-heavy repeats: n-gram char fractions cap at 1.0 (EngineProps regression)") {
    // the scalacheck-falsified input: overlapping dup 5-grams double-count
    // (raw mass 112 chars over a 63-char text) — the declarative
    // approximation's documented limit, capped to keep the [0,1] contract
    val df = Seq(
      (0L, "alpha beta gamma alpha alpha alpha beta gamma alpha alpha alpha"))
      .toDF("id", "text")
    val r = Repetition.gopherStats(df, "id", "text", lineSep = " ").collect().head
    assert(r.getAs[Double]("dup_5gram_char_frac") == 1.0, r.toString)
    assert(r.getAs[Double]("top_2gram_char_frac") == 0.6984, r.toString)
    val d5 = Repetition.dupNgramCharFrac(df, "id", "text", 5)
      .collect().head.getAs[Double]("dup_5gram_char_frac")
    assert(d5 == 1.0, s"per-width form caps identically: $d5")
  }

  test("gopher quality rules: each document-shape rule hand-traced") {
    val df = Seq(
      (1L, "the quick brown fox jumps over dogs"),        // clean → keep
      (2L, "## # x"),                                     // symbol ratio + alpha fail
      (3L, "- a\n- b\nthe c"),                            // bullet 2/3 fail
      (4L, "the end...\nmore text..."),                   // ellipsis-end 2/2 fail
      (5L, ""),                                           // n_words 0 fail
      (6L, "zzz qqq www rrr sss")                         // no stopwords fail
    ).toDF("id", "text")
    val got = Repetition.gopherQualityStats(df, "id", "text",
        minWords = 3L, maxWords = 100L, minMeanWordLen = 1.0, maxMeanWordLen = 8.0,
        maxSymbolWordRatio = 0.2, maxBulletLineFrac = 0.5, maxEllipsisLineFrac = 0.5,
        minAlphaWordFrac = 0.5, minStopwordHits = 1L)
      .orderBy("id")
      .select("n_words", "mean_word_len", "symbol_word_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac", "stopword_hits", "quality_keep")
      .collect()
    def row(i: Int) = got(i).toSeq
    // doc 1: 7 words, 29 chars → 4.1429 mean; 'the' = 1 stop hit
    assert(row(0) == Seq(7L, 4.1429, 0.0, 0.0, 0.0, 1.0, 1L, true), row(0).toString)
    // doc 2: 3 words, 3 '#' → ratio 1.0; alpha 1/3
    assert(row(1) == Seq(3L, 1.3333, 1.0, 0.0, 0.0, 0.3333, 0L, false), row(1).toString)
    // doc 3: bullet lines 2/3
    assert(row(2)(3) == 0.6667 && row(2)(7) == false, row(2).toString)
    // doc 4: both lines end with "..."; two "..." runs over 4 words = 0.5 symbols
    assert(row(3)(4) == 1.0 && row(3)(2) == 0.5 && row(3)(7) == false, row(3).toString)
    // doc 5: empty → all-zero stats, fails word floor
    assert(row(4) == Seq(0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0L, false), row(4).toString)
    // doc 6: clean shape but zero stop words
    assert(row(5)(6) == 0L && row(5)(7) == false, row(5).toString)
  }

  test("webPreclean: each stage cuts — url dup, blocked domain, shape fail, spam classifier") {
    val prose = "the quick brown fox jumps over the lazy dog because it is fast and that " +
      "should be enough words to pass the floor with room to spare"
    val df = Seq(
      (1L, "https://a.example.org/p?x=1", s"<p>$prose</p>"),                 // survives all
      (2L, "https://a.example.org/p?x=1&utm_source=t", s"<p>$prose</p>"),   // url dup of 1
      (3L, "https://x.tracker-network.com/p", s"<p>$prose</p>"),            // blocked domain
      (4L, "https://b.example.org/q", "<p>tiny</p>"),                        // fails word floor
      (5L, "https://c.example.org/r",                                       // classifier spam
        "<p>click here buy now click here buy now casino winner click here " +
          "buy now casino winner lorem ipsum lorem ipsum the of and that</p>")
    ).toDF("doc_id", "url", "html")
    val surv = Curate.webPreclean(df, "doc_id", "url", "html",
      minWords = 5L, minStopwordHits = 1L, clfMinMeanCenti = 0L)
    assert(surv.columns.toSeq == Seq("doc_id", "url", "text"))
    assert(surv.select("doc_id").as[Long].collect().toSeq == Seq(1L), surv.collect().toSeq.toString)
    assert(surv.select("text").as[String].collect().head == prose, "markup stripped")
  }

  test("gopher quality rules: shuffle-free projection") {
    val df = Seq((1L, "some text")).toDF("id", "text")
    val plan = Repetition.gopherQualityStats(df, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("token-budget mixture: greedy prefix fills to within one doc, deterministic") {
    import graft.ops.{Sampling, TextStats}
    val docs = (1L to 20L).map(i => (i, (1 to 10).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text") // 10 tokens per doc, 200 total
    val toks = size(TextStats.tokens($"text")).cast("long")
    val got = Sampling.tokenBudget(Seq(("s", docs, 35L)), $"doc_id", toks)
    // 10-token docs, budget 35: cum_before of kept docs < 35 → exactly 4 docs (40 tokens)
    assert(got.count() == 4L, "35-token budget over 10-token docs keeps ceil(35/10)=4 docs")
    val again = Sampling.tokenBudget(Seq(("s", docs, 35L)), $"doc_id", toks)
      .select("doc_id").as[Long].collect().toSet
    assert(again == got.select("doc_id").as[Long].collect().toSet, "re-evaluation keeps the same set")
    // budget above the source total keeps everything
    assert(Sampling.tokenBudget(Seq(("s", docs, 1000L)), $"doc_id", toks).count() == 20L)
    // multi-source: budgets apply independently per source
    val two = Sampling.tokenBudget(
      Seq(("a", docs.filter($"doc_id" <= 10), 15L), ("b", docs.filter($"doc_id" > 10), 1000L)),
      $"doc_id", toks)
    val bySrc = two.groupBy("mix_source").count().as[(String, Long)].collect().toMap
    assert(bySrc == Map("a" -> 2L, "b" -> 10L), s"per-source budgets: $bySrc")
  }

  test("approx quality prune: equals exact form on distinct scores, subset under ties") {
    import graft.ops.TextStats
    // token count drives the score monotonically (punct 0, stopwords 0)
    val distinct = (1 to 10).map(k => (k.toLong, (1 to 4 * k).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = TextStats.qualityPrune(distinct, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    val approx = TextStats.qualityPruneApprox(distinct, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == (3L to 10L).toSet, s"exact drops floor(0.2·10)=2 lowest: $exact")
    assert(approx == exact, s"distinct scores: sketch threshold cut must agree: $approx")
    // all-tied scores: approx drops the whole tie group together (clean,
    // content-defined cut); result must be a subset of the exact keep set
    val tied = (1 to 10).map(k => (k.toLong, "same text every time here")).toDF("doc_id", "text")
    val exactT = TextStats.qualityPrune(tied, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    val approxT = TextStats.qualityPruneApprox(tied, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(exactT.size == 8 && approxT.subsetOf(exactT), s"tied: $approxT vs $exactT")
    // frac = 0 keeps everything in both forms
    assert(TextStats.qualityPruneApprox(distinct, "doc_id", 0.0).count() == 10L)
  }

  test("incremental semantic dedup: exact copy / scaled copy / orthogonal classify correctly") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // byte-identical → exact_dup of 1
      (11L, Array(3.0f, 0.0f, 0.0f, 0.0f)),  // same direction → near_dup of 1
      (12L, Array(0.0f, 0.0f, 1.0f, 0.0f))   // orthogonal → new
    ).toDF("vec_id", "embedding")
    val res = Dedup.incrementalSemanticDedup(corpus, batch, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 4, dim = 4)
    val got = res.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
    res.unpersist()
    assert(got == Seq(
      (10L, "exact_dup", Some(1L)),
      (11L, "near_dup", Some(1L)),
      (12L, "new", None)), s"got $got")
  }

  test("incremental semantic dedup: hot bucket degrades to star candidates, still found") {
    // 20 corpus vectors in ONE direction (same sign bucket), cap at 8:
    // the bucket is hot, and a batch vector duplicating the direction must
    // still be classified near_dup of the hub (min corpus id), not 'new'
    val corpus = (1L to 20L).map(i => (i, Array(i.toFloat, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val batch = Seq((100L, Array(0.5f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val res = Dedup.incrementalSemanticDedup(corpus, batch, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 4, dim = 4, maxBucket = 8)
    val got = res.as[(Long, String, Option[Long])].collect().toSeq
    res.unpersist()
    assert(got == Seq((100L, "near_dup", Some(1L))), s"got $got")
  }

  test("incrementalSemanticIndexed: persisted vec index classifies identically to the live path") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // byte-identical → exact_dup of 1
      (11L, Array(3.0f, 0.0f, 0.0f, 0.0f)),  // same direction → near_dup of 1
      (12L, Array(0.0f, 0.0f, 1.0f, 0.0f))   // orthogonal → new
    ).toDF("vec_id", "embedding")
    val base = scratch("vecIdx").toString
    Dedup.writeVecIndex(corpus, "vec_id", "embedding", s"$base/vec",
      numPlanes = 4, dim = 4, expectedItems = 100L)
    val live = Dedup.incrementalSemanticDedup(corpus, batch, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 4, dim = 4)
    val idx = Dedup.incrementalSemanticIndexed(
      Dedup.readVecIngestIndex(spark, s"$base/vec", org.apache.spark.sql.types.LongType),
      batch, "vec_id", "embedding", threshold = 0.9)
    val liveRows = live.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
    val idxRows = idx.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
    live.unpersist(); idx.unpersist()
    assert(idxRows == liveRows, s"live $liveRows\nidx  $idxRows")
    assert(idxRows == Seq(
      (10L, "exact_dup", Some(1L)),
      (11L, "near_dup", Some(1L)),
      (12L, "new", None)), s"got $idxRows")
  }

  test("incrementalSemanticIndexed: hot bucket star-degrades via persisted hub; " +
      "append folds accepted vectors in idempotently") {
    // 20 corpus vectors in ONE direction (same sign bucket), cap at 8: the
    // bucket is hot, so a batch vector duplicating the direction must be
    // found via the PERSISTED min-id hub (+ hub vector), not classified new
    val corpus = (1L to 20L).map(i => (i, Array(i.toFloat, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val base = scratch("vecIdxApp").toString
    Dedup.writeVecIndex(corpus, "vec_id", "embedding", s"$base/vec",
      numPlanes = 4, dim = 4, expectedItems = 1000L)
    def index() = Dedup.readVecIngestIndex(spark, s"$base/vec", org.apache.spark.sql.types.LongType)
    def classify(b: org.apache.spark.sql.DataFrame, maxBucket: Int = Dedup.DefaultMaxBucket) =
      Dedup.incrementalSemanticIndexed(index(), b, "vec_id", "embedding", threshold = 0.9,
        maxBucket = maxBucket)
    val b1 = Seq(
      (100L, Array(0.5f, 0.0f, 0.0f, 0.0f)),    // hot-bucket near dup → hub 1
      (101L, Array(0.0f, 0.0f, -1.0f, 0.0f))).toDF("vec_id", "embedding") // new
    val c1 = classify(b1, maxBucket = 8)
    val r1 = c1.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
    c1.unpersist()
    assert(r1 == Seq((100L, "near_dup", Some(1L)), (101L, "new", None)),
      s"hot-cluster near dup must resolve to the persisted hub: $r1")
    // append the accepted new vector and re-see its content
    Dedup.appendToVecIndex(spark, s"$base/vec",
      b1.filter($"vec_id" === 101L), "vec_id", "embedding")
    val b2 = Seq(
      (300L, Array(0.0f, 0.0f, -1.0f, 0.0f)),   // exact dup of appended 101
      (301L, Array(0.0f, 0.0f, -4.0f, 0.0f))).toDF("vec_id", "embedding") // near dup of 101
    val c2 = classify(b2)
    val r2 = c2.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
    c2.unpersist()
    assert(r2 == Seq((300L, "exact_dup", Some(101L)), (301L, "near_dup", Some(101L))), s"got $r2")
    // REPLAYED append (a retried ingest): both vector rows and hash rows
    // must not double-insert (duplicate vec rows would duplicate candidate
    // pairs; duplicate hash rows would make the rep-vector verify ambiguous)
    val idxBefore = index()
    val (vecsBefore, hashesBefore) = (idxBefore.vecs.count(), idxBefore.hashes.count())
    Dedup.appendToVecIndex(spark, s"$base/vec",
      b1.filter($"vec_id" === 101L), "vec_id", "embedding")
    val idxAfter = index()
    assert(idxAfter.vecs.count() == vecsBefore && idxAfter.hashes.count() == hashesBefore,
      "a replayed batch double-inserted vec-index rows")
    val c3 = classify(b2)
    val r3 = c3.orderBy("vec_id").as[(Long, String, Option[Long])].collect().toSeq
    c3.unpersist()
    assert(r3 == r2, s"classification changed after an append replay: $r3 vs $r2")
  }

  test("writeVecIndex: a crashed rebuild cannot leave a stale completeness marker") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val base = scratch("vecIdxCrash").toString
    Dedup.writeVecIndex(corpus, "vec_id", "embedding", s"$base/vec",
      numPlanes = 2, dim = 2, expectedItems = 10L)
    assert(Dedup.readVecIngestIndex(spark, s"$base/vec", org.apache.spark.sql.types.LongType).dim == 2)
    val committed = IndexStore.latest(spark, s"$base/vec")
    // rebuild whose corpus evaluation throws inside the FIRST table write:
    // no manifest may vouch for its tables — readers keep loading the
    // previous version, whose tables are mutually consistent
    val poison = corpus.withColumn("embedding",
      when(assert_true(col("vec_id") =!= 1L).isNull, col("embedding")))
    intercept[Exception] {
      Dedup.writeVecIndex(poison, "vec_id", "embedding", s"$base/vec",
        numPlanes = 2, dim = 2, expectedItems = 10L)
    }
    assert(IndexStore.latest(spark, s"$base/vec") == committed)
    val idx = Dedup.readVecIngestIndex(spark, s"$base/vec", org.apache.spark.sql.types.LongType)
    assert(idx.vecs.count() == 2L && idx.hashes.count() == 2L)
  }

  test("incrementalSemanticIndexed: corpus-scale index frames never broadcast-build") {
    // same hazard class as the live operator: the vecs frame and the hash
    // index both carry full corpus vectors — over the batch cap the cold
    // join must degrade to merge, never build from the corpus side. The
    // persisted index and the live operator's unpersisted one run the same
    // probe; both must hold it.
    val corpus = (1L to 50L).map(i => (i, Array(i.toFloat, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val batch = Seq((100L, Array(0.5f, -1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val base = scratch("vecIdxBx").toString
    Dedup.writeVecIndex(corpus, "vec_id", "embedding", s"$base/vec",
      numPlanes = 2, dim = 4, expectedItems = 100L)
    // each exchange's own subtree head, never a sibling's lines
    def bxSubtreeHeads(df: org.apache.spark.sql.DataFrame): Seq[String] =
      Profile.broadcastHeads(df.queryExecution.executedPlan.toString)
    val inputs = Seq(
      "persisted" -> (() => Dedup.incrementalSemanticIndexed(
        Dedup.readVecIngestIndex(spark, s"$base/vec", org.apache.spark.sql.types.LongType),
        batch, "vec_id", "embedding", threshold = 0.9, batchBroadcastCap = 0L)),
      "live" -> (() => Dedup.incrementalSemanticDedup(corpus.localCheckpoint(), batch,
        "vec_id", "embedding", threshold = 0.9, numPlanes = 2, dim = 4, batchBroadcastCap = 0L)))
    for ((name, run) <- inputs) {
      val big = run()
      val bigPlan = big.queryExecution.executedPlan.toString
      val heads = bxSubtreeHeads(big)
      big.unpersist()
      assert(!heads.exists(h => h.contains("corpus_id") && h.contains("__cvec")),
        s"$name: over-cap path must not broadcast the corpus vectors:\n$bigPlan")
      assert(!heads.exists(_.contains("__rvec")),
        s"$name: over-cap path must not broadcast the corpus hash index:\n$bigPlan")
      assert(bigPlan.contains("SortMergeJoin"),
        s"$name: over-cap cold join must degrade to sort-merge:\n$bigPlan")
    }
  }

  test("incremental semantic dedup: corpus band frame never broadcast-builds") {
    // both band frames are checkpoint-backed, so size estimates are
    // unreliable — the planner was observed statically broadcasting the
    // CORPUS side of the cold candidate join (OOM at real corpus scale).
    // The operator now decides from the materialized batch count: small
    // batch → the batch side sits under the BroadcastExchange; over-cap
    // batch → shuffled MERGE join (round-7 advice: a shuffle_hash hint on
    // both sides still let the estimate pick the corpus as the
    // per-partition hash build side — merge builds no hash relation).
    val corpus = (1L to 50L).map(i => (i, Array(i.toFloat, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val batch = Seq((100L, Array(0.5f, -1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    // each exchange's own subtree head, never a sibling's lines
    def bxSubtreeHeads(df: org.apache.spark.sql.DataFrame): Seq[String] =
      Profile.broadcastHeads(df.queryExecution.executedPlan.toString)
    val res = Dedup.incrementalSemanticDedup(corpus, batch, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 2, dim = 4)
    val heads = bxSubtreeHeads(res)
    res.unpersist()
    assert(!heads.exists(h => h.contains("corpus_id") && h.contains("__bucket")),
      s"corpus band frame must never sit under a BroadcastExchange:\n${heads.mkString("\n---\n")}")
    val big = Dedup.incrementalSemanticDedup(corpus, batch, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 2, dim = 4, batchBroadcastCap = 0L)
    val bigPlan = big.queryExecution.executedPlan.toString
    big.unpersist()
    assert(!bxSubtreeHeads(big).exists(h => h.contains("corpus_id") && h.contains("__bucket")),
      s"over-cap path must not broadcast the corpus band frame either:\n$bigPlan")
    assert(bigPlan.contains("SortMergeJoin"),
      s"over-cap cold join must degrade to sort-merge:\n$bigPlan")
    assert(!bigPlan.contains("ShuffledHashJoin"),
      s"over-cap path must not build a per-partition hash relation from either unbounded side:\n$bigPlan")
    // the hash-index frame (carries full corpus vectors as __rvec) is the
    // only broadcastable side of the exact left join — over the cap it
    // must degrade to merge, never broadcast-build
    assert(!bxSubtreeHeads(big).exists(_.contains("__rvec")),
      s"over-cap path must not broadcast the corpus hash index:\n$bigPlan")
  }

  test("semantic dedup: identical-direction embeddings collapse, exact ≡ lsh on easy fixture") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f, 0.0f)),  // same direction as 1 → cosine 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal
      (4L, Array(0.0f, 1.0f, 0.01f, 0.0f))  // near-dup of 3
    ).toDF("vec_id", "embedding")
    val exact = Dedup.dedupCorpusSemantic(emb, "vec_id", "embedding", 0.99, exact = true)
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(exact == Seq(1L, 3L), s"components keep the min id per cluster: $exact")
    val lsh = Dedup.dedupCorpusSemantic(emb, "vec_id", "embedding", 0.99, numPlanes = 4, dim = 4)
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(lsh == exact, s"LSH path must agree on a trivially-bucketable fixture: $lsh")
    // cache lifecycle (localCheckpoint, no persist) of the underlying pair
    // ops is asserted in OpsSpec under a cleared cache; a global isEmpty
    // check here would race with concurrently-running suites that share
    // the JVM-wide CacheManager
  }

  test("semdedup clustered: within-cluster dups collapse, cross-cluster pair is the accepted miss") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),    // seed centroid A
      (2L, Array(0.0f, 1.0f)),    // seed centroid B
      (3L, Array(0.9f, 0.1f)),    // cluster A, near-dup of 1
      (4L, Array(0.0f, 0.95f)),   // cluster B, exact-direction dup of 2
      (5L, Array(-1.0f, 0.0f)),   // cluster B (cos 0 beats cos -1), no dup
      (6L, Array(0.71f, 0.70f)),  // cluster A ─┐ mutual cosine ≈ 0.9999 but
      (7L, Array(0.70f, 0.71f))   // cluster B ─┘ split across clusters → kept
    ).toDF("vec_id", "embedding")
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 2)
    val surv = Dedup.dedupCorpusSemanticClustered(emb, "vec_id", "embedding", cents, 0.95)
      .select("vec_id").as[Long].collect().toSeq.sorted
    // 3 collapses into 1, 4 into 2; 6/7 survive despite being near-dups —
    // the cluster-boundary recall trade the SemDeDup paper accepts
    assert(surv == Seq(1L, 2L, 5L, 6L, 7L), surv.toString)
  }

  test("semdedup clustered: over-cap cluster degrades to hub star and still collapses") {
    val emb = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(1.0f, 0.0f)),
      (12L, Array(2.0f, 0.0f)),
      (13L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 1)
    val pairs = Similarity.clusterCosinePairs(emb, "vec_id", "embedding", cents, 0.99,
      clusterCap = 2L)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    // star vs hub (min id 10) only — linear in the cluster, not quadratic
    assert(got == Seq((10L, 11L), (10L, 12L), (10L, 13L)), got.toString)
    val surv = Dedup.dedupCorpusSemanticClustered(emb, "vec_id", "embedding", cents, 0.99,
        clusterCap = 2L)
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(surv == Seq(10L), s"mass-dup cluster found via the hub, not skipped: $surv")
  }

  test("semdedup clustered: pair stage is an equi-join on centroid_id, no cartesian") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 2)
    val plan = Similarity.clusterCosinePairs(emb, "vec_id", "embedding", cents, 0.5)
      .queryExecution.executedPlan.toString
    // the only cartesian allowed is assign's broadcast of the centroid
    // table (BroadcastNestedLoopJoin over k rows); the corpus self-join
    // must be keyed
    assert(!plan.contains("CartesianProduct"),
      s"corpus self-join must be an equi-join on centroid_id:\n$plan")
  }

  test("curate audit: every input attributed to its first dropping stage; kept == survivors") {
    // one doc per stage. Unique filler words keep the "clean" docs free of
    // repeated n-grams; leading "the a" supplies stopword mass so the
    // quality gate (minQuality 0.6) passes everywhere except doc 1.
    def words(tag: String, n: Int): String =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val keptText = s"the a ${words("kw", 28)}"
    val nearText = s"the a ${words("kw", 26)} zz1 zz2" // 2 words swapped vs kept
    val uniqText = s"the a ${words("uq", 24)} shared run of tokens"
    val docs = Seq(
      (1L, "!!!"),                          // quality: punct-only, tiny
      (2L, ("the a " * 40).trim),           // repetition: one dominant 2-gram
      (3L, keptText),                       // kept (min id of the exact pair)
      (4L, keptText),                       // exact_dup of 3
      (5L, nearText),                       // near_dup of 3 (jaccard >= 0.5)
      (6L, uniqText)                        // contaminated via bench overlap
    ).toDF("doc_id", "text")
    val bench = Seq((900L, "a shared run of tokens here")).toDF("bid", "btext")
    val audited = Curate.runAudited(docs, "doc_id", "text",
      Some((bench, "bid", "btext")), Curate.Config(minQuality = 0.6))
    val att = audited.attribution.as[(Long, String)].collect().toMap
    assert(att == Map(1L -> "quality", 2L -> "repetition", 3L -> "kept",
      4L -> "exact_dup", 5L -> "near_dup", 6L -> "contaminated"), s"got $att")
    val kept = audited.survivors.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L), s"survivors must be exactly the kept ids: $kept")
    // the audited path returns the same survivors as the plain run
    val plain = Curate.run(docs, "doc_id", "text",
      Some((bench, "bid", "btext")), Curate.Config(minQuality = 0.6))
      .select("doc_id").as[Long].collect().toSet
    assert(plain == kept)
  }

  test("assemblePretraining: one row per page, fates nested on webPreclean, kept ⇔ sharded") {
    val article = "the plain and simple article text which is about things " +
      "such as life and it is because however therefore good"
    val contaminated = "alpha beta gamma delta and some extra words to pass " +
      "the shape gate because it is long therefore"
    val pages = spark.range(0, 40).select($"id".as("doc_id"),
      concat(lit("https://"),
        when($"id" % 10 === 4, lit("ads.tracker-network.com"))
          .otherwise(lit("ok.example.com")),
        lit("/p/"), floor($"id" / 2),
        when($"id" % 2 === 1, lit("?utm_source=x")).otherwise(lit(""))).as("url"),
      concat(lit("<body><p>"),
        when($"id" % 10 === 6, lit("too short"))
          .when($"id" % 10 === 0, lit(contaminated))
          .otherwise(lit(article)),
        lit("</p></body>")).as("html"))
    val bench = Seq((900L, "alpha beta gamma delta")).toDF("bid", "btext")
    val out = Curate.assemblePretraining(pages, "doc_id", "url", "html",
        sources = Seq("all" -> lit(true)),
        bench, "bid", $"btext",
        minWords = 5L, minStopwordHits = 1L, clfMinMeanCenti = -1000L,
        budget = 4L, nShards = 4)
      .as[(Long, String, Option[Long], Option[Long])].collect().toSeq
    // totality: exactly one row per input page
    assert(out.map(_._1).sorted == (0L until 40L).toSeq, s"got ${out.size} rows")
    val byStage = out.groupBy(_._2)
    assert(byStage.keySet.subsetOf(Set("url_dup", "url_blocked", "shape",
      "classifier", "contaminated", "mixture", "kept")), s"got ${byStage.keySet}")
    // nesting vs the standalone preclean: the first four fates are exactly
    // the pages webPreclean drops
    val pre = Curate.webPreclean(pages, "doc_id", "url", "html",
        minWords = 5L, minStopwordHits = 1L, clfMinMeanCenti = -1000L)
      .select("doc_id").as[Long].collect().toSet
    val preDropped = out.filter(r => Set("url_dup", "url_blocked", "shape",
      "classifier").contains(r._2)).map(_._1).toSet
    assert(preDropped == (0L until 40L).toSet -- pre)
    // planted fates all fire: the odd URL variants dup against their even
    // twin, the %10==4 host is blocked, %10==6 fails shape, %10==0 shares
    // two trigrams with the bench
    assert(byStage.contains("url_dup") && byStage.contains("url_blocked") &&
      byStage.contains("shape") && byStage.contains("contaminated"), s"${byStage.keySet}")
    assert(byStage("contaminated").map(_._1).forall(_ % 10 == 0))
    // kept ⇔ shard coords; ord is a dense 1..k rank, shard in [0, nShards)
    val kept = out.filter(_._2 == "kept")
    assert(out.forall(r => (r._2 == "kept") == (r._4.nonEmpty && r._3.nonEmpty)))
    assert(kept.flatMap(_._4).sorted == (1L to kept.size.toLong).toSeq)
    assert(kept.flatMap(_._3).forall(s => s >= 0 && s < 4))
  }

  test("assemblePretraining balance arm: kept set = balanceToTarget over the decontaminated " +
      "survivors, fates stay total, sharded ⇔ kept") {
    val article = "the plain and simple article text which is about things " +
      "such as life and it is because however therefore good"
    val pages = spark.range(0, 40).select($"id".as("doc_id"),
      concat(lit("https://ok.example.com/p/"), $"id").as("url"),
      concat(lit("<body><p>"), lit(article), lit(" extra"), $"id",
        lit("</p></body>")).as("html"))
    val bench = Seq((900L, "zz yy xx ww")).toDF("bid", "btext")
    val sources = Seq("even" -> ($"doc_id" % 2 === 0), "odd" -> ($"doc_id" % 2 === 1))
    val targets = Seq("even" -> 0.8, "odd" -> 0.2) // ~50/50 corpus: odd down-samples to ~25%
    val out = Curate.assemblePretraining(pages, "doc_id", "url", "html",
        sources, bench, "bid", $"btext",
        minWords = 5L, minStopwordHits = 1L, clfMinMeanCenti = -1000L,
        nShards = 4, balanceTargets = Some(targets))
      .as[(Long, String, Option[Long], Option[Long])].collect().toSeq
    assert(out.map(_._1).sorted == (0L until 40L).toSeq, "one row per page")
    assert(out.forall(r => (r._2 == "kept") == (r._3.nonEmpty && r._4.nonEmpty)))
    // the balance arm's kept set must equal balanceToTarget applied to
    // the standalone preclean+decontaminate survivors with the same
    // first-match source attribution and char-proxy token count
    val pre = Curate.webPreclean(pages, "doc_id", "url", "html",
      minWords = 5L, minStopwordHits = 1L, clfMinMeanCenti = -1000L)
    val decont = graft.ops.Decontaminate.clean(pre, "doc_id", $"text",
      bench, "bid", $"btext", n = 3, minHits = 2L)
    val expected = graft.ops.Sampling.balanceToTarget(
        decont.withColumn("__src",
          when($"doc_id" % 2 === 0, "even").otherwise("odd")),
        $"__src", $"doc_id", length($"text").cast("long"), targets)
      .select("doc_id").as[Long].collect().toSet
    val kept = out.filter(_._2 == "kept").map(_._1).toSet
    assert(kept == expected, s"balance-arm kept set drifted: ${kept.size} vs ${expected.size}")
    assert(kept.nonEmpty && kept.size < 40, "the rate card must actually cut")
  }

  test("curate lm gate: disfluent docs cut between repetition and dedup, attributed as such") {
    val fluent = "the cat sat on a mat and a dog ran by"
    val docs = Seq(
      (1L, fluent),              // all tokens in vocab → head, kept
      // all <unk> → deep tail → disfluent; 20 DISTINCT junk tokens so the
      // top-2-gram coverage stays under the Gopher 0.20 gate (a short
      // junk doc dies at repetition before the LM gate ever sees it)
      (2L, (1 to 20).map(i => f"z$i%02d").mkString(" ")),
      (3L, fluent)               // exact dup of 1 — must be attributed
                                 // exact_dup, NOT disfluent (stage order)
    ).toDF("doc_id", "text")
    val gate = graft.ops.Lm.Gate(
      uni = fluent.split(" ").map(_ -> -50L).toMap + (graft.ops.Lm.Unk -> -300L),
      bi = Map.empty, keep = Seq("head"), headThr = -2.0, midThr = -3.0)
    val audited = Curate.runAudited(docs, "doc_id", "text", None,
      Curate.Config(lmGate = Some(gate)))
    val stages = audited.attribution.as[(Long, String)].collect().toMap
    assert(stages == Map(1L -> "kept", 2L -> "disfluent", 3L -> "exact_dup"),
      s"got $stages")
    assert(audited.survivors.select("doc_id").as[Long].collect().toSet == Set(1L))
    // gate off: the attribution schema and labels are untouched
    val off = Curate.runAudited(docs, "doc_id", "text", None, Curate.Config())
      .attribution.as[(Long, String)].collect().toMap
    assert(off == Map(1L -> "kept", 2L -> "kept", 3L -> "exact_dup"), s"got $off")
  }

  test("curate audit without a bench: contaminated never fires, attribution still partitions") {
    val docs = Seq(
      (1L, "x"), // quality fail at minQuality 0.6
      (2L, s"the a ${(0 until 20).map(i => s"w$i").mkString(" ")}"),
      (3L, s"the a ${(0 until 20).map(i => s"w$i").mkString(" ")}")
    ).toDF("doc_id", "text")
    val audited = Curate.runAudited(docs, "doc_id", "text", None,
      Curate.Config(minQuality = 0.6))
    val att = audited.attribution.as[(Long, String)].collect().toMap
    assert(att == Map(1L -> "quality", 2L -> "kept", 3L -> "exact_dup"), s"got $att")
  }

  test("removeHostBoilerplate: per-host frequent lines drop; rare, cross-host and blank lines stay") {
    val docs = Seq(
      (1L, "a", "FOOT\ncontent one\nMID"),
      (2L, "a", "content two\nFOOT\nMID"),   // MID df=2 < 3 → kept
      (3L, "a", "FOOT\ncontent three"),
      (4L, "a", "FOOT"),                      // fully boilerplate → empty text
      (5L, "a", "FOOT\n\nkeep me"),           // blank line preserved in place
      (10L, "b", "FOOT\nother one"),          // host b: FOOT df=2 < 3 → kept
      (11L, "b", "other two\nFOOT"),
      // null host: never matches the anti-join AND must survive reassembly
      // (the join is on doc_id alone — an equi-join on host would wipe it)
      (12L, null.asInstanceOf[String], "FOOT\nnull host keeps")
    ).toDF("doc_id", "host", "text")
    val got = Curate.removeHostBoilerplate(docs, "doc_id", "host", "text", minDf = 3)
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(got == Seq(
      (1L, "a", "content one\nMID"),
      (2L, "a", "content two\nMID"),
      (3L, "a", "content three"),
      (4L, "a", ""),
      (5L, "a", "\nkeep me"),
      (10L, "b", "FOOT\nother one"),
      (11L, "b", "other two\nFOOT"),
      (12L, null, "FOOT\nnull host keeps")), s"got $got")
    // over-cap arm classifies identically
    val shuffled = Curate.removeHostBoilerplate(docs, "doc_id", "host", "text",
        minDf = 3, hotBroadcastCap = 0L)
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(shuffled == got, "broadcast and shuffle anti-join arms must agree")
  }
}
