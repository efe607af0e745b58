package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-3 pipeline-bookkeeping operators: paragraph dedup, normalized
  * dedup, Bloom-pruned incremental dedup, snapshot diff.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def sqlCacheEmpty: Boolean = {
    val ss = spark.sharedState
    val cm = ss.getClass.getMethod("cacheManager").invoke(ss)
    cm.getClass.getMethod("isEmpty").invoke(cm).asInstanceOf[Boolean]
  }

  test("nfc normalize: decomposed and precomposed forms hash together after canonical()") {
    val df = Seq((1L, "Café  x"), (2L, "café x"), (3L, "other")).toDF("id", "text")
    val canon = df.select(TextStats.canonical($"text")).as[String].collect().toSeq
    assert(canon(0) == canon(1) && canon(0) == "café x", s"canonical forms: $canon")
    val got = Dedup.exactNormalized(df, "text", "id")
      .orderBy("keep_id").select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
    // keepFirst keeps the ORIGINAL text of the smallest id, not the canonical form
    val kept = Dedup.exactNormalizedKeepFirst(df, "text", "id")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(kept == Seq((1L, "Café  x"), (3L, "other")))
  }

  test("nfc normalize: null flows through, canonical(null) stays null") {
    val df = Seq((1L, null: String), (2L, "a")).toDF("id", "text")
    val canon = df.orderBy("id").select(TextStats.canonical($"text")).collect()
    assert(canon(0).isNullAt(0) && canon(1).getString(0) == "a")
    assert(Dedup.exactNormalized(df, "text", "id").count() == 2,
      "null and 'a' are distinct canonical groups")
  }

  test("substring dedup: duplicated k-token spans cut, first occurrence survives") {
    // doc 1 and doc 2 share the 8-token span alpha..theta at DIFFERENT
    // positions (the case paragraph dedup misses); doc 3 is a full copy
    // of doc 1; doc 4 is shorter than k
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta unique1 tail1"),
      (2L, "prefix2 alpha beta gamma delta epsilon zeta eta theta tail2"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta unique1 tail1"),
      (4L, "short  text   only")).toDF("id", "text")
    val got = Dedup.substringDedup(df, "id", "text", k = 8)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      // doc 1: every window wins (smallest id) -> byte-identical
      (1L, "alpha beta gamma delta epsilon zeta eta theta unique1 tail1"),
      // doc 2: its alpha..theta window loses to doc 1 pos 1 -> tokens
      // 2..9 cut; its OTHER windows (prefix2.., ..tail2) are unique ->
      // win -> but their positions overlap the cut span, so only the
      // uncovered tokens survive
      (2L, "prefix2 tail2"),
      // doc 3 loses every window to doc 1 -> all 10 positions covered ->
      // dropped entirely; doc 4 has no windows -> passes through with
      // original whitespace
      (4L, "short  text   only")), got.toString)
  }

  test("substring dedup: overlapping losing windows merge into one maximal cut span") {
    // doc 12's long middle run duplicates doc 11's tokens at k=4 across
    // several OVERLAPPING windows; the union of covered positions must
    // cut one contiguous span, not k-sized islands
    val df = Seq(
      (11L, "a b c d e f g h i j"),
      (12L, "x1 x2 c d e f g h x3 x4")).toDF("id", "text")
    val got = Dedup.substringDedup(df, "id", "text", k = 4)
      .orderBy("id").as[(Long, String)].collect().toSeq
    // doc 12 windows: (x1 x2 c d) unique-wins, (x2 c d e) unique-wins,
    // (c d e f)(d e f g)(e f g h) lose to doc 11, (f g h x3)(g h x3 x4)
    // unique-win -> covered = 3..8 -> kept x1 x2 x3 x4
    assert(got == Seq(
      (11L, "a b c d e f g h i j"),
      (12L, "x1 x2 x3 x4")), got.toString)
  }

  test("paragraph dedup: corpus-wide (id, pos) survivor election and reassembly") {
    val df = Seq(
      (1L, "A\nB"),
      (2L, "B\nC"),
      (3L, "B"),      // every paragraph already seen → doc drops out
      (4L, "\n\nD")   // empty paragraphs filtered before election
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "A\nB"), (2L, "C"), (4L, "D")), s"got: $got")
  }

  test("paragraph dedup: earlier position wins within one document") {
    val df = Seq((1L, "X\nX\nY")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(df, "doc_id", "text").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "X\nY")), s"intra-doc duplicate paragraph must collapse: $got")
  }

  test("bloom incremental dedup: classification is exact despite sketch false positives") {
    val corpus = (1L to 50L).map(i => (i, s"corpus doc number $i")).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "corpus doc number 7"),   // exact dup
      (102L, "corpus doc number 7"),   // same dup twice in one batch
      (103L, "brand new content a"),
      (104L, "brand new content b")
    ).toDF("doc_id", "text")
    // suites share one session and run in parallel; the cache-manager
    // assertion is only meaningful while no other suite holds a transient
    // persist — serialize on the session like OpsSpec's cache test
    SparkSpec.session.synchronized {
      // the cache-emptiness check is global, and unsynchronized suites may
      // hold their own transient persists — only assert when the cache was
      // quiet going in (the op's own lifecycle is what's under test)
      val quiet = sqlCacheEmpty
      // fpp 0.4: false positives near-certain across 50 keys — the verify
      // join must still classify the new docs as new
      val got = Dedup.incrementalExactBloom(corpus, batch, "doc_id", "text",
        expectedItems = 50L, fpp = 0.4)
      val rows = got.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
      got.unpersist()
      assert(rows == Seq(
        (101L, "exact_dup", Some(7L)),
        (102L, "exact_dup", Some(7L)),
        (103L, "new", None),
        (104L, "new", None)), s"got: $rows")
      if (quiet) assert(sqlCacheEmpty, "incrementalExactBloom must release the corpus hash cache")
    }
  }

  test("bloom incremental dedup: empty corpus classifies the whole batch as new") {
    val cDf = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val bDf = Seq((101L, "a"), (102L, "b")).toDF("doc_id", "text")
    val res = Dedup.incrementalExactBloom(cDf, bDf, "doc_id", "text", expectedItems = 1L)
    val got = res.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    res.unpersist()
    assert(got == Seq((101L, "new", None), (102L, "new", None)))
  }

  test("bloom incremental dedup: no false negatives — every true dup is found at tight fpp") {
    val corpus = (1L to 500L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val batch = (1L to 500L).map(i => (i + 10000L, s"doc $i body")).toDF("doc_id", "text")
    val got = Dedup.incrementalExactBloom(corpus, batch, "doc_id", "text",
      expectedItems = 500L, fpp = 0.01)
    val nDup = got.filter($"status" === "exact_dup").count()
    got.unpersist()
    assert(nDup == 500L, s"all 500 copies must classify exact_dup, got $nDup")
  }

  test("bpe token count: hand-traced merge fold, nulls and separators handled") {
    // trace under BpeMerges rank order:
    //   "the"    t,h→th; th,e→the                              → 1
    //   "and"    a,n→an; an,d→and                              → 1
    //   "that"   t,h→th; a,t→at; th,at→that                    → 1
    //   "thing"  t,h→th; i,n→in; in,g→ing                      → 2 (th,ing)
    //   "water"  e,r→er; a,t→at                                → 3 (w,at,er)
    //   "hello"  no merge applies                              → 5
    val df = Seq(
      (1L, "the and that thing water hello"),
      (2L, ""),
      (3L, null: String),
      (4L, "thethethe") // control chars scrubbed → "thethethe" → ?
    ).toDF("id", "text")
    val got = df.select($"id", TextStats.bpeTokenCount($"text").as("n"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // "thethethe": t,h→th ×3; th,e→the ×3 → 3 symbols
    assert(got == Seq((1L, 13L), (2L, 0L), (3L, 0L), (4L, 3L)), s"got $got")
  }

  test("bpe token count plugs into tokenBudget as the counter") {
    val docs = (1L to 12L).map(i => (i, "the and that thing water hello")) // 13 bpe tokens each
      .toDF("doc_id", "text")
    val kept = Sampling.tokenBudget(Seq(("s", docs, 30L)),
      $"doc_id", TextStats.bpeTokenCount($"text"))
    // 13-token docs, 30-token budget: greedy prefix keeps docs while
    // cum_before < 30 → exactly 3 docs (39 tokens, within one doc)
    assert(kept.count() == 3L, "30-token budget over 13-bpe-token docs keeps 3 docs")
  }

  test("persisted hash index: indexed classification matches the live bloom path") {
    val corpus = (1L to 50L).map(i => (i, s"corpus doc number $i")).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "corpus doc number 7"),
      (102L, "corpus doc number 7"),
      (103L, "brand new content a"),
      (104L, null: String)  // null text: tagged identity, classifies vs corpus nulls
    ).toDF("doc_id", "text")
    val path = scratch("hashIdx").toString
    Dedup.writeHashIndex(corpus, "doc_id", "text", path, expectedItems = 50L)
    val live = Dedup.incrementalExactBloom(corpus, batch, "doc_id", "text", expectedItems = 50L)
    val idx = Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, path), batch, "doc_id", "text")
    val liveRows = live.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    val idxRows = idx.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    live.unpersist(); idx.unpersist()
    assert(idxRows == liveRows, s"persisted path must classify identically:\nlive $liveRows\nidx  $idxRows")
    assert(idxRows.take(2) == Seq((101L, "exact_dup", Some(7L)), (102L, "exact_dup", Some(7L))))
  }

  test("persisted hash index: append folds new docs in without a corpus rebuild") {
    val corpus = (1L to 20L).map(i => (i, s"base doc $i")).toDF("doc_id", "text")
    val path = scratch("hashIdxApp").toString
    Dedup.writeHashIndex(corpus, "doc_id", "text", path, expectedItems = 1000L)
    // batch 1: one dup of the corpus, two new docs (one duplicated intra-batch)
    val b1 = Seq((101L, "base doc 5"), (102L, "fresh a"), (103L, "fresh a"), (104L, "fresh b"))
      .toDF("doc_id", "text")
    val c1 = Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, path), b1, "doc_id", "text")
    val r1 = c1.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    c1.unpersist()
    assert(r1 == Seq((101L, "exact_dup", Some(5L)), (102L, "new", None),
      (103L, "new", None), (104L, "new", None)), s"got $r1")
    // fold batch 1's NEW docs into the index (min id elected intra-batch)
    Dedup.appendToHashIndex(spark, path,
      b1.filter($"doc_id" =!= 101L), "doc_id", "text")
    // batch 2 re-sees batch 1's content → exact_dup of the appended ids;
    // re-appending already-present content is a no-op (anti-join)
    val b2 = Seq((201L, "fresh a"), (202L, "fresh b"), (203L, "base doc 5"), (204L, "fresh c"))
      .toDF("doc_id", "text")
    val c2 = Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, path), b2, "doc_id", "text")
    val r2 = c2.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    c2.unpersist()
    assert(r2 == Seq((201L, "exact_dup", Some(102L)), (202L, "exact_dup", Some(104L)),
      (203L, "exact_dup", Some(5L)), (204L, "new", None)), s"got $r2")
    Dedup.appendToHashIndex(spark, path, b2, "doc_id", "text")
    val hashes = IndexStore.read(spark, path, IndexStore.latest(spark, path), "hashes")
    assert(hashes.count() == 23, "20 base + fresh a/b/c — idempotent re-append must not duplicate")
    assert(hashes.groupBy("__h").count().filter($"count" > 1).isEmpty,
      "hash table must stay unique after appends")
  }

  test("persisted hash index: empty corpus round-trips and classifies all-new") {
    val cDf = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val path = scratch("hashIdxEmpty").toString
    Dedup.writeHashIndex(cDf, "doc_id", "text", path, expectedItems = 10L)
    val res = Dedup.incrementalExactIndexed(Dedup.readHashIndex(spark, path),
      Seq((101L, "a")).toDF("doc_id", "text"), "doc_id", "text")
    val got = res.orderBy("doc_id").as[(Long, String, Option[Long])].collect().toSeq
    res.unpersist()
    assert(got == Seq((101L, "new", None)))
  }

  test("snapshot diff: all four statuses, hash-based change detection, summary roll-up") {
    val oldDf = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null: String)).toDF("id", "text")
    val newDf = Seq((2L, "b"), (3L, "c2"), (4L, null: String), (5L, "e")).toDF("id", "text")
    val got = Snapshot.diff(oldDf, newDf, "id", Seq("text"))
      .orderBy("id").select("id", "status").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "removed"), (2L, "unchanged"), (3L, "changed"),
      (4L, "unchanged"), (5L, "added")), s"got: $got")
    val sum = Snapshot.summary(oldDf, newDf, "id", Seq("text"))
      .orderBy("status").as[(String, Long)].collect().toSeq
    assert(sum == Seq(("added", 1L), ("changed", 1L), ("removed", 1L), ("unchanged", 2L)))
  }

  test("snapshot diff: multi-column content uses the alias-proof digest") {
    val oldDf = Seq((1L, "x§0y", "z")).toDF("id", "a", "b")
    val newDf = Seq((1L, "x", "y§0z")).toDF("id", "a", "b")
    val got = Snapshot.diff(oldDf, newDf, "id", Seq("a", "b"))
      .select("status").as[String].head()
    assert(got == "changed", "column-boundary shift must register as a change")
  }

  test("heavy hitters: exact counts survive a deliberately collision-heavy sketch") {
    val rows = (1 to 100).map(i => if (i % 2 == 0) "hot" else s"cold$i")
    val df = rows.toDF("term")
    // eps 0.5 → 4-wide grid: every cold term collides with something, the
    // gate admits junk candidates — the exact count must discard them all
    val got = Frequency.heavyHitters(df, $"term", minFreq = 10L, eps = 0.5)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("hot", 50L)), s"got: $got")
    assert(Frequency.heavyHitters(df, $"term", minFreq = 51L, eps = 0.5).count() == 0,
      "threshold above the true max must return nothing")
  }

  test("sharded export: manifest verifies the files, assignment is portable, re-export idempotent") {
    val docs = graft.sources.Readers.table(spark, sf0001, "documents")
    val tmp = s"${graft.TmpDir.root}/tmp/export_spec"
    val man = graft.etl.Export.sharded(spark, docs, "doc_id", "text", tmp, nShards = 4)
      .orderBy("shard").collect().toSeq
    assert(man.map(_.getLong(1)).sum == docs.count(), "no row lost or double-written")
    assert(man.map(_.getLong(0)).forall(s => s >= 0 && s < 4))
    // every read-back row sits in the shard its id hashes to
    val misplaced = spark.read.parquet(tmp)
      .filter(col("shard").cast("long") =!= graft.etl.Export.shardOf("doc_id", 4))
      .count()
    assert(misplaced == 0, "shard dirs must match the content-addressed assignment")
    // overwrite re-export lands the identical manifest (deterministic end to end)
    val man2 = graft.etl.Export.sharded(spark, docs, "doc_id", "text", tmp, nShards = 4)
      .orderBy("shard").collect().toSeq
    assert(man2 == man)
  }

  test("line clean: each C4 rule fires independently, doc below minLines drops") {
    val df = Seq(
      (1L, "A good first sentence here.\nno punct at the end\nOk fine.\nPlease enable JavaScript to continue browsing.\nAnother keeper stays right here!"),
      (2L, "every line of this document\nfails some rule\nso the doc drops"),
      (3L, "He said \"stop that now.\"\nShort one.")).toDF("id", "text")
    val got = TextStats.cleanLines(df, "id").orderBy("id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      // "no punct" fails rule 1, "Ok fine." fails word count, JavaScript
      // line fails the (case-insensitive) blocklist
      (1L, "A good first sentence here.\nAnother keeper stays right here!", 5L, 2L),
      // doc 2 has zero survivors -> dropped entirely by minLines=1
      // closing double-quote counts as terminal punctuation
      (3L, "He said \"stop that now.\"", 2L, 1L)))
    // minLines=2 additionally drops doc 3
    assert(TextStats.cleanLines(df, "id", minLines = 2)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // minWords is honored: at minWords=2 the "Ok fine." line survives
    val loose = TextStats.cleanLines(df, "id", minWords = 2).orderBy("id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(loose.head._4 == 3L && loose.head._2.contains("Ok fine."))
  }

  test("line clean: single-line and whitespace-only documents") {
    val df = Seq(
      (1L, "One clean single line stands alone."),
      (2L, "   \n  \n"),
      (3L, "")).toDF("id", "text")
    val got = TextStats.cleanLines(df, "id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq((1L, "One clean single line stands alone.", 1L, 1L)))
  }

  test("lm annotate: hand-traced integer arithmetic, OOV charge, empty doc") {
    val df = Seq(
      (1L, "The time of day"),          // the(-115) time(-425) of(-145) day(OOV -600) = -1285, n=4
      (2L, "@@ ##"),                    // zero tokens
      (3L, "the of and")).toDF("id", "text") // -115-145-150 = -410, n=3
    val got = TextStats.lmAnnotate(df).orderBy("id")
      .select("id", "lm_n_toks", "lm_centi_sum", "lm_mean_log10p", "lm_bucket")
      .as[(Long, Long, Long, Option[Double], String)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, -1285L, Some(-3.2125), "middle"),
      (2L, 0L, 0L, None, "tail"),
      (3L, 3L, -410L, Some(-1.3667), "head")))
  }

  test("lm perplexity prune: default gate keeps head+middle, drops tail") {
    val df = Seq(
      (1L, "the of and a to"),                       // head
      (2L, "the zzz of qqq"),                        // (-115-600-145-600)/400 = -3.65 middle
      (3L, "zzz qqq www eee")).toDF("id", "text")    // all OOV -6.0 tail
    val kept = TextStats.perplexityPrune(df).select("id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 2L))
    val headOnly = TextStats.perplexityPrune(df, keep = Seq("head"))
      .select("id").as[Long].collect().toSeq
    assert(headOnly == Seq(1L))
  }

  test("url filter: host/domain/tld extraction covers userinfo, port, www, suffix list") {
    val df = Seq(
      (1L, "https://user:pw@Docs.Example.COM:8080/read?x=1"),
      (2L, "https://news.example.co.uk/story"),
      (3L, "http://www.sub.tracker-network.com/pixel"),
      (4L, "ftp://mirror.example.net./file"),
      (5L, "nonsense with no scheme"),
      (6L, "https://localhost/admin")).toDF("id", "url")
    val got = Urls.annotate(df, "url").orderBy("id")
      .select("url_host", "url_domain", "url_tld", "url_valid")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getString(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      ("docs.example.com", "example.com", "com", true),
      ("news.example.co.uk", "example.co.uk", "uk", true),
      ("www.sub.tracker-network.com", "tracker-network.com", "com", true),
      ("mirror.example.net", "example.net", "net", true),
      ("", null, "", false),
      ("localhost", "localhost", "localhost", true)), got.toString)
  }

  test("url filter: gate blocks domain, tld, and keyword arms; filterBlocked keeps schema") {
    val df = Seq(
      (1L, "https://clean.example.org/a"),
      (2L, "https://x.tracker-network.com/a"),   // blocked registered domain
      (3L, "https://files.archive.zip/a"),       // blocked tld
      (4L, "https://www.bestcasino-win.org/a"),  // keyword in www-stripped host
      (5L, "garbage")).toDF("id", "url")
    val kept = Urls.gate(df, "url").orderBy("id")
      .select("url_kept").collect().map(_.getBoolean(0)).toSeq
    assert(kept == Seq(true, false, false, false, false), kept.toString)
    val surv = Urls.filterBlocked(df, "url")
    assert(surv.columns.toSeq == Seq("id", "url"), "annotation columns dropped")
    assert(surv.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("url filter: the gate stays a shuffle-free scan-side filter") {
    val df = Seq((1L, "https://a.example.org/x")).toDF("id", "url")
    val plan = Urls.filterBlocked(df, "url").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("html extract: tags, script/style, entities, whitespace — hand-traced") {
    val df = Seq(
      (1L, "<html><head><style>p{color:red}</style><script>var x='<p>'</script>" +
        "</head><body><!-- note: <b>hidden</b> --><h1>Title</h1>" +
        "<p>One &amp; two &lt;three&gt;</p>\n\n\n<div>  spaced   out </div>" +
        "<span>tail</span></body></html>"),
      (2L, "plain text, no markup"),
      (3L, "double &amp;lt; encodes once"),
      (4L, "<p>a</p><p></p><p></p><p>b</p>")).toDF("id", "html")
    val got = Html.extractText(df, "html").orderBy("id")
      .select("text_extracted").collect().map(_.getString(0)).toSeq
    // adjacent block elements separate with one blank line (the \n{3,}
    // cap), inline <span> butts against the preceding newline
    assert(got(0) == "Title\n\nOne & two <three>\n\nspaced out\ntail", got(0))
    assert(got(1) == "plain text, no markup")
    assert(got(2) == "double &lt; encodes once", got(2))
    // blank-run cap: consecutive empty blocks collapse to one empty line
    assert(got(3) == "a\n\nb", got(3).replace("\n", "\\n"))
  }

  test("html extract: unclosed script keeps body (documented), null in null out") {
    val df = Seq((1L, "<script>trunc"), (2L, null: String)).toDF("id", "html")
    val got = Html.extractText(df, "html").orderBy("id")
      .select("text_extracted").collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("trunc"), None), got.toString)
  }

  test("html extract: one shuffle-free projection") {
    val df = Seq((1L, "<p>x</p>")).toDF("id", "html")
    val plan = Html.extractText(df, "html").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("url canonicalize: fragment, userinfo, default ports, dot, slash, tracking, sort") {
    val df = Seq(
      (1L, "HTTPS://user@News.Example.com.:443/a/b/?utm_source=x&z=1&a=2#frag"),
      (2L, "http://example.com:80/"),
      (3L, "http://example.com:8080/x"),
      (4L, "https://example.com/p?b=2&a=1"),
      (5L, "https://example.com/p?a=1&b=2&gclid=abc"),
      (6L, "not a url")).toDF("id", "url")
    val got = df.select(Urls.canonicalize(col("url"))).collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "https://news.example.com/a/b?a=2&z=1",
      "http://example.com",
      "http://example.com:8080/x",   // non-default port kept
      "https://example.com/p?a=1&b=2",
      "https://example.com/p?a=1&b=2",
      "not a url"), got.toString)
  }

  test("url dedup: canonical variants collapse to min id, schema preserved") {
    val df = Seq(
      (10L, "https://example.com/p?b=2&a=1", "v10"),
      (11L, "https://example.com/p/?a=1&b=2&utm_medium=m", "v11"),
      (12L, "https://EXAMPLE.com:443/p?a=1&b=2#top", "v12"),
      (13L, "https://example.com/q", "v13")).toDF("id", "url", "payload")
    val surv = Urls.dedupByUrl(df, "url", "id")
    assert(surv.columns.toSeq == Seq("id", "url", "payload"))
    assert(surv.select("id").as[Long].collect().toSeq.sorted == Seq(10L, 13L))
  }

  test("quality classifier: spam scores negative and drops, prose keeps; exact replica sum") {
    val df = Seq(
      (1L, "click here to buy now free shipping winner"),
      (2L, "the study shows that the results matter because it is clear however " +
        "there are limits which we discuss"),
      (3L, "")).toDF("id", "text")
    val got = Classify.gate(df, "text").orderBy("id")
      .select("clf_n_feats", "clf_centi", "clf_keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // expected centi via the driver-side fingerprint replica — guards the
    // executor expression against hash/bucket drift
    val table = Classify.weightTable()
    def expected(text: String): (Long, Long) = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      val fs = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      (fs.size.toLong, fs.map(f => table.getOrElse(
        Math.floorMod(graft.functions.PositionalFingerprint.of(f), Classify.Buckets.toLong),
        0L)).sum)
    }
    val (n1, c1) = expected("click here to buy now free shipping winner")
    val (n2, c2) = expected("the study shows that the results matter because it is clear " +
      "however there are limits which we discuss")
    assert(got(0) == ((n1, c1, false)) && c1 < 0L, s"${got(0)} vs ($n1,$c1)")
    assert(got(1) == ((n2, c2, true)) && c2 > 0L, s"${got(1)} vs ($n2,$c2)")
    assert(got(2) == ((0L, 0L, false)), "feature-free docs fail the gate")
  }

  test("quality classifier: collision-summed table, threshold is integer cross-multiply") {
    // duplicate vocabulary terms land in one bucket and SUM
    val t = Classify.weightTable(Seq("aa" -> 10L, "aa" -> 5L, "bb" -> -3L))
    assert(t(Math.floorMod(graft.functions.PositionalFingerprint.of("aa"),
      Classify.Buckets.toLong)) == 15L)
    // default vocab is collision-free at 4096 buckets (documented demo property)
    assert(Classify.weightTable().size == Classify.DefaultVocab.size)
    // gate at minMeanCenti=5: mean 4.9 fails, 5.0 passes — no FP anywhere
    val df = Seq((1L, 10L, 49L), (2L, 10L, 50L))
      .toDF("id", "clf_n_feats", "clf_centi")
    val kept = df.filter(Classify.keepPredicate(minMeanCenti = 5L))
      .select("id").as[Long].collect().toSeq
    assert(kept == Seq(2L))
  }

  test("quality classifier: scoring is a shuffle-free projection") {
    val df = Seq((1L, "some text")).toDF("id", "text")
    val plan = Classify.filterLowQuality(df, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("html extract sql emitter: chains round-trip through the literal escaper") {
    val sql = Html.htmlToTextSql("t")
    // every chain entry appears exactly once; newline replacements ride as chr(10)
    assert(sql.contains("chr(10)"))
    assert(sql.contains("<[^>]+>") && sql.contains("&amp;") && sql.contains("{3,}"))
    assert((Html.TagChain ++ Html.EntityChain ++ Html.SpaceChain).sizeIs ==
      "regexp_replace".r.findAllIn(sql).size)
  }
}
