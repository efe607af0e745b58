package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.Kpi
import graft.etl._
import graft.probes.EventsVocab
import graft.sources.Readers

/** Physical-plan audits: the optimizations the 100-TB design depends on
  * must actually fire — filters reach the parquet scan, projections prune
  * the read schema, bounded dims broadcast, pipelines stay inside
  * whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown: a filter on a stored column reaches the parquet scan") {
    val plan = physical(
      Readers.table(spark, sf0001, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_quantity")))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan)
  }

  test("column pruning: a 2-column projection reads only those columns (+filter col)") {
    val plan = physical(
      Readers.table(spark, sf0001, "lineitem").select(col("l_orderkey"), col("l_quantity")))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"scan must not read unused columns: $readSchema")
  }

  test("star-join enrichment: bounded dims join via BroadcastHashJoin") {
    val flat = Flatten(EventsVocab.synth(Readers.table(spark, sf0001, "events")))
    val dimClient = Dims.client(flat, SurrogateKeys.Deterministic)
    val dimLocation = Dims.location(flat, SurrogateKeys.Deterministic)
    val dimState = Dims.state(flat, SurrogateKeys.Deterministic)
    val plan = physical(FactBuilder.dimShipping(flat, dimClient, dimLocation, dimState))
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 3, s"client + 2x location joins must broadcast, got $broadcasts:\n$plan")
  }

  test("KPI pipeline stays inside whole-stage codegen") {
    val flatShaped = Readers.table(spark, sf0001, "events").select(
      EventsVocab.code.as("event_code"), EventsVocab.sub.as("event_sub_code"),
      col("ts").as("event_date"), EventsVocab.shippingId.as("shipping_id"))
    val df = Kpi.headline(spark, flatShaped).toDF()
    df.collect() // materialize so AQE finalizes the plan (isFinalPlan=true)
    val plan = physical(df)
    assert(plan.contains("*("), s"'*(n)' whole-stage marker expected:\n$plan")
    // the pivot is a partial+final HashAggregate pair around one exchange
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2, plan)
  }

  test("IVF+int8 search: no cartesian pocket; candidate join is an equi-join on the list id") {
    import graft.ops.Ivf
    val emb = Readers.table(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 8)
    val df = Ivf.searchQuantized(queries, "query_id", "qvec",
      emb, "vec_id", "embedding", cents, k = 3, nprobe = 2)
    df.collect() // finalize AQE
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"),
      s"probe x list join must be an equi-join, not a cartesian:\n$plan")
    // only the broadcast-centroid argmax/probe stages may nest loops; the
    // corpus-side candidate join must key on centroid_id
    val bnl = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 2, s"only the two centroid cross joins may be BNL, got $bnl:\n$plan")
  }

  test("vec_dot participates in whole-stage codegen (no interpreted fallback marker)") {
    val emb = Readers.table(spark, sf0001, "embeddings")
    val plan = physical(emb.select(
      graft.functions.VectorFunctions.vec_dot(col("embedding"), col("embedding")).as("d")))
    assert(plan.startsWith("*("), s"the vec_dot projection must be inside a codegen stage:\n$plan")
  }

  test("custom expressions compile under codegen with NO fallback, even many per method") {
    // the plan string shows "*(" even when Janino compilation fails at
    // runtime (Spark silently drops to interpreted) — so this test turns
    // fallback OFF and EXECUTES a projection that inlines many instances
    // into one generated method (vec_cosine alone is three VecDots);
    // fixed local names in doGenCode make this throw "Redefinition of
    // local variable"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val emb = Readers.table(s2, sf0001, "embeddings").limit(8)
    import graft.functions.VectorFunctions._
    val v = emb.select(
      vec_cosine(col("embedding"), col("embedding")).as("c1"),
      vec_dot(col("embedding"), col("embedding")).as("d1"),
      vec_norm(col("embedding")).as("n1"))
    assert(v.collect().length == 8)
    val docs2 = Readers.table(s2, sf0001, "documents").limit(8)
    val f = docs2.select(
      graft.functions.TextFunctions.fingerprint(col("text")).as("f1"),
      graft.functions.TextFunctions.fingerprint(concat(col("text"), lit("x"))).as("f2"))
    assert(f.collect().length == 8)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bf.putLong(42L)
    val nb = docs2.select(
      graft.functions.TextFunctions.nfc(col("text")).as("n1"),
      graft.functions.TextFunctions.nfc(concat(col("text"), lit("é"))).as("n2"),
      graft.functions.BloomFunctions.mightContain(xxhash64(col("text")), bf).as("b1"),
      graft.functions.BloomFunctions.mightContain(lit(42L), bf).as("b2"))
    assert(nb.collect().forall(_.getBoolean(3)), "bloom must contain the planted key")
    // the full text-stats projection — including the 14-language langId
    // argmax — must codegen: the chained-when formulation regressed to a
    // ~15k-line nested-if method janino could not compile (interpreted
    // fallback in the hot path); the encoded-greatest argmax keeps it in
    val ls = docs2.select(graft.ops.TextStats.langId(col("text")).as("l"))
    assert(ls.collect().length == 8)
    val ws = graft.ops.TextStats.withStats(docs2.select("doc_id", "text"))
    assert(ws.collect().length == 8)
  }

  test("ORC scan: predicate pushdown fires for the second columnar format") {
    val tmp = scratch("orc").toString
    Readers.table(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag").write.mode("overwrite").orc(tmp)
    val plan = physical(
      spark.read.orc(tmp).filter(col("l_quantity") > 10).select("l_orderkey"))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThan(l_quantity,10"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), s"unused column read: $readSchema")
  }

  test("SQL text front-end compiles to the same physical plan as the DSL") {
    Readers.table(spark, sf0001, "orders").createOrReplaceTempView("plan_orders")
    val sql = spark.sql(
      "SELECT o_orderstatus, count(*) AS n FROM plan_orders GROUP BY o_orderstatus")
    val dsl = Readers.table(spark, sf0001, "orders")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    def shape(df: DataFrame) = physical(df).replaceAll("#\\d+L?", "#n").linesIterator
      .map(_.trim.takeWhile(_ != '(')).filter(_.nonEmpty).mkString("|")
    assert(shape(sql) == shape(dsl), s"${physical(sql)}\n-- vs --\n${physical(dsl)}")
  }

  test("grouping sets expand once and aggregate partial+final (single shuffle)") {
    val df = Readers.table(spark, sf0001, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val plan = physical(df)
    assert(plan.linesIterator.count(_.contains("Expand")) == 1, plan)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"grouping lattice must cost one shuffle, not one per set:\n$plan")
  }

  test("as-of join plan: one shuffle per side, no cartesian anywhere") {
    val ev = Readers.table(spark, sf0001, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val plan = physical(graft.ops.AsofJoin.backward(
      purchases, clicks, Seq("user_id"), "ts", "click_ts", Seq("click_ts")))
    assert(!plan.contains("Cartesian"), s"as-of must not degenerate to cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("fact write path: dedup becomes a single exchange + window, no extra shuffles") {
    val flat = Flatten(EventsVocab.synth(Readers.table(spark, sf0001, "events")))
    val dimClient = Dims.client(flat, SurrogateKeys.Deterministic)
    val dimLocation = Dims.location(flat, SurrogateKeys.Deterministic)
    val dimState = Dims.state(flat, SurrogateKeys.Deterministic)
    val ship = FactBuilder.dimShipping(flat, dimClient, dimLocation, dimState)
    val exchanges = physical(ship).linesIterator.count(_.contains("Exchange hashpartitioning(shipping_id"))
    assert(exchanges == 1, s"exactly one shuffle on shipping_id for the dedup, got $exchanges")
  }

  test("partitioned store: a day-range filter prunes to the matching partitions only") {
    val tmp = s"${graft.TmpDir.root}/tmp/planspec_part"
    Readers.table(spark, sf0001, "events")
      .withColumn("event_day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("event_day").parquet(tmp)
    val all = spark.read.parquet(tmp)
    val nDays = all.select("event_day").distinct().count()
    val filtered = all.filter(col("event_day").between("2024-01-08", "2024-01-14"))
    val plan = physical(filtered)
    // the range bounds themselves must land in PartitionFilters — a bare
    // `PartitionFilters: []` or isnotnull-only line means pruning regressed
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:"))
      .getOrElse(fail(s"no PartitionFilters in scan:\n$plan"))
    assert(pf.contains(">=") && pf.contains("<="),
      s"day-range bounds must be partition filters, got: $pf")
    assert(filtered.select("event_day").distinct().count() == 7 && nDays > 7)
    // hard evidence of pruning, from execution (inputFiles is pre-pruning
    // relation metadata and would stay at 30): the files ACTUALLY read all
    // live in matching day directories, and there are fewer than the total
    val readFiles = filtered.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(readFiles.nonEmpty && readFiles.length < all.inputFiles.length,
      s"filtered scan must read fewer files (${readFiles.length} vs ${all.inputFiles.length})")
    assert(readFiles.forall { f =>
      val m = "event_day=([0-9-]+)".r.findFirstMatchIn(f)
      m.exists(d => d.group(1) >= "2024-01-08" && d.group(1) <= "2024-01-14")
    }, s"every scanned file must live in a matching day partition:\n${readFiles.mkString("\n")}")
  }

  test("shuffle budget of the pipeline ops matches the scaladoc claims") {
    // \bExchange matches shuffle exchanges only: neither ReusedExchange nor
    // BroadcastExchange has a word boundary before the E. The old
    // line-anchored form missed exchanges under a join's ':' branch prefix.
    def exchanges(df: DataFrame): Int =
      "\\bExchange ".r.findAllIn(physical(df)).length
    val docs = Readers.table(spark, sf0001, "documents")
    // chunking: tokenize + explode only — ZERO shuffles
    assert(exchanges(graft.ops.Packing.slidingChunks(
      docs, "doc_id", col("text"), 64, 48)) == 0)
    // mixture: per-source filters + union — ZERO shuffles
    assert(exchanges(graft.ops.Sampling.mixture(Seq(
      ("a", docs.filter(col("doc_id") % 2 === 0), 1.0),
      ("b", docs.filter(col("doc_id") % 2 =!= 0), 0.5)), col("doc_id"))) == 0)
    // packing: ONE hash shuffle on the shard key; both windows reuse it
    assert(exchanges(graft.ops.Packing.concatChunk(
      docs, "doc_id", size(graft.ops.TextStats.tokens(col("text"))), 256, 4)) == 1)
    // SCD2 history: ONE shuffle on the business key; lag + lead share it
    assert(exchanges(graft.ops.Scd.fromHistory(
      Readers.table(spark, sf0001, "events").select(col("user_id"), col("ts"), col("event_type")),
      Seq("user_id"), "ts", Seq("event_type"))) == 1)
    // exact quality pruning: the round-4 re-plan trades the one fat
    // language-window shuffle for several SMALL ones (distinct-score agg
    // + tiny offsets windows + join-back) — so the budget here is shape,
    // not count: the (language, score) election must partially aggregate
    // map-side, no window may sort document bodies, and the boundary
    // rank window must carry the __ib fingerprint-bucket (a mass tie at
    // the threshold spreads over many sort tasks for ANY id type; the
    // OpsSpec equivalence test asserts the spread is real at execution
    // time on dense long ids and string ids)
    val qpPlan = physical(graft.ops.TextStats.qualityPrune(docs, "doc_id", 0.2))
    assert(qpPlan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")),
      s"score-group election must combine map-side:\n$qpPlan")
    val qpWindows = qpPlan.linesIterator.filter(_.matches(".*\\bWindow\\b.*")).toSeq
    assert(qpWindows.forall(l => !l.contains("text#")),
      s"no window may sort document bodies:\n${qpWindows.mkString("\n")}")
    assert(qpPlan.linesIterator.filter(_.contains("row_number"))
      .forall(_.contains("__ib")),
      s"the boundary rank must be sub-bucketed by __ib:\n$qpPlan")
    // approx quality pruning: NO window anywhere — the dominant-language
    // partition is never sorted (sketch agg + threshold join only)
    val approxPlan = graft.ops.TextStats.qualityPruneApprox(docs, "doc_id", 0.2)
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Window"),
      s"approx prune must not sort language partitions:\n$approxPlan")
    // snapshot diff: ONE shuffle per side into the full-outer join, none
    // after it (digests are computed map-side, bodies never shuffle)
    val next = docs.filter(col("doc_id") % 2 === 0)
    assert(exchanges(graft.ops.Snapshot.diff(docs, next, "doc_id", Seq("text"))) == 2)
    // paragraph dedup: the scaladoc's 3 shuffle sites resolve to 4
    // exchanges (the (id,pos) semi-join exchanges BOTH sides) + the
    // reassembly agg; nothing beyond that — and the survivor election is
    // a map-side-combinable AGGREGATE on the digest, not a window (a hot
    // boilerplate digest combines before the shuffle instead of sorting
    // 10^8 rows in one task)
    val pd = graft.ops.Dedup.paragraphDedup(
      docs.select(col("doc_id"), concat_ws("\n", col("text"), col("text")).as("text")),
      "doc_id", "text")
    assert(exchanges(pd) <= 4, s"paragraph dedup shuffle budget blown:\n${physical(pd)}")
    val pdPlan = physical(pd)
    assert(pdPlan.contains("Exchange hashpartitioning(__h"),
      s"survivor election must shuffle on the digest key:\n$pdPlan")
    assert(!pdPlan.linesIterator.exists(_.matches(".*\\bWindow\\b.*")),
      s"election must be an agg (map-side combinable), not a window:\n$pdPlan")
    // struct-min lowers to SortAggregate (not hash-aggregable), but the
    // map-side partial_min is what kills the fat-digest partition
    assert(pdPlan.linesIterator.exists(l =>
      l.contains("Aggregate") && l.contains("__h") && l.contains("partial_min")),
      s"election must partially aggregate min(id,pos) per digest map-side:\n$pdPlan")
    // substring (span) dedup: same election discipline as paragraph dedup
    // — digest agg with map-side partial_min, zero windows — and the
    // loser anti-join must key on the unskewed (id, pos), NEVER the
    // digest (a hot boilerplate window would otherwise become a fat join
    // partition carrying 10^8 rows)
    val sd = graft.ops.Dedup.substringDedup(docs, "doc_id", "text", k = 8)
    val sdPlan = physical(sd)
    assert(!sdPlan.linesIterator.exists(_.matches(".*\\bWindow\\b.*")),
      s"substring dedup must not use a window:\n$sdPlan")
    assert(sdPlan.linesIterator.exists(l =>
      l.contains("Aggregate") && l.contains("__h") && l.contains("partial_min")),
      s"span election must partially aggregate min(id,pos) map-side:\n$sdPlan")
    val antiLines = sdPlan.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.nonEmpty && antiLines.forall(!_.contains("__h#")),
      s"loser anti-join must key on (id,pos), not the digest:\n${antiLines.mkString("\n")}")
  }

  test("keep-first dedup and Curate.run: no window keyed by document content anywhere") {
    val docs = Readers.table(spark, sf0001, "documents")
    // keep-first forms: agg + left_semi on the id — zero Window operators,
    // and the digest aggregate combines map-side (partial_min before the
    // exchange), so a 10^8-copy boilerplate document never concentrates
    def assertAggSemiShape(df: DataFrame, label: String): Unit = {
      val plan = physical(df)
      assert(!plan.linesIterator.exists(_.matches(".*\\bWindow\\b.*")),
        s"$label must not use a window:\n$plan")
      assert(plan.contains("LeftSemi"), s"$label must keep via semi-join:\n$plan")
      assert(plan.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial_min")),
        s"$label must elect min(id) with map-side partial agg:\n$plan")
    }
    assertAggSemiShape(graft.ops.Dedup.exactKeepFirst(docs, Seq("text"), "doc_id"),
      "exactKeepFirst")
    assertAggSemiShape(graft.ops.Dedup.exactNormalizedKeepFirst(docs, "text", "doc_id"),
      "exactNormalizedKeepFirst")
    // the composed pipeline (pinStages=false exposes the full lazy plan —
    // localCheckpoint would truncate it): whatever windows remain must not
    // partition by the text column (i.e. no content-keyed sort anywhere)
    val curated = graft.ops.Curate.run(docs, "doc_id", "text",
      cfg = graft.ops.Curate.Config(pinStages = false))
    val windowLines = physical(curated).linesIterator
      .filter(_.matches(".*\\bWindow\\b.*")).toSeq
    assert(windowLines.forall(l => !l.contains("text#")),
      s"Curate.run must not sort any content-keyed window:\n${windowLines.mkString("\n")}")
  }

  test("two-pass sampling: rank/prefix windows partition by (key, hash-bucket), not key alone") {
    val docs = Readers.table(spark, sf0001, "documents")
    // stratifiedExact: the rank window must include the __b bucket in its
    // partition spec — a dominant stratum spreads over up to 256 sort tasks
    val strat = graft.ops.Sampling.stratifiedExact(
      docs.withColumn("s", lit("one_fat_stratum")), col("s"), col("doc_id"), 0.1)
    val stratWindows = physical(strat).linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(stratWindows.exists(_.contains("__b")),
      s"stratifiedExact rank window must be bucketed:\n${stratWindows.mkString("\n")}")
    // tokenBudget: same — the running-sum window partitions by (source, __b)
    val tb = graft.ops.Sampling.tokenBudget(
      Seq(("one_fat_source", docs, 1000000L)),
      col("doc_id"), size(graft.ops.TextStats.tokens(col("text"))))
    val tbWindows = physical(tb).linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(tbWindows.exists(_.contains("__b")),
      s"tokenBudget prefix-sum window must be bucketed:\n${tbWindows.mkString("\n")}")
    // and the bucketing is REAL at execution time: one stratum's rows land
    // in many distinct hash-order buckets (parallel sort tasks at scale)
    val nBuckets = docs
      .select(shiftright(xxhash64(col("doc_id")), 56).as("b"))
      .distinct().count()
    assert(nBuckets > 64, s"expected the id space to span many order buckets, got $nBuckets")
  }

  test("AQE splits the skewed join partition (skew=true in the executed join)") {
    val df = graft.probes.EngineProbes.skewSession(spark, sf0001)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"the 80%-hot key partition must be split by OptimizeSkewedJoin:\n$plan")
  }

  test("x54 heavy hitters: sketch gate shrinks the measured shuffle bytes vs full-domain agg") {
    // The Frequency.heavyHitters scaladoc claims "the shuffle carries
    // partial counts of candidate terms only, not the trillion-term tail".
    // That is a claim about BYTES — assert it with a ShuffleTap, the same
    // listener the bench artifact uses, not by reading the plan string.
    // Fixture: 8 hot terms x 2000 occurrences over a 400k-singleton tail.
    import spark.implicits._
    // The tap is scoped to a job group: suites share one SparkContext and
    // run concurrently, so an untagged tap would count ANY suite's shuffle
    // that lands inside the bracket (round-5 advice flagged the flake).
    // setJobGroup is thread-local — only THIS test's jobs are counted.
    val tag = s"plan-x54-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(tag, "x54 shuffle-byte measurement")
    try {
      val tail = spark.range(400000L).select(concat(lit("tail"), $"id").as("term"))
      val hot = spark.range(16000L).select(concat(lit("hot"), $"id" % 8).as("term"))
      val df = tail.unionAll(hot)
      val tap = new ShuffleTap(spark, jobGroup = Some(tag))
      try {
        val (_, naive) = tap.measure {
          df.groupBy($"term").agg(count(lit(1)).as("n")).filter($"n" >= 2000L)
            .write.format("noop").mode("overwrite").save()
        }
        val (_, gated) = tap.measure {
          graft.ops.Frequency.heavyHitters(df, $"term", minFreq = 2000L)
            .write.format("noop").mode("overwrite").save()
        }
        // the full-domain agg must shuffle the 400k tail; the gated path
        // only the 8 candidates (wide margin absorbs concurrent-suite noise)
        assert(naive.write > 1000000L,
          s"fixture too small to be load-bearing: naive shuffled ${naive.write} B")
        assert(gated.write < naive.write / 2,
          s"gated shuffle ${gated.write} B should be far under naive ${naive.write} B")
        // and the gate costs no exactness
        val rows = graft.ops.Frequency.heavyHitters(df, $"term", minFreq = 2000L)
          .as[(String, Long)].collect().toMap
        assert(rows.size == 8 && rows.values.forall(_ == 2000L), rows.toString)
      } finally tap.close()
    } finally spark.sparkContext.clearJobGroup()
  }

  test("runtime bloom filter from the selective dim side reaches the fact scan") {
    val df = graft.probes.EngineProbes.bloomSession(spark, sf0001)
    df.collect() // finalize AQE so the injected filter shows in the plan
    val plan = physical(df)
    assert(plan.contains("might_contain"),
      s"bloom filter must be pushed into the application side:\n$plan")
    assert(plan.contains("bloom_filter_agg") || plan.contains("ObjectHashAggregate"),
      s"creation side must build the bloom aggregate:\n$plan")
  }

  test("probeIngestIndex: no cartesian/BNL join and no content-keyed window in ANY executed stage") {
    // the probe materializes eagerly (localCheckpoints truncate lazy
    // plans), so the audit captures every executed plan through a
    // QueryExecutionListener and sweeps the whole set — the same
    // no-quadratic-pocket contract PlanAuditSpec enforces per probe
    val base = scratch("ingestPlan").toString
    val docs = Readers.table(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    graft.ops.Dedup.initIngestIndex(spark, base, n = 3, numPerm = 64, numBands = 16,
      rowsPerBand = 4, expectedItems = 10000L)
    graft.ops.Dedup.appendToIngestIndex(spark, base,
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", ingestId = 0L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val idx = graft.ops.Dedup.readIngestIndex(spark, base,
        org.apache.spark.sql.types.LongType)
      val r = graft.ops.Dedup.probeIngestIndex(idx, docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", threshold = 0.2, excludeIngest = 1L)
      r.count(); r.unpersist()
      // the listener bus is asynchronous — settle until the captured set
      // stops growing (same polling idea as ShuffleTap.settle)
      var last = -1; var stable = 0
      while (stable < 3) {
        val n = plans.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray.map(_.toString)
    assert(all.nonEmpty, "the probe must surface executed plans to audit")
    val quad = all.filter(p =>
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
    assert(quad.isEmpty,
      s"probeIngestIndex executed a quadratic join:\n${quad.headOption.getOrElse("")}")
    val windowLines = all.flatMap(_.linesIterator.filter(_.matches(".*\\bWindow\\b.*")))
    assert(windowLines.forall(l => !l.contains("text#") && !l.contains("shingle#")),
      s"probeIngestIndex must not sort a content-keyed window:\n${windowLines.mkString("\n")}")
  }

  test("BM25 fold: an all-bloom-negative batch executes NO scan of postings or doclen (round-14 O(batch) claim)") {
    // the r13 append anti-joined the full postings id column per fold;
    // the round-14 contract is that a genuinely-new batch (every id
    // bloom-negative) never reads EITHER index table — swept across all
    // executed plans through a listener, the ingest-index audit's shape.
    // The fixture is deterministic (xxhash64 + fixed ids), so the
    // bloom-negative precondition either always holds or never does.
    val base = scratch("bm25Plan").toString
    val docs = Readers.table(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    graft.ops.TextStats.writeBm25Index(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", col("text"), base)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.ops.TextStats.appendToBm25Index(spark, base, batch, "doc_id", col("text"))
      var last = -1; var stable = 0
      while (stable < 3) {
        val n = plans.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray.map(_.toString)
    assert(all.nonEmpty, "the fold must surface executed plans to audit")
    // a table READ shows as a FileScan line carrying the table path; the
    // fold's WRITES to the same dirs are InsertIntoHadoopFsRelation
    // commands and must not trip the assertion
    val reads = all.flatMap(_.linesIterator.filter(l =>
      l.contains("FileScan") && (l.contains("postings") || l.contains("doclen"))))
    assert(reads.isEmpty,
      s"an all-new fold must not scan the index tables:\n${reads.mkString("\n")}")
    // and the fold actually landed (the prune didn't just skip the work)
    assert(graft.ops.IndexStore.read(spark, base, graft.ops.IndexStore.latest(spark, base), "doclen")
        .count() == docs.count(),
      "fold must append the batch's doclen rows")
  }

  test("composed indexed sweeps: decon prunes term partitions and never scans doclen; " +
      "hybrid additionally prunes centroid partitions (round-15 deployment shapes)") {
    val base = scratch("r15sweep").toString
    val docs = Readers.table(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val emb = Readers.table(spark, sf0001, "embeddings")
    graft.ops.TextStats.writeBm25Index(docs, "doc_id", col("text"), s"$base/bm25")
    graft.ops.Ivf.writeIndex(s"$base/ivf", emb, "vec_id", "embedding",
      graft.ops.Ivf.seedCentroids(emb, "vec_id", "embedding", 8))
    val queries = docs.filter(col("doc_id") % 97 === 1)
      .select((col("doc_id") * 1000L).as("query_id"),
        concat_ws(" ", slice(graft.ops.TextStats.tokens(col("text")), 1, 3)).as("qtext"))
      .join(emb.filter(col("vec_id") % 97 === 1)
          .select((col("vec_id") * 1000L).as("query_id"), col("embedding").as("qvec")),
        Seq("query_id"))

    val decon = graft.ops.TextStats.bm25DecontaminateIndexed(spark, s"$base/bm25",
      docs, queries, "query_id", col("qtext"), k = 5, minScore = 1.0)
    val deconPlan = decon.queryExecution.executedPlan.toString
    // the retrieval side reads ONLY matched term partitions of the
    // postings; (N, avgdl) ride the manifest, so doclen never appears
    assert("""PartitionFilters: \[__tp#\d+ (INSET|IN \()""".r.findFirstIn(deconPlan).isDefined,
      s"decon sweep must prune postings partitions:\n${deconPlan.take(3000)}")
    assert(!deconPlan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("doclen")),
      "decon sweep must not scan doclen (meta counters)")
    // the hit set is a bounded id list: after AQE finalizes (collect()
    // drives THIS QueryExecution; a .write would plan a fresh one), the
    // corpus anti-join must broadcast it (never shuffle the corpus)
    decon.collect()
    val finalPlan = decon.queryExecution.executedPlan.toString
    assert(finalPlan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"the corpus anti-join must broadcast the hit set:\n${finalPlan.take(3000)}")

    val hybrid = graft.ops.Similarity.hybridTopKIndexed(spark, s"$base/bm25",
      s"$base/ivf", queries, "query_id", col("qtext"), "qvec",
      "vec_id", "embedding", k = 5, kPerArm = 10, nprobe = 2, excludeSelf = false)
    val hybridPlan = hybrid.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[__tp#\d+ (INSET|IN \()""".r.findFirstIn(hybridPlan).isDefined,
      s"hybrid sweep must prune postings partitions:\n${hybridPlan.take(3000)}")
    assert("""PartitionFilters: \[centroid_id#\d+ (INSET|IN \()""".r.findFirstIn(hybridPlan).isDefined,
      s"hybrid sweep must prune inverted-list partitions:\n${hybridPlan.take(3000)}")
    assert(!hybridPlan.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("doclen")),
      "hybrid sweep must not scan doclen")
    assert(hybrid.count() > 0, "the pruned hybrid sweep must still retrieve")
  }

  test("incrementalParagraphIndexed: the batch election runs exactly once (verdict-r10 note)") {
    // the Bloom-positive and Bloom-negative branches both consume the
    // batch election frame (groupBy __h → min slot). Unpinned, Catalyst
    // pushes each branch's sketch filter below the aggregate (it filters
    // the GROUP KEY), splitting the exchange into two subtrees that each
    // re-scan the batch and re-run the election — observed as two
    // partial_min aggregates before the fix. The election is pinned
    // (localCheckpoint), so across EVERY plan the probe executes —
    // checkpoint job + final assembly, swept through a listener exactly
    // like the ingest-index audit above — partial_min must appear ONCE.
    val base = scratch("paraPlan").toString
    val docs = Readers.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    graft.ops.Dedup.writeParagraphIndex(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", base, expectedItems = 10000L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.ops.Dedup.incrementalParagraphIndexed(
        graft.ops.Dedup.readParagraphIndex(spark, base),
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
      var last = -1; var stable = 0
      while (stable < 3) {
        val n = plans.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    // an AQE plan string carries an "== Initial Plan ==" echo of the same
    // tree — count only the executed (final) section of each plan
    val partials = plans.toArray.map(_.toString).map(p =>
      p.split("== Initial Plan ==")(0).linesIterator
        .count(l => l.contains("Aggregate") && l.contains("partial_min"))).sum
    assert(partials == 1,
      s"the batch election must partial-aggregate exactly once across all executed plans, got $partials")
  }

  test("lm training: one map-side-combined count shuffle; caps TakeOrdered, never a global sort") {
    val docs = Readers.table(spark, sf0001, "documents")
    // sufficient statistics: both grains ride ONE explode into ONE count
    // shuffle, combined map-side (the scaladoc's 100-TB claim)
    val cPlan = physical(graft.ops.Lm.trainCounts(docs))
    assert("\\bExchange ".r.findAllIn(cPlan).length == 1,
      s"trainCounts must shuffle exactly once:\n$cPlan")
    assert(cPlan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")),
      s"count must combine map-side:\n$cPlan")
    // compiled model: vocabulary/bigram caps elect via TakeOrdered — a
    // global Sort of the term space would be the 100-TB anti-pattern
    val mPlan = physical(graft.ops.Lm.train(docs,
      vocabSize = 64, bigramSize = 128, minBigramCount = 1L))
    assert(mPlan.contains("TakeOrderedAndProject"),
      s"the bigram cap must plan as TakeOrdered:\n$mPlan")
    assert(!mPlan.contains("Sort ["),
      s"no global sort may appear in model compilation:\n$mPlan")
  }

  test("indexed decontamination: sketch prune rides the batch side; pair join broadcasts") {
    val base = scratch("planBenchIdx").toString
    val docs = Readers.table(spark, sf0001, "documents")
    graft.ops.Decontaminate.writeBenchIndex(
      docs.filter(col("doc_id") % 37 === 0), "doc_id", col("text"),
      n = 3, s"$base/bench", expectedItems = 10000L)
    val plan = physical(graft.ops.Decontaminate.overlapsIndexed(
      graft.ops.Decontaminate.readBenchIndex(spark, s"$base/bench"),
      docs.filter(col("doc_id") % 37 =!= 0), "doc_id", col("text"), minHits = 2))
    // the sketch probe must sit under the join (batch side), so Bloom-
    // negative shingles never reach it; the small pair table broadcasts
    val joinAt = plan.linesIterator.indexWhere(_.contains("BroadcastHashJoin"))
    val probeAt = plan.linesIterator.indexWhere(_.contains("bloom_might_contain"))
    assert(joinAt >= 0, s"pair join must broadcast:\n$plan")
    assert(probeAt > joinAt,
      s"bloom probe must be below (after) the join in the tree:\n$plan")
  }
}
