package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed gives byte-identical inputs;
  * every expected output value is derived here, by construction, from the
  * generated records alone — never by running the program under test.
  */
object Gen {

  // ——— parcel events: the reference-shaped multiLine CSV ————————————————

  /** What a correct ETL + KPI run must produce from one generated CSV. */
  final case class EventsTruth(
      events: Long,
      shipments: Long,
      clients: Long,
      locations: Long,
      states: Long,
      dates: Long,
      avgDelivery: Option[Double],
      avgLifecycle: Option[Double],
      avgPickup: Option[Double],
      totalPackages: Long,
      minEntryMicros: Long,
      maxEntryMicros: Long,
      minEventMicros: Long,
      maxEventMicros: Long) {

    /** Table name → row count of the written star schema. */
    def tableRows: Map[String, Long] = Map(
      "DimClient" -> clients, "DimLocation" -> locations, "DimState" -> states,
      "DimDate" -> dates, "DimShipping" -> shipments, "FactShippingEvent" -> events)

    /** DQ checkpoint name → the row count its non-empty check reports. */
    def dqRows: Map[String, Long] = Map(
      "Before Parsing" -> events, "After Parsing" -> events) ++
      tableRows.map { case (t, n) => s"After Tables Build: $t" -> n }
  }

  val TsFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)
  private val DayMicros = 86400L * 1000000L
  private val Base = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
  private val Countries = Array("FR", "BE", "ES", "LU", "NL", "DE")

  private def ts(micros: Long): String =
    TsFmt.format(Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L))
  private def day(micros: Long): Long = Math.floorDiv(micros, DayMicros)

  private final case class Shipment(id: String, brand: String, sign: String,
      colAgence: Int, colPays: String, delAgence: Int, delPays: String,
      sav: Boolean, replaced: Boolean, parcelNumber: Int, shippingNumber: Int,
      parcelSequence: Int, options: String, paid: String)

  private final case class Event(code: String, sub: String, eventMicros: Long,
      entryMicros: Long, nature: String, stateCode: String, stateNature: String,
      stateSub: String)

  /** One event's JSON payload, pretty-printed over several lines as the
    * reference's export does — which is what makes the CSV multiLine.
    */
  private def json(s: Shipment, e: Event): String = {
    val stateDate = LocalDate.ofEpochDay(day(e.eventMicros)).toString
    s"""{
       |  "event_code": "${e.code}",
       |  "event_sub_code": "${e.sub}",
       |  "event_date": "${ts(e.eventMicros)}",
       |  "entry_date": "${ts(e.entryMicros)}",
       |  "event_nature": "${e.nature}",
       |  "shipping": {
       |    "sign_code": "${s.sign}",
       |    "brand_code_alpha": "${s.brand}",
       |    "collection": {"prestation_code": "P1", "round": {"codeAgence": ${s.colAgence}, "pays": "${s.colPays}"}},
       |    "paid": "${s.paid}",
       |    "sav_folder": ${s.sav},
       |    "is_replaced": ${s.replaced},
       |    "state": {"code": "${e.stateCode}", "date": "$stateDate", "nature": "${e.stateNature}", "sousCode": "${e.stateSub}"},
       |    "canceled_state": "NONE",
       |    "shipping_id": "${s.id}",
       |    "delivery": {"prestation_code": "P2", "round": {"codeAgence": ${s.delAgence}, "pays": "${s.delPays}"}},
       |    "parcel_number": ${s.parcelNumber},
       |    "shipping_number": ${s.shippingNumber},
       |    "options": "${s.options}",
       |    "parcel_sequence": ${s.parcelSequence}
       |  }
       |}""".stripMargin
  }

  private def csvQuote(v: String): String = "\"" + v.replace("\"", "\"\"") + "\""

  /** Writes `n` events as `<dir>/events.csv` (header `row_id,event,
    * ingest_file`, every field quoted, the JSON payload spanning lines) and
    * returns the ground truth. Shipments run PEC → TRN → LIV with gaps of
    * whole days, plus side events (ANN, re-delivery TRN, off-code subs) that
    * exercise the KPI label rules.
    */
  def events(seed: Long, n: Int, dir: File): EventsTruth = {
    require(n > 0)
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val clients = mutable.HashSet.empty[(String, String)]
    val colLocs = mutable.HashSet.empty[(Int, String)]
    val delLocs = mutable.HashSet.empty[(Int, String)]
    val states = mutable.HashSet.empty[(String, Long, String, String)]
    val dates = mutable.HashSet.empty[Long]
    var (dlSum, dlN, lcSum, lcN, puSum, puN) = (0L, 0L, 0L, 0L, 0L, 0L)
    var packages = 0L
    var (minEntry, maxEntry, minEvent, maxEvent) = (Long.MaxValue, Long.MinValue, Long.MaxValue, Long.MinValue)
    var written = 0
    var shipments = 0L
    def sub(p: Double) = if (rnd.nextDouble() < p) (if (rnd.nextBoolean()) "REL" else "APM") else "OTH"
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(dir, "events.csv")), StandardCharsets.UTF_8), 1 << 20)
    try {
      out.write("row_id,event,ingest_file\n")
      while (written < n) {
        val s = Shipment(f"SH$shipments%09d", "B" + rnd.nextInt(12), "S" + rnd.nextInt(40),
          rnd.nextInt(200), Countries(rnd.nextInt(Countries.length)),
          rnd.nextInt(200), Countries(rnd.nextInt(Countries.length)),
          rnd.nextBoolean(), rnd.nextInt(10) == 0, 1 + rnd.nextInt(5), rnd.nextInt(1000),
          rnd.nextInt(3), "O" + rnd.nextInt(4), if (rnd.nextBoolean()) "Y" else "N")
        shipments += 1
        val sent = Base + rnd.nextLong(330L * DayMicros)
        def at(from: Long, maxDays: Int) = from + rnd.nextInt(maxDays + 1) * DayMicros +
          rnd.nextLong(DayMicros / 2)
        val evs = mutable.ArrayBuffer(("PEC", sub(0.9), sent))
        var last = sent
        if (rnd.nextDouble() < 0.85) { last = at(last, 5); evs += (("TRN", sub(0.9), last)) }
        if (rnd.nextDouble() < 0.10) evs += (("TRN", sub(1.0), at(last, 3)))
        if (rnd.nextDouble() < 0.80) { last = at(last, 7); evs += (("LIV", "REL", last)) }
        if (rnd.nextDouble() < 0.25) evs += (("ANN", "INF", at(sent, 10)))
        val kept = evs.take(n - written).toSeq
        var (sentT, delT, pickT) = (Long.MaxValue, Long.MaxValue, Long.MaxValue)
        kept.foreach { case (code, sc, t) =>
          val e = Event(code, sc, t, t - rnd.nextLong(3L * 3600L * 1000000L),
            "N" + rnd.nextInt(3), "ST" + rnd.nextInt(4), "NAT" + rnd.nextInt(2), "SC" + rnd.nextInt(3))
          out.write(csvQuote("R" + written)); out.write(',')
          out.write(csvQuote(json(s, e))); out.write(',')
          out.write(csvQuote(s"events-$seed.csv")); out.write('\n')
          written += 1
          clients += ((s.brand, s.sign))
          colLocs += ((s.colAgence, s.colPays))
          delLocs += ((s.delAgence, s.delPays))
          states += ((e.stateCode, day(t), e.stateNature, e.stateSub))
          dates += day(t)
          minEntry = minEntry min e.entryMicros; maxEntry = maxEntry max e.entryMicros
          minEvent = minEvent min t; maxEvent = maxEvent max t
          val labelled = sc == "REL" || sc == "APM"
          if (code == "PEC" && labelled) sentT = sentT min t
          if (code == "TRN" && labelled) delT = delT min t
          if (code == "LIV") pickT = pickT min t
        }
        // Kpi.headline: earliest labelled event per shipment, whole-day
        // differences, averages over the non-null durations
        if (kept.exists(e => Set("PEC", "TRN", "LIV")(e._1))) packages += 1
        def dd(a: Long, b: Long) = if (a == Long.MaxValue || b == Long.MaxValue) None else Some(day(a) - day(b))
        dd(delT, sentT).foreach { d => dlSum += d; dlN += 1 }
        dd(pickT, sentT).foreach { d => lcSum += d; lcN += 1 }
        dd(pickT, delT).foreach { d => puSum += d; puN += 1 }
      }
    } finally out.close()
    def avg(s: Long, c: Long) = if (c == 0) None else Some(s.toDouble / c.toDouble)
    val truth = EventsTruth(written, shipments, clients.size, colLocs.size + delLocs.size,
      states.size, dates.size, avg(dlSum, dlN), avg(lcSum, lcN), avg(puSum, puN), packages,
      minEntry, maxEntry, minEvent, maxEvent)
    val records = countCsvRecords(new File(dir, "events.csv"))
    require(records == n + 1, s"generator wrote $records CSV records, expected ${n + 1}")
    truth
  }

  /** Records in a quoted CSV file: newlines outside quotes (an escaped
    * quote `""` toggles twice, so it never ends a field).
    */
  def countCsvRecords(f: File): Long = {
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 20)
    try {
      var quoted = false
      var records = 0L
      var b = in.read()
      while (b >= 0) {
        if (b == '"') quoted = !quoted
        else if (b == '\n' && !quoted) records += 1
        b = in.read()
      }
      records
    } finally in.close()
  }

  // ——— text corpus: documents with planted duplicates and overlaps ——————

  final case class Doc(id: Long, text: String)

  /** Planted structure of a corpus, known by construction. */
  final case class Corpus(
      docs: IndexedSeq[Doc],
      bench: IndexedSeq[Doc],
      vectors: IndexedSeq[(Long, Array[Float])],
      exactDups: Map[Long, Long], // plant id → source id
      nearDups: Map[Long, Long],
      overlaps: Map[Long, Long]) { // plant id → benchmark id
    def planted: Set[Long] = exactDups.keySet ++ nearDups.keySet ++ overlaps.keySet
    /** Ids a correct curation keeps: every document that is not a plant. */
    def survivors: Set[Long] = docs.map(_.id).toSet -- planted
    def queryIds: Seq[Long] = vectors.map(_._1).filter(id => Math.floorMod(id, 97L) == 1L)
  }

  /** 4,000 distinct pronounceable content words (fixed, seed-independent). */
  private lazy val Vocab: Array[String] = {
    val rnd = new SplittableRandom(7L)
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "st", "tr")
    val vo = Array("a", "e", "i", "o", "u", "ai", "ou")
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < 4000)
      words += (0 until 2 + rnd.nextInt(2)).map(_ => on(rnd.nextInt(on.length)) + vo(rnd.nextInt(vo.length))).mkString
    words.toArray
  }

  private def words(rnd: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(rnd.nextInt(Vocab.length)))

  /** Sentences of 6-14 words, each opened by `the` or `a` (the quality
    * gate's stopwords, so every document clears its stopword term) and
    * closed by a period. The rest are content words, so two unrelated
    * documents share almost no word 3-gram.
    */
  private def prose(ws: Array[String], rnd: SplittableRandom): String = {
    val sb = new StringBuilder
    var left = 0
    ws.indices.foreach { i =>
      if (i > 0) sb.append(' ')
      if (left == 0) { sb.append(if (rnd.nextInt(3) == 0) "a " else "the "); left = 5 + rnd.nextInt(9) }
      sb.append(ws(i))
      left -= 1
      if (left == 0 || i == ws.length - 1) sb.append('.')
    }
    sb.toString
  }

  private def docLength(rnd: SplittableRandom): Int =
    Math.round(Math.exp(Math.log(49.0) + 0.3 * rnd.nextGaussian())).toInt.max(29).min(100)

  /** Word 3-grams of whitespace tokens (the dedup and decontamination
    * shingle shape the curation composition uses).
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split("\\s+").filter(_.nonEmpty)
    if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  /** `n` documents (ids 0..n-1) of which 2% are exact duplicates, 2% near
    * duplicates (one word changed) of lower-id documents, and 1% carry a
    * 13-word window of one of 100 benchmark documents; every 7th document
    * (id % 7 == 1) ends in a URL for the PII scrub. Also 2,000 (or n)
    * 64-d vectors keyed like the documents they share ids with.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    require(n >= 200)
    val rnd = new SplittableRandom(seed)
    val nExact = n / 50
    val nNear = n / 50
    val nOverlap = n / 100
    val nBase = n - nExact - nNear - nOverlap
    val bench = (0 until 100).map(b => Doc(b, prose(words(rnd, docLength(rnd)), rnd)))
    val base = (0 until nBase).map { i =>
      val t = prose(words(rnd, docLength(rnd)), rnd)
      Doc(i, if (i % 7 == 1) t + " see https://ex.com/z now" else t)
    }
    // distinct sources for the duplicate plants, drawn without replacement
    val sources = {
      val ids = Array.tabulate(nBase)(_.toLong)
      (0 until nExact + nNear).foreach { i =>
        val j = i + rnd.nextInt(nBase - i); val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids.take(nExact + nNear)
    }
    var next = nBase.toLong
    val exact = sources.take(nExact).map { src =>
      val d = Doc(next, base(src.toInt).text); next += 1; (d, src)
    }
    val near = sources.drop(nExact).map { src =>
      val ws = base(src.toInt).text.split(" ")
      val at = ws.length / 2
      var w = ws(at)
      while (w == ws(at)) w = Vocab(rnd.nextInt(Vocab.length)) + (if (ws(at).endsWith(".")) "." else "")
      ws(at) = w
      val d = Doc(next, ws.mkString(" ")); next += 1; (d, src)
    }
    val overlap = (0 until nOverlap).map { _ =>
      val b = bench(rnd.nextInt(bench.length))
      val bw = b.text.split(" ")
      val from = rnd.nextInt(bw.length - 13)
      val own = prose(words(rnd, docLength(rnd)), rnd).split(" ")
      val at = rnd.nextInt(own.length)
      val text = (own.take(at) ++ bw.slice(from, from + 13) ++ own.drop(at)).mkString(" ")
      val d = Doc(next, text); next += 1; (d, b.id)
    }
    val vectors = (0 until n.min(2000)).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val c = Corpus(base ++ exact.map(_._1) ++ near.map(_._1) ++ overlap.map(_._1), bench, vectors,
      exact.map { case (d, s) => d.id -> s }.toMap, near.map { case (d, s) => d.id -> s }.toMap,
      overlap.map { case (d, b) => d.id -> b }.toMap)
    checkCorpus(c)
    c
  }

  /** The plants are what they claim and nothing else is a duplicate or an
    * overlap: exact copies match their source byte for byte, near copies
    * sit well above the 0.5 Jaccard threshold, overlap docs share ≥ 2
    * benchmark 3-grams, and no other pair of documents crosses either
    * threshold (checked through a shingle → documents index).
    */
  def checkCorpus(c: Corpus): Unit = {
    val byId = c.docs.map(d => d.id -> d).toMap
    require(byId.size == c.docs.size, "duplicate document ids")
    val sh = c.docs.map(d => d.id -> shingles(d.text)).toMap
    c.exactDups.foreach { case (p, s) =>
      require(p > s && byId(p).text == byId(s).text, s"exact plant $p is not a copy of $s")
    }
    c.nearDups.foreach { case (p, s) =>
      require(p > s && byId(p).text != byId(s).text && jaccard(sh(p), sh(s)) >= 0.7,
        s"near plant $p is not a near copy of $s")
    }
    val benchSh = c.bench.map(b => b.id -> shingles(b.text)).toMap
    val benchAll = benchSh.values.flatten.toSet
    c.overlaps.foreach { case (p, b) =>
      require((sh(p) intersect benchSh(b)).size >= 2, s"overlap plant $p misses benchmark $b")
    }
    c.docs.filterNot(d => c.overlaps.contains(d.id)).foreach { d =>
      require((sh(d.id) intersect benchAll).size < 2, s"document ${d.id} overlaps the benchmark")
    }
    val planted = c.exactDups ++ c.nearDups
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sh.foreach { case (id, s) => s.foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += id) }
    val shared = mutable.HashMap.empty[(Long, Long), Int]
    index.valuesIterator.filter(_.size > 1).foreach { ids =>
      for (a <- ids; b <- ids if a < b) shared((a, b)) = shared.getOrElse((a, b), 0) + 1
    }
    shared.foreach { case ((a, b), k) =>
      val expected = planted.get(b).contains(a)
      if (!expected) {
        val j = k.toDouble / (sh(a).size + sh(b).size - k)
        require(j < 0.3, s"unplanned near-duplicate pair ($a, $b): jaccard $j")
      }
    }
  }
}
