package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure per-row Catalyst expressions (no UDFs) — they
  * stay inside whole-stage codegen and scale embarrassingly parallel.
  */
object TextStats {

  /** English stopword sample present in the fixture vocabulary. */
  val EnStopwords: Seq[String] = Seq("the", "a")

  /** Whitespace tokens, empties dropped — the codegen'd
    * [[graft.functions.WhitespaceTokens]] kernel (round 15, guide §1.2
    * per-task work: byte-exact twin of `filter(split(text, "\\s+"), _ != "")`
    * with no regex machinery or per-document UTF-16 round-trip;
    * EngineProps pins kernel ≡ regex on adversarial text).
    */
  def tokens(text: Column): Column =
    graft.functions.TextFunctions.wsTokens(text)

  /** BPE-ish regex token count: word runs plus single non-word-non-space
    * symbols (`\w+|[^\w\s]`), the classic pre-tokenizer split.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  // — deterministic BPE token counting ————————————————————————————————————
  //   Training mixtures are stated in TOKENIZER tokens, not whitespace
  //   words; a budget counted in engine-local units is not portable. This
  //   is a deterministic byte-pair-encoding counter with a FIXED merge
  //   table pinned in the repo: the classic BPE encode loop (Sennrich et
  //   al. '16) — apply each merge rule in rank order, each merging every
  //   adjacent occurrence left-to-right — expressed entirely in Catalyst
  //   HOFs (`aggregate` folding `replace` over a bracketed symbol
  //   string), so it stays inside whole-stage codegen with no UDF, and
  //   DuckDB replays the identical arithmetic ([[bpeTokenCountSql]]).
  //   The table is NOT a trained vocabulary of any real tokenizer — it is
  //   a small public merge list over common English letter pairs, enough
  //   to make budgets merge-sensitive and engine-portable.

  /** Fixed public merge table, rank order = list order. A merge (a, b)
    * fuses adjacent symbols `a`,`b` into `ab`; later ranks may consume
    * earlier outputs ("th"+"e", "an"+"d").
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "o" -> "r", "e" -> "n",
    "a" -> "t", "e" -> "s", "o" -> "u", "in" -> "g", "s" -> "t",
    "a" -> "r", "l" -> "e", "o" -> "f", "al" -> "l", "c" -> "h",
    "ou" -> "t", "w" -> "h", "wh" -> "i", "c" -> "o", "co" -> "m",
    "b" -> "e", "h" -> "a", "ha" -> "t", "th" -> "at", "f" -> "or",
    "w" -> "as", "he" -> "r")

  /** Symbol bracket (U+001F) and merge-pair separator (U+0001) — control
    * characters scrubbed from the input before encoding, so a symbol
    * boundary can never be forged by document text. Each symbol is stored
    * bracketed (`␟sym␟`), so the merge rewrite `␟a␟␟b␟ → ␟ab␟` matches
    * whole adjacent symbols only — "xa","by" adjacency cannot false-match
    * a (a,b) merge mid-symbol. Symbol count = separator count / 2.
    */
  private val BpeSep = "\u001f"
  private val BpePairSep = "\u0001"

  /** Word-level BPE symbol count of every whitespace token summed — the
    * deterministic token count for [[graft.ops.Sampling.tokenBudget]] /
    * [[graft.ops.Packing]] budgets. Null text counts 0.
    *
    * Computed by the codegen'd [[graft.functions.BpeKernel]] (one interned
    * int-symbol merge loop per word, zero allocation); semantically
    * identical to the portable HOF fold [[bpeTokenCountFold]] that
    * [[bpeTokenCountSql]] replays in DuckDB — [[graft.EngineProps]] pins
    * kernel ≡ fold, the x58 probe pins kernel ≡ DuckDB.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    coalesce(graft.functions.TextFunctions.bpeCount(text, merges), lit(0L))

  /** Word-level BPE token-id sequence (the array a training shard
    * actually stores): the same kernel scan as [[bpeTokenCount]],
    * emitting each surviving symbol's engine-portable id — code point
    * for single-char symbols, 0x110000 + first producing merge rank for
    * merged ones. `size(bpeTokenize(t)) == bpeTokenCount(t)` always
    * (pinned in OpsSpec); null text → empty sequence.
    */
  def bpeTokenize(text: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    coalesce(graft.functions.TextFunctions.bpeTokenize(text, merges),
      typedlit(Seq.empty[Long]))

  /** The cross-engine reference form of [[bpeTokenCount]]: the classic
    * encode loop as a Catalyst HOF fold — each merge rule `replace`s its
    * bracketed adjacent pair over the whole symbol string in rank order.
    * ~25× slower than the kernel (32 full string rebuilds per word); kept
    * as the executable specification the DuckDB oracle mirrors and the
    * property suite cross-checks.
    */
  def bpeTokenCountFold(text: Column, merges: Seq[(String, String)] = BpeMerges): Column = {
    val mergesLit = array(merges.map { case (a, b) => lit(a + BpePairSep + b) }: _*)
    val clean = translate(text, BpeSep + BpePairSep, "")
    val words = tokens(clean)
    def wordSymbols(w: Column): Column = {
      val state0 = array_join(
        transform(split(w, ""), c => concat(lit(BpeSep), c, lit(BpeSep))), "")
      val folded = aggregate(mergesLit, state0, (acc, m) => {
        val a = element_at(split(m, BpePairSep), 1)
        val b = element_at(split(m, BpePairSep), 2)
        replace(acc,
          concat(lit(BpeSep), a, lit(BpeSep), lit(BpeSep), b, lit(BpeSep)),
          concat(lit(BpeSep), a, b, lit(BpeSep)))
      })
      (length(folded) - length(replace(folded, lit(BpeSep), lit("")))) / 2
    }
    coalesce(
      aggregate(words, lit(0L), (acc, w) => acc + wordSymbols(w).cast("long")),
      lit(0L))
  }

  /** DuckDB twin of [[bpeTokenCount]] over a SQL text expression — the
    * same scrub, the same bracketed-symbol fold over the same pinned
    * merge table (via `list_reduce` seeded by `list_prepend`), the same
    * separator arithmetic. Used by probe oracles so budgets stated in
    * BPE tokens are value-checked across engines.
    */
  /** DuckDB expression for one word's folded bracketed-symbol string —
    * the shared merge-replay core of [[bpeTokenCountSql]] and the x78
    * tokenize oracle. `wExpr` is the word expression (already scrubbed of
    * chr(31)/chr(1) by the caller).
    */
  /** A merge symbol as a single-quoted SQL literal, apostrophes doubled:
    * trained tables flow into the oracle-SQL generators below, and an
    * English corpus can legitimately learn a merge touching `'` (pairs
    * around the apostrophe in "don't") — unescaped it would generate
    * invalid or wrong oracle SQL.
    */
  private[graft] def sqlSymLit(s: String): String = "'" + s.replace("'", "''") + "'"

  def bpeFoldSql(wExpr: String, merges: Seq[(String, String)] = BpeMerges): String = {
    val mergesList = merges
      .map { case (a, b) => s"${sqlSymLit(a)} || chr(1) || ${sqlSymLit(b)}" }
      .mkString("[", ", ", "]")
    s"""list_reduce(
       |  list_prepend(
       |    array_to_string(list_transform(range(1, length($wExpr) + 1),
       |      i -> chr(31) || ($wExpr)[i] || chr(31)), ''),
       |    $mergesList),
       |  (acc, m) -> replace(acc,
       |    chr(31) || split_part(m, chr(1), 1) || chr(31) || chr(31) || split_part(m, chr(1), 2) || chr(31),
       |    chr(31) || split_part(m, chr(1), 1) || split_part(m, chr(1), 2) || chr(31)))""".stripMargin
  }

  /** DuckDB VALUES relation `(r, a, b)` of a merge table with 0-based
    * ranks — the lookup side of the x78 portable-token-id replay.
    */
  def bpeMergeRanksSql(merges: Seq[(String, String)] = BpeMerges): String =
    merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, ${sqlSymLit(a)}, ${sqlSymLit(b)})" }
      .mkString("(VALUES ", ", ", ") mr(r, a, b)")

  def bpeTokenCountSql(textExpr: String): String = {
    val fold = bpeFoldSql("w")
    // bind the folded state once via a 1-element list_transform; CAST the
    // sum back to BIGINT (DuckDB widens sum() over BIGINT to HUGEINT)
    s"""CAST(coalesce(list_sum(list_transform(
       |  list_filter(regexp_split_to_array(replace(replace($textExpr, chr(31), ''), chr(1), ''), '\\s+'), w -> w != ''),
       |  w -> list_transform([$fold],
       |    f -> CAST((length(f) - length(replace(f, chr(31), ''))) / 2 AS BIGINT))[1])), 0) AS BIGINT)""".stripMargin
  }

  /** Top-k characteristic terms per document by smoothed tf-idf:
    * `score = (cnt/len) · (N+1)/(df+1)`, rounded to 4 decimals BEFORE
    * ranking (ties → term ascending), so the ranking is deterministic and
    * engine-portable. The idf is the smoothed RATIONAL form, not
    * `ln((N+1)/(df+1))`: `ln` is not correctly-rounded in either JVM libm
    * or C libm, so the log form can differ in the last ulp across engines
    * — pure {+,·,÷} stays bit-identical everywhere (same reasoning as
    * [[graft.Canonical]]).
    *
    * Plan shape: one explode + three keyed aggregates (term counts reused
    * for doc lengths — the corpus is tokenized ONCE) and a constant-limit
    * rank window (`WindowGroupLimit` pushdown applies). The corpus size N
    * is taken with ONE eager metadata-cheap `count()` and inlined as a
    * literal — a 1-row scalar join would constant-fold into a nested-loop
    * join, and N only rescales scores uniformly (rankings never depend on
    * it). Empty documents count toward N. Everything else is keyed by doc
    * id or term — no global sort, no other driver state.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), explode(tokens(text)).as("tok"))
    val termCounts = toks.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val docLens = termCounts.groupBy(col("id")).agg(sum(col("cnt")).as("len"))
    val docFreq = termCounts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.count()
    val scored = termCounts
      .join(docLens, Seq("id"))
      .join(docFreq, Seq("tok"))
      .withColumn("score", graft.Canonical.round4(
        (col("cnt").cast("double") / col("len").cast("double")) *
          ((lit(nDocs).cast("double") + 1.0) / (col("df").cast("double") + 1.0))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("tok").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("tok").as("term"), col("score"),
        col("rank").cast("long").as("rank"))
  }

  /** PII patterns, expressed in the regex subset common to Java regex and
    * RE2 (no lookaround, no backrefs) so the SAME pattern strings run in
    * Spark and in the DuckDB oracle.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Redact URLs, then emails, then phone numbers (order matters: emails
    * embedded in URLs must not survive as partial matches). Pure
    * `regexp_replace` chain — codegen'd, embarrassingly parallel, the
    * standard pre-training scrub pass.
    */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Per-document PII detection counts + the redacted text — the
    * reporting side of [[scrub]] (curation pipelines track PII rates per
    * source to decide which hosts need the expensive NER pass). Counts
    * use the SAME order-sensitive masking chain as scrub: URLs are
    * counted on the raw text and masked, emails are counted on the
    * URL-masked text, phones on the email-masked text — so an email
    * embedded in a URL counts as URL, exactly matching what scrub
    * redacts. Pure codegen'd regexp chain, embarrassingly parallel;
    * the same RE2/Java-common patterns run in the DuckDB oracle.
    */
  def piiStats(docs: DataFrame, idCol: String, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, UrlRe, "<URL>")
    val t2 = regexp_replace(t1, EmailRe, "<EMAIL>")
    docs.select(col(idCol),
      regexp_count(t0, lit(UrlRe)).cast("long").as("n_urls"),
      regexp_count(t1, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t2, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(t2, PhoneRe, "<PHONE>").as("text_scrubbed"))
  }

  /** ftfy-lite encoding repair ([[graft.functions.MojibakeRepair]]):
    * inverts the UTF-8-decoded-as-Latin-1 mistake ("Ã©" → "é"), up to
    * two rounds for double-encoding, and ONLY when strictly safe (full
    * Latin-1 round-trip + strictly valid UTF-8 + shrinking result —
    * clean text is a fixpoint). Inherent heuristic caveat: text that
    * deliberately SPELLS mojibake is indistinguishable from the mistake.
    */
  def repairEncoding(text: Column): Column =
    graft.functions.TextFunctions.repairEncoding(text)

  /** Deflate compression ratio of the text (round4) — the cheap entropy
    * proxy beside the n-gram repetition rules: boilerplate deflates far
    * below natural prose, high-entropy noise above it. Codegen'd kernel
    * ([[graft.functions.CompressionRatio]]); empty text reads 1.0, null
    * stays null. Gate with BOTH ends: `ratio < lo` catches templates,
    * `ratio > hi` catches binary junk that survived text extraction.
    */
  def compressionRatio(text: Column): Column =
    graft.Canonical.round4(graft.functions.TextFunctions.compressionRatio(text))

  /** Canonical text form for "fuzzy-exact" dedup (the ccnet-style
    * normalization pass): Unicode NFC composition ([[graft.functions
    * .TextFunctions.nfc]] — precomposed and decomposed accents hash
    * apart otherwise), Unicode-aware lowercase, trim, and whitespace-run
    * collapse. Every step is codegen'd and engine-portable (DuckDB:
    * `regexp_replace(trim(lower(nfc_normalize(t))), '\s+', ' ', 'g')`).
    */
  def canonical(text: Column): Column =
    regexp_replace(trim(lower(graft.functions.TextFunctions.nfc(text))), "\\s+", " ")

  def punctRatio(text: Column): Column =
    graft.Canonical.round4(length(regexp_replace(text, "[^.,!?;:]", "")).cast("double") /
      nullif(length(text), lit(0)).cast("double"))

  def stopwordRatio(toks: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val sw = array(stopwords.map(lit): _*)
    graft.Canonical.round4(size(filter(toks, t => array_contains(sw, t))).cast("double") /
      nullif(size(toks), lit(0)).cast("double"))
  }

  /** Composite quality score in [0,1]: rewards reasonable length, penalizes
    * punctuation soup, rewards natural-language stopword density.
    */
  def qualityScore(nTokens: Column, punct: Column, stopword: Column): Column =
    graft.Canonical.round4(
      least(lit(1.0), nTokens.cast("double") / lit(64.0)) * lit(0.4) +
        (lit(1.0) - least(lit(1.0), coalesce(punct, lit(0.0)) * lit(10.0))) * lit(0.3) +
        least(lit(1.0), coalesce(stopword, lit(0.0)) * lit(20.0)) * lit(0.3))

  /** Character-trigram profiles for the Latin-script languages the
    * classifier scores — high-frequency trigrams of each language in the
    * standard n-gram-profile langid design (Cavnar & Trenkle '94), 40 per
    * language (round 5 grew them from the round-4 toy depth of 8: real
    * web text — short documents, code-mixed pages, es/pt near-boundary
    * prose — needs profile depth; scoring runs in the
    * [[graft.functions.LangIdKernel]] static kernel, so profile depth no
    * longer affects generated-code size). Spaces are word boundaries and
    * carry most of the signal. Alphabetical order IS the tie-break
    * priority; a unit test pins each profile to 40 DISTINCT length-3
    * entries (a duplicate would double-count one trigram's hits).
    */
  val LangTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(
      "der", "die", "und", "ein", "sch", "ich", "nde", "den", "che", " de",
      "er ", "en ", "ie ", "ch ", "ung", "gen", " ge", "ten", "cht", " un",
      "nd ", " ei", "ne ", "ver", " ve", "das", " da", "hen", "ist", " is",
      "st ", " zu", "zu ", "ber", "ren", "men", "ter", "ges", "lic", "eit"),
    "en" -> Seq(
      "the", " th", "he ", "and", " an", "nd ", " of", "of ", "ing", "ng ",
      " in", "in ", "ion", "ent", "er ", " to", "to ", "ed ", "es ", "is ",
      " is", "at ", "on ", "tio", "ati", " re", "re ", " be", "as ", " as",
      "his", " he", "hat", "tha", "for", " fo", "ere", "her", "ith", "wit"),
    "es" -> Seq(
      "ión", "ció", "aci", " el", "el ", "los", " lo", "las", "os ", "as ",
      " la", "la ", "que", " qu", "ue ", "de ", " de", "en ", " en", "es ",
      " es", "ado", "nte", "con", " co", " se", "res", "par", " pa", "ara",
      "una", " un", "por", " po", "sta", "est", "cia", "ien", " y ", "ñas"),
    "fr" -> Seq(
      " de", "de ", "le ", " le", "la ", " la", "les", "des", "ent", "e d",
      "ne ", "on ", "nt ", "ion", "er ", "es ", " pa", "et ", " et", "que",
      " qu", "ue ", "eme", "men", " co", "ait", "ous", " po", "pou", "our",
      "tre", " un", "une", "dan", " da", "ans", "eur", "e l", "r l", " pr"),
    "it" -> Seq(
      " di", "di ", "che", " ch", "he ", "to ", "no ", "la ", " la", "ell",
      "lla", "del", " de", "re ", "na ", "zio", "ion", "one", "er ", "e d",
      "ti ", " pe", "per", "ent", "nte", " in", "in ", "are", "ato", "gli",
      " si", "si ", "le ", "ne ", "ia ", "con", " co", "men", "ri ", "ita"),
    "nl" -> Seq(
      "en ", "de ", " de", "van", " va", "an ", "een", " ee", "het", " he",
      "et ", "der", "aar", "aan", " aa", "oor", " vo", "voo", "ver", " ve",
      "ijk", "ij ", "zij", " zi", "nde", "den", "te ", " te", "ste", "dat",
      " da", "at ", "ing", "ng ", "ere", " me", "met", "n d", "er ", "ter"),
    "pt" -> Seq(
      "ão ", "ção", "açã", " do", "do ", "da ", " da", "dos", "os ", " de",
      "de ", "que", " qu", "ue ", "em ", " em", "com", " co", "uma", " um",
      "ma ", "não", " nã", "ent", "nte", "es ", "as ", "ara", " pa", "par",
      "ra ", " se", "is ", "ais", "men", "ado", " es", "est", "e a", "o d"))

  /** Script-range detections, checked in order BEFORE the trigram score —
    * non-Latin scripts identify a language (or its representative:
    * Cyrillic → ru, Devanagari → hi — the script, not the specific
    * member, is what a cheap heuristic can honestly claim) far more
    * reliably than trigram statistics. Kana precedes Han because Japanese
    * text mixes kanji WITH kana while Chinese has no kana.
    */
  val ScriptRanges: Seq[(String, Int, Int)] = Seq(
    ("ja", 0x3040, 0x30ff), // hiragana + katakana
    ("ko", 0xac00, 0xd7af), // hangul syllables
    ("zh", 0x4e00, 0x9fff), // CJK unified ideographs
    ("ru", 0x0400, 0x04ff), // cyrillic
    ("ar", 0x0600, 0x06ff), // arabic
    ("el", 0x0370, 0x03ff), // greek
    ("hi", 0x0900, 0x097f)) // devanagari

  /** Trigram-profile language ID over 14 languages (7 script-detected +
    * 7 Latin trigram profiles), pure deterministic arithmetic (so the
    * DuckDB oracle replays it bit-for-bit via [[langIdSql]]):
    *
    *   - a codepoint in a [[ScriptRanges]] range → that language
    *     (profile-free script detection, first range wins);
    *   - else score each Latin profile as `H_l = Σ_t (length(x) −
    *     length(replace(x, t, '')))` over lowercased text — 3× the
    *     non-overlapping occurrence count, so H never needs a division;
    *   - best profile wins (ties break alphabetically — first profile
    *     with the max score);
    *   - `unknown` when the best profile density `H / length` < 0.02
    *     (too few profile trigrams to call a language).
    *
    * The classifier is ONE codegen'd Catalyst expression
    * ([[graft.functions.TrigramLangId]]) whose generated code is a single
    * static call into [[graft.functions.LangIdKernel]] — no explode, no
    * shuffle, no UDF, and a constant-size generated method. History: the
    * round-4 chained-`when` column form duplicated every replace-count
    * subtree per branch (janino failed on the ~15k-line nested-if at
    * 14×8); the round-5 flat encoded-`greatest` form deduplicated the
    * subtrees but at 7×40 profiles STILL crossed janino's 64 KB method
    * limit — and with production `codegen.fallback=true` Spark silently
    * ran the whole projection interpreted. The kernel call keeps the
    * generated method tiny at any profile depth (CODEGEN_ONLY-asserted)
    * and drops the 280 per-row `replace` allocations for allocation-free
    * `indexOf` scans.
    */
  def langId(text: Column): Column =
    coalesce(graft.functions.TextFunctions.langId(text), lit("unknown"))

  /** The DuckDB replay of [[langId]], generated from the SAME profile and
    * script constants so the two engines cannot drift. `textExpr` is the
    * SQL expression for the text column. The SQL uses the DE-ENCODED but
    * bit-identical formulation of the argmax (`greatest` over the raw
    * integer scores + first-match-wins WHEN chain): first profile
    * reaching the max ≡ the encoded priority nibble, and the density
    * gate compares the same integer best score — all-integer arithmetic
    * on both engines, so no rounding can separate them.
    */
  def langIdSql(textExpr: String): String = {
    val x = s"lower($textExpr)"
    def hits3(trigrams: Seq[String]): String =
      "(" + trigrams.map(t => s"(length($x) - length(replace($x, '$t', '')))").mkString(" + ") + ")"
    val hs = LangTrigramProfiles.map { case (l, ts) => l -> hits3(ts) }
    val best = s"greatest(${hs.map(_._2).mkString(", ")})"
    val scripts = ScriptRanges.map { case (l, lo, hi) =>
      f" WHEN regexp_matches($textExpr%s, '[\\x{$lo%04x}-\\x{$hi%04x}]') THEN '$l%s'"
    }.mkString
    val profiles = hs.init.map { case (l, h) =>
      s" WHEN $h = $best THEN '$l'"
    }.mkString
    s"""CASE WHEN $textExpr IS NULL OR length($textExpr) = 0 THEN 'unknown'
       |$scripts
       | WHEN $best * 1.0 < 0.02 * length($textExpr) THEN 'unknown'
       |$profiles
       | ELSE '${hs.last._1}' END""".stripMargin.linesIterator.mkString(" ")
  }

  /** Position-weighted checksum fingerprint: `Σ codepoint(c_i)·((i mod
    * 64)+1)`. Order-sensitive (detects token reordering within a 64-char
    * window) yet expressible as a plain sum, so any SQL engine can compute
    * it independently for verification. Backed by the codegen'd
    * [[graft.functions.PositionalFingerprint]] kernel (the equivalent
    * `aggregate(sequence(...))` higher-order function interprets a lambda
    * and allocates a 1-char string per character).
    */
  def fingerprint(text: Column): Column =
    graft.functions.TextFunctions.fingerprint(text)

  /** The DuckDB replay of [[fingerprint]] over a SIMPLE column/alias
    * reference `ref` (1-based char position, weight `(pos mod 64)+1` —
    * the exact kernel loop; same phrasing as the x53 shard oracle, kept
    * here so every oracle that replays the fingerprint shares one
    * formula).
    */
  def fingerprintSql(ref: String): String =
    s"CAST(coalesce(list_sum(list_transform(range(1, length($ref) + 1), " +
      s"i -> ascii($ref[i]) * ((i % 64) + 1))), 0) AS BIGINT)"

  /** Quality pruning: drop the lowest `frac` of documents per predicted
    * language — the curriculum/quality gate a pretraining mix applies
    * after scoring. Per-language (not global) because score distributions
    * differ by language and a global cut would evict whole languages.
    *
    * Drops exactly `floor(frac · n)` rows per language partition of n
    * rows — the lowest-ranked by (score, id). The explicit floor (rather
    * than a `percent_rank ≥ frac` cut) matters at the small end: a
    * 1-document language keeps its document for any frac < 1 (a
    * percent_rank cut would evict it outright, since the lone row ranks
    * 0.0 — the exact whole-language eviction per-language pruning exists
    * to prevent). Ties are impossible because the id is the final sort
    * key, so the kept set is deterministic and engine-portable. ONE
    * shuffle on the language key; both window passes share it.
    *
    * Language-skew-safe plan (natural corpora are dominated by one
    * language, so a rank window partitioned by language would sort the
    * dominant language in ONE task):
    *
    *   1. count rows per (language, score) — a MAP-SIDE-COMBINED
    *     aggregate (score groups collapse before the shuffle, the same
    *     discipline as the paragraph-dedup election), then a window over
    *     that distinct-score frame yields each group's
    *     rows-strictly-below count and the language total;
    *   2. joined back (AQE broadcasts the group frame), a score group is
    *     dropped WHOLE when it sits fully under the `floor(frac·n)`
    *     boundary and kept whole when fully above — no per-row ranking,
    *     no sort of the corpus;
    *   3. only the ONE boundary score group per language ranks — in the
    *     PORTABLE-HASH order `(fp mod 256, fp, id)` where `fp` is the
    *     positional [[fingerprint]] of the id string. The bucket
    *     (`fp mod 256`) is the order's own LEADING key, so per-bucket
    *     ranks + bucket offsets reproduce the global rank exactly (the
    *     [[Sampling]] two-pass trick) and mass ties AT the threshold
    *     spread over up to 256 sort tasks — for ANY id type: dense
    *     sequential longs (whose top byte is constant — the round-4
    *     bucketing degenerated there) and string ids alike, because the
    *     fingerprint mixes every digit/character. Unlike `xxhash64`, the
    *     fingerprint is a plain weighted codepoint sum any SQL engine
    *     recomputes, so the kept SET stays value-oracle-checkable.
    *
    * The kept set is bit-identical to the naive per-language rank window
    * over `(score, fp mod 256, fp, id)` (equivalence unit-tested, dense
    * long and string ids). The stats subtree is referenced twice
    * (group counts + join-back) — two corpus scans when built inline; at
    * scale score ONCE, persist/checkpoint, and call
    * [[qualityPruneStats]] on the scored frame (the scans then read the
    * materialized stats, not the raw corpus) — or use
    * [[qualityPruneApprox]] (one scan, sketch threshold).
    */
  def qualityPrune(docs: DataFrame, idCol: String, frac: Double,
      textCol: String = "text"): DataFrame =
    // Round 16 tried pinning the scored frame here (localCheckpoint AND
    // lazy persist) so the four stats references (group counts, survivor
    // join, boundary join, boundary offsets) read one evaluation: x28
    // regressed in same-window A/Bs (1.74 s control vs 2.50 ckpt / 3.26
    // persist) — at bench scale the four subtrees share the scan's
    // exchange at runtime and the struct recompute is cheaper than
    // materializing text-carrying rows. Kept inline; the 100-TB answer
    // stays the scaladoc's score-once deployment shape (persist the
    // scored frame and call [[qualityPruneStats]], or use
    // [[qualityPruneApprox]]).
    qualityPruneStats(withStats(docs, textCol), idCol, frac)

  /** [[qualityPrune]] over an ALREADY-SCORED frame: `stats` must carry
    * the [[withStats]] columns (`pred_lang`, `quality_score`). The
    * entry point for the persist-once deployment shape — the plan's two
    * references then resolve to the materialized stats instead of
    * re-deriving them from the raw corpus.
    */
  def qualityPruneStats(stats: DataFrame, idCol: String, frac: Double): DataFrame = {
    require(frac >= 0.0 && frac < 1.0, s"frac must be in [0,1), got $frac")
    val W = org.apache.spark.sql.expressions.Window
    val wBelow = W.partitionBy(col("__lang")).orderBy(col("__score"))
      .rowsBetween(W.unboundedPreceding, -1)
    val groups = stats
      .groupBy(col("pred_lang").as("__lang"), col("quality_score").as("__score"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__below", coalesce(sum(col("__cnt")).over(wBelow), lit(0L)))
      .withColumn("__drop",
        floor(sum(col("__cnt")).over(W.partitionBy(col("__lang"))) * frac).cast("long"))
      .select(col("__lang"), col("__score"), col("__cnt"), col("__below"), col("__drop"))
    val joined = stats.join(groups,
      col("pred_lang") <=> col("__lang") && col("quality_score") <=> col("__score"))
    val survivors = joined.filter(col("__below") >= col("__drop"))
    val boundary = joined.filter(
      col("__below") < col("__drop") && col("__below") + col("__cnt") > col("__drop"))
    // boundary rank in the portable-hash order (fp mod 256, fp, id):
    // global rank in the score group = rows in lower buckets + row_number
    // within the bucket. The bucket IS the order's leading key, so the
    // concatenation is exact for any id type (see scaladoc step 3).
    val fpCol = fingerprint(col(idCol).cast("string"))
    val bb = boundary.withColumn("__fp", fpCol)
      .withColumn("__ib", pmod(col("__fp"), lit(256L)))
    val wOff = W.partitionBy(col("__blang"), col("__bscore")).orderBy(col("__bib"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offs = bb.groupBy(col("__lang").as("__blang"), col("__score").as("__bscore"),
        col("__ib").as("__bib"))
      .agg(count(lit(1)).as("__bcnt"))
      .withColumn("__off", coalesce(sum(col("__bcnt")).over(wOff), lit(0L)))
      .select(col("__blang"), col("__bscore"), col("__bib"), col("__off"))
    val wIn = W.partitionBy(col("__lang"), col("__ib")).orderBy(col("__fp"), col(idCol))
    val boundaryKept = bb
      .join(offs, col("__lang") <=> col("__blang") && col("__score") <=> col("__bscore")
        && col("__ib") === col("__bib"))
      .withColumn("__rn", col("__off") + row_number().over(wIn))
      .filter(col("__below") + col("__rn") > col("__drop"))
      .drop("__blang", "__bscore", "__bib", "__off", "__ib", "__fp", "__rn")
    survivors.unionByName(boundaryKept)
      .drop("__lang", "__score", "__cnt", "__below", "__drop")
  }

  /** The 100-TB form of [[qualityPrune]]: a 2-pass approx-threshold cut
    * instead of a per-language rank window. Pass 1 sketches the `frac`
    * quantile of `quality_score` per language (`percentile_approx`, a
    * mergeable KLL-style sketch — tiny fixed-size state per language, no
    * partition sort); pass 2 keeps rows scoring ABOVE the threshold via a
    * broadcast-size join on the language key. A dominant language never
    * gets sorted — the plan has no Window at all (asserted in PlanSpec).
    *
    * Trade-off vs the exact form: the kept count per language is
    * `n − rank(threshold)` rather than exactly `n − floor(frac·n)`, off
    * by the sketch error (± `n/accuracy` ranks) plus ties at the
    * threshold (all threshold-equal rows are dropped together — a
    * deterministic, content-defined cut, where the exact form tie-breaks
    * by id).
    */
  def qualityPruneApprox(docs: DataFrame, idCol: String, frac: Double,
      textCol: String = "text", accuracy: Int = 10000): DataFrame = {
    require(frac >= 0.0 && frac < 1.0, s"frac must be in [0,1), got $frac")
    val stats = withStats(docs, textCol)
    if (frac == 0.0) stats
    else {
      val thresholds = stats.groupBy(col("pred_lang"))
        .agg(percentile_approx(col("quality_score"), lit(frac), lit(accuracy)).as("__thr"))
      stats.join(thresholds, Seq("pred_lang"))
        .filter(col("quality_score") > col("__thr"))
        .drop("__thr")
    }
  }

  /** All stats in one projection over a document table.
    *
    * The text is let-bound and the token array shared, and the whole
    * stat struct is staged behind a plan barrier
    * ([[graft.Canonical.stageOnce]], round 15): a withColumn chain gets
    * CollapseProject-inlined into every downstream reference, so
    * `quality_score`'s references to the token stats re-ran the
    * tokenizer (and, composed after a scrub/extract stage, the upstream
    * regex chain) several times per row. One evaluation now, same
    * values and column order.
    */
  def withStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val stats = graft.Canonical.bindOnce(col(textCol)) { t =>
      graft.Canonical.bindOnce(tokens(t)) { toks =>
        graft.Canonical.bindOnce(punctRatio(t)) { punct =>
          graft.Canonical.bindOnce(stopwordRatio(toks)) { stop =>
            graft.Canonical.bindOnce(size(toks).cast("long")) { nToks =>
              struct(
                length(t).cast("long").as("n_chars_calc"),
                nToks.as("n_tokens"),
                regexTokenCount(t).cast("long").as("n_regex_tokens"),
                punct.as("punct_ratio"),
                stop.as("stopword_ratio"),
                qualityScore(nToks, punct, stop).as("quality_score"),
                langId(t).as("pred_lang"),
                fingerprint(t).as("fingerprint"))
            }
          }
        }
      }
    }
    graft.Canonical.stageOnce(docs, Seq("__ws" -> stats))
      .withColumn("n_chars_calc", col("__ws.n_chars_calc"))
      .withColumn("n_tokens", col("__ws.n_tokens"))
      .withColumn("n_regex_tokens", col("__ws.n_regex_tokens"))
      .withColumn("punct_ratio", col("__ws.punct_ratio"))
      .withColumn("stopword_ratio", col("__ws.stopword_ratio"))
      .withColumn("quality_score", col("__ws.quality_score"))
      .withColumn("pred_lang", col("__ws.pred_lang"))
      .withColumn("fingerprint", col("__ws.fingerprint"))
      .drop("__ws")
  }

  // — C4-style line-level cleaning ————————————————————————————————————————
  //   The boilerplate stage every web-corpus pipeline runs BEFORE dedup
  //   (C4, Raffel et al. 2020 §2.2; Dolma; FineWeb): drop navigation
  //   stubs, cookie banners, and code fragments at LINE grain, then drop
  //   documents left with too few clean lines. Pure per-row HOFs
  //   (`filter` over `split`) — no shuffle anywhere, the whole stage is
  //   one codegen'd projection that scales strictly linearly at 100 TB.

  /** Phrases whose presence disqualifies a line (case-insensitive) — the
    * C4 "javascript"-line rule plus the standard boilerplate markers.
    */
  val LineBlocklist: Seq[String] = Seq(
    "javascript", "lorem ipsum", "cookie policy", "terms of use",
    "all rights reserved", "privacy policy")

  /** The C4 per-line keep predicate over a raw (untrimmed) line:
    *   1. ends in a terminal punctuation mark (`.` `!` `?` or a closing
    *      quote) — navigation/menu stubs rarely do;
    *   2. carries at least `minWords` alphanumeric words;
    *   3. contains no [[LineBlocklist]] phrase (lowercased match).
    */
  def lineKeep(line: Column, minWords: Int = 3,
      blocklist: Seq[String] = LineBlocklist): Column = {
    val t = trim(line)
    val terminal = t.rlike("[.!?\"']$")
    val words = size(regexp_extract_all(t, lit("[A-Za-z0-9]+"), lit(0))) >= minWords
    val clean = blocklist.map(p => !lower(t).contains(p)).reduce(_ && _)
    terminal && words && clean
  }

  /** C4-style document cleaning: split `textCol` on newlines, keep lines
    * passing [[lineKeep]], reassemble with newlines, and drop documents
    * with fewer than `minLines` survivors. Adds bookkeeping columns
    * `n_lines` (pre-clean) and `n_kept`. Returns
    * (idCol, textCol, n_lines, n_kept).
    *
    * 100-TB shape: a single narrow projection + filter — no explode (the
    * line array lives and dies inside one row), no shuffle, no window;
    * predicate and reassembly are whole-stage-codegen HOFs.
    */
  def cleanLines(docs: DataFrame, idCol: String, textCol: String = "text",
      minWords: Int = 3, minLines: Int = 1,
      blocklist: Seq[String] = LineBlocklist): DataFrame = {
    require(minLines >= 1, s"minLines must be >= 1, got $minLines")
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l => lineKeep(l, minWords, blocklist))
    docs.select(
        col(idCol),
        array_join(kept, "\n").as(textCol),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"))
      .filter(col("n_kept") >= minLines)
  }

  // — n-gram LM perplexity gate (CCNet-style) —————————————————————————————
  //   CCNet (Wenzek et al. 2020) ranks web documents by a language-model
  //   perplexity and keeps the fluent "head"/"middle" — the standard
  //   fluency gate between heuristic quality scores and model-based
  //   filters. The deterministic, engine-portable re-expression: a FIXED
  //   unigram table of common-English log-probabilities pinned in the
  //   repo (centi-log10 INTEGERS, so the per-document sum is exact
  //   integer arithmetic — order-free and bit-identical in any engine;
  //   the single final division to a mean is one IEEE double op). The
  //   table is NOT a trained model — it is a small public Zipf-shaped
  //   word list, enough to separate natural prose from symbol soup and
  //   keep the gate value-oracle-checkable cross-engine.

  /** Pinned unigram centi-log10 probabilities (−115 ⇒ log10 p = −1.15),
    * Zipf-shaped over common English function/content words.
    */
  val LmCentiLogProbs: Seq[(String, Int)] = Seq(
    "the" -> -115, "of" -> -145, "and" -> -150, "a" -> -155, "to" -> -160,
    "in" -> -165, "is" -> -180, "it" -> -195, "was" -> -200, "for" -> -205,
    "on" -> -210, "that" -> -215, "with" -> -220, "as" -> -225, "at" -> -235,
    "this" -> -240, "by" -> -245, "be" -> -250, "are" -> -255, "from" -> -260,
    "or" -> -265, "an" -> -270, "his" -> -280, "not" -> -285, "has" -> -290,
    "but" -> -295, "have" -> -300, "had" -> -305, "they" -> -310, "you" -> -315,
    "were" -> -320, "all" -> -330, "we" -> -335, "when" -> -340, "there" -> -345,
    "can" -> -350, "more" -> -355, "if" -> -360, "out" -> -365, "so" -> -370,
    "said" -> -380, "what" -> -385, "its" -> -390, "about" -> -395, "into" -> -400,
    "than" -> -405, "them" -> -410, "only" -> -415, "other" -> -420, "time" -> -425)

  /** Centi-log10 probability charged to a word absent from the table. */
  val LmOovCenti: Int = -600

  /** CCNet-style bucket thresholds on the MEAN log10 probability (not
    * perplexity — perplexity is `10^(−mean)`, a monotone transform, and
    * `pow` is the one op whose last ulp differs across libm
    * implementations, so the gate compares means directly).
    */
  val LmHeadThreshold: Double = -3.2
  val LmMiddleThreshold: Double = -4.5

  /** LM tokens: lowercased alphanumeric runs. */
  def lmTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Per-document LM fluency columns over `textCol`:
    *   - `lm_n_toks`     — token count (long);
    *   - `lm_centi_sum`  — exact integer sum of per-token centi-log10
    *     probabilities (long; order-free — safe under any partitioning);
    *   - `lm_mean_log10p` — `centi_sum / (100·n)` rounded to 4 places
    *     (null for token-free documents);
    *   - `lm_bucket`     — `head` / `middle` / `tail` by the thresholds
    *     above (token-free documents land in `tail`).
    *
    * 100-TB shape: one shuffle-free projection; the pinned table rides
    * along as a map LITERAL (`typedlit`), so the lookup is a per-token
    * probe of driver-constant data — nothing joins, nothing broadcasts.
    */
  def lmAnnotate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lm = typedlit(LmCentiLogProbs.toMap)
    val toks = lmTokens(col(textCol))
    val centi = aggregate(
      transform(toks, t => coalesce(element_at(lm, t), lit(LmOovCenti)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val mean = graft.Canonical.round4(
      col("lm_centi_sum").cast("double") / (lit(100.0) * col("lm_n_toks")))
    docs
      .withColumn("lm_n_toks", size(toks).cast("long"))
      .withColumn("lm_centi_sum", centi)
      .withColumn("lm_mean_log10p", when(col("lm_n_toks") > 0, mean))
      .withColumn("lm_bucket",
        when(col("lm_mean_log10p") >= LmHeadThreshold, "head")
          .when(col("lm_mean_log10p") >= LmMiddleThreshold, "middle")
          .otherwise("tail"))
  }

  /** The CCNet gate: keep documents whose [[lmAnnotate]] bucket is in
    * `keep` (default head+middle — drop the disfluent tail).
    */
  def perplexityPrune(docs: DataFrame, textCol: String = "text",
      keep: Seq[String] = Seq("head", "middle")): DataFrame =
    lmAnnotate(docs, textCol).filter(col("lm_bucket").isin(keep: _*))

  /** DuckDB twin of [[lmAnnotate]]'s arithmetic (a CTE chain ending in
    * `__lm`, reading `__lm_in`) — shared with the probe oracle so the
    * pinned table is written ONCE. The mean replays the same single
    * division and the same [[graft.Canonical.round4]] formula; buckets
    * compare the ROUNDED mean exactly as the Spark side does.
    */
  def lmAnnotateSql(textExpr: String): String = {
    val vals = LmCentiLogProbs.map { case (w, c) => s"('$w', $c)" }.mkString(", ")
    val mean = graft.Canonical.round4Sql("CAST(lm_centi_sum AS DOUBLE) / (100.0 * lm_n_toks)")
    s"""ts AS (SELECT *, regexp_extract_all(lower($textExpr), '[a-z0-9]+') AS __toks FROM __lm_in),
       |lm(__w, __c) AS (VALUES $vals),
       |ex AS (SELECT *, CAST(len(__toks) AS BIGINT) AS lm_n_toks,
       |         unnest(CASE WHEN len(__toks) = 0 THEN [NULL] ELSE __toks END) AS __tok
       |       FROM ts),
       |sc AS (SELECT * EXCLUDE (__w, __c),
       |         CASE WHEN __tok IS NULL THEN 0 ELSE coalesce(__c, ${LmOovCenti}) END AS __lp
       |       FROM ex LEFT JOIN lm ON __tok = __w),
       |ag AS (SELECT * EXCLUDE (__tok, __lp, __toks),
       |         CAST(sum(__lp) AS BIGINT) AS lm_centi_sum
       |       FROM sc GROUP BY ALL),
       |__lm AS (SELECT *,
       |    CASE WHEN lm_n_toks > 0 THEN $mean END AS lm_mean_log10p,
       |    CASE
       |      WHEN lm_n_toks > 0 AND $mean >= ${LmHeadThreshold} THEN 'head'
       |      WHEN lm_n_toks > 0 AND $mean >= ${LmMiddleThreshold} THEN 'middle'
       |      ELSE 'tail' END AS lm_bucket
       |  FROM ag)""".stripMargin
  }

  // — BM25 relevance (Robertson–Spärck Jones '94, public; Lucene's +1
  //   idf shift) ———————————————————————————————————————————————————————

  /** BM25 score of every document against each query in a SMALL query
    * set — the retrieval staple behind eval-set decontamination sweeps
    * ("which corpus docs answer this benchmark question") and
    * quality-targeted curation ("rank the crawl against seed queries").
    *
    * Semantics, pinned (x135's oracle replays them):
    *   - terms are lowercased whitespace tokens ([[tokens]] over
    *     `lower(text)`); QUERY terms are DISTINCT per query (a repeated
    *     query word does not double-count);
    *   - idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) — always positive;
    *   - score(q, d) = Σ_t idf · tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl));
    *   - documents sharing no term with a query are ABSENT (no 0 rows);
    *     N and avgdl are over ALL docs, dl in tokens.
    *
    * Scale shape: the query-term table is tiny and broadcast — but the
    * broadcast is EVIDENCE-GATED on a measured count (the repo's
    * wrong-side-broadcast discipline), not assumed: past
    * `queryBroadcastCap` distinct (query, term) rows the joins degrade
    * to shuffles on the term. The corpus token explode is semi-joined
    * against the query-term set BEFORE any aggregate, so the tf/df
    * shuffles carry query-term postings only — the full vocabulary
    * domain is never shuffled (the [[Frequency.heavyHitters]]
    * discipline, in retrieval form). Per-doc length rides the explode
    * (no corpus-wide dl join); N/avgdl are one 1-row aggregate crossed
    * in broadcast.
    */
  def bm25(docs: DataFrame, idCol: String, text: Column,
      queries: DataFrame, qIdCol: String, qText: Column,
      k1: Double = 1.2, b: Double = 0.75,
      queryBroadcastCap: Long = Dedup.BatchBroadcastCap): DataFrame = {
    require(k1 >= 0, s"k1 must be >= 0, got $k1")
    require(b >= 0 && b <= 1, s"b must be in [0, 1], got $b")
    // The (N, avgdl) aggregate is a SECOND corpus subtree next to the tf
    // explode. Round 16 tried pinning the shared tokenize projection
    // (localCheckpoint AND lazy persist) so both consumers read one pass:
    // x141 regressed in same-window A/Bs (3.87 s control vs 4.32 ckpt /
    // 4.22 persist) — at bench scale the two subtrees already share the
    // scan's exchange at runtime (ReuseExchange), so the pin only added a
    // corpus-wide materialization of token arrays to save one cheap
    // kernel-tokenize pass. Kept as-is; the deployment answer to the
    // 2-scan cost at 100 TB is the persisted index ([[probeBm25Index]]
    // reads (N, avgdl) from meta counters, no corpus scan at all).
    val stats = docs
      .select(size(tokens(lower(text))).cast("double").as("__dl"))
      .agg(count(lit(1)).cast("double").as("__n"), avg(col("__dl")).as("__avgdl"))
    val qTerms = queries.select(col(qIdCol),
      explode(array_distinct(tokens(lower(qText)))).as("__term"))
      .localCheckpoint() // pinned: counted for the gate, then reused twice
    val small = qTerms.count() <= queryBroadcastCap
    def gated(f: DataFrame): DataFrame = if (small) broadcast(f) else f
    // tokenize ONCE per row: the array lands in a projection attribute and
    // both size() and the generator read it — inlining `tokens(...)` into
    // each would run the regex split twice per document (guide §1.2
    // per-task work; measured ~25% of the corpus-side scan at sf0.1)
    val docToks = docs
      .select(col(idCol), tokens(lower(text)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("double").as("__dl"),
        explode(col("__toks")).as("__term"))
    val tf = docToks
      .join(gated(qTerms.select(col("__term")).distinct()), Seq("__term"), "left_semi")
      .groupBy(col(idCol), col("__term"))
      .agg(count(lit(1)).cast("double").as("__tf"), first(col("__dl")).as("__dl"))
    bm25Score(tf, idCol, qTerms, qIdCol, stats, k1, b, gated)
  }

  /** Top-k documents per query by [[bm25]] score — the retrieval call
    * itself. Deterministic: ties break on the document id; one rank
    * window per query partition (`WindowGroupLimit` pushes rank ≤ k
    * ahead of any full per-query sort). Scores ride round4 so the
    * ranking — and therefore the kept set — is engine-portable (x139's
    * oracle replays it with a QUALIFY-style window).
    */
  def bm25TopK(docs: DataFrame, idCol: String, text: Column,
      queries: DataFrame, qIdCol: String, qText: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25RankCut(bm25(docs, idCol, text, queries, qIdCol, qText, k1, b),
      qIdCol, idCol, k)

  /** The per-query rank cut SHARED by the live [[bm25TopK]] and indexed
    * retrieval compositions (rank over a [[probeBm25Index]] result):
    * scores round4'd BEFORE ranking (engine-portable kept set), rank
    * window with `WindowGroupLimit` pushdown, ties on the document id —
    * one code path, so live and indexed retrieval cannot drift on the
    * cut semantics.
    */
  def bm25RankCut(scored: DataFrame, qIdCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qIdCol)).orderBy(col("bm25").desc, col(idCol).asc)
    scored
      .withColumn("bm25", graft.Canonical.round4(col("bm25")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The BM25 scoring tail over a `(idCol, __term, __tf, __dl)` frame —
    * SHARED by the live [[bm25]] and the persisted-index probe
    * ([[probeBm25Index]]), so the two paths cannot drift on the math.
    */
  private def bm25Score(tf: DataFrame, idCol: String, qTerms: DataFrame,
      qIdCol: String, stats: DataFrame, k1: Double, b: Double,
      gated: DataFrame => DataFrame): DataFrame = {
    val df = tf.groupBy(col("__term")).agg(count(lit(1)).cast("double").as("__df"))
    tf.join(gated(qTerms), Seq("__term"))
      .join(gated(df), Seq("__term"))
      .crossJoin(broadcast(stats))
      .withColumn("__c",
        log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)) *
          col("__tf") * lit(k1 + 1.0) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum(col("__c")).as("bm25"))
  }

  // — persisted BM25 postings index (the daily-sweep deployment shape) —
  //   A decontamination/retrieval sweep runs against the SAME corpus with
  //   fresh queries every time (a new benchmark suite, a new seed set);
  //   the live [[bm25]] re-tokenizes and re-aggregates the whole corpus
  //   per sweep. The postings index persists the corpus-side sufficient
  //   statistics ONCE — (term, doc, tf, dl) rows partitioned by a
  //   256-slot term hash plus a (doc, dl) length table — and a probe
  //   reads only the matched term partitions (directory-level pruning:
  //   queries touch ≤ |query terms| of the 256 slots). Build, fold and
  //   compaction each commit one [[IndexStore]] version: both tables'
  //   new write dirs, the id sketch and the metadata land together or
  //   not at all. Folds are idempotent anti-join appends; compaction
  //   preserves the term partitioning. The manifest pins the id column.

  /** Cap on the term-partition fan-out of the postings table: probes
    * prune to the matched directories, so a q-term query reads
    * ≤ q/partitions of the index. The per-index partition COUNT is
    * scale-adaptive (round 15, guide §2/§6: a layout constant tuned for
    * the cluster is 256 near-empty directories at test scale — measured
    * ~4 s of commit/listing overhead per sf0.1 build): derived from the
    * corpus token count at build time ([[bm25TpPartitions]]), pinned in
    * the manifest, and read back by every probe/fold, capped here.
    */
  val Bm25Partitions = 256

  /** Floor on the adaptive partition count: keeps directory pruning (and
    * its IN-filter plan shape) meaningful at any scale while bounding the
    * tiny-index directory overhead to single digits.
    */
  val Bm25MinPartitions = 8

  /** Target tokens per postings partition (~10-20 MB of parquet): below
    * this a directory costs more in commit/listing than its pruning
    * saves.
    */
  val Bm25TokensPerPartition: Long = 2L * 1000 * 1000

  /** Adaptive term-partition count for a corpus of `sumDl` tokens. */
  def bm25TpPartitions(sumDl: Long): Int =
    math.min(Bm25Partitions.toLong,
      math.max(Bm25MinPartitions.toLong,
        (sumDl + Bm25TokensPerPartition - 1) / Bm25TokensPerPartition)).toInt

  /** The shared corpus-side tokenize projection `(id, __toks)` both index
    * tables (and the live scorer) derive from — tokenize ONCE per row:
    * size() and the generator read the projected array instead of
    * re-running the split per consumer.
    */
  private def tokenizedOf(docs: DataFrame, idCol: String, text: Column): DataFrame =
    docs.select(col(idCol).as("id"), tokens(lower(text)).as("__toks"))

  private def postingsFromToks(toks: DataFrame, tp: Int): DataFrame =
    toks.select(col("id"), size(col("__toks")).cast("double").as("__dl"),
        explode(col("__toks")).as("__term"))
      .groupBy(col("id"), col("__term"))
      .agg(count(lit(1)).cast("double").as("__tf"), first(col("__dl")).as("__dl"))
      .withColumn("__tp", pmod(xxhash64(col("__term")), lit(tp.toLong)))

  private def doclenFromToks(toks: DataFrame): DataFrame =
    toks.select(col("id"), size(col("__toks")).cast("double").as("__dl"))

  /** Cap (and legacy default) for the index's id Bloom sketch: ~4M ids
    * at fpp 0.01 is a few MB driver-side; the sketch saturates
    * gracefully past it (fpp degrades, correctness doesn't — positives
    * always verify exactly against the table).
    */
  val Bm25BloomItems: Long = 1L << 22

  /** Floor for the auto-sized sketch (~20 KB at fpp 0.01). */
  val Bm25BloomMinItems: Long = 1L << 14

  /** Auto-size the id sketch from the measured build-corpus count
    * (round 15, guide §2.3 "narrower types" applied to the sketch): the
    * fixed 4M-item default made EVERY build pay a ~5 MB-per-task
    * aggregation — measured ~1.1 s of a 2.3 s warm build at sf0.1, on an
    * index of 10⁴ ids that needs a 48 KB sketch. 4× headroom leaves room
    * for folds before fpp drifts; the cap preserves the old worst-case
    * driver/executor footprint, the floor keeps tiny builds from a
    * useless sketch. Explicit `expectedItems` still wins (pinned in the
    * manifest either way, so every fold's delta stays bit-compatible).
    */
  def bm25BloomAutoItems(nDocs: Long): Long =
    math.min(Bm25BloomItems, math.max(Bm25BloomMinItems, 4L * nDocs))

  /** The index's metadata, one [[IndexStore]] manifest's `meta`: the id
    * column, exact additive counters (token counts are integers, so
    * `sum_dl` is order-independent and survives append/compact exactly —
    * the probe's (N, avgdl) never needs a doclen scan), the sketch's
    * build params and the term-partition modulus.
    */
  private final case class Bm25Meta(idCol: String, nDocs: Long, sumDl: Long,
      bloomItems: Long, bloomFpp: Double, tp: Int) {
    def toMap: Map[String, Any] = Map("id_col" -> idCol, "n_docs" -> nDocs,
      "sum_dl" -> sumDl, "bloom_items" -> bloomItems, "bloom_fpp" -> bloomFpp, "tp" -> tp.toLong)
  }

  private def bm25Meta(m: IndexStore.Manifest): Bm25Meta =
    Bm25Meta(m.string("id_col"), m.long("n_docs"), m.long("sum_dl"),
      m.long("bloom_items"), m.double("bloom_fpp"), m.long("tp").toInt)

  /** Write a doclen frame as the `doclen` dir of `version`; its exact
    * (rows, sum of `__dl`) ride the write job via observe().
    */
  private def writeDoclen(path: String, version: Long, doclen: DataFrame)
      : (IndexStore.WriteDir, Long, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val dir = IndexStore.writeTable(path, "doclen", version,
      doclen.observe(obs, count(lit(1)).as("n"), sum(col("__dl").cast("long")).as("s")))
    val row = obs.get
    (dir, row("n").asInstanceOf[Long], Option(row("s")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Build the index from the current corpus and commit it as the next
    * [[IndexStore]] version: `postings` (term-hash partitioned),
    * `doclen`, the id sketch (lets a fold's idempotency check skip the
    * postings scan for genuinely-new ids) and the metadata. The sketch
    * and the counters derive from the PERSISTED doclen (a compact
    * re-read, not a second corpus pass), so they can never disagree with
    * the tables. An empty corpus is refused and commits nothing.
    */
  def writeBm25Index(docs: DataFrame, idCol: String, text: Column, path: String,
      expectedItems: Long = 0L /* 0 = auto-size from the corpus count */,
      fpp: Double = 0.01): Unit = {
    val spark = docs.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    // ONE corpus text scan per build (round 16): the doclen write
    // populates the pinned tokens and the postings write re-reads them.
    // persist (not localCheckpoint): an evicted block recomputes from
    // lineage, and the finally-unpersist keeps nothing cached past the build.
    val toks = tokenizedOf(docs, idCol, text)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // doclen FIRST (round 15): its (n, sum_dl) aggregate sizes the
      // adaptive term-partition count BEFORE any postings land, and the
      // empty-build guard fires before a partitionBy dir even exists
      val (doclen, n, sumDl) = writeDoclen(path, v, doclenFromToks(toks))
      require(n > 0, s"refusing to build an EMPTY BM25 index at $path — " +
        "a partitioned postings dir with no part files is unreadable; " +
        "build from the first non-empty batch instead")
      val items = if (expectedItems > 0L) expectedItems else bm25BloomAutoItems(n)
      val tp = bm25TpPartitions(sumDl)
      val postings = IndexStore.writeTable(path, "postings", v, postingsFromToks(toks, tp), Seq("__tp"))
      val bf = IndexStore.read(spark, path, "doclen", Seq(doclen))
        .select(xxhash64(col("id")).as("__k"))
        .stat.bloomFilter("__k", items, fpp)
      IndexStore.commit(spark, path, IndexStore.Manifest(v,
        Bm25Meta(idCol, n, sumDl, items, fpp, tp).toMap,
        Map("postings" -> Seq(postings), "doclen" -> Seq(doclen)),
        IndexStore.writeSketch(spark, path, v, bf, items, fpp)))
    } finally toks.unpersist(blocking = false)
  }

  /** Fold new documents: an idempotent anti-join append. Documents whose
    * id is already indexed are skipped (re-ingest no-op), and a batch
    * with nothing new commits nothing. Ids must be unique (and non-null)
    * per document, and the fold FAILS LOUD when a batch violates that
    * (round 15; one cheap batch-sized aggregate): with different text
    * under one id, both the live [[bm25]] and [[postingsFromToks]] pick `__dl`
    * via a partition-order-dependent `first()`, so live and indexed
    * scores could silently diverge on exactly that input — the
    * keep-first dedups guard their id preconditions at runtime, and so
    * does the fold.
    *
    * Fold cost is O(batch + bloom-positives), NOT O(index) (round 14):
    * batch ids probe the driver-held Bloom sketch, bloom-NEGATIVES — the
    * whole batch, in the common all-new case — skip the index entirely,
    * and only positives verify exactly against the doclen id column,
    * which holds every indexed id. Both tables' new dirs, the merged
    * sketch and the advanced counters commit as one [[IndexStore]]
    * version. Compacts once `doclen` holds `autoCompactAt` part files
    * ([[Dedup.autoCompactTarget]]; 0 disables).
    */
  def appendToBm25Index(spark: SparkSession, path: String, newDocs: DataFrame,
      idCol: String, text: Column,
      autoCompactAt: Int = Dedup.AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val meta = bm25Meta(m)
    require(meta.idCol == idCol,
      s"BM25 index at $path was built over id column '${meta.idCol}', append passed '$idCol'")
    // unique-id precondition, GUARDED (see scaladoc): batch rows vs
    // distinct non-null ids — one batch-sized aggregate, nothing
    // index-scale
    val bCheck = newDocs.agg(count(lit(1)).as("__c"),
      count_distinct(col(idCol)).as("__d")).head()
    require(bCheck.getLong(0) == bCheck.getLong(1),
      s"batch folding into the BM25 index at $path has " +
        s"${bCheck.getLong(0) - bCheck.getLong(1)} duplicated or null '$idCol' " +
        "rows — per-document term counts would merge non-deterministically; " +
        "dedup the batch (keep-first / digest agg) before the fold")
    val (bloom, items, fpp) = IndexStore.readSketch(spark, path, m)
    val positives = newDocs.select(col(idCol).as("id")).distinct()
      .filter(graft.functions.BloomFunctions.mightContain(xxhash64(col("id")), bloom))
      .localCheckpoint()
    val nPos = positives.count() // driver scalar; gates the verify path
    // already-indexed ids among the positives: a map-side scan of the
    // doclen id column semi-joined against the (small) positive set —
    // runs ONLY when positives exist, broadcasts only on evidence
    val present =
      if (nPos == 0L) positives // empty, right schema: anti-join keeps all
      else IndexStore.read(spark, path, m, "doclen").select(col("id"))
        .join(if (nPos <= Dedup.BatchBroadcastCap) broadcast(positives) else positives,
          Seq("id"), "left_semi")
        .distinct().localCheckpoint()
    val toks = tokenizedOf(newDocs, idCol, text)
    val freshD = doclenFromToks(toks).join(present, Seq("id"), "left_anti")
      .localCheckpoint()
    if (freshD.isEmpty) return
    bloom.mergeInPlace(freshD.select(xxhash64(col("id")).as("__k"))
      .stat.bloomFilter("__k", items, fpp))
    val v = m.version + 1
    // the delta's term-partition modulus is the INDEX's — a fold must
    // extend the existing layout, never re-derive its own
    val postings = IndexStore.writeTable(path, "postings", v,
      postingsFromToks(toks, meta.tp).join(present, Seq("id"), "left_anti"), Seq("__tp"))
    val (doclen, dn, dsum) = writeDoclen(path, v, freshD)
    val next = IndexStore.commit(spark, path, IndexStore.Manifest(v,
      meta.copy(nDocs = meta.nDocs + dn, sumDl = meta.sumDl + dsum).toMap,
      Map("postings" -> (m.tables("postings") :+ postings), "doclen" -> (m.tables("doclen") :+ doclen)),
      IndexStore.writeSketch(spark, path, v, bloom, items, fpp)))
    Dedup.autoCompactTarget(spark, path, next, Seq("doclen"), autoCompactAt)
      .foreach(compactBm25Index(spark, path, _))
  }

  /** Collapse accumulated fold dirs: rewrite both tables and commit an
    * [[IndexStore]] version naming only the rewritten dirs. The postings
    * rewrite goes through `repartition(__tp)` so the term-partition
    * layout (and its probe pruning) survives — a plain coalesce would
    * collapse it. Compaction preserves rows, so the rewritten doclen's
    * counters must equal the manifest's — a mismatch means a bug, not
    * drift: fail loud, before the commit.
    */
  def compactBm25Index(spark: SparkSession, path: String, targetFiles: Int = 1): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val m = IndexStore.latest(spark, path)
    val meta = bm25Meta(m)
    val v = m.version + 1
    val postings = IndexStore.writeTable(path, "postings", v,
      IndexStore.read(spark, path, m, "postings").repartition(col("__tp")), Seq("__tp"))
    val (doclen, n, s) = writeDoclen(path, v,
      IndexStore.read(spark, path, m, "doclen").coalesce(targetFiles))
    require(n == meta.nDocs && s == meta.sumDl,
      s"BM25 meta counters diverged from doclen after compaction at $path: " +
        s"meta=(${meta.nDocs}, ${meta.sumDl}) table=($n, $s)")
    IndexStore.commit(spark, path, m.copy(version = v,
      tables = Map("postings" -> Seq(postings), "doclen" -> Seq(doclen))))
  }

  /** Score fresh queries against the persisted index WITHOUT touching
    * the corpus: the probe filters the postings scan to the query
    * terms' hash partitions (directory pruning) and semi-joins the
    * survivors, then runs the exact same scoring tail as the live
    * [[bm25]] (shared code — x137 additionally pins value-equality).
    * (N, avgdl) read from the manifest's exact additive counters — the
    * probe plan touches ONLY the pruned postings partitions, no doclen
    * scan (round 14; r13 re-aggregated the full doclen per probe).
    */
  def probeBm25Index(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qText: Column,
      k1: Double = 1.2, b: Double = 0.75,
      queryBroadcastCap: Long = Dedup.BatchBroadcastCap): DataFrame = {
    val m = IndexStore.latest(spark, path)
    val meta = bm25Meta(m) // never empty: the build refuses an empty corpus
    // avgdl = sum/n over integer token counts ≡ the live path's avg()
    // (Spark's Average over integral doubles is the same exact sum, same
    // IEEE division) — x137/x138 pin the value equality end-to-end
    val stats = spark.range(1).select(
      lit(meta.nDocs.toDouble).as("__n"),
      lit(meta.sumDl.toDouble / meta.nDocs.toDouble).as("__avgdl"))
    val qTerms = queries.select(col(qIdCol),
      explode(array_distinct(tokens(lower(qText)))).as("__term"))
      .localCheckpoint()
    // ONE aggregate job serves both driver decisions (round 15, guide
    // §1.2 job-count): the per-slot counts give the matched term
    // partitions under the INDEX's pinned modulus (meta.tp — the layout
    // is the index's, never a constant; ≤ meta.tp rows collected) →
    // directory-level pruning on the postings scan — and their sum is
    // |qTerms|, the broadcast-gate evidence (previously a separate
    // count() pass over the same checkpointed rows).
    val slotCounts = qTerms
      .select(pmod(xxhash64(col("__term")), lit(meta.tp.toLong)).as("__tp"))
      .groupBy(col("__tp")).count().collect()
    val tps = slotCounts.map(_.getLong(0).toInt)
    val small = slotCounts.map(_.getLong(1)).sum <= queryBroadcastCap
    def gated(f: DataFrame): DataFrame = if (small) broadcast(f) else f
    val tf = IndexStore.read(spark, path, m, "postings")
      .filter(col("__tp").isin(tps: _*))
      .join(gated(qTerms.select(col("__term")).distinct()), Seq("__term"), "left_semi")
      .select(col("id").as(meta.idCol), col("__term"), col("__tf"), col("__dl"))
    bm25Score(tf, meta.idCol, qTerms, qIdCol, stats, k1, b, gated)
  }

  /** Retrieval decontamination, composed end-to-end (the x48/x29
    * pattern): every benchmark query retrieves its BM25 top-k corpus
    * docs, docs scoring ≥ `minScore` inside the cut are contaminated,
    * and the SURVIVING corpus comes back. Semantics pinned by the
    * composition: the k-boundary tie breaks on the document id
    * ([[bm25TopK]]'s deterministic window, over round4 scores), and a
    * doc retrieved by MANY queries is removed once (the hit set is
    * id-distinct before the anti-join). The hit set is ≤ k·|queries|
    * rows of ids — AQE broadcasts the anti-join's tiny right side; the
    * corpus is never shuffled.
    */
  def bm25Decontaminate(corpus: DataFrame, idCol: String, text: Column,
      queries: DataFrame, qIdCol: String, qText: Column, k: Int,
      minScore: Double = 0.0,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val hits = bm25TopK(corpus, idCol, text, queries, qIdCol, qText, k, k1, b)
      .filter(col("bm25") >= minScore)
      .select(col(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** The id column a persisted BM25 index was built over (from its
    * manifest) — for callers composing over [[probeBm25Index]] results.
    */
  def bm25IndexIdCol(spark: SparkSession, path: String): String =
    IndexStore.latest(spark, path).string("id_col")

  /** [[bm25Decontaminate]] with the retrieval served from a persisted
    * postings index — the daily-sweep shape: fresh benchmark queries
    * sweep the indexed corpus without re-tokenizing it. Same cut, same
    * threshold, same distinct-before-anti-join semantics (shared
    * [[bm25RankCut]] tail); `corpus` must be keyed by the index's id
    * column. x146 pins indexed ≡ live by value against x141's oracle.
    */
  def bm25DecontaminateIndexed(spark: SparkSession, indexPath: String,
      corpus: DataFrame, queries: DataFrame, qIdCol: String, qText: Column,
      k: Int, minScore: Double = 0.0,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val idCol = bm25IndexIdCol(spark, indexPath)
    val hits = bm25RankCut(
        probeBm25Index(spark, indexPath, queries, qIdCol, qText, k1, b),
        qIdCol, idCol, k)
      .filter(col("bm25") >= minScore)
      .select(col(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }
}
