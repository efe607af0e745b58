package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all designed for
  * the 100-TB regime:
  *
  *   - [[exact]]: content-hash groupBy — one shuffle on a 256-bit hash, no
  *     wide rows move (hash first, shuffle the hash).
  *   - [[minhashSignatures]] + [[lshCandidates]] + [[jaccardVerify]]:
  *     MinHash+LSH (Broder '97 / MMDS ch.3) — shingle→minhash→band→
  *     bucket-join; only same-bucket pairs are verified, so the quadratic
  *     all-pairs comparison never materializes.
  *   - [[simhash]] + [[simhashPairs]]: Charikar '02 64-bit SimHash with the
  *     chunk-index trick (pairs within Hamming distance k must share one of
  *     k+1 chunks) — again no all-pairs.
  *   - [[ngramJaccardPairs]]: exact n-gram Jaccard via shingle inverted
  *     index (explode + self-join on shingle) — exact but heavier; the
  *     LSH paths are the scale route.
  *
  * Hot-bucket guards: every self-join here (shingle index, LSH band
  * buckets, SimHash chunk buckets) caps the bucket size BEFORE the join.
  * One shingle shared by 1M docs is 5·10¹¹ pairs in a single reducer —
  * the unguarded quadratic pocket that kills the job at 100 TB. The two
  * guard shapes differ deliberately:
  *
  *   - SHINGLE df-caps ([[ngramJaccardPairs]]) DROP the hot shingle from
  *     candidate generation — a stop-phrase shingle carries no dedup
  *     signal, and a true dup pair always shares low-df shingles too;
  *   - BAND/CHUNK bucket caps ([[lshCandidates]], [[simhashPairs]])
  *     degrade the hot bucket to linear STAR candidates (hub = min id)
  *     instead of dropping it — an oversized signature bucket is usually
  *     a true mass-dup cluster, the single most important thing a 100-TB
  *     dedup must find.
  *
  * Jaccard/Hamming verification always runs on the full, uncapped sets,
  * so scores are exact for every pair that is generated.
  *
  * No UDFs anywhere: `xxhash64`, higher-order array functions and
  * `bit_count` keep everything inside codegen.
  */
object Dedup {

  val MersennePrime31: Long = 2147483647L // 2^31 - 1

  /** Default bucket-size cap for candidate-generating self-joins: bounds
    * any single bucket's pair contribution to C(cap, 2) ≈ 1.3M pairs —
    * safely inside one reducer's budget at any corpus size.
    */
  val DefaultMaxBucket: Int = 1638

  /** Max batch rows that still broadcast in the incremental batch-vs-
    * corpus probes (~a few hundred MB of banded vectors — the comfortable
    * hashed-relation band; same evidence-over-estimates discipline as
    * [[Decontaminate.BenchBroadcastCap]]).
    */
  val BatchBroadcastCap: Long = 1000000L

  /** Null-unambiguous string form of a content column: a null-flag prefix
    * ("true"/"false") + the value with null → "". A bare sentinel (e.g.
    * "␀") would collide with a document whose text IS the sentinel; the
    * flag makes null and every literal string distinct by construction.
    */
  private def tagged(c: Column): Column =
    concat(isnull(c).cast("string"), coalesce(c.cast("string"), lit("")))

  /** Exact dedup: group identical content, keep the smallest id.
    * Returns (content_hash, keep_id, dup_count).
    *
    * Multi-column contents hash each column separately and hash the
    * concatenation of the fixed-width hex digests — no separator exists
    * in the outer preimage, so no value can alias a neighboring column's
    * content (a '§'-joined preimage was aliasable: ("x§0y","z") and
    * ("x","y§0z") concatenate identically). The single-column digest is
    * the plain tagged hash, replayable as
    * `sha256(CAST(c IS NULL AS VARCHAR) || coalesce(c, ''))`.
    */
  def exact(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(contentDigest(contentCols).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** `idCol`, failing LOUDLY on null: the keep-first election is
    * `min(id)` + a semi-join on the winner, and both silently IGNORE
    * nulls — a null id would not elect, match nothing in the semi-join,
    * and every row carrying it would vanish from the output. That is
    * data loss, not dedup, so precondition violations throw (a runtime
    * `AssertNotNull`, evaluated executor-side — no extra pass over the
    * data) instead of shrinking the corpus. [[Curate.run]] feeds
    * arbitrary user frames through this path.
    */
  private def idNotNull(idCol: String): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
        org.apache.spark.sql.GraftSqlBridge.expression(col(idCol)),
        Seq(s"dedup requires a non-null id: '$idCol' " +
          "(a null id would be silently dropped or corrupt the keep-first " +
          "election, not deduplicated)")))

  /** The alias-proof multi-column content digest [[exact]] groups on —
    * public so other id-by-content operators ([[graft.ops.Snapshot]])
    * share one definition of content identity.
    */
  def contentDigest(contentCols: Seq[String]): Column =
    if (contentCols.size == 1) sha2(tagged(col(contentCols.head)), 256)
    else sha2(concat(contentCols.map(c => sha2(tagged(col(c)), 256)): _*), 256)

  /** Keep-one projection of [[exact]]: the input minus exact duplicates.
    *
    * Plan shape: [[exact]]'s digest aggregate elects `min(id)` per content
    * group with MAP-SIDE partial aggregation (a 10⁸-copy boilerplate
    * document combines to one row per input partition before the shuffle),
    * then a `left_semi` join on the id brings the winning bodies through.
    * Bodies shuffle keyed by the UNSKEWED id — or not at all when AQE
    * broadcasts the keep-set — never through a window keyed by content,
    * which would land every copy of a mass-duplicated document (bodies and
    * all) in one sort partition. Requires `idCol` unique per row (it is
    * the survivor's identity); a NULL id throws at runtime
    * ([[idNotNull]]) rather than silently dropping the row.
    */
  def exactKeepFirst(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame =
    df.join(exact(df.withColumn(idCol, idNotNull(idCol)), contentCols, idCol)
        .select(col("keep_id")),
      col(idCol) === col("keep_id"), "left_semi")

  /** [[exact]] over the NORMALIZED text form ([[TextStats.canonical]]:
    * NFC + lowercase + whitespace collapse) — "fuzzy-exact" dedup, the
    * ccnet-style pass that catches case/spacing/Unicode-composition
    * variants plain content hashing misses. Same output contract as
    * [[exact]]: (content_hash, keep_id, dup_count), hash over the
    * canonical form.
    */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(tagged(TextStats.canonical(col(textCol))), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Keep-one projection of [[exactNormalized]]: rows whose id is the
    * smallest in their canonical-form group. The ORIGINAL text is kept —
    * normalization only decides identity, it does not rewrite content.
    * Same agg + semi-join plan as [[exactKeepFirst]] (map-side combine on
    * the canonical digest; bodies never shuffle on a content key);
    * requires `idCol` unique per row; a NULL id throws ([[idNotNull]]).
    */
  def exactNormalizedKeepFirst(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(exactNormalized(df.withColumn(idCol, idNotNull(idCol)), textCol, idCol)
        .select(col("keep_id")),
      col(idCol) === col("keep_id"), "left_semi")

  /** Paragraph-level exact dedup (the FineWeb/ccnet granularity): split
    * each document on `sep`, drop every paragraph whose content already
    * appeared in an earlier (id, position) slot ANYWHERE in the corpus,
    * and reassemble the survivors in original order. Documents left with
    * zero surviving paragraphs drop out entirely. Returns (idCol, textCol).
    *
    * Plan shape at 100 TB — three shuffles, none carrying bodies through
    * the skewed key:
    *   1. survivor election is `groupBy(digest).agg(min(struct(id, pos)))`
    *      — MAP-SIDE partial aggregation combines a boilerplate paragraph
    *      repeated 10⁸ times down to one (digest, min-slot) row per input
    *      partition BEFORE the shuffle, so the hot digest never
    *      materializes as a fat partition (a `row_number` window would
    *      sort all 10⁸ digest rows in one task);
    *   2. a semi-join on (id, pos) brings the winning slots back to the
    *      exploded bodies (hash-partitioned by id — unskewed by
    *      construction, paragraph positions are unique per doc);
    *   3. reassembly groups by id (same key as 2 — AQE/bucketing can
    *      co-locate them).
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    // A null id would phantom-win the min(struct(id, pos)) election (null
    // struct fields sort first) while matching nothing in the (id, pos)
    // semi-join — other documents' genuine first occurrences get cut and
    // the null-id document passes through untouched. Same loud-failure
    // contract as the keep-first dedups ([[idNotNull]]).
    val guarded = docs.withColumn(idCol, idNotNull(idCol))
    val paras = guarded
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "__pos", "__para")
      .filter(length(trim(col("__para"))) > 0)
    val surv = paras
      .select(sha2(col("__para"), 256).as("__h"), col(idCol), col("__pos"))
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__slot"))
      .select(col("__slot")(idCol).as(idCol), col("__slot")("__pos").as("__pos"))
    paras.join(surv, Seq(idCol, "__pos"), "left_semi")
      .groupBy(col(idCol))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          s => s.getField("__para"))).as(textCol))
  }

  /** Exact SUBSTRING dedup — the Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499) granularity
    * between paragraph and document: remove duplicated ≥`k`-token SPANS
    * shared across documents (boilerplate sentences inside otherwise
    * unique pages — paragraph dedup misses them whenever paragraph
    * boundaries differ). Returns (idCol, textCol).
    *
    * Semantics (deterministic, engine-replayable):
    *   - every length-`k` token window (whitespace tokens, the
    *     [[TextStats.tokens]] split) is digested; for each distinct
    *     window content the occurrence with the smallest `(id, pos)`
    *     slot WINS — every other occurrence loses;
    *   - the union of token positions covered by a document's LOSING
    *     windows is cut; surviving tokens reassemble in order, joined by
    *     single spaces. Overlapping duplicated windows therefore merge
    *     into maximal cut spans, and the first occurrence of a span
    *     keeps its tokens (unless a DIFFERENT losing window covers
    *     them). A document whose every token is covered drops out;
    *   - a document with NO losing windows (including every document
    *     shorter than `k` tokens) passes through byte-identical —
    *     whitespace is only normalized where a cut actually rewrites.
    *
    * Lee et al. build one giant suffix array — the right shape for a
    * single machine, the wrong one for a cluster (global order = global
    * coordination). The Spark-first re-expression trades O(n·k) window
    * hashing (embarrassingly parallel, whole-stage codegen) for the
    * suffix array's O(n) span discovery, and reuses [[paragraphDedup]]'s
    * skew-safe election:
    *   1. window digests are built INSIDE a per-row projection
    *      (`transform(sequence, slice, sha2)`) — no explode of token
    *      bodies, only (id, pos, digest) triples leave the row;
    *   2. survivor election is `groupBy(digest).agg(min(struct(id,
    *      pos)))` — MAP-SIDE combine collapses a boilerplate window
    *      repeated 10⁸ times to one row per input partition before the
    *      shuffle, so hot digests never form a fat partition;
    *   3. losers are the `left_anti` of occurrences vs winners keyed by
    *      the UNSKEWED `(id, pos)` — digests never key a join;
    *   4. per-document loser positions `collect_list` (bounded by the
    *      document's own window count, like [[paragraphDedup]]'s
    *      reassembly), join back on id, and the span cut runs as a pure
    *      array expression (`sequence`/`flatten`/`filter`).
    * Three shuffles total; bodies only ever shuffle keyed by id.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val base = spanBase(docs, idCol, textCol)
    val wins = spanWindows(base, idCol, k)
    val winners = wins
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__wpos"))).as("__slot"))
      .select(col("__slot")(idCol).as(idCol), col("__slot")("__wpos").as("__wpos"))
    cutSpanLosers(base, spanLoserLists(wins, winners, idCol), idCol, textCol, k)
  }

  /** Tokenized frame shared by the live and indexed substring paths —
    * ONE definition of the token grain, so the two can never disagree.
    * Same null-id hazard as [[paragraphDedup]]: the election would elect
    * a phantom (null, pos) slot and the anti-join/join-back on id would
    * cut every OTHER document's first occurrence — fail loudly instead
    * ([[idNotNull]]).
    */
  private def spanBase(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn(idCol, idNotNull(idCol))
      .withColumn("__toks", TextStats.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")))

  /** One (id, __wpos, __h sha256-of-k-token-window) row per window. */
  private def spanWindows(base: DataFrame, idCol: String, k: Int): DataFrame = {
    val winArr = when(col("__n") >= k,
      transform(sequence(lit(1), col("__n") - (k - 1)),
        p => sha2(concat_ws(" ", slice(col("__toks"), p, lit(k))), 256)))
      .otherwise(array().cast("array<string>"))
    base.select(col(idCol), posexplode(winArr))
      .select(col(idCol), (col("pos") + 1).as("__wpos"), col("col").as("__h"))
  }

  /** Per-document losing window positions: every window not in `winners`. */
  private def spanLoserLists(wins: DataFrame, winners: DataFrame,
      idCol: String): DataFrame =
    wins.select(col(idCol), col("__wpos"))
      .join(winners, Seq(idCol, "__wpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(collect_list(col("__wpos")).as("__lose"))

  /** Remove every token covered by a losing window and reassemble; docs
    * with full coverage drop. Returns (idCol, textCol).
    */
  private def cutSpanLosers(base: DataFrame, loserLists: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    val covered = array_distinct(flatten(
      transform(col("__lose"), p => sequence(p, p + (k - 1)))))
    base.join(loserLists, Seq(idCol), "left")
      .withColumn("__cov", when(col("__lose").isNotNull, covered))
      .filter(col("__lose").isNull || size(col("__cov")) < col("__n"))
      .withColumn(textCol,
        when(col("__lose").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            transform(
              filter(
                transform(sequence(lit(1), col("__n")),
                  i => struct(i.as("p"), element_at(col("__toks"), i).as("t"))),
                s => !array_contains(col("__cov"), s.getField("p"))),
              s => s.getField("t")))))
      .select(col(idCol), col(textCol))
  }

  /** Word n-gram shingles of a text column (distinct per doc,
    * first-occurrence order). Empty/short docs yield an empty set.
    * One codegen'd kernel scan ([[graft.functions.WordShingles]],
    * round 15, guide §1.2 per-task work) replacing the
    * tokenize → sequence → per-position slice + concat_ws HOF chain —
    * same values (EngineProps pins kernel ≡ HOF on adversarial text),
    * no per-shingle array slicing or lambda interpretation.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextFunctions.wsShingles(text, n)

  /** Exploded (id, shingle) table — build it ONCE (persist + eager count)
    * when several stages consume the same shingle set (signatures +
    * verification); each of [[minhashFromShingles]]/[[jaccardFromShingles]]
    * otherwise re-explodes the corpus.
    */
  def shingleTable(docs: DataFrame, idCol: String, text: Column, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), explode(shingles(text, n)).as("shingle"))

  /** MinHash signatures from a prebuilt [[shingleTable]] (column `id`). */
  def minhashFromShingles(sh: DataFrame, numPerm: Int): DataFrame =
    sh.withColumn("h", pmod(xxhash64(col("shingle")), lit(MersennePrime31)))
      .groupBy(col("id"))
      .agg(graft.functions.HashAggFunctions.minhash_agg(col("h"), numPerm).as("sig"))

  /** Exact Jaccard for candidate pairs from a prebuilt [[shingleTable]]. */
  def jaccardFromShingles(sh: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("set_size"))
    ngramJaccardForPairs(sh, sizes, pairs, threshold)
  }

  /** MinHash signature per id as one `array<long>` column `sig`:
    * `sig[p] = min over shingles of (a_p·h + b_p) mod (2^31-1)` with
    * `h = xxhash64(shingle) mod (2^31-1)` (31-bit domain keeps `a·h` inside
    * Long under ANSI mode). One explode + one hash-partition aggregation
    * through the custom [[graft.functions.MinHashAgg]] kernel — `numPerm`
    * separate `min()` columns would overflow the codegen budget and fall
    * back to interpreted evaluation.
    */
  def minhashSignatures(df: DataFrame, idCol: String, text: Column, n: Int, numPerm: Int): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(shingles(text, n)).as("shingle"))
      .withColumn("h", pmod(xxhash64(col("shingle")), lit(MersennePrime31)))
    exploded.groupBy(col(idCol))
      .agg(graft.functions.HashAggFunctions.minhash_agg(col("h"), numPerm).as("sig"))
  }

  /** Banding expressions shared by [[lshCandidates]] and
    * [[incrementalDedup]] — ONE definition, so batch-vs-corpus banding can
    * never silently desynchronize from self-join banding.
    */
  private def bandExprs(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        xxhash64(concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).cast("array<string>"))).as("band_hash"))
    }

  /** LSH banding: signature → (band_idx, band_hash) rows; same-bucket pairs
    * are the candidates. bands·rowsPerBand must equal the signature width.
    *
    * Hot buckets (> maxBucket members) degrade to STAR candidate
    * generation instead of the full pairwise self-join: every member is
    * paired with the bucket's min-id hub — |bucket|−1 pairs, not
    * C(|bucket|, 2). An oversized band bucket is often a TRUE mass-dup
    * cluster (boilerplate repeated 10⁵ times — the classic 100-TB dedup
    * target), so dropping it outright would miss the biggest clusters;
    * the star keeps them findable with linear work, and after exact
    * verification [[components]] recovers member↔member links
    * transitively through the hub. Residual risk: a member similar to
    * other members but NOT to the hub is missed — only possible when the
    * bucket is a mixed collision, not a genuine dup cluster.
    *
    * Cache lifecycle: the banded frame is `localCheckpoint`ed (it feeds
    * the hot-bucket aggregate and both self-join sides) — unlike
    * `persist`, the blocks are NOT registered in the SQL cache manager
    * and are released by the ContextCleaner once the returned frame is
    * unreferenced, so repeated calls in a long-lived session cannot
    * accumulate pinned cache entries.
    */
  def lshCandidates(sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bandCols = bandExprs(bands, rowsPerBand)
    // hot buckets are found with a map-side-combining aggregate and split
    // out with anti/semi-joins (AQE broadcasts the hot set, which is
    // empty/tiny on unskewed data — measurably cheaper than a
    // count-window, whose WindowExec would re-sort every banded row)
    val banded = sig
      .select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
      .localCheckpoint()
    val hotBuckets = banded.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("__bs")).filter(col("__bs") > maxBucket)
      .select(col("band_idx"), col("band_hash"))
    val bucketed = banded.join(hotBuckets, Seq("band_idx", "band_hash"), "left_anti")
    val coldPairs = bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
    val hotRows = banded.join(hotBuckets, Seq("band_idx", "band_hash"), "left_semi")
    val hubs = hotRows.groupBy(col("band_idx"), col("band_hash"))
      .agg(min(col(idCol)).as("__hub"))
    val starPairs = hotRows.join(hubs, Seq("band_idx", "band_hash"))
      .filter(col(idCol) =!= col("__hub"))
      .select(col("__hub").as("id_a"), col(idCol).as("id_b"))
    coldPairs.unionByName(starPairs).distinct()
  }

  /** Exact Jaccard for given candidate pairs, via shingle-set sizes and an
    * inverted-index intersection count. Returns pairs with
    * `jaccard >= threshold` (rounded to 4 decimals).
    */
  def jaccardVerify(
      docs: DataFrame, idCol: String, text: Column, n: Int,
      pairs: DataFrame, threshold: Double): DataFrame = {
    // localCheckpoint, not persist: reused by sizes + both pair-join sides,
    // but must not outlive the call in the SQL cache manager (blocks are
    // ContextCleaner-released once the returned frame is dropped)
    val sh = docs.select(col(idCol).as("id"), explode(shingles(text, n)).as("shingle"))
      .localCheckpoint()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("set_size"))
    ngramJaccardForPairs(sh, sizes, pairs, threshold)
  }

  private def ngramJaccardForPairs(
      sh: DataFrame, sizes: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val shA = sh.select(col("id").as("id_a"), col("shingle"))
    val shB = sh.select(col("id").as("id_b"), col("shingle"))
    val inter = pairs
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter_size"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("set_size").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("set_size").as("size_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.Canonical.round4(col("inter_size").cast("double") /
          (col("size_a") + col("size_b") - col("inter_size")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** N-gram Jaccard near-dup pairs via the shingle inverted index, with a
    * document-frequency cap on candidate generation: a pair is found iff
    * it shares ≥1 shingle whose df ≤ `maxDf`, and every found pair's
    * Jaccard is EXACT (verification counts ALL shared shingles, hot ones
    * included). A shingle in 1M docs would contribute 5·10¹¹ candidate
    * pairs to one reducer; such stop-phrase shingles carry no dedup signal,
    * so capping candidate generation on them is the standard guard.
    * `maxDf = Int.MaxValue` recovers the fully exact (unguarded) operator.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, text: Column, n: Int,
      threshold: Double, maxDf: Int = DefaultMaxBucket): DataFrame = {
    // localCheckpoint (eager), not persist: feeds the candidate self-join
    // twice, the set-size aggregate AND the verification joins — but a
    // persist would stay registered in the SQL cache manager after the
    // call returns (the caller can't release it without killing the lazy
    // result); checkpoint blocks are ContextCleaner-released on GC.
    val sh = docs.select(col(idCol).as("id"), explode(shingles(text, n)).as("shingle"))
      .localCheckpoint()
    ngramJaccardPairsFromShingles(sh, threshold, maxDf)
  }

  /** [[ngramJaccardPairs]] over a prebuilt (persisted) [[shingleTable]] —
    * use when the shingle set also feeds other stages (signatures,
    * verification) so the corpus is exploded once.
    *
    * Plan shape: the HOT shingles (df > maxDf) are separated with an
    * anti-join (the hot set is the Zipf tail above the cap — tiny relative
    * to the corpus, so AQE turns the anti-join into a broadcast at
    * runtime); the cold index keeps the fused self-join + pair-count plan
    * (ONE shuffle, no candidate materialization); shared hot shingles are
    * then added back for the candidate pairs only, so every emitted
    * jaccard is exact over the FULL shingle sets. Only pairs sharing
    * nothing but hot shingles are pruned — the guard's semantic.
    */
  def ngramJaccardPairsFromShingles(sh: DataFrame, threshold: Double,
      maxDf: Int = DefaultMaxBucket): DataFrame =
    pairIntersections(sh, maxDf)
      .withColumn("jaccard",
        graft.Canonical.round4(col("inter_size").cast("double") /
          (col("size_a") + col("size_b") - col("inter_size")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The shared candidate+intersection core of the exact pair family:
    * (id_a < id_b, exact inter_size over the FULL shingle sets, both set
    * sizes) for every pair sharing at least one COLD shingle — the
    * hot-df guard and exact-score correction documented at
    * [[ngramJaccardPairsFromShingles]]. Scorers
    * ([[ngramJaccardPairsFromShingles]], [[containmentPairsFromShingles]])
    * differ only in the formula over these columns.
    */
  private def pairIntersections(sh: DataFrame, maxDf: Int): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("set_size"))
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select(col("shingle"))
    val cold = sh.join(hot, Seq("shingle"), "left_anti")
    val interCold = cold.as("l")
      .join(cold.as("r"), col("l.shingle") === col("r.shingle") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("__inter_cold"))
    // exact-score correction: count the shared hot shingles per candidate
    // pair (each doc holds at most a handful of hot shingles, so this is
    // |candidates| × small)
    val hotSh = sh.join(hot, Seq("shingle"), "left_semi")
    val interHot = interCold.select(col("id_a"), col("id_b"))
      .join(hotSh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(hotSh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__inter_hot"))
    interCold
      .join(interHot, Seq("id_a", "id_b"), "left")
      .withColumn("inter_size", col("__inter_cold") + coalesce(col("__inter_hot"), lit(0L)))
      .join(sizes.select(col("id").as("id_a"), col("set_size").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("set_size").as("size_b")), Seq("id_b"))
  }

  /** Asymmetric CONTAINMENT pairs — the quote/boilerplate-mining shape
    * Jaccard structurally misses: a short document embedded verbatim in
    * a long one scores `jaccard ≈ |A|/|B| → 0` however exact the copy,
    * while its containment `|A∩B| / min(|A|,|B|)` reads 1.0 (Broder '97
    * distinguishes resemblance from containment for exactly this). For
    * each qualifying pair the directional fractions ride along
    * (`containment_a_in_b = inter/|A|`, `containment_b_in_a = inter/|B|`
    * — round4, engine-portable), so callers can keep the container and
    * cut the contained. Candidates, the df cap and the exact-score
    * correction are [[ngramJaccardPairs]]'s own (the shared
    * [[pairIntersections]] core): one shuffle, no all-pairs, hot
    * boilerplate shingles star-degrade instead of exploding the join.
    */
  def containmentPairs(docs: DataFrame, idCol: String, text: Column, n: Int,
      threshold: Double, maxDf: Int = DefaultMaxBucket): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), explode(shingles(text, n)).as("shingle"))
      .localCheckpoint()
    containmentPairsFromShingles(sh, threshold, maxDf)
  }

  /** The cutting form of [[containmentPairs]]: drop every document
    * contained in another, keep the containers — the dedup pass quote
    * farms and template mirrors actually need (hard dedup misses them:
    * the pair is not a near-dup by resemblance). Loser rule, per
    * qualifying pair, deterministic: the CONTAINED side loses (fewer
    * shingles); mutual containment (near-identical sets) keeps the
    * smaller id. The relation is transitive over shingle sets (A ⊆ B ⊆ C
    * ⇒ the (A, C) pair exists too), so a container that itself loses to
    * a bigger one cannot resurrect its contained documents — one pass
    * suffices, no component closure. Returns the caller's schema.
    */
  def removeContained(docs: DataFrame, idCol: String, text: Column, n: Int,
      threshold: Double, maxDf: Int = DefaultMaxBucket): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), explode(shingles(text, n)).as("shingle"))
      .localCheckpoint()
    val p = pairIntersections(sh, maxDf)
      .withColumn("__ca",
        graft.Canonical.round4(col("inter_size").cast("double") / col("size_a").cast("double")))
      .withColumn("__cb",
        graft.Canonical.round4(col("inter_size").cast("double") / col("size_b").cast("double")))
    val losers = p
      .withColumn("__loser",
        when(col("__ca") >= threshold && col("__cb") >= threshold,
          greatest(col("id_a"), col("id_b")))
          .when(col("__ca") >= threshold, col("id_a"))
          .when(col("__cb") >= threshold, col("id_b")))
      .filter(col("__loser").isNotNull)
      .select(col("__loser").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[containmentPairs]] over a prebuilt [[shingleTable]]. */
  def containmentPairsFromShingles(sh: DataFrame, threshold: Double,
      maxDf: Int = DefaultMaxBucket): DataFrame =
    pairIntersections(sh, maxDf)
      .withColumn("containment_a_in_b",
        graft.Canonical.round4(col("inter_size").cast("double") / col("size_a").cast("double")))
      .withColumn("containment_b_in_a",
        graft.Canonical.round4(col("inter_size").cast("double") / col("size_b").cast("double")))
      .withColumn("containment",
        greatest(col("containment_a_in_b"), col("containment_b_in_a")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"),
        col("containment_a_in_b"), col("containment_b_in_a"))

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise matches into per-cluster keep/drop decisions (pairs
    * chain: a~b and b~c must collapse into ONE cluster even when a and c
    * never matched directly). Returns (id, comp) for every id appearing in
    * `pairs`, where `comp` is the smallest id in the component — the
    * canonical survivor.
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC '14).
    * Each round rewires every node toward the minimum of its neighborhood:
    *
    *   - large-star: per node u with neighborhood Γ(u), every neighbor
    *     v > u re-attaches to m = min(Γ(u) ∪ {u});
    *   - small-star: per node u over its smaller neighbors Γ⁻(u), all of
    *     Γ⁻(u) ∪ {u} attach to their minimum.
    *
    * The edge set converges to a union of stars whose centers are the
    * component minima in O(log n) rounds on ANY graph — unlike min-label
    * propagation, whose round count is the graph DIAMETER (a 10⁶-edge
    * chain needs 10⁶ rounds; star contraction needs ~20). Every round is
    * two keyed aggregates + two equi-joins — all shuffle-partitioned,
    * nothing driver-side except the 1-row convergence count.
    * `localCheckpoint` truncates the lineage each round (same discipline
    * as the IVF Lloyd loop, Ivf.scala) and superseded checkpoints are
    * released so at most two edge copies are ever pinned. The loop THROWS
    * if it exits unconverged — silently returning split clusters would
    * hand a dedup pipeline two "canonical" copies of one document.
    */
  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val nodes = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .localCheckpoint()
    // canonical orientation (u > v); self-pairs carry no linkage
    var edgesCp = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var edges = edgesCp.select(col("u"), col("v"))
    var converged = edgesCp.isEmpty
    var i = 0
    var normalExit = false
    try {
      while (!converged && i < maxIter) {
        sc.setJobDescription(s"components: round $i")
        // large-star: neighbors above each center re-attach to the
        // neighborhood minimum. ONE exchange establishes the per-center
        // partitioning; the min aggregate AND the re-attach join both reuse
        // it (guide §2.4: operations keyed the same way share an exchange —
        // the groupBy and the join each paid their own before round 15)
        val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
          .select(col("u").as("x"), col("v").as("nbr"))
          .repartition(col("x"))
        val mins = sym.groupBy(col("x")).agg(min(col("nbr")).as("__mn"))
          .select(col("x"), least(col("__mn"), col("x")).as("m"))
        // NOT deduped here: duplicate (u, m) rows (one per neighborhood the
        // pair co-occurs in) are absorbed map-side by the min aggregate
        // below and by the output distinct — the intermediate distinct was
        // a full exchange per round buying nothing (round 15, guide §2.4)
        val large = sym.filter(col("nbr") > col("x"))
          .join(mins, Seq("x"))
          .select(col("nbr").as("u"), col("m").as("v"))
          .repartition(col("u")) // shared by the small-star agg + join below
        // small-star: each center and its smaller neighbors attach to their
        // minimum (input/output both keep the u > v orientation)
        val mins2 = large.groupBy(col("u")).agg(min(col("v")).as("m"))
        val out = mins2.select(col("u"), col("m").as("v"))
          .unionByName(large.join(mins2, Seq("u"))
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct()
        val ann = out.localCheckpoint()
        // convergence = the round's OWN output is a union of stars: every
        // u appears exactly once (each satellite has one center) and no v
        // appears as a u (no center is itself a satellite). On a star set
        // both the large- and small-star maps are the identity, so this
        // round's output IS the fixpoint — detected on the producing
        // round. The r15 check compared against the PREVIOUS round's set
        // (|out ∩ edges| = |out| = |edges| via a membership join riding
        // the checkpoint), which by construction pays one full extra
        // confirm round (round 16, guide §1.2 job count: the join is gone
        // and the whole final round with it). Fixpoints ARE star sets
        // (Kiveris et al. SoCC '14; OpsSpec pins components ≡ union-find
        // exhaustively over every 4-node graph plus random 8-node graphs),
        // so this detects no later than r15's check — and maxIter still
        // fails loud if neither fires.
        val roles = ann.select(explode(array(
            struct(col("u").as("n"), lit(1L).as("iu"), lit(0L).as("iv")),
            struct(col("v").as("n"), lit(0L).as("iu"), lit(1L).as("iv")))).as("r"))
          .select(col("r.n").as("n"), col("r.iu").as("iu"), col("r.iv").as("iv"))
          .groupBy(col("n")).agg(sum(col("iu")).as("__su"), sum(col("iv")).as("__sv"))
        converged = roles
          .filter(col("__su") > 1L || (col("__su") > 0L && col("__sv") > 0L))
          .isEmpty
        edgesCp.unpersist() // superseded checkpoint — keep at most 2 copies pinned
        edgesCp = ann
        edges = ann.select(col("u"), col("v"))
        i += 1
      }
      normalExit = true
    } finally {
      // restore the caller's job description and, on an abnormal exit
      // (job failure/OOM mid-round), release the live checkpoints — the
      // r15 shape leaked both and left 'components: round N' on the
      // thread for every subsequent job (ADVICE r15)
      sc.setJobDescription(prevDesc)
      if (!normalExit) {
        edgesCp.unpersist()
        nodes.unpersist()
      }
    }
    if (!converged) {
      edgesCp.unpersist() // release the checkpoint: a catch-and-retry loop must not accumulate them
      nodes.unpersist()
      throw new IllegalStateException(
        s"components() did not converge in $maxIter rounds — star contraction needs " +
          s"O(log n) rounds on any graph, so this indicates maxIter far below log₂(nodes)")
    }
    // fixpoint edges are stars (u, componentMin); nodes without an edge
    // (self-pairs only / singleton inputs) label themselves
    nodes
      .join(edges.select(col("u").as("id"), col("v").as("__comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__comp"), col("id")).as("comp"))
  }

  /** Incremental [[components]]: fold a DELTA pair batch into existing
    * (id, comp) labels WITHOUT replaying history. Label edges (id → comp)
    * carry the old connectivity exactly — every old member appears as an
    * id and every old component is a star around its min — so star
    * contraction over `labelEdges ∪ delta` equals the one-shot result
    * over the full pair history (components that the delta bridges merge
    * to the global min). Per-fold cost is O(|labels| + |delta|), not
    * O(every pair ever); untouched singletons (self-labelled, absent
    * from the union's node set) are re-added unchanged. IDEMPOTENT: the
    * same delta folded twice is a fixpoint, so replays need no ledger.
    */
  def componentsIncremental(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val labelEdges = labels.filter(col("id") =!= col("comp"))
      .select(col("id").as("id_a"), col("comp").as("id_b"))
    val merged = components(
      labelEdges.unionByName(newPairs.select(col("id_a"), col("id_b"))), maxIter)
    val singles = labels.filter(col("id") === col("comp"))
      .join(merged.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    merged.unionByName(singles)
  }

  /** Persist component labels — the cluster state a daily dedup pipeline
    * carries between runs: one `labels` table committed as an
    * [[IndexStore]] version (no replay ledger, because
    * [[componentsIncremental]] is idempotent).
    */
  def writeCcIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      labels: DataFrame): Unit = {
    val v = IndexStore.nextVersion(spark, path)
    val dir = IndexStore.writeTable(path, "labels", v, labels.select(col("id"), col("comp")))
    IndexStore.commit(spark, path, IndexStore.Manifest(v, Map.empty, Map("labels" -> Seq(dir))))
  }

  /** Load the committed component labels. */
  def readCcIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    IndexStore.read(spark, path, IndexStore.latest(spark, path), "labels")

  /** Fold a delta pair batch into the persisted labels: the merged labels
    * are written whole and committed as the next version. A crash before
    * the commit leaves the old labels current, and the replayed fold
    * recomputes the identical merge.
    */
  def appendToCcIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newPairs: DataFrame, maxIter: Int = 20): Unit = {
    val m = IndexStore.latest(spark, path)
    val dir = IndexStore.writeTable(path, "labels", m.version + 1,
      componentsIncremental(IndexStore.read(spark, path, m, "labels"), newPairs, maxIter))
    IndexStore.commit(spark, path, m.copy(version = m.version + 1, tables = Map("labels" -> Seq(dir))))
  }

  /** End-to-end near-dup REMOVAL: pairs → clusters → keep one canonical
    * document (the min id) per cluster — the composition every dedup
    * pipeline actually ships: exact n-gram Jaccard pairs (so the whole
    * result is value-oracled) + [[components]] + one broadcast-able
    * anti-join of the drop set against the corpus. Swap the pair stage
    * for the MinHash path at scale; the cluster/drop tail is identical.
    *
    * Cache lifecycle: the exploded shingle table (the job's largest
    * intermediate) and the label checkpoint are BOTH released before
    * returning; only the drop set — one id per non-canonical duplicate —
    * stays cached to feed the returned anti-join.
    */
  def dedupCorpusExact(docs: DataFrame, idCol: String, text: Column,
      n: Int, threshold: Double, maxIter: Int = 20): DataFrame = {
    val sh = shingleTable(docs, idCol, text, n).persist()
    sh.count() // eager: feeds the self-join, set sizes, and hot correction
    val pairs = ngramJaccardPairsFromShingles(sh, threshold)
    val result = dropNonCanonical(docs, idCol, pairs, quality = None, maxIter)
    sh.unpersist() // the drop set is checkpointed — shingles no longer needed
    result
  }

  /** Shared cluster/drop tail of every corpus near-dup removal: pairs →
    * [[components]] → canonical election (min id, or argmax `quality`
    * with min-id tiebreak) → one anti-join of the id-only drop set.
    * The drop set is `localCheckpoint`ed, not persisted: it must survive
    * into the returned lazy anti-join without staying registered in the
    * SQL cache manager (ContextCleaner releases it when the result is
    * dropped); the intermediate labels are released before returning.
    */
  private def dropNonCanonical(docs: DataFrame, idCol: String, pairs: DataFrame,
      quality: Option[Column], maxIter: Int): DataFrame = {
    // components() consumes the pair frame twice (node set + initial
    // edges); without this pin an LSH/semantic pair stage — candidate
    // self-join plus full verification — would execute twice per call.
    // Both consumers are materialized inside components(), so the pin is
    // released as soon as it returns.
    val p = pairs.localCheckpoint()
    val labels = components(p, maxIter)
    p.unpersist()
    val drop = quality match {
      case None =>
        labels.filter(col("id") =!= col("comp"))
          .select(col("id").as(idCol))
          .localCheckpoint()
      case Some(q) =>
        // only clustered ids need a quality lookup — labels' nodes are
        // exactly the ids that appeared in a pair, small after
        // contraction. Checkpointed: it feeds both the election aggregate
        // and the drop join (docs would otherwise re-scan per consumer).
        // NULL quality ranks LAST via an explicit isNull field (false <
        // true, so every SCORED member — even -Infinity — beats every
        // unscored one; a sentinel value would tie or lose against
        // extreme scores), matching the oracle's ORDER BY q DESC NULLS
        // LAST.
        val member = labels.join(
          docs.select(col(idCol).as("id"), q.cast("double").as("__q")), Seq("id"))
          .localCheckpoint()
        val keep = member.groupBy(col("comp"))
          .agg(min(struct(col("__q").isNull.as("nu"), (-col("__q")).as("nq"),
            col("id").as("kid"))).as("__k"))
          .select(col("comp"), col("__k").getField("kid").as("__keep"))
        val d = member.join(keep, Seq("comp"))
          .filter(col("id") =!= col("__keep"))
          .select(col("id").as(idCol))
          .localCheckpoint()
        member.unpersist()
        d
    }
    labels.unpersist()
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Corpus near-dup removal with the MINHASH+LSH pair stage — the
    * 100-TB arm of [[dedupCorpusExact]]/[[dedupCorpusKeepBest]] (whose
    * exact-pair stage is the value-oracle arm; the round-8 32× pilot
    * measured it 8.2× at 32× data while every LSH-family query stayed
    * ≤3×). Candidates come from banded signature buckets (hot buckets
    * star-degrade, never drop), every candidate verifies with EXACT
    * Jaccard over full shingle sets, and the cluster/drop tail is
    * byte-identical to the exact arm — so the only semantic difference
    * is pair RECALL: a true near-dup pair at jaccard j surfaces with
    * probability 1-(1-j^rowsPerBand)^bands (identical documents always
    * collide). `quality = Some(...)` elects argmax-quality canonicals.
    *
    * The corpus is tokenized and exploded ONCE: a single persisted
    * [[shingleTable]] feeds both the signature aggregation and the exact
    * verification (the same sharing discipline as [[dedupCorpusExact]] /
    * [[dedupCorpusKeepBest]]) — tokenize+explode is the dominant CPU of
    * the pair stage, and rebuilding it for verification would double it.
    */
  def dedupCorpusLsh(docs: DataFrame, idCol: String, text: Column,
      n: Int, numPerm: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      quality: Option[Column] = None,
      maxBucket: Int = DefaultMaxBucket, maxIter: Int = 20): DataFrame = {
    require(bands * rowsPerBand <= numPerm,
      s"bands*rowsPerBand = ${bands * rowsPerBand} exceeds numPerm = $numPerm")
    val sh = shingleTable(docs, idCol, text, n).persist()
    sh.count() // eager: feeds signatures AND verification
    val sig = minhashFromShingles(sh, numPerm)
    val cand = lshCandidates(sig, "id", bands, rowsPerBand, maxBucket)
    val pairs = jaccardFromShingles(sh, cand, threshold)
    val result = dropNonCanonical(docs, idCol, pairs, quality, maxIter)
    sh.unpersist() // the drop set is checkpointed — shingles no longer needed
    result
  }

  /** [[dedupCorpusExact]] with QUALITY-RANKED canonical selection: each
    * near-dup cluster keeps its highest-`quality` member (ties → min id)
    * instead of the min id. This is the composition pipelines ship when
    * ingest order is not preference order — near-dup clusters routinely
    * span sources (the same article on a mirror and on the origin site),
    * and keep-first would keep whichever shard happened to sort lower.
    *
    * The election is one aggregate per cluster — `min(struct(-q, id))`
    * orders by quality descending then id ascending, so the canonical
    * member costs a single map-side-combinable shuffle on the (already
    * contracted) component key, never a content-wide window. Cache
    * lifecycle mirrors [[dedupCorpusExact]]: shingles and labels are
    * released before returning; only the id-only drop set stays
    * checkpointed to feed the returned anti-join.
    *
    * `quality` is any expression over `docs`' columns (a planted score, a
    * [[TextStats.qualityScore]], a model score); `-0.0` scores are the
    * caller's hazard (negation distinguishes ±0.0 under IEEE ordering).
    */
  def dedupCorpusKeepBest(docs: DataFrame, idCol: String, text: Column,
      quality: Column, n: Int, threshold: Double, maxIter: Int = 20): DataFrame = {
    val sh = shingleTable(docs, idCol, text, n).persist()
    sh.count() // eager: feeds the self-join, set sizes, and hot correction
    val pairs = ngramJaccardPairsFromShingles(sh, threshold)
    val result = dropNonCanonical(docs, idCol, pairs, Some(quality), maxIter)
    sh.unpersist()
    result
  }

  /** End-to-end SEMANTIC near-dup removal over an embedding column — the
    * SemDeDup shape (Abbas et al. '23): embedding-cosine pairs →
    * [[components]] → keep the component-minimum id. `exact = true` swaps
    * in the quadratic all-pairs verifier ([[Similarity.cosinePairsExact]])
    * so the whole result can be value-oracled; the default LSH-bucketed
    * pair stage ([[Similarity.cosinePairs]]) is the 100-TB path (pair work
    * bounded by bucket mates, recall gated by the planted-neighbor probe).
    * Cache lifecycle mirrors [[dedupCorpusExact]]: only the drop set stays
    * checkpointed to feed the returned anti-join.
    */
  def dedupCorpusSemantic(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 8, dim: Int = 64,
      exact: Boolean = false, maxIter: Int = 20): DataFrame = {
    val pairs =
      if (exact) Similarity.cosinePairsExact(emb, idCol, vecCol, threshold)
      else Similarity.cosinePairs(emb, idCol, vecCol, threshold, numPlanes, dim)
    dropNonCanonical(emb, idCol, pairs, quality = None, maxIter)
  }

  /** Cluster-bounded semantic near-dup removal — SemDeDup as published
    * (Abbas et al. '23): quantize the corpus with the caller's centroid
    * table, compare embeddings only WITHIN each cluster
    * ([[Similarity.clusterCosinePairs]]), connect the ≥`threshold` pairs,
    * keep each component's minimum id. Differs from
    * [[dedupCorpusSemantic]] in the candidate bound: learned clusters
    * (Σ|cluster|² pair work, misses cross-cluster pairs — the paper's
    * accepted trade) instead of random-hyperplane sign buckets. With a
    * deterministic quantizer ([[Ivf.seedCentroids]]) the whole result is
    * value-oracle-checkable; with [[Ivf.train]] it is the production
    * path. Cache lifecycle mirrors [[dedupCorpusExact]]: only the drop
    * set stays checkpointed to feed the returned anti-join.
    */
  def dedupCorpusSemanticClustered(emb: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, threshold: Double, clusterCap: Long = 100000L,
      maxIter: Int = 20): DataFrame = {
    val pairs = Similarity.clusterCosinePairs(emb, idCol, vecCol, cents, threshold, clusterCap)
    dropNonCanonical(emb, idCol, pairs, quality = None, maxIter)
  }

  /** Incremental dedup: a NEW batch of documents against an EXISTING
    * (already-deduped) corpus — the daily-ingest shape of a training-data
    * pipeline. The corpus becomes an UNPERSISTED band index — its
    * `hashes`, `shingles` and `bands` in the ingest schema, derived from
    * `corpus` and pinned for the call — and the batch is classified by
    * the same [[probeNear]] that probes a persisted one
    * ([[probeIngestIndex]], [[incrementalDedupIndexed]]), so the live and
    * persisted paths agree by construction. The corpus is only ever
    * *probed*, never self-joined: one signature/banding pass per call
    * (persist it with [[writeBandIndex]] to pay it once), and the pair
    * work is bounded by |batch| × bucket-mates — never corpus².
    *
    * Decision per batch doc, in precedence order:
    *   1. `exact_dup`  — content hash already present in the corpus;
    *   2. `near_dup`   — shares an LSH band bucket with ≥1 corpus doc AND
    *      exact n-gram Jaccard ≥ `threshold` (verification is exact, so
    *      every emitted match is a true near-duplicate);
    *   3. `new`        — survives both gates.
    *
    * Returns one row per batch doc: (idCol, status, dup_of) where
    * `dup_of` is the smallest matching corpus id (null for `new`). The
    * result is EAGER — materialized and cached before the corpus shingle
    * cache is released (`unpersist()` it when done). Intra-batch
    * duplicates are NOT resolved here — compose with [[exact]] /
    * [[lshCandidates]] over the batch alone for that; keeping the
    * operator batch→corpus keeps its cost profile linear in the batch.
    * Hot buckets star-degrade to the bucket's min corpus id ([[probeNear]]).
    */
  def incrementalDedup(
      corpus: DataFrame, batch: DataFrame, idCol: String, text: Column,
      n: Int, numPerm: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket,
      batchBroadcastCap: Long = BatchBroadcastCap): DataFrame = {
    require(bands * rowsPerBand == numPerm,
      s"bands ($bands) × rowsPerBand ($rowsPerBand) must equal numPerm ($numPerm) — " +
        "anything else silently drops signature permutations from banding")
    // the shingles feed the bands AND the verify scan; the bands feed the
    // occupancy AND the candidate scans — pin each, so the corpus is
    // tokenized and MinHashed once per call
    val sh = shingleTable(corpus, idCol, text, n).persist()
    try probeNear(hashRows(corpus, idCol, text), sh,
      bandRows(sh, numPerm, bands, rowsPerBand).localCheckpoint(), None,
      n, numPerm, bands, rowsPerBand, batch, idCol, text, threshold, maxBucket, batchBroadcastCap)
    finally sh.unpersist()
  }

  /** Incremental SEMANTIC dedup: a new batch of embeddings against an
    * EXISTING (already-deduped) embedding corpus — the embedding twin of
    * [[incrementalDedup]]: the corpus becomes an UNPERSISTED vec index
    * (`hashes` and bucketed `vecs` in the vec-ingest schema, derived from
    * `corpus`), classified by the same [[probeSemantic]] that probes a
    * persisted one ([[probeVecIngestIndex]], [[incrementalSemanticIndexed]]).
    *
    * Decision per batch vector, precedence:
    *   1. `exact_dup` — a corpus vector with identical contents exists.
    *      Detected by `xxhash64` equi-join, then verified by array
    *      equality against the min-id representative of the hash group (a
    *      64-bit collision can thus theoretically hide a true exact match
    *      behind an unequal representative — vanishingly unlikely and the
    *      pair still falls through to the cosine gate);
    *   2. `near_dup`  — shares the LSH sign-bucket with ≥1 corpus vector
    *      AND exact cosine ≥ `threshold` (every emitted match is
    *      verified; recall is the LSH bucket-collision probability —
    *      gated by the planted-neighbor probe family);
    *   3. `new`.
    *
    * Returns one eager cached row per batch id: (idCol, status, dup_of) —
    * `unpersist()` when done.
    */
  def incrementalSemanticDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, threshold: Double, numPlanes: Int, dim: Int,
      maxBucket: Int = DefaultMaxBucket,
      batchBroadcastCap: Long = BatchBroadcastCap): DataFrame = {
    val planes = Similarity.hyperplanes(numPlanes, dim)
    // the bucketed vectors feed the occupancy AND the candidate scans
    val vecs = vecRows(corpus, idCol, vecCol, planes).localCheckpoint()
    probeSemantic(vecHashRows(corpus, idCol, vecCol), vecs, None, planes, dim,
      batch, idCol, vecCol, threshold, maxBucket, batchBroadcastCap)
  }

  /** Bloom-pruned incremental EXACT dedup: classify a new batch against an
    * existing corpus without joining the whole batch — the daily-ingest
    * shape where the batch is overwhelmingly NEW content and an equi-join
    * of every batch row against the corpus hash index wastes a shuffle on
    * rows that match nothing.
    *
    *   1. Build a [[org.apache.spark.util.sketch.BloomFilter]] over
    *      `xxhash64` content keys of the corpus (distributed tree-
    *      aggregate; the finished sketch lives on the driver and ships to
    *      executors once per task — `-n·ln(fpp)/ln²2` bits ≈ 1.2 GiB for
    *      10⁹ items at 1% fpp, so size `expectedItems` to the corpus and
    *      keep an eye on driver memory). This variant rebuilds both
    *      corpus artifacts per call — the one-shot shape; a standing
    *      daily ingest should [[writeHashIndex]] once and classify each
    *      batch with [[incrementalExactIndexed]] +
    *      [[appendToHashIndex]], paying no corpus scan per batch.
    *   2. Bloom-NEGATIVE batch rows are certainly new (no false
    *      negatives) — they bypass the join entirely, costing one codegen'd
    *      [[graft.functions.BloomMightContain]] probe per row.
    *   3. Bloom-POSITIVE rows (true matches + fpp·|new|) verify against
    *      the corpus sha256 hash index with the usual equi-join, so the
    *      final classification is EXACT — the sketch only prunes.
    *
    * Returns one eager cached row per batch doc: (idCol, status ∈
    * {exact_dup, new}, dup_of = min matching corpus id or null) —
    * `unpersist()` when done. Compose with [[incrementalDedup]] when the
    * near-dup gate is also needed.
    */
  def incrementalExactBloom(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    // one corpus pass feeds both the sketch and the verify index
    val corpusHashes = hashRows(corpus, idCol, col(textCol)).persist()
    val keyed = batch.select(col(idCol).as("id"),
      sha2(tagged(col(textCol)), 256).as("__h"))
    // try/finally: a throw from the sketch build, the verify join, or the
    // eager count must not leak the cached corpus hash index
    try {
      if (corpusHashes.isEmpty) { // stat.bloomFilter NPEs on zero rows
        val result = keyed.select(col("id").as(idCol), lit("new").as("status"),
          lit(null).cast(corpus.schema(idCol).dataType).as("dup_of")).persist()
        result.count()
        return result
      }
      val bf = corpusHashes.select(xxhash64(col("__h")).as("__k"))
        .stat.bloomFilter("__k", expectedItems, fpp)
      classifyExactWithBloom(corpusHashes, bf, keyed, idCol,
        corpus.schema(idCol).dataType)
    } finally corpusHashes.unpersist()
  }

  /** The shared verify-join core of the Bloom-pruned exact classifiers:
    * Bloom-negative rows bypass the hash-index join entirely (certainly
    * new — the sketch has no false negatives); positives verify against
    * the sha256 index so the classification stays exact. `keyed` must be
    * (id, __h); `hashes` must be (__h, __exact_of).
    */
  private def classifyExactWithBloom(
      hashes: DataFrame, bf: org.apache.spark.util.sketch.BloomFilter,
      keyed: DataFrame, idCol: String,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val positive = keyed
      .filter(graft.functions.BloomFunctions.mightContain(xxhash64(col("__h")), bf))
      .join(hashes, Seq("__h"), "left")
    val negative = keyed
      .filter(!graft.functions.BloomFunctions.mightContain(xxhash64(col("__h")), bf))
      .withColumn("__exact_of", lit(null).cast(idType))
    val result = positive.unionByName(negative)
      .select(col("id").as(idCol),
        when(col("__exact_of").isNotNull, "exact_dup").otherwise("new").as("status"),
        col("__exact_of").as("dup_of"))
      .persist()
    result.count()
    result
  }

  // — persisted incremental-dedup state ———————————————————————————————————
  //   [[incrementalExactBloom]]'s scaladoc admits the per-batch rebuild:
  //   every call pays one full corpus scan for the hash index plus one
  //   for the sketch. A daily 100-TB ingest must pay that ONCE — the
  //   index persists alongside the corpus (the deployment shape
  //   [[Ivf.writeIndex]] already has for ANN lists) and each batch costs
  //   only |batch| probe work plus a parquet scan of the compact
  //   (64-char hash, id) index on the verify join.

  /** A loaded persistent exact-dedup index: the sha256→min-id hash table
    * (parquet-backed — executors scan it, the driver never holds it) and
    * the driver-resident Bloom sketch over `xxhash64` of the hashes.
    * `expectedItems`/`fpp` are the sketch's creation parameters, kept so
    * [[appendToHashIndex]] can build mergeable (bit-compatible) deltas.
    */
  final case class HashIndex(
      hashes: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long,
      fpp: Double)

  private[graft] def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Write a small text file ATOMICALLY-ish: content lands whole in
    * `<path>.__tmp` first and swaps in via rename. A crash mid-write can never
    * leave a TRUNCATED destination (truncated JSON loses the fields a
    * reader needs). Worst case (crash inside the delete→rename window)
    * leaves the file MISSING, which every reader treats as "incomplete":
    * it fails loud with rebuild guidance.
    */
  private[graft] def writeTextFile(spark: org.apache.spark.sql.SparkSession, path: String,
      content: String): Unit = {
    val (fs, p) = hadoopFs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"text-file swap $tmp -> $p failed")
  }

  private[graft] def readTextFile(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val (fs, p) = hadoopFs(spark, path)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val arr = new Array[Byte](8192)
      var r = in.read(arr)
      while (r >= 0) { buf.write(arr, 0, r); r = in.read(arr) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** An "empty" sketch that stays BIT-COMPATIBLE with the data-built ones:
    * `BloomFilter.create(n, fpp)` and `DataFrame.stat.bloomFilter(_, n,
    * fpp)` can disagree on the bit count for large `n` (the SQL aggregate
    * caps its bits), and `mergeInPlace` refuses mismatched sizes — so
    * every sketch that might later merge is built through the SAME stat
    * path, seeded with one sentinel key (an fpp epsilon: a real key
    * colliding with it just probes and verify-fails, like any false
    * positive).
    */
  private[graft] def emptyBloom(spark: org.apache.spark.sql.SparkSession,
      expectedItems: Long, fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    spark.range(1).select(xxhash64(lit("__graft_empty_bloom")).as("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)

  /** The sketch over `key` of `df`'s rows ([[emptyBloom]] when there are
    * none: `stat.bloomFilter` NPEs on zero rows).
    */
  private[graft] def bloomOf(df: DataFrame, key: Column, expectedItems: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    if (df.isEmpty) emptyBloom(df.sparkSession, expectedItems, fpp)
    else df.select(key.as("__k")).stat.bloomFilter("__k", expectedItems, fpp)

  private[graft] def writeBloomFile(spark: org.apache.spark.sql.SparkSession, path: String,
      bf: org.apache.spark.util.sketch.BloomFilter, expectedItems: Long, fpp: Double): Unit = {
    val (fs, p) = hadoopFs(spark, path)
    val out = fs.create(p, true)
    // header carries the creation params (they are not recoverable from
    // the serialized bits) so append-time deltas stay bit-compatible
    try {
      val dos = new java.io.DataOutputStream(out)
      dos.writeLong(expectedItems)
      dos.writeDouble(fpp)
      bf.writeTo(dos)
      dos.flush()
    } finally out.close()
  }

  /** Persist the corpus-side state of [[incrementalExactBloom]] as an
    * [[IndexStore]] version: the `hashes` table (`__h` sha256 hex,
    * `__exact_of` min corpus id), the sketch, and its creation params as
    * `expectedItems`/`fpp`. One corpus scan; the sketch is built from the
    * written table, so the two can never disagree about membership.
    */
  def writeHashIndex(corpus: DataFrame, idCol: String, textCol: String, path: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    val spark = corpus.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    val hashes = IndexStore.writeTable(path, "hashes", v, hashRows(corpus, idCol, col(textCol)))
    val bf = bloomOf(IndexStore.read(spark, path, "hashes", Seq(hashes)),
      xxhash64(col("__h")), expectedItems, fpp)
    IndexStore.commit(spark, path, IndexStore.Manifest(v,
      Map("expectedItems" -> expectedItems, "fpp" -> fpp), Map("hashes" -> Seq(hashes)),
      IndexStore.writeSketch(spark, path, v, bf, expectedItems, fpp)))
  }

  /** Load the committed version of a persisted index. The hash table is a
    * lazy parquet frame; only the sketch (sized by `expectedItems` at
    * write time) is driver-held.
    */
  def readHashIndex(spark: org.apache.spark.sql.SparkSession, path: String): HashIndex =
    readHashIndex(spark, path, IndexStore.latest(spark, path))

  private def readHashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest): HashIndex = {
    val (bf, _, _) = IndexStore.readSketch(spark, path, m)
    HashIndex(IndexStore.read(spark, path, m, "hashes"), bf, m.long("expectedItems"), m.double("fpp"))
  }

  /** Read a sketch file written by [[writeBloomFile]]: the header's
    * creation params ride back so later deltas stay bit-compatible
    * (`mergeInPlace` refuses mismatched sizes).
    */
  private[graft] def readBloomFile(spark: org.apache.spark.sql.SparkSession,
      file: String): (org.apache.spark.util.sketch.BloomFilter, Long, Double) = {
    val (fs, p) = hadoopFs(spark, file)
    val in = fs.open(p)
    try {
      val dis = new java.io.DataInputStream(in)
      val items = dis.readLong()
      val fpp = dis.readDouble()
      (org.apache.spark.util.sketch.BloomFilter.readFrom(dis), items, fpp)
    } finally in.close()
  }

  /** [[incrementalExactBloom]] against a persisted [[HashIndex]]: same
    * exact classification, but the corpus is never scanned — per-batch
    * cost drops to the Bloom probe per row plus the verify join of the
    * (pruned) positives against the compact on-disk hash table. Returns
    * the same eager cached (idCol, status, dup_of) frame.
    */
  def incrementalExactIndexed(index: HashIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val idType = index.hashes.schema("__exact_of").dataType
    val keyed = batch.select(col(idCol).as("id"),
      sha2(tagged(col(textCol)), 256).as("__h"))
    classifyExactWithBloom(index.hashes, index.bloom, keyed, idCol, idType)
  }

  /** Fold a batch's accepted documents into a persisted index without
    * rebuilding it: new hash rows are anti-joined against the existing
    * table (idempotent re-ingest; intra-batch duplicates elect min id),
    * and their keys merge into the sketch with a bit-compatible delta.
    * The new dir and sketch commit as one [[IndexStore]] version; a batch
    * with nothing new commits nothing. The sketch saturates past
    * `expectedItems` total inserts (fpp degrades, correctness doesn't —
    * positives always verify); rewrite with [[writeHashIndex]] when the
    * corpus outgrows it. Folds once the table holds `autoCompactAt` part
    * files ([[compactHashIndex]]; 0 disables).
    */
  def appendToHashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      autoCompactAt: Int = AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val index = readHashIndex(spark, path, m)
    val fresh = hashRows(newDocs, idCol, col(textCol))
      .join(index.hashes, Seq("__h"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return
    commitAppend(spark, path, m, index.bloom, fresh, xxhash64(col("__h")), "hashes",
      autoCompactAt)(compactHashIndex(spark, path, _))
  }

  // — persisted PARAGRAPH index (FineWeb incremental deployment shape) —————
  //   [[paragraphDedup]] is corpus-wide: every call pays the full corpus
  //   explode + election. The deployment shape FineWeb actually runs is
  //   incremental — today's crawl batch dedups paragraph-by-paragraph
  //   against everything already ingested, and the corpus side must cost
  //   a COLUMN SCAN of a compact digest index, never a corpus re-explode
  //   (let alone corpus²). The paragraph index is the sub-document twin of
  //   [[writeHashIndex]]: one (sha256 → min corpus id) row per DISTINCT
  //   corpus paragraph, plus the Bloom sketch that lets the common case
  //   (a genuinely new paragraph) skip the verify join entirely.

  /** A loaded persistent paragraph index: the digest→min-corpus-id table
    * (parquet-backed, executor-scanned) and the driver-resident Bloom
    * sketch over `xxhash64` of the digests. `sep` rides in the manifest so
    * a batch can never silently split on a different separator than the
    * corpus was indexed with.
    */
  final case class ParagraphIndex(
      paras: DataFrame, // (__h sha256 of paragraph, __para_of min corpus id)
      bloom: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long, fpp: Double, sep: String)

  /** One corpus paragraph row per (id, pos): explode on `sep`, drop
    * blank-after-trim paragraphs — the EXACT same grain as
    * [[paragraphDedup]], shared so the live and indexed paths can never
    * disagree about what a paragraph is.
    */
  private def paragraphTable(docs: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    docs.withColumn(idCol, idNotNull(idCol))
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "__pos", "__para")
      .filter(length(trim(col("__para"))) > 0)

  /** Persist the corpus-side state of incremental paragraph dedup as an
    * [[IndexStore]] version: the `paras` table (`__h` sha256 of the
    * paragraph body, `__para_of` min corpus id), its sketch, and `sep`,
    * `expectedItems` and `fpp` in the manifest.
    *
    * 100-TB plan shape: one corpus explode, then `groupBy(digest).agg(min
    * (id))` — MAP-SIDE combine collapses a boilerplate paragraph repeated
    * 10⁸ times to one row per input partition before the shuffle (same
    * skew armor as [[paragraphDedup]]'s election); the sketch builds from
    * the PERSISTED table (a compact re-read, not a second corpus pass) so
    * the two artifacts can never disagree about membership.
    */
  def writeParagraphIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, expectedItems: Long, fpp: Double = 0.01,
      sep: String = "\n"): Unit = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    val spark = corpus.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    val paras = IndexStore.writeTable(path, "paras", v, paragraphTable(corpus, idCol, textCol, sep)
      .select(sha2(col("__para"), 256).as("__h"), col(idCol).as("__cid"))
      .groupBy(col("__h")).agg(min(col("__cid")).as("__para_of")))
    val bf = bloomOf(IndexStore.read(spark, path, "paras", Seq(paras)),
      xxhash64(col("__h")), expectedItems, fpp)
    IndexStore.commit(spark, path, IndexStore.Manifest(v,
      Map("sep" -> sep, "expectedItems" -> expectedItems, "fpp" -> fpp),
      Map("paras" -> Seq(paras)), IndexStore.writeSketch(spark, path, v, bf, expectedItems, fpp)))
  }

  /** Load the committed paragraph index. The digest table is a lazy
    * parquet frame; only the sketch is driver-held.
    */
  def readParagraphIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): ParagraphIndex =
    readParagraphIndex(spark, path, IndexStore.latest(spark, path))

  private def readParagraphIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest): ParagraphIndex =
    ParagraphIndex(IndexStore.read(spark, path, m, "paras"),
      IndexStore.readSketch(spark, path, m)._1, m.long("expectedItems"), m.double("fpp"),
      m.string("sep"))

  /** [[paragraphDedup]] against a persisted [[ParagraphIndex]] — the
    * incremental contract of the whole index family: a batch paragraph
    * whose content already exists ANYWHERE in the indexed corpus is cut
    * (arrival order wins — the corpus was there first); among the batch's
    * own paragraphs, the min `(id, pos)` occurrence survives (the same
    * election [[paragraphDedup]] runs corpus-wide). Documents left with
    * zero surviving paragraphs drop out; survivors reassemble in original
    * order. Returns (idCol, textCol).
    *
    * Per-batch cost at 100 TB: batch explode + batch-keyed election (map-
    * side combined), a Bloom probe per distinct batch paragraph, and ONE
    * verify join of the sketch-positive digests against the compact
    * on-disk table — the corpus is never re-exploded, never self-joined,
    * and certainly-new paragraphs (the overwhelming majority of a crawl)
    * cost zero index I/O beyond the scan the positives share.
    */
  def incrementalParagraphIndexed(index: ParagraphIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val paras = paragraphTable(batch, idCol, textCol, index.sep)
      .localCheckpoint() // pin: feeds election, survivor join AND reassembly
    val keyed = paras.select(sha2(col("__para"), 256).as("__h"), col(idCol), col("__pos"))
    // in-batch election (map-side combine collapses hot digests pre-shuffle).
    // Pinned: both Bloom branches below consume it, and WITHOUT the pin
    // Catalyst pushes each branch's sketch filter below the aggregate
    // (the filter is on the group key), splitting the exchange into two
    // subtrees that each re-scan the batch and re-run the election —
    // verified by the PlanSpec listener sweep, which pins the partial
    // election to exactly ONE executed aggregate. The pinned frame is
    // batch-distinct-paragraph-sized, bounded by the batch contract.
    val batchWin = keyed
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__slot"))
      .localCheckpoint()
    // corpus check: Bloom-negative winners are certainly new (no false
    // negatives) and bypass the verify join; positives verify against the
    // digest table so the classification stays exact
    val positive = batchWin
      .filter(graft.functions.BloomFunctions.mightContain(xxhash64(col("__h")), index.bloom))
      .join(index.paras.select(col("__h"), col("__para_of")), Seq("__h"), "left")
      .filter(col("__para_of").isNull).drop("__para_of")
    val negative = batchWin
      .filter(!graft.functions.BloomFunctions.mightContain(xxhash64(col("__h")), index.bloom))
    val surv = positive.unionByName(negative)
      .select(col("__slot")(idCol).as(idCol), col("__slot")("__pos").as("__pos"))
    paras.join(surv, Seq(idCol, "__pos"), "left_semi")
      .groupBy(col(idCol))
      .agg(concat_ws(index.sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          s => s.getField("__para"))).as(textCol))
  }

  /** Fold a batch's ACCEPTED documents' paragraphs into a persisted
    * paragraph index without rebuilding it — the [[appendToHashIndex]]
    * twin: new digest rows anti-join the existing table (idempotent
    * re-ingest; intra-batch duplicates elect min id), their keys merge
    * into the sketch via a bit-compatible delta, and the new dir and
    * sketch commit as one version (a batch with nothing new commits
    * nothing). The sketch saturates past `expectedItems` total inserts
    * (fpp degrades, correctness doesn't — positives always verify);
    * rewrite with [[writeParagraphIndex]] when the corpus outgrows it.
    */
  def appendToParagraphIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      autoCompactAt: Int = AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val index = readParagraphIndex(spark, path, m)
    val fresh = paragraphTable(newDocs, idCol, textCol, index.sep)
      .select(sha2(col("__para"), 256).as("__h"), col(idCol).as("__cid"))
      .groupBy(col("__h")).agg(min(col("__cid")).as("__para_of"))
      .join(index.paras, Seq("__h"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return
    commitAppend(spark, path, m, index.bloom, fresh, xxhash64(col("__h")), "paras",
      autoCompactAt)(compactParagraphIndex(spark, path, _))
  }

  /** The shared tail of the sketched single-table appends: merge the
    * `fresh` rows' keys into `bloom`, write them as `table`'s next dir
    * and commit both as the next version; then fold the table once it
    * holds `autoCompactAt` part files.
    */
  private def commitAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, bloom: org.apache.spark.util.sketch.BloomFilter,
      fresh: DataFrame, key: Column, table: String, autoCompactAt: Int)(
      compact: Int => Unit): Unit = {
    val (items, fpp) = (m.long("expectedItems"), m.double("fpp"))
    bloom.mergeInPlace(bloomOf(fresh, key, items, fpp))
    val v = m.version + 1
    val dir = IndexStore.writeTable(path, table, v, fresh)
    val next = IndexStore.commit(spark, path, m.copy(version = v,
      tables = m.tables.updated(table, m.tables(table) :+ dir),
      sketch = IndexStore.writeSketch(spark, path, v, bloom, items, fpp)))
    autoCompactTarget(spark, path, next, Seq(table), autoCompactAt).foreach(compact)
  }

  // — persisted SPAN index (Lee '21 exact-substring incremental shape) —————
  //   [[substringDedup]] is corpus-wide: every call re-windows the whole
  //   corpus. The deployment shape is incremental — today's batch cuts
  //   any k-token span that already exists ANYWHERE in the ingested
  //   corpus (the corpus was there first), and among its own windows runs
  //   the same min-(id, pos) election the live operator runs. The index
  //   is the sub-document twin of [[writeHashIndex]] at the window grain:
  //   one (sha256 → min corpus id) row per DISTINCT corpus window plus
  //   the Bloom sketch that lets a certainly-new window (the crawl
  //   common case) skip the verify join entirely. The window table is
  //   corpus-token-scale — that is inherent to the Lee '21 grain (their
  //   suffix array is the same order); the sketch and the digest-keyed
  //   layout keep the per-batch cost at batch explode + column scans.

  /** A loaded persistent span index. `k` rides in the manifest so a
    * batch can never window at a different grain than the corpus was
    * indexed with.
    */
  final case class SpanIndex(
      spans: DataFrame, // (__h sha256 of k-token window, __span_of min corpus id)
      bloom: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long, fpp: Double, k: Int)

  /** Persist the corpus-side state of incremental substring dedup as an
    * [[IndexStore]] version: the `spans` table, its sketch, and `k`,
    * `expectedItems` and `fpp` in the manifest. One corpus explode,
    * map-side-combined digest election; the sketch builds from the
    * PERSISTED table so the artifacts can never disagree.
    */
  def writeSpanIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, expectedItems: Long, fpp: Double = 0.01, k: Int = 8): Unit = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    val spark = corpus.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    val spans = IndexStore.writeTable(path, "spans", v,
      spanWindows(spanBase(corpus, idCol, textCol), idCol, k)
        .groupBy(col("__h")).agg(min(col(idCol)).as("__span_of")))
    val bf = bloomOf(IndexStore.read(spark, path, "spans", Seq(spans)),
      xxhash64(col("__h")), expectedItems, fpp)
    IndexStore.commit(spark, path, IndexStore.Manifest(v,
      Map("k" -> k, "expectedItems" -> expectedItems, "fpp" -> fpp),
      Map("spans" -> Seq(spans)), IndexStore.writeSketch(spark, path, v, bf, expectedItems, fpp)))
  }

  /** Load the committed span index. */
  def readSpanIndex(spark: org.apache.spark.sql.SparkSession, path: String): SpanIndex =
    readSpanIndex(spark, path, IndexStore.latest(spark, path))

  private def readSpanIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest): SpanIndex =
    SpanIndex(IndexStore.read(spark, path, m, "spans"), IndexStore.readSketch(spark, path, m)._1,
      m.long("expectedItems"), m.double("fpp"), m.long("k").toInt)

  /** [[substringDedup]] against a persisted [[SpanIndex]] — the
    * incremental contract at the window grain: a batch window whose
    * content exists ANYWHERE in the indexed corpus loses (the corpus was
    * there first); among the batch's own windows the min (id, pos)
    * occurrence survives (the same election [[substringDedup]] runs
    * corpus-wide). Tokens covered by losing windows are cut; fully
    * covered documents drop; survivors reassemble through the SAME
    * [[cutSpanLosers]] the live operator uses. Returns (idCol, textCol).
    *
    * Per-batch cost at 100 TB: batch explode + batch-keyed election
    * (map-side combined), a Bloom probe per distinct batch window, ONE
    * verify join of the sketch positives against the compact on-disk
    * digest table — the corpus is never re-windowed, never self-joined.
    */
  def incrementalSubstringIndexed(index: SpanIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val base = spanBase(batch, idCol, textCol)
      .localCheckpoint() // pin: feeds the window explode AND the reassembly
    val wins = spanWindows(base, idCol, index.k)
      .localCheckpoint() // pin: feeds the election AND the loser anti-join
    // in-batch election, pinned — the x94 lesson: unpinned, Catalyst
    // pushes each Bloom branch's sketch filter below the aggregate and
    // re-runs the election per branch (PlanSpec pins the paragraph twin
    // to ONE executed aggregate; this path rides the same shape)
    val batchWin = wins
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__wpos"))).as("__slot"))
      .localCheckpoint()
    val positive = batchWin
      .filter(graft.functions.BloomFunctions.mightContain(xxhash64(col("__h")), index.bloom))
      .join(index.spans.select(col("__h"), col("__span_of")), Seq("__h"), "left")
      .filter(col("__span_of").isNull).drop("__span_of")
    val negative = batchWin
      .filter(!graft.functions.BloomFunctions.mightContain(xxhash64(col("__h")), index.bloom))
    val winners = positive.unionByName(negative)
      .select(col("__slot")(idCol).as(idCol), col("__slot")("__wpos").as("__wpos"))
    cutSpanLosers(base, spanLoserLists(wins, winners, idCol), idCol, textCol, index.k)
  }

  /** Fold a batch's accepted documents' windows into a persisted span
    * index without rebuilding it — the [[appendToHashIndex]] twin at the
    * window grain: new digest rows anti-join the existing table
    * (idempotent re-ingest; intra-batch duplicates elect min id), and the
    * new dir and merged sketch commit as one version. Pass the documents'
    * FINAL (post-cut) text — indexing spans the batch itself just cut
    * would resurrect them as corpus content.
    */
  def appendToSpanIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      autoCompactAt: Int = AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val index = readSpanIndex(spark, path, m)
    val fresh = spanWindows(spanBase(newDocs, idCol, textCol), idCol, index.k)
      .groupBy(col("__h")).agg(min(col(idCol)).as("__span_of"))
      .join(index.spans, Seq("__h"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return
    commitAppend(spark, path, m, index.bloom, fresh, xxhash64(col("__h")), "spans",
      autoCompactAt)(compactSpanIndex(spark, path, _))
  }

  /** [[compactIndexTables]] over [[writeSpanIndex]]'s layout. */
  def compactSpanIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 1): Unit =
    compactIndexTables(spark, path, Seq("spans"), targetFiles)

  // — batch-index COMPACTION (small-file maintenance for the append
  //   deltas) ———————————————————————————————————————————————————————————
  //   Every batch append commits one more write dir per table: months of
  //   daily appends reproduce the small-file swamp. A compaction rewrites
  //   tables into few files and commits them as one [[IndexStore]]
  //   version naming only the rewritten dirs; a crash before that commit
  //   leaves the previous version current. (The band and vec indexes fold
  //   into their `__ingest=-1` base instead: [[compactIngestIndex]].)

  /** Default part-file trigger for append-side auto-compaction: every
    * batch append adds ~one shuffle's worth of part files, so the
    * threshold is in FILES, not appends — 256 keeps a busy daily-ingest
    * index from degrading into a many-thousand-file scan swamp while
    * folding rarely enough that the fold cost (one table rewrite) stays
    * amortized. Pass `autoCompactAt = 0` on any append to disable.
    */
  val AutoCompactDefault = 256

  /** The shared auto-compaction trigger (r11 verdict task #6: deltas
    * accumulated until someone remembered to call `compact*Index`): over
    * the (part files, bytes) the manifest `m` records for `tables`, once
    * the largest file count reaches `at` (0 disables), the file count to
    * fold to — the largest table's bytes over
    * `spark.sql.files.maxPartitionBytes`, so a 100-TB-scale index folds
    * to scan-parallel files. Logged on stderr.
    */
  private[graft] def autoCompactTarget(spark: org.apache.spark.sql.SparkSession,
      path: String, m: IndexStore.Manifest, tables: Seq[String], at: Int): Option[Int] = {
    val maxFiles = tables.map(m.files).max
    if (at <= 0 || maxFiles < at) None
    else {
      val target = foldFiles(spark, tables.map(m.bytes).max)
      System.err.println(
        s"""{"index_auto_compact":${"\"" + path + "\""},"part_files":$maxFiles,"trigger":$at,"target_files":$target}""")
      Some(target)
    }
  }

  /** Rewrite `tables` of the committed index at `path` into `targetFiles`
    * parquet parts each and commit them as a new [[IndexStore]] version
    * naming only the rewritten dirs (other tables, the sketch and the
    * metadata stay as they are). Row content is identical, so
    * classification cannot shift.
    */
  private[graft] def compactIndexTables(spark: org.apache.spark.sql.SparkSession, path: String,
      tables: Seq[String], targetFiles: Int): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val m = IndexStore.latest(spark, path)
    val v = m.version + 1
    IndexStore.commit(spark, path, m.copy(version = v, tables = m.tables ++ tables.map(t =>
      t -> Seq(IndexStore.writeTable(path, t, v,
        IndexStore.read(spark, path, m, t).coalesce(targetFiles))))))
  }

  /** [[compactIndexTables]] over [[writeHashIndex]]'s layout. */
  def compactHashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 1): Unit =
    compactIndexTables(spark, path, Seq("hashes"), targetFiles)

  /** [[compactIndexTables]] over [[writeParagraphIndex]]'s layout. */
  def compactParagraphIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 1): Unit =
    compactIndexTables(spark, path, Seq("paras"), targetFiles)

  // — duplication-aware SOFT dedup —————————————————————————————————————————

  /** Per-document duplication weights: near-dup cluster size `k` and
    * sampling weight `round4(1/k)`. Hard dedup (keep-first) discards
    * every non-canonical cluster member — and with them the
    * intra-cluster variation (edits, formatting variants, quote
    * contexts) that still carries signal; the soft alternative keeps
    * EVERY member at `1/k` sampling weight, so each cluster contributes
    * one EXPECTED document while the surviving choice varies across the
    * corpus instead of always electing the min id. The pair stage here
    * is the exact n-gram arm (value-oracled); swap in [[lshCandidates]]
    * for the 100-TB path — the component labeling and weighting
    * downstream are pair-stage-agnostic. Returns
    * (idCol, cluster_size, weight) for every input document
    * (singletons: k = 1, weight 1.0).
    */
  def duplicationWeights(docs: DataFrame, idCol: String, text: Column, n: Int,
      threshold: Double): DataFrame =
    weightsFromPairs(docs, idCol,
      ngramJaccardPairs(docs, idCol, text, n, threshold))

  /** [[duplicationWeights]] with the MINHASH+LSH pair stage — the 100-TB
    * arm (the [[dedupCorpusLsh]] relationship, applied to soft dedup):
    * candidates come from banded signature buckets (hot buckets
    * star-degrade, never drop), every candidate verifies with EXACT
    * Jaccard over full shingle sets, and the component/weight tail is
    * byte-identical to the exact arm — the only semantic difference is
    * pair RECALL (1-(1-j^rowsPerBand)^bands; identical documents always
    * collide, so planted-copy clusters weight identically to the exact
    * arm). One persisted shingle table feeds both the signatures and the
    * verification.
    */
  def duplicationWeightsLsh(docs: DataFrame, idCol: String, text: Column, n: Int,
      numPerm: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bands * rowsPerBand <= numPerm,
      s"bands*rowsPerBand = ${bands * rowsPerBand} exceeds numPerm = $numPerm")
    val sh = shingleTable(docs, idCol, text, n).persist()
    sh.count() // eager: feeds signatures AND verification
    val sig = minhashFromShingles(sh, numPerm)
    val cand = lshCandidates(sig, "id", bands, rowsPerBand, maxBucket)
    val result = weightsFromPairs(docs, idCol, jaccardFromShingles(sh, cand, threshold))
    sh.unpersist() // the label set is checkpointed — shingles no longer needed
    result
  }

  /** Shared tail of both weight arms: pairs → [[components]] → cluster
    * size → `round4(1/k)` weight, singletons at k = 1 / weight 1.
    */
  private def weightsFromPairs(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val p = pairs.localCheckpoint()
    val labels = components(p)
    val lab = labels.join(
        labels.groupBy(col("comp")).agg(count(lit(1)).as("__k")), Seq("comp"))
      .select(col("id").as(idCol), col("__k"))
      .localCheckpoint() // pin before the pair/label checkpoints go unreferenced
    docs.select(col(idCol))
      .join(lab, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__k"), lit(1L)).as("cluster_size"),
        graft.Canonical.round4(lit(1.0) / coalesce(col("__k"), lit(1L))).as("weight"))
  }

  /** The portable per-document coin of the soft arm: keep iff
    * `slot(id) · k < 10000`, where `slot` is the
    * [[Sampling.mixturePortable]] fingerprint coin — an EXACT integer
    * comparison realizing probability `⌈10000/k⌉/10000 ≈ 1/k` with no
    * per-row rate quantization, replayable in any engine.
    */
  def softDedupKeep(id: Column, clusterSize: Column): Column =
    pmod(pmod(graft.functions.TextFunctions.fingerprint(
      concat(lit("softdedup:"), id.cast("string"))), lit(100000L))
      * lit(2654435761L), lit(10000L)) * clusterSize < lit(10000L)

  /** Soft-dedup sampled corpus: the documents whose coin keeps them —
    * one expected survivor per near-dup cluster, position-uniform rather
    * than min-id-biased. Semi-join on the unskewed id, so a mass-dup
    * cluster's bodies never converge on one reducer.
    */
  def softDedupSample(docs: DataFrame, idCol: String, text: Column, n: Int,
      threshold: Double): DataFrame = {
    val kept = duplicationWeights(docs, idCol, text, n, threshold)
      .filter(softDedupKeep(col(idCol), col("cluster_size")))
      .select(col(idCol))
    docs.join(kept, Seq(idCol), "left_semi")
  }

  // — the BAND index: persisted near-dup state, batch and streaming ————————
  //   One layout serves the batch daily-ingest API ([[writeBandIndex]],
  //   [[appendToBandIndex]], [[incrementalDedupIndexed]]) and the
  //   exactly-once streaming sink ([[initIngestIndex]],
  //   [[appendToIngestIndex]], [[probeIngestIndex]]), and
  //   [[incrementalDedup]] probes the same tables derived, unpersisted,
  //   from a live corpus. The index persists the corpus content hashes,
  //   shingle table and banded signatures, so a batch classifies with
  //   batch-sized compute plus column scans of the compact index tables
  //   instead of a corpus tokenize + shingle + MinHash per batch.
  //
  //   1. BATCH PROVENANCE. Each append commits one [[IndexStore]] version
  //      whose write dirs hold the batch's rows under an
  //      `__ingest=<batchId>` partition, and the manifest records which
  //      batch each write dir holds (a batch-API append is the batch whose
  //      id is its version). So (a) a replayed append replaces the dirs
  //      its earlier attempt committed, and (b) a probe can EXCLUDE the
  //      current batch id, so a stream replay that crashed after its index
  //      append still classifies against exactly the pre-append corpus and
  //      reproduces the original decision. Without the exclusion, a
  //      replayed batch would find its own first-attempt rows and classify
  //      every doc as a duplicate of itself.
  //   2. NO PERSISTED BUCKET AGGREGATE. An append writes the batch's own
  //      rows and nothing else, so its cost tracks the batch, not the
  //      corpus. The probe derives occupancy and hub for the buckets the
  //      batch TOUCHES from a band-table scan joined against the broadcast
  //      batch key set (map-side-combined, so the shuffled state is
  //      touched-bucket counts — batch-bounded): two column scans of the
  //      band table per probe (occupancy + candidates).
  //
  //   Sketch: every append commits a fresh sketch, the previous one OR-ed
  //   with the batch's content keys. A replaced attempt's keys stay in it,
  //   which is harmless: positives always verify against the
  //   provenance-FILTERED hash table.

  /** A loaded band index. Frames are lazy parquet scans carrying the
    * `__ingest` partition column (empty frames with that schema for a
    * table no write has reached yet); only the Bloom sketch is
    * driver-held.
    */
  final case class IngestIndex(
      hashes: DataFrame,   // (__h sha256 hex, __exact_of min id, __ingest)
      shingles: DataFrame, // (id, shingle, __ingest)
      bands: DataFrame,    // (corpus_id, band_idx, band_hash, __ingest)
      bloom: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long, fpp: Double,
      n: Int, numPerm: Int, numBands: Int, rowsPerBand: Int)

  /** Content-hash rows: `__h` (sha256 of the tagged text) and
    * `__exact_of`, the min id per hash.
    */
  private def hashRows(docs: DataFrame, idCol: String, text: Column): DataFrame =
    docs.select(sha2(tagged(text), 256).as("__h"), col(idCol).as("__cid"))
      .groupBy(col("__h")).agg(min(col("__cid")).as("__exact_of"))

  /** The banded signatures of a [[shingleTable]]: (corpus_id, band_idx,
    * band_hash).
    */
  private def bandRows(sh: DataFrame, numPerm: Int, numBands: Int, rowsPerBand: Int): DataFrame =
    minhashFromShingles(sh, numPerm)
      .select(col("id").as("corpus_id"),
        explode(array(bandExprs(numBands, rowsPerBand): _*)).as("band"))
      .select(col("corpus_id"), col("band.band_idx"), col("band.band_hash"))

  /** The manifest an EMPTY ingest index would have as the version before
    * `path`'s next one: `geometry` and the sketch params, no tables. A
    * build appends to it and commits once; [[initIngest]] commits it
    * with an empty sketch.
    */
  private def emptyIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      geometry: Map[String, Any], expectedItems: Long, fpp: Double): IndexStore.Manifest = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    IndexStore.Manifest(IndexStore.nextVersion(spark, path) - 1,
      geometry ++ Map("expectedItems" -> expectedItems, "fpp" -> fpp), Map.empty)
  }

  /** Commit an EMPTY ingest index: the `geometry`, the sketch params and
    * an empty sketch. Probing it classifies everything `new`, so the
    * first batch needs no special casing.
    */
  private def initIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      geometry: Map[String, Any], expectedItems: Long, fpp: Double): Unit = {
    val m = emptyIngest(spark, path, geometry, expectedItems, fpp)
    val v = m.version + 1
    IndexStore.commit(spark, path, m.copy(version = v,
      sketch = IndexStore.writeSketch(spark, path, v, emptyBloom(spark, expectedItems, fpp), expectedItems, fpp)))
  }

  /** The ingest batch the manifest `m` records for write dir `dir`
    * (`-1` for a compaction's base dir).
    */
  private[graft] def ingestOf(m: IndexStore.Manifest, dir: String): Long = m.long(s"ingest:$dir")

  /** `table` of the ingest index `m` names, or an empty frame of
    * `fields` + `__ingest` when no write has reached it yet.
    */
  private def ingestTable(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, table: String,
      fields: org.apache.spark.sql.types.StructField*): DataFrame = {
    import org.apache.spark.sql.types._
    if (m.tables.getOrElse(table, Nil).nonEmpty) IndexStore.read(spark, path, m, table)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields :+ StructField("__ingest", IntegerType)))
  }

  /** Commit `m` as version `v` naming `tables` (dirs without part files
    * left out) and `sketch`, with one batch entry per named dir: `batch`
    * for version `v`'s own dirs, the entry `m` has for the others.
    */
  private def commitIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, v: Long, tables: Map[String, Seq[IndexStore.WriteDir]],
      batch: Long, sketch: Option[String]): IndexStore.Manifest = {
    val live = tables.map { case (t, ds) => t -> ds.filter(_.files > 0) }
    IndexStore.commit(spark, path, m.copy(version = v,
      meta = m.meta.filterNot(_._1.startsWith("ingest:")) ++ live.values.flatten.map(d =>
        s"ingest:${d.dir}" -> (if (d.dir == s"__w=$v") batch else ingestOf(m, d.dir))),
      tables = live, sketch = sketch))
  }

  /** The shared append of both ingest families: on top of `m`, write each
    * of `tables` as the next version's dir partitioned by `__ingest =
    * ingestId`, drop the dirs an earlier attempt committed for
    * `ingestId`, merge the `key`s of `keyed` into `bloom` and commit all
    * of it as one version, which is returned.
    */
  private def appendIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, ingestId: Long, tables: Seq[(String, DataFrame)],
      bloom: org.apache.spark.util.sketch.BloomFilter, keyed: DataFrame,
      key: Column): IndexStore.Manifest = {
    require(ingestId >= 0,
      s"ingestId must be non-negative (got $ingestId): negative ids are reserved " +
        "for compaction base partitions")
    val v = m.version + 1
    val (items, fpp) = (m.long("expectedItems"), m.double("fpp"))
    bloom.mergeInPlace(bloomOf(keyed, key, items, fpp))
    commitIngest(spark, path, m, v, tables.map { case (t, df) =>
      t -> (m.tables.getOrElse(t, Nil).filterNot(d => ingestOf(m, d.dir) == ingestId) :+
        IndexStore.writeTable(path, t, v, df.withColumn("__ingest", lit(ingestId)), Seq("__ingest")))
    }.toMap, ingestId, IndexStore.writeSketch(spark, path, v, bloom, items, fpp))
  }

  /** The part files a fold of `bytes` writes: one per
    * `spark.sql.files.maxPartitionBytes`, so a large index folds to
    * scan-parallel files.
    */
  private def foldFiles(spark: org.apache.spark.sql.SparkSession, bytes: Long): Int = {
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes + maxPartBytes - 1) / maxPartBytes).toInt
  }

  /** The shared compaction of both ingest families: fold every committed
    * write dir except those holding `keepIngest` into one `__ingest=-1`
    * dir per table, in [[foldFiles]] part files, and commit that as one
    * version (the sketch stays). Nothing is committed when the fold would
    * only rewrite the base.
    */
  private def compactIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      keepIngest: Option[Long]): Unit = {
    val m = IndexStore.latest(spark, path)
    val v = m.version + 1
    val folds = m.tables.map { case (t, ds) =>
      t -> ds.filterNot(d => keepIngest.contains(ingestOf(m, d.dir)))
    }
    if (folds.values.forall(f => f.size <= 1 && f.forall(d => ingestOf(m, d.dir) == -1L))) return
    commitIngest(spark, path, m, v, m.tables.map { case (t, ds) =>
      val f = folds(t)
      val base = if (f.isEmpty) Nil else Seq(IndexStore.writeTable(path, t, v,
        IndexStore.read(spark, path, t, f).coalesce(foldFiles(spark, f.map(_.bytes).sum))
          .withColumn("__ingest", lit(-1L)), Seq("__ingest")))
      t -> (base ++ ds.diff(f))
    }, -1L, m.sketch)
  }

  /** The batch-API append tail: fold the index at `path` into its base
    * once a table of `m` holds `autoCompactAt` part files (0 disables).
    */
  private def autoFold(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, tables: Seq[String], autoCompactAt: Int): Unit =
    autoCompactTarget(spark, path, m, tables, autoCompactAt).foreach(_ => compactIngest(spark, path, None))

  /** `rows` without those whose `key` the one-column frame `known` holds:
    * the replay guard of a batch append, as a scan of `known` joined
    * against the broadcast batch keys, so nothing corpus-scale shuffles.
    */
  private def unseen(rows: DataFrame, key: String, known: DataFrame): DataFrame =
    rows.join(known.join(broadcast(rows.select(col(key))), Seq(key), "left_semi"), Seq(key), "left_anti")

  /** Append `docs` (`idCol`, text) on top of `m` as batch `ingestId`:
    * their content hashes (without those in `known`, when given — the
    * batch API's keep-first guard), shingles and bands.
    */
  private def appendBand(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, ingestId: Long, docs: DataFrame, idCol: String, text: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter, known: Option[DataFrame]): IndexStore.Manifest = {
    val fresh = hashRows(docs, idCol, text).localCheckpoint()
    val hashes = known.fold(fresh)(h => unseen(fresh, "__h", h.select(col("__h"))).localCheckpoint())
    // one shingle table feeds shingles AND bands; the probe derives set
    // sizes from its shingle scan
    val sh = shingleTable(docs, idCol, text, m.long("n").toInt).localCheckpoint()
    appendIngest(spark, path, m, ingestId, Seq("hashes" -> hashes, "shingles" -> sh,
      "bands" -> bandRows(sh, m.long("numPerm").toInt, m.long("numBands").toInt,
        m.long("rowsPerBand").toInt)), bloom, hashes, xxhash64(col("__h")))
  }

  private def bandGeometry(n: Int, numPerm: Int, numBands: Int, rowsPerBand: Int): Map[String, Any] = {
    require(numBands * rowsPerBand == numPerm,
      s"numBands ($numBands) × rowsPerBand ($rowsPerBand) must equal numPerm ($numPerm)")
    Map("n" -> n, "numPerm" -> numPerm, "numBands" -> numBands, "rowsPerBand" -> rowsPerBand)
  }

  /** Build a band index over `corpus` as one [[IndexStore]] version: an
    * empty index plus the corpus appended as the batch whose id is that
    * version. The sketch is sized to the corpus (1% fpp); appends past it
    * degrade the fpp, never correctness — rebuild when the corpus
    * outgrows it. Read it with [[readIngestIndex]].
    */
  def writeBandIndex(corpus: DataFrame, idCol: String, text: Column, path: String,
      n: Int, numPerm: Int, numBands: Int, rowsPerBand: Int): Unit = {
    val spark = corpus.sparkSession
    val docs = corpus.select(col(idCol), text.as("__text")).localCheckpoint()
    val m = emptyIngest(spark, path, bandGeometry(n, numPerm, numBands, rowsPerBand),
      math.max(1L, docs.count()), 0.01)
    appendBand(spark, path, m, m.version + 1, docs, idCol, col("__text"),
      emptyBloom(spark, m.long("expectedItems"), m.double("fpp")), None)
  }

  /** Fold a batch's accepted documents into a band index as the batch
    * whose id is the next version. Idempotent under replay: documents
    * whose id the index already bands are skipped, and a batch with
    * nothing new commits nothing; content hashes the index already holds
    * keep their first id. Only the batch's own rows are written — no
    * corpus-scale aggregate — and the index folds into its base once a
    * table holds `autoCompactAt` part files ([[compactIngestIndex]]; 0
    * disables).
    */
  def appendToBandIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      autoCompactAt: Int = AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val idx = readIngest(spark, path, m, newDocs.schema(idCol).dataType)
    val fresh = unseen(newDocs.select(col(idCol), col(textCol)), idCol,
      idx.bands.select(col("corpus_id").as(idCol))).localCheckpoint()
    if (fresh.isEmpty) return
    autoFold(spark, path, appendBand(spark, path, m, m.version + 1, fresh, idCol, col(textCol),
      idx.bloom, Some(idx.hashes)), Seq("hashes", "shingles", "bands"), autoCompactAt)
  }

  /** [[incrementalDedup]] against a band index, nothing excluded: the
    * same [[probeNear]] classification, with the corpus side read from
    * the index. Returns the eager cached (idCol, status, dup_of) frame —
    * `unpersist()` it when done.
    */
  def incrementalDedupIndexed(index: IngestIndex, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, maxBucket: Int = DefaultMaxBucket,
      batchBroadcastCap: Long = BatchBroadcastCap): DataFrame =
    probeNear(index.hashes, index.shingles, index.bands, Some(index.bloom), index.n,
      index.numPerm, index.numBands, index.rowsPerBand, batch, idCol, col(textCol), threshold,
      maxBucket, batchBroadcastCap)

  /** Create an EMPTY band index for a stream: version 1 holds the banding
    * geometry, the sketch params and an empty sketch. Tables materialize
    * on the first [[appendToIngestIndex]].
    */
  def initIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int, numPerm: Int, numBands: Int, rowsPerBand: Int,
      expectedItems: Long, fpp: Double = 0.01): Unit =
    initIngest(spark, path, bandGeometry(n, numPerm, numBands, rowsPerBand), expectedItems, fpp)

  /** Load the committed band index. `idType` supplies the id column type
    * of a table no write has reached yet (an empty frame).
    */
  def readIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idType: org.apache.spark.sql.types.DataType): IngestIndex =
    readIngest(spark, path, IndexStore.latest(spark, path), idType)

  private def readIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, idType: org.apache.spark.sql.types.DataType): IngestIndex = {
    import org.apache.spark.sql.types._
    IngestIndex(
      ingestTable(spark, path, m, "hashes",
        StructField("__h", StringType), StructField("__exact_of", idType)),
      ingestTable(spark, path, m, "shingles",
        StructField("id", idType), StructField("shingle", StringType)),
      ingestTable(spark, path, m, "bands", StructField("corpus_id", idType),
        StructField("band_idx", IntegerType), StructField("band_hash", LongType)),
      IndexStore.readSketch(spark, path, m)._1, m.long("expectedItems"), m.double("fpp"),
      m.long("n").toInt, m.long("numPerm").toInt, m.long("numBands").toInt,
      m.long("rowsPerBand").toInt)
  }

  /** [[incrementalDedupIndexed]] excluding rows appended by ingest
    * `excludeIngest` (pass the CURRENT batch id: on a clean first attempt
    * the partition doesn't exist and the filter is a no-op; on a crash
    * replay it hides the first attempt's own appends, so the replay
    * reproduces the original classification). Returns the eager cached
    * (idCol, status, dup_of) frame — `unpersist()` it when done.
    */
  def probeIngestIndex(index: IngestIndex, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, excludeIngest: Long,
      maxBucket: Int = DefaultMaxBucket,
      batchBroadcastCap: Long = BatchBroadcastCap): DataFrame = {
    def excl(df: DataFrame): DataFrame =
      df.filter(col("__ingest").cast("long") =!= excludeIngest)
    probeNear(excl(index.hashes), excl(index.shingles), excl(index.bands), Some(index.bloom),
      index.n, index.numPerm, index.numBands, index.rowsPerBand, batch, idCol, col(textCol),
      threshold, maxBucket, batchBroadcastCap)
  }

  /** The exact stage of both probes: each `keyed` row (id, __h, …) gains
    * `__exact_of`, the index's id for its content hash — null when the
    * sketch test `might` rules the row out, no `hashes` row matches, or
    * `verify` (over the joined row) fails. Within `cap` batch rows the
    * hash scan is cut to the batch's keys by a broadcast semi-join (no
    * corpus shuffle); past it both sides merge-join. Either way no
    * broadcast is ever built from the index side. Eager and cached.
    */
  private def exactOf(keyed: DataFrame, hashes: DataFrame, might: Option[Column],
      verify: Column, cap: Long): DataFrame = {
    val probed = might.fold(keyed)(keyed.filter)
    val joined =
      if (keyed.count() <= cap)
        probed.join(hashes.join(broadcast(probed.select(col("__h"))), Seq("__h"), "left_semi"),
          Seq("__h"), "left")
      else probed.hint("merge").join(hashes.hint("merge"), Seq("__h"), "left")
    val matched = joined.select(keyed.columns.map(col) :+ when(verify, col("__exact_of")).as("__exact_of"): _*)
    val out = might.fold(matched)(m => matched.unionByName(keyed.filter(!m)
      .withColumn("__exact_of", lit(null).cast(hashes.schema("__exact_of").dataType)))).persist()
    out.count()
    out
  }

  /** The candidate stage of both probes: batch rows `b` (batch_id, `keys`,
    * …) against index rows `c` (corpus_id, `keys`, `pay`). Occupancy and
    * the min-id hub (with its `pay`) of each bucket the batch TOUCHES come
    * from a scan of `c` joined against the broadcast batch keys (corpus
    * buckets the batch never probes generate no candidates). A bucket
    * whose corpus + batch occupancy passes `maxBucket` is hot: its batch
    * rows pair with the hub only (star — linear in the batch, and a batch
    * row that duplicates a mass-dup corpus cluster is still found; a null
    * hub is a batch-only bucket, with no corpus member to match). Cold
    * rows pair with every corpus row of their bucket: the batch side
    * broadcasts within `cap` rows, else both sides merge-join — a
    * shuffled hash join would build from whichever side an unreliable
    * estimate calls smaller. Returns (b's non-key columns, corpus_id, `pay`).
    */
  private def bucketPairs(b: DataFrame, c: DataFrame, keys: Seq[String], pay: Seq[String],
      maxBucket: Int, cap: Long): DataFrame = {
    val keyCols = keys.map(col)
    val batchCnt = b.groupBy(keyCols: _*).agg(count(lit(1)).as("__bcnt"))
    val corpusOcc = c.join(broadcast(batchCnt.select(keyCols: _*)), keys)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__ccnt"),
        min(col("corpus_id")).as("__hub") +: pay.map(p => min_by(col(p), col("corpus_id")).as(p)): _*)
    val hot = batchCnt.join(corpusOcc, keys, "left")
      .filter(coalesce(col("__ccnt"), lit(0L)) + col("__bcnt") > maxBucket)
      .select((keys ++ ("__hub" +: pay)).map(col): _*)
      .localCheckpoint()
    val hotKeys = hot.select(keyCols: _*)
    val coldB = b.join(hotKeys, keys, "left_anti")
    val cold =
      if (b.count() <= cap) c.join(broadcast(coldB), keys)
      else c.hint("merge").join(coldB.hint("merge"), keys)
    val star = b.join(hotKeys, keys, "left_semi")
      .join(broadcast(hot.filter(col("__hub").isNotNull)), keys)
      .withColumnRenamed("__hub", "corpus_id")
    val out = (b.columns.filterNot(keys.contains) ++ ("corpus_id" +: pay)).map(col)
    cold.select(out: _*).unionByName(star.select(out: _*))
  }

  /** The result of both probes, eager and cached: (idCol, status, dup_of)
    * with exact beating near beating new, `dup_of` the matching corpus
    * id. Releases `exactStatus`.
    */
  private def statusOf(exactStatus: DataFrame, nearOf: DataFrame, idCol: String): DataFrame = {
    val result = exactStatus.join(nearOf, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("__exact_of").isNotNull, "exact_dup")
          .when(col("__near_of").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        coalesce(col("__exact_of"), col("__near_of")).as("dup_of"))
      .persist()
    result.count()
    exactStatus.unpersist()
    result
  }

  /** The one near-dup classification, over a band index's frames
    * (`hashes`, `shingles`, `bands`, any excluded batch already filtered
    * out) — persisted, or derived from a live corpus by
    * [[incrementalDedup]]. Exact via the content-hash probe ([[exactOf]],
    * pruned by `bloom` when the index has one); near via band candidates
    * ([[bucketPairs]]) verified by exact n-gram Jaccard over the full
    * shingle sets, the corpus side restricted to the candidate ids.
    *
    * Per-batch corpus cost: the exact scan of the hash table, two column
    * scans of the band table and one of the shingle table restricted to
    * the candidate ids — each joined against a broadcast batch-bounded
    * frame, so nothing corpus-scale shuffles per batch.
    */
  private def probeNear(hashes: DataFrame, shingles: DataFrame, bands: DataFrame,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter],
      n: Int, numPerm: Int, numBands: Int, rowsPerBand: Int,
      batch: DataFrame, idCol: String, text: Column, threshold: Double,
      maxBucket: Int, batchBroadcastCap: Long): DataFrame = {
    val exactStatus = exactOf(
      batch.select(col(idCol).as("id"), sha2(tagged(text), 256).as("__h")),
      hashes.select(col("__h"), col("__exact_of")),
      bloom.map(bf => graft.functions.BloomFunctions.mightContain(xxhash64(col("__h")), bf)),
      lit(true), batchBroadcastCap)
    // exact dups skip the near stage: status precedence subsumes it
    val survivors = batch.join(
      exactStatus.filter(col("__exact_of").isNotNull).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
    val shB = shingleTable(survivors, idCol, text, n).localCheckpoint()
    val bandB = bandRows(shB, numPerm, numBands, rowsPerBand)
      .withColumnRenamed("corpus_id", "batch_id").localCheckpoint()
    val cands = bucketPairs(bandB, bands.select(col("corpus_id"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"), Nil, maxBucket, batchBroadcastCap)
      .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))
      .distinct().localCheckpoint()
    // the candidate semi-join keeps each candidate doc's FULL shingle set,
    // so set sizes derive from this scan; pinned because it feeds the
    // size aggregate and both verify joins
    val shC = shingles.select(col("id"), col("shingle"))
      .join(broadcast(cands.select(col("id_b").as("id")).distinct()), Seq("id"), "left_semi")
      .localCheckpoint()
    val nearOf = jaccardFromShingles(shB.unionByName(shC), cands, threshold)
      .groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("__near_of"))
    statusOf(exactStatus, nearOf, idCol)
  }

  /** Compact the band index's per-batch write dirs into one reserved
    * base dir per table, `__ingest=-1`. Appends accumulate one dir per
    * batch; after months of daily batches the index is a small-file swamp
    * and file listing itself dominates the probe. The reserved id is
    * negative because stream batch ids are non-negative: no probe's
    * own-batch exclusion can ever hide the base, and no future append can
    * collide with it. The fold commits as one [[IndexStore]] version, so
    * a crash before its commit leaves the previous version current and
    * the next compaction redoes it.
    *
    * `keepIngest`: leave that batch's dirs OUT of the fold — the
    * in-stream compaction contract. A sink compacting inside its own
    * micro-batch must not fold the CURRENT batch: the exactly-once replay
    * story hides a replayed batch's first-attempt rows by excluding its
    * `__ingest=<id>` partition, and a fold would move those rows into the
    * base where the exclusion cannot see them.
    */
  def compactIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      keepIngest: Option[Long] = None): Unit =
    compactIngest(spark, path, keepIngest)

  /** Fold a stream batch's accepted documents into the band index as batch
    * `ingestId`'s write dirs, committed as one version that replaces
    * whatever an earlier attempt committed for the same batch — the
    * idempotence story in one move: a replayed or crash-retried batch
    * leaves its rows in exactly one dir. The caller must append only
    * PROBE SURVIVORS (`status = new`), which keeps content hashes unique
    * across dirs — the invariant the exact verify join's fan-out relies
    * on. `index` may pass the already-loaded [[IngestIndex]] (the sink
    * loads it for the probe) to skip a redundant sketch read.
    */
  def appendToIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String, ingestId: Long,
      index: Option[IngestIndex] = None): Unit = {
    val m = IndexStore.latest(spark, path)
    val idx = index.getOrElse(readIngest(spark, path, m, newDocs.schema(idCol).dataType))
    appendBand(spark, path, m, ingestId, newDocs.select(col(idCol), col(textCol)).localCheckpoint(),
      idCol, col(textCol), idx.bloom, None)
  }

  // — the VEC index: persisted SEMANTIC dedup state, batch and streaming ———
  //   The embedding arm of the band index, with the same layout, replay
  //   contract and compaction: the batch API ([[writeVecIndex]],
  //   [[appendToVecIndex]], [[incrementalSemanticIndexed]]), the streaming
  //   sink ([[initVecIngestIndex]], [[appendToVecIngestIndex]],
  //   [[probeVecIngestIndex]]) and the live [[incrementalSemanticDedup]]
  //   all classify through [[probeSemantic]] (exact via content-hash +
  //   rep-vector verify, near via sign-bucket candidates + exact-cosine
  //   verify), which derives touched-bucket occupancy per probe from the
  //   vector table, so an append stays a pure write of the batch's rows.

  /** A loaded vec index. Both frames are lazy parquet scans carrying
    * their `__ingest` provenance; the sketch is over the raw `xxhash64`
    * content keys. The hyperplane geometry (numPlanes, dim, seed) rides
    * in the manifest so batch bucketing can never silently desynchronize
    * from the indexed corpus bucketing.
    */
  final case class VecIngestIndex(
      hashes: DataFrame, // (__h xxhash64(vec), __exact_of min id, __rvec rep vector, __ingest)
      vecs: DataFrame,   // (corpus_id, __cvec, __bucket, __ingest)
      bloom: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long, fpp: Double,
      numPlanes: Int, dim: Int, seed: Long)

  /** Content-hash rows of embeddings: `__h` (xxhash64 of the vector),
    * `__exact_of` (min id per hash) and `__rvec` (that id's vector).
    */
  private def vecHashRows(docs: DataFrame, idCol: String, vecCol: String): DataFrame =
    docs.select(xxhash64(col(vecCol)).as("__h"), col(idCol).as("__cid"), col(vecCol).as("__v"))
      .groupBy(col("__h"))
      .agg(min(col("__cid")).as("__exact_of"), min_by(col("__v"), col("__cid")).as("__rvec"))

  /** Bucketed embeddings: (corpus_id, __cvec, __bucket). */
  private def vecRows(docs: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]]): DataFrame =
    docs.select(col(idCol).as("corpus_id"), col(vecCol).as("__cvec"),
      Similarity.bucketId(col(vecCol), planes).as("__bucket"))

  /** [[appendBand]]'s embedding twin: `docs` (`idCol`, `vecCol`) as
    * batch `ingestId`'s content hashes (keep-first against `known`, when
    * given) and bucketed vectors.
    */
  private def appendVec(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, ingestId: Long, docs: DataFrame, idCol: String, vecCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter, known: Option[DataFrame]): IndexStore.Manifest = {
    val fresh = vecHashRows(docs, idCol, vecCol).localCheckpoint()
    val hashes = known.fold(fresh)(h => unseen(fresh, "__h", h.select(col("__h"))).localCheckpoint())
    val planes = Similarity.hyperplanes(m.long("numPlanes").toInt, m.long("dim").toInt, m.long("seed"))
    appendIngest(spark, path, m, ingestId,
      Seq("hashes" -> hashes, "vecs" -> vecRows(docs, idCol, vecCol, planes)), bloom, hashes, col("__h"))
  }

  /** Build a vec index over `corpus` as one [[IndexStore]] version: an
    * empty index plus the corpus appended as the batch whose id is that
    * version. The sketch saturates past `expectedItems` total inserts
    * (fpp degrades, correctness doesn't — positives always verify).
    * Read it with [[readVecIngestIndex]].
    */
  def writeVecIndex(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      numPlanes: Int, dim: Int, expectedItems: Long, fpp: Double = 0.01,
      seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    val m = emptyIngest(spark, path, Map("numPlanes" -> numPlanes, "dim" -> dim, "seed" -> seed),
      expectedItems, fpp)
    appendVec(spark, path, m, m.version + 1, corpus.select(col(idCol), col(vecCol)).localCheckpoint(),
      idCol, vecCol, emptyBloom(spark, expectedItems, fpp), None)
  }

  /** Fold a batch's accepted vectors into a vec index as the batch whose
    * id is the next version — [[appendToBandIndex]]'s contract: vectors
    * whose id the index already holds are skipped, a batch with nothing
    * new commits nothing, content hashes the index already holds keep
    * their first id, and the index folds into its base at
    * `autoCompactAt` part files.
    */
  def appendToVecIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      autoCompactAt: Int = AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val idx = readVecIngest(spark, path, m, newVecs.schema(idCol).dataType, newVecs.schema(vecCol).dataType)
    val fresh = unseen(newVecs.select(col(idCol), col(vecCol)), idCol,
      idx.vecs.select(col("corpus_id").as(idCol))).localCheckpoint()
    if (fresh.isEmpty) return
    autoFold(spark, path, appendVec(spark, path, m, m.version + 1, fresh, idCol, vecCol,
      idx.bloom, Some(idx.hashes)), Seq("hashes", "vecs"), autoCompactAt)
  }

  /** [[incrementalSemanticDedup]] against a vec index, nothing excluded:
    * the same [[probeSemantic]] classification, with the corpus side read
    * from the index and the exact stage Bloom-pruned. Returns the eager
    * cached (idCol, status, dup_of) frame — `unpersist()` when done.
    */
  def incrementalSemanticIndexed(index: VecIngestIndex, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      maxBucket: Int = DefaultMaxBucket,
      batchBroadcastCap: Long = BatchBroadcastCap): DataFrame =
    probeSemantic(index.hashes, index.vecs, Some(index.bloom),
      Similarity.hyperplanes(index.numPlanes, index.dim, index.seed), index.dim,
      batch, idCol, vecCol, threshold, maxBucket, batchBroadcastCap)

  /** Create an EMPTY vec index for a stream: version 1 holds the
    * hyperplane geometry, the sketch params and an empty sketch. Tables
    * materialize on the first [[appendToVecIngestIndex]]; probing the
    * empty index classifies everything `new`.
    */
  def initVecIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      numPlanes: Int, dim: Int, expectedItems: Long, fpp: Double = 0.01,
      seed: Long = 42L): Unit =
    initIngest(spark, path, Map("numPlanes" -> numPlanes, "dim" -> dim, "seed" -> seed),
      expectedItems, fpp)

  /** Load the committed vec index. `idType` and `vecType` supply the
    * column types of a table no write has reached yet.
    */
  def readVecIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idType: org.apache.spark.sql.types.DataType,
      vecType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
      : VecIngestIndex =
    readVecIngest(spark, path, IndexStore.latest(spark, path), idType, vecType)

  private def readVecIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, idType: org.apache.spark.sql.types.DataType,
      vecType: org.apache.spark.sql.types.DataType): VecIngestIndex = {
    import org.apache.spark.sql.types._
    VecIngestIndex(
      ingestTable(spark, path, m, "hashes", StructField("__h", LongType),
        StructField("__exact_of", idType), StructField("__rvec", vecType)),
      ingestTable(spark, path, m, "vecs", StructField("corpus_id", idType),
        StructField("__cvec", vecType), StructField("__bucket", LongType)),
      IndexStore.readSketch(spark, path, m)._1, m.long("expectedItems"), m.double("fpp"),
      m.long("numPlanes").toInt, m.long("dim").toInt, m.long("seed"))
  }

  /** [[incrementalSemanticIndexed]] excluding rows appended by ingest
    * `excludeIngest` (pass the CURRENT batch id — the replay contract of
    * [[probeIngestIndex]]). Returns the eager cached (idCol, status,
    * dup_of) frame — `unpersist()` when done.
    */
  def probeVecIngestIndex(index: VecIngestIndex, batch: DataFrame, idCol: String,
      vecCol: String, threshold: Double, excludeIngest: Long,
      maxBucket: Int = DefaultMaxBucket,
      batchBroadcastCap: Long = BatchBroadcastCap): DataFrame = {
    def excl(df: DataFrame): DataFrame =
      df.filter(col("__ingest").cast("long") =!= excludeIngest)
    probeSemantic(excl(index.hashes), excl(index.vecs), Some(index.bloom),
      Similarity.hyperplanes(index.numPlanes, index.dim, index.seed), index.dim,
      batch, idCol, vecCol, threshold, maxBucket, batchBroadcastCap)
  }

  /** The one semantic near-dup classification, over a vec index's frames
    * (`hashes`, `vecs`, any excluded batch already filtered out) —
    * persisted, or derived from a live corpus by
    * [[incrementalSemanticDedup]]. Exact via the content-hash probe
    * verified by rep-vector equality ([[exactOf]], pruned by `bloom` when
    * the index has one); near via sign-bucket candidates ([[bucketPairs]];
    * a hot bucket's hub carries its vector) verified by exact cosine. A
    * vector has exactly ONE sign bucket, so each (batch, corpus) pair
    * arises at most once. Broadcast caps are byte-aware: every row
    * carries a full `dim`-sized vector, so the row cap shrinks with `dim`.
    */
  private def probeSemantic(hashes: DataFrame, vecs: DataFrame,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter],
      planes: Array[Array[Double]], dim: Int,
      batch: DataFrame, idCol: String, vecCol: String, threshold: Double,
      maxBucket: Int, batchBroadcastCap: Long): DataFrame = {
    val vecCap = math.min(batchBroadcastCap, Similarity.vecBroadcastRows(dim))
    val exactStatus = exactOf(
      batch.select(col(idCol).as("id"), col(vecCol).as("__bvec"), xxhash64(col(vecCol)).as("__h")),
      hashes.select(col("__h"), col("__exact_of"), col("__rvec")),
      bloom.map(bf => graft.functions.BloomFunctions.mightContain(col("__h"), bf)),
      col("__bvec") === col("__rvec"), vecCap)
    val bB = exactStatus.filter(col("__exact_of").isNull)
      .select(col("id").as("batch_id"), col("__bvec"),
        Similarity.bucketId(col("__bvec"), planes).as("__bucket"))
      .localCheckpoint()
    val nearOf = bucketPairs(bB, vecs.select(col("corpus_id"), col("__cvec"), col("__bucket")),
        Seq("__bucket"), Seq("__cvec"), maxBucket, vecCap)
      .withColumn("__cos", round(Similarity.cosine(col("__bvec"), col("__cvec")), 6))
      .filter(col("__cos") >= threshold)
      .groupBy(col("batch_id").as("id"))
      .agg(min(col("corpus_id")).as("__near_of"))
    statusOf(exactStatus, nearOf, idCol)
  }

  /** Fold a stream batch's accepted vectors into the vec index as batch
    * `ingestId`'s write dirs — the [[appendToIngestIndex]] idempotence
    * story verbatim: a replay replaces exactly its own earlier dirs. The
    * caller must append only PROBE SURVIVORS (`status = new`), which
    * keeps content hashes unique across dirs.
    */
  def appendToVecIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, vecCol: String, ingestId: Long,
      index: Option[VecIngestIndex] = None): Unit = {
    val m = IndexStore.latest(spark, path)
    val idx = index.getOrElse(
      readVecIngest(spark, path, m, newDocs.schema(idCol).dataType, newDocs.schema(vecCol).dataType))
    appendVec(spark, path, m, ingestId, newDocs.select(col(idCol), col(vecCol)).localCheckpoint(),
      idCol, vecCol, idx.bloom, None)
  }

  /** [[compactIngestIndex]] for the vec index. */
  def compactVecIngestIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      keepIngest: Option[Long] = None): Unit =
    compactIngest(spark, path, keepIngest)

  /** 63-bit SimHash per id (bit 63 unused to stay in positive Long range
    * under ANSI overflow checks): per-token `xxhash64`, ±1 vote per bit,
    * sign of the vote sum sets the bit — one pass through the custom
    * [[graft.functions.SimHashAgg]] kernel.
    */
  def simhash(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol), explode(graft.functions.TextFunctions.wsTokens(text)).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col(idCol))
      .agg(graft.functions.HashAggFunctions.simhash_agg(col("h")).as("simhash"))

  /** SimHash near-dup candidate pairs within Hamming distance `maxDist`:
    * split the 63-bit signature into `maxDist+1` chunks — any pair within
    * the distance must agree on at least one chunk (pigeonhole), so a
    * bucket-join per chunk finds all of them; verify with
    * `bit_count(a XOR b)`.
    *
    * Hot chunk buckets (> maxBucket members) degrade to star candidates
    * against the bucket's min-id hub (same rationale and residual risk as
    * [[lshCandidates]] — an oversized chunk bucket is usually a true
    * mass-dup cluster, and every emitted pair is still Hamming-verified).
    * Cache lifecycle: localCheckpoint, not persist (see [[lshCandidates]]).
    */
  /** Chunk geometry SHARED by the live pair op and the persisted
    * [[SimhashIndex]] (one definition, so the two paths cannot silently
    * disagree on slice boundaries): `maxDist+1` unsigned bit-slices of
    * the 63-bit signature — pigeonhole guarantees any pair within
    * `maxDist` agrees on at least one slice.
    */
  private[graft] def simhashChunkCols(sigCol: Column, maxDist: Int): Seq[Column] = {
    val chunks = maxDist + 1
    val width = 63 / chunks + 1
    (0 until chunks).map { c =>
      struct(lit(c).as("chunk_idx"),
        shiftright(sigCol, c * width).bitwiseAND((1L << width) - 1).as("chunk_val"))
    }
  }

  def simhashPairs(sig: DataFrame, idCol: String, maxDist: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val chunkCols = simhashChunkCols(col("simhash"), maxDist)
    // bucket-size guard — same agg + anti/semi-join design as [[lshCandidates]]
    val chunked = sig.select(col(idCol), col("simhash"), explode(array(chunkCols: _*)).as("ch"))
      .select(col(idCol), col("simhash"), col("ch.chunk_idx"), col("ch.chunk_val"))
      .localCheckpoint()
    val hotChunks = chunked.groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(count(lit(1)).as("__bs")).filter(col("__bs") > maxBucket)
      .select(col("chunk_idx"), col("chunk_val"))
    val bucketed = chunked.join(hotChunks, Seq("chunk_idx", "chunk_val"), "left_anti")
    val coldPairs = bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.chunk_idx") === col("r.chunk_idx") &&
          col("l.chunk_val") === col("r.chunk_val") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
    val hotRows = chunked.join(hotChunks, Seq("chunk_idx", "chunk_val"), "left_semi")
    val hubs = hotRows.groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(min(struct(col(idCol), col("simhash"))).as("__hub"))
    val starPairs = hotRows.join(hubs, Seq("chunk_idx", "chunk_val"))
      .filter(col(idCol) =!= col(s"__hub.$idCol"))
      .select(col(s"__hub.$idCol").as("id_a"), col(idCol).as("id_b"),
        bit_count(col(s"__hub.simhash").bitwiseXOR(col("simhash"))).as("hamming"))
    coldPairs.unionByName(starPairs)
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // — persisted SIMHASH index (Hamming near-dup state for 64-bit
  //   signatures) ————————————————————————————————————————————————————————
  //   ONE index family serves every 64-bit perceptual signature — text
  //   SimHash, image aHash/dHash/pHash, audio fingerprints, video frame
  //   hashes — because [[simhashPairs]]' chunk machinery is hash-agnostic.
  //   Without it, a daily media-ingest pipeline re-chunks the WHOLE
  //   signature corpus per batch; with it, a batch probes column scans of
  //   the persisted chunk table against broadcast batch-sized frames, and
  //   an append writes the batch's own rows only (the probe derives
  //   touched-bucket occupancy, as the band and vec indexes do).

  /** A loaded persistent simhash index. `maxDist` rides in the manifest —
    * probing with a different distance than the index was chunked for
    * would silently lose the pigeonhole guarantee.
    */
  final case class SimhashIndex(sigs: DataFrame, chunks: DataFrame, maxDist: Int)

  /** `batch`'s signatures and chunks as version `v`'s dirs appended to
    * `m`'s: the manifest to commit.
    */
  private def writeSimhashDelta(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest, v: Long, batch: DataFrame): IndexStore.Manifest = {
    val sigs = IndexStore.writeTable(path, "sigs", v, batch)
    val chunks = IndexStore.writeTable(path, "chunks", v,
      IndexStore.read(spark, path, "sigs", Seq(sigs))
        .select(col("corpus_id"), col("simhash"),
          explode(array(simhashChunkCols(col("simhash"), m.long("maxDist").toInt): _*)).as("ch"))
        .select(col("corpus_id"), col("simhash"), col("ch.chunk_idx"), col("ch.chunk_val")))
    m.copy(version = v, tables = Map("sigs" -> (m.tables.getOrElse("sigs", Nil) :+ sigs),
      "chunks" -> (m.tables.getOrElse("chunks", Nil) :+ chunks)))
  }

  /** Persist the corpus side of Hamming near-dup state as an
    * [[IndexStore]] version: `sigs` and `chunks` tables, with the chunk
    * geometry's `maxDist` in the manifest.
    */
  def writeSimhashIndex(sig: DataFrame, idCol: String, sigCol: String,
      path: String, maxDist: Int): Unit = {
    val spark = sig.sparkSession
    val v = IndexStore.nextVersion(spark, path)
    IndexStore.commit(spark, path, writeSimhashDelta(spark, path,
      IndexStore.Manifest(v, Map("maxDist" -> maxDist), Map.empty), v,
      sig.select(col(idCol).as("corpus_id"), col(sigCol).cast("long").as("simhash"))))
  }

  /** Load the committed simhash index (lazy parquet frames + `maxDist`). */
  def readSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): SimhashIndex =
    readSimhashIndex(spark, path, IndexStore.latest(spark, path))

  private def readSimhashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      m: IndexStore.Manifest): SimhashIndex =
    SimhashIndex(
      sigs = IndexStore.read(spark, path, m, "sigs"),
      chunks = IndexStore.read(spark, path, m, "chunks"),
      maxDist = m.long("maxDist").toInt)

  /** Append a signature batch: new ids' signatures and chunks land as new
    * dirs and commit as one version. Idempotent under replay: ids the index
    * already holds are skipped, and a batch with nothing new commits
    * nothing.
    */
  def appendToSimhashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newSigs: DataFrame, idCol: String, sigCol: String,
      autoCompactAt: Int = AutoCompactDefault): Unit = {
    val m = IndexStore.latest(spark, path)
    val idx = readSimhashIndex(spark, path, m)
    val fresh = newSigs.select(col(idCol).as("corpus_id"), col(sigCol).cast("long").as("simhash"))
      .join(idx.sigs.select(col("corpus_id")), Seq("corpus_id"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return
    val next = IndexStore.commit(spark, path,
      writeSimhashDelta(spark, path, m, m.version + 1, fresh))
    autoCompactTarget(spark, path, next, SimhashIndexTables, autoCompactAt)
      .foreach(compactSimhashIndex(spark, path, _))
  }

  /** Probe a signature batch against the index: every corpus item within
    * Hamming `maxDist` of a batch item (batch-INTERNAL pairs are the live
    * [[simhashPairs]]' job — same split as the band/vec index probes).
    * Candidates are exact by pigeonhole on the cold path; hot buckets
    * star-degrade against the bucket's min-id hub ([[bucketPairs]]).
    * Per-batch cost: batch-sized chunking + two column scans of the chunk
    * table joined against broadcast batch-sized frames — nothing
    * corpus-scale shuffles per batch.
    */
  def probeSimhashIndex(idx: SimhashIndex, batch: DataFrame, idCol: String,
      sigCol: String, maxBucket: Int = DefaultMaxBucket,
      batchBroadcastCap: Long = BatchBroadcastCap): DataFrame = {
    val chB = batch
      .select(col(idCol).as("batch_id"), col(sigCol).cast("long").as("__bsig"))
      .select(col("batch_id"), col("__bsig"),
        explode(array(simhashChunkCols(col("__bsig"), idx.maxDist): _*)).as("ch"))
      .select(col("batch_id"), col("__bsig"), col("ch.chunk_idx"), col("ch.chunk_val"))
      .localCheckpoint()
    bucketPairs(chB, idx.chunks.select(col("corpus_id"), col("simhash"), col("chunk_idx"),
        col("chunk_val")), Seq("chunk_idx", "chunk_val"), Seq("simhash"), maxBucket, batchBroadcastCap)
      .select(col("batch_id"), col("corpus_id"),
        bit_count(col("__bsig").bitwiseXOR(col("simhash"))).as("hamming"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .distinct()
      .filter(col("hamming") <= idx.maxDist)
  }

  private val SimhashIndexTables = Seq("sigs", "chunks")

  /** [[compactIndexTables]] over [[writeSimhashIndex]]'s layout. */
  def compactSimhashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 1): Unit =
    compactIndexTables(spark, path, SimhashIndexTables, targetFiles)
}
