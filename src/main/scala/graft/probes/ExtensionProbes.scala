package graft.probes

import org.apache.spark.sql.functions._
import graft.etl.Schemas
import graft.ops._
import graft.sources.Readers
import ParityProbes.Probe

/** Probe catalog for the training-data-pipeline extensions (dedup,
  * similarity search, text analysis, multimodal, sessionization) over the
  * `documents` / `embeddings` / `events` fixtures.
  *
  * Queries whose math is engine-portable carry a DuckDB oracle. The
  * hash-family ops (MinHash/SimHash/LSH depend on `xxhash64`, which DuckDB
  * lacks) are gated through DERIVED-METRIC oracles instead: the probe runs
  * the full hash pipeline, then emits a 1-row summary whose every value
  * DuckDB can independently recompute (exact pair/result counts) or whose
  * expected outcome is a pinned invariant (recall/precision/tolerance
  * booleans) — so 100% of the catalog carries an oracle verdict.
  */
object ExtensionProbes {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Readers.table(s, dir, n)
  private val F = "%Y-%m-%d %H:%M:%S.%f"

  /** Combine several single-row COUNT aggregates into one row WITHOUT a
    * join (a crossJoin of 1-row frames would trip the catalog-wide
    * cartesian audit): tag each count, union, re-aggregate.
    */
  private def scalarRow(first: (String, org.apache.spark.sql.DataFrame),
      rest: (String, org.apache.spark.sql.DataFrame)*): org.apache.spark.sql.DataFrame = {
    val all = first +: rest
    val tagged = all.map { case (n, df) =>
      df.select(lit(n).as("__m"), col(df.columns.head).cast("long").as("__v"))
    }.reduce(_.unionByName(_))
    val aggs = all.map { case (n, _) => max(when(col("__m") === n, col("__v"))).as(n) }
    tagged.agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB CTE chain ending in `jac(id_a, id_b, jaccard)` — the exact
    * 3-gram Jaccard pairs of `documents` at `threshold` (the oracle twin
    * of [[Dedup.ngramJaccardPairs]]; the df-cap cannot bind at fixture
    * corpus sizes, so the capped and uncapped operators coincide).
    */
  private[probes] def jacCte(threshold: Double): String =
    s"""sh AS (
       |  SELECT doc_id AS id, unnest(list_distinct(
       |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
       |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
       |        FROM documents)),
       |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
       |jac AS (
       |  SELECT id_a, id_b,
       |    floor((i * 1.0 / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 AS jaccard
       |  FROM inter
       |  JOIN sz sa ON sa.id = id_a
       |  JOIN sz sb ON sb.id = id_b
       |  WHERE floor((i * 1.0 / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= $threshold)""".stripMargin

  // — exact dedup ————————————————————————————————————————————————————————
  private val x01 = Probe(
    "x01_dedup_exact",
    (s, dir) => Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
      .orderBy("content_hash"),
    Some("""SELECT sha256(CAST(text IS NULL AS VARCHAR) || coalesce(CAST(text AS VARCHAR), '')) AS content_hash,
           |  min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
           |FROM documents GROUP BY 1 ORDER BY content_hash ASC NULLS FIRST""".stripMargin))

  // — exact n-gram Jaccard near-dup pairs (the oracle for the LSH path) ——
  private val x02 = Probe(
    "x02_dedup_ngram_jaccard",
    (s, dir) => Dedup.ngramJaccardPairs(Readers.fanOut(t(s, dir, "documents")), "doc_id", col("text"), 3, 0.2)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH ${jacCte(0.2)}
            |SELECT id_a, id_b, jaccard FROM jac
            |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin))

  // — asymmetric CONTAINMENT pairs (x111): the quote/boilerplate-mining
  //   metric Jaccard structurally misses (Broder '97 resemblance vs
  //   containment). Fixture: every document ships twice — its full text
  //   (container, id 2d) and a 12-token slice of itself (contained,
  //   id 2d+1) — so each planted pair has containment 1.0 at a Jaccard
  //   that vanishes with document length. FULL value oracle: DuckDB
  //   replays the slice, the 3-gram shingles, the exact intersection and
  //   both directional fractions (the df cap cannot bind at fixture
  //   sizes, x02's note).
  private val x111 = Probe(
    "x111_containment_pairs",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val toks = filter(split(col("text"), "\\s+"), t => t =!= lit(""))
      val fix = docs.select((col("doc_id") * 2).as("fid"), col("text"))
        .unionByName(docs.select((col("doc_id") * 2 + 1).as("fid"),
          concat_ws(" ", slice(toks, 5, 12)).as("text")))
      Dedup.containmentPairs(fix, "fid", col("text"), n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    },
    Some {
      def r4(e: String) = graft.Canonical.round4Sql(e)
      s"""WITH fix AS (
         |  SELECT doc_id * 2 AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1 AS id,
         |    array_to_string(
         |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')[5:16],
         |      ' ') AS text
         |  FROM documents),
         |sh AS (
         |  SELECT id, unnest(list_distinct(
         |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
         |  FROM (SELECT id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
         |        FROM fix)),
         |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
         |sc AS (
         |  SELECT id_a, id_b,
         |    ${r4("i * 1.0 / sa.n")} AS containment_a_in_b,
         |    ${r4("i * 1.0 / sb.n")} AS containment_b_in_a
         |  FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b)
         |SELECT id_a, id_b,
         |  greatest(containment_a_in_b, containment_b_in_a) AS containment,
         |  containment_a_in_b, containment_b_in_a
         |FROM sc
         |WHERE greatest(containment_a_in_b, containment_b_in_a) >= 0.8
         |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin
    })

  // — containment CUTTING form (x112): same fixture as x111; the
  //   contained slice loses to its container (mutual containment keeps
  //   the smaller id), survivors keep the caller's schema. The oracle
  //   replays the pair scores AND the loser election.
  private val x112 = Probe(
    "x112_remove_contained",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val toks = filter(split(col("text"), "\\s+"), t => t =!= lit(""))
      val fix = docs.select((col("doc_id") * 2).as("fid"), col("text"))
        .unionByName(docs.select((col("doc_id") * 2 + 1).as("fid"),
          concat_ws(" ", slice(toks, 5, 12)).as("text")))
      Dedup.removeContained(fix, "fid", col("text"), n = 3, threshold = 0.8)
        .orderBy("fid")
    },
    Some {
      def r4(e: String) = graft.Canonical.round4Sql(e)
      s"""WITH fix AS (
         |  SELECT doc_id * 2 AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1 AS id,
         |    array_to_string(
         |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')[5:16],
         |      ' ') AS text
         |  FROM documents),
         |sh AS (
         |  SELECT id, unnest(list_distinct(
         |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
         |  FROM (SELECT id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
         |        FROM fix)),
         |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
         |sc AS (
         |  SELECT id_a, id_b,
         |    ${r4("i * 1.0 / sa.n")} AS ca,
         |    ${r4("i * 1.0 / sb.n")} AS cb
         |  FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b),
         |losers AS (
         |  SELECT DISTINCT CASE
         |    WHEN ca >= 0.8 AND cb >= 0.8 THEN greatest(id_a, id_b)
         |    WHEN ca >= 0.8 THEN id_a
         |    ELSE id_b END AS id
         |  FROM sc WHERE ca >= 0.8 OR cb >= 0.8)
         |SELECT f.id AS fid, f.text
         |FROM fix f LEFT JOIN losers l ON l.id = f.id
         |WHERE l.id IS NULL
         |ORDER BY fid ASC NULLS FIRST""".stripMargin
    })

  // — MinHash + LSH, gated by a derived-metric oracle: the LSH-verified
  //   pair set is compared against the exact inverted-index pair set
  //   (x02's oracled operator). DuckDB recomputes the exact counts; recall
  //   and precision are exact 1.0 on this corpus (verified empirically at
  //   sf0.001 and sf0.01: 16×4 banding catches every jaccard≥0.2 pair, and
  //   exact verification makes false positives impossible). ————————————————
  private val x03 = Probe(
    "x03_dedup_minhash_lsh",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      // ONE shingle build feeds signatures, verification and the exact twin
      val sh = Dedup.shingleTable(docs, "doc_id", col("text"), 3).persist()
      sh.count()
      val sig = Dedup.minhashFromShingles(sh, 64)
      val cands = Dedup.lshCandidates(sig, "id", bands = 16, rowsPerBand = 4)
      val found = Dedup.jaccardFromShingles(sh, cands, 0.2).select(col("id_a"), col("id_b"))
      val exact = Dedup.ngramJaccardPairsFromShingles(sh, 0.2).select(col("id_a"), col("id_b"))
      found.withColumn("__f", lit(1))
        .join(exact.withColumn("__e", lit(1)), Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(col("__e")).as("n_exact_pairs"),
          count(col("__f")).as("n_lsh_pairs"),
          count(when(col("__e").isNotNull && col("__f").isNotNull, 1)).as("__n_overlap"))
        .select(
          col("n_exact_pairs"), col("n_lsh_pairs"),
          col("__n_overlap").as("n_overlap"),
          graft.Canonical.round4(col("__n_overlap").cast("double") / col("n_exact_pairs")).as("lsh_recall"),
          graft.Canonical.round4(col("__n_overlap").cast("double") / col("n_lsh_pairs")).as("lsh_precision"))
    },
    Some(s"""WITH ${jacCte(0.2)}
            |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
            |  CAST(count(*) AS BIGINT) AS n_lsh_pairs,
            |  CAST(count(*) AS BIGINT) AS n_overlap,
            |  CAST(1.0 AS DOUBLE) AS lsh_recall,
            |  CAST(1.0 AS DOUBLE) AS lsh_precision
            |FROM jac""".stripMargin))

  // — SimHash, gated by a derived-metric oracle with two independent
  //   checks: (1) synthetic exact duplicates (every doc unioned with an
  //   id-shifted copy) MUST all surface at Hamming distance 0 — identical
  //   text ⇒ identical signature, and the pigeonhole chunk join is exact,
  //   so this pins both signature determinism and bucketing completeness;
  //   (2) ≥90% of exact jaccard≥0.5 pairs fall within Hamming≤6 (measured:
  //   25/25 at sf0.01, 26/28 at sf0.001). —————————————————————————————————
  private val x04 = Probe(
    "x04_dedup_simhash",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      val dups = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val sig = Dedup.simhash(docs.unionByName(dups), "doc_id", col("text"))
      val pairs = Dedup.simhashPairs(sig, "doc_id", maxDist = 6).persist()
      pairs.count() // eager: feeds both metric branches below
      val selfDup = pairs.filter(col("id_b") - col("id_a") === 1000000L && col("hamming") === 0)
      val hi = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), 3, 0.5)
        .select(col("id_a"), col("id_b"))
      val hiFound = hi.join(pairs.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_semi")
      scalarRow(
        "n_docs" -> docs.agg(count(lit(1))),
        "n_self_dup_found_h0" -> selfDup.agg(count(lit(1))),
        "n_hi_jaccard_pairs" -> hi.agg(count(lit(1))),
        "__n_hi_found" -> hiFound.agg(count(lit(1))))
        .select(
          col("n_docs"), col("n_self_dup_found_h0"),
          (col("n_self_dup_found_h0") === col("n_docs")).as("all_self_dups_found"),
          col("n_hi_jaccard_pairs"),
          (col("__n_hi_found") >= col("n_hi_jaccard_pairs") * 0.9).as("hi_recall_ge_090"))
    },
    Some(s"""WITH ${jacCte(0.5)}
            |SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
            |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_self_dup_found_h0,
            |  TRUE AS all_self_dups_found,
            |  CAST(count(*) AS BIGINT) AS n_hi_jaccard_pairs,
            |  TRUE AS hi_recall_ge_090
            |FROM jac""".stripMargin))

  // — brute-force cosine top-k (exact ANN baseline) ——————————————————————
  private val x05 = Probe(
    "x05_sim_topk_bruteforce",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
           |pairs AS (SELECT query_id, vec_id, qe, embedding AS ce
           |          FROM q, embeddings WHERE vec_id != query_id),
           |flat AS (SELECT query_id, vec_id, CAST(unnest(qe) AS DOUBLE) AS x,
           |                CAST(unnest(ce) AS DOUBLE) AS y FROM pairs),
           |dots AS (SELECT query_id, vec_id, sum(x * y) AS d, sum(x * x) AS nx, sum(y * y) AS ny
           |         FROM flat GROUP BY 1, 2),
           |sims AS (SELECT query_id, vec_id, round(d / (sqrt(nx) * sqrt(ny)), 6) AS cosine_sim FROM dots),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |             ORDER BY cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank FROM sims)
           |SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 5
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin))

  // — LSH-bucketed approximate top-k, gated by a derived-metric oracle:
  //   recall@5 against x05's exact brute-force top-k. 3 hyperplanes +
  //   Hamming-1 multi-probe gives recall 0.70/0.64 (sf0.01/sf0.001) on the
  //   synthetic near-orthogonal embeddings — real clustered embeddings
  //   support more planes at equal recall. Gate pins recall ≥ 0.5 and that
  //   every query fills its full top-k from the probed buckets. ———————————
  private val x06 = Probe(
    "x06_sim_topk_lsh",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"))
      val lsh = Similarity.lshBucketTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding",
          k = 5, numPlanes = 3, dim = 64, multiProbe = true)
        .select(col("query_id"), col("vec_id"))
      val overlap = lsh.join(exact, Seq("query_id", "vec_id"), "left_semi")
      scalarRow(
        "n_queries" -> queries.agg(count(lit(1))),
        "n_exact_results" -> exact.agg(count(lit(1))),
        "n_lsh_results" -> lsh.agg(count(lit(1))),
        "__n_overlap" -> overlap.agg(count(lit(1))))
        .select(
          col("n_queries"), col("n_exact_results"), col("n_lsh_results"),
          (col("__n_overlap") >= col("n_exact_results") * 0.5).as("recall_ge_050"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(count(*) * 5 AS BIGINT) AS n_exact_results,
           |  CAST(count(*) * 5 AS BIGINT) AS n_lsh_results,
           |  TRUE AS recall_ge_050
           |FROM embeddings WHERE vec_id < 10""".stripMargin))

  // — embedding-cosine near-dup pairs (exact; LSH variant is x06's path) —
  private val x07 = Probe(
    "x07_cosine_near_dup",
    (s, dir) => Similarity.cosinePairsExact(Readers.fanOut(t(s, dir, "embeddings")), "vec_id", "embedding", 0.4)
      .orderBy("id_a", "id_b"),
    Some("""WITH pairs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
           |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
           |flat AS (SELECT id_a, id_b, CAST(unnest(ea) AS DOUBLE) AS x,
           |                CAST(unnest(eb) AS DOUBLE) AS y FROM pairs),
           |dots AS (SELECT id_a, id_b, sum(x * y) AS d, sum(x * x) AS nx, sum(y * y) AS ny
           |         FROM flat GROUP BY 1, 2)
           |SELECT id_a, id_b, round(d / (sqrt(nx) * sqrt(ny)), 6) AS cosine_sim
           |FROM dots WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.4
           |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin))

  // — text analysis: tokens, quality, lang-id, fingerprint ———————————————
  private val x08 = Probe(
    "x08_text_stats",
    (s, dir) => TextStats.withStats(Readers.fanOut(t(s, dir, "documents")))
      .select(col("doc_id"), col("n_chars_calc"), col("n_tokens"), col("n_regex_tokens"),
        col("punct_ratio"), col("stopword_ratio"), col("quality_score"),
        col("pred_lang"), col("fingerprint"))
      .orderBy("doc_id"),
    Some(s"""WITH base AS (
            |  SELECT doc_id, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
            |  FROM documents),
            |ratios AS (
            |  SELECT doc_id, text,
            |    CAST(length(text) AS BIGINT) AS n_chars_calc,
            |    CAST(len(tok) AS BIGINT) AS n_tokens,
            |    CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_regex_tokens,
            |    floor((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
            |      / nullif(length(text), 0)) * 10000 + 0.5) / 10000 AS punct_ratio,
            |    floor((CAST(len(list_filter(tok, t -> t = 'the' OR t = 'a')) AS DOUBLE)
            |      / nullif(len(tok), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio
            |  FROM base),
            |fp AS (
            |  SELECT doc_id, CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1),
            |    i -> ascii(text[i]) * ((i % 64) + 1))), 0) AS BIGINT) AS fingerprint
            |  FROM base)
            |SELECT r.doc_id, r.n_chars_calc, r.n_tokens, r.n_regex_tokens, r.punct_ratio,
            |  r.stopword_ratio,
            |  floor((least(1.0, r.n_tokens / 64.0) * 0.4
            |    + (1.0 - least(1.0, coalesce(r.punct_ratio, 0) * 10)) * 0.3
            |    + least(1.0, coalesce(r.stopword_ratio, 0) * 20) * 0.3) * 10000 + 0.5) / 10000 AS quality_score,
            |  ${TextStats.langIdSql("r.text")} AS pred_lang,
            |  coalesce(f.fingerprint, 0) AS fingerprint
            |FROM ratios r LEFT JOIN fp f ON r.doc_id = f.doc_id
            |ORDER BY r.doc_id ASC NULLS FIRST""".stripMargin))

  // — sessionization: native session_window vs gaps-and-islands oracle ——
  private val x09 = Probe(
    "x09_sessionize",
    (s, dir) => Sessionize.bySessionWindow(t(s, dir, "events"), "user_id", "ts",
        "30 minutes", Some("value"))
      .select(col("user_id"),
        date_format(col("session_start"), Schemas.TsFmt).as("session_start"),
        date_format(col("session_end"), Schemas.TsFmt).as("session_end"),
        col("n_events").cast("long").as("n_events"),
        col("total_value"))
      .orderBy("user_id", "session_start"),
    Some(s"""WITH o AS (
            |  SELECT user_id, ts, value,
            |    CASE WHEN lag(ts) OVER w IS NULL
            |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000 THEN 1
            |         ELSE 0 END AS ns
            |  FROM events
            |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
            |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
            |SELECT user_id, strftime(min(ts), '$F') AS session_start,
            |  strftime(max(ts), '$F') AS session_end,
            |  CAST(count(*) AS BIGINT) AS n_events,
            |  round(sum(value), 4) AS total_value
            |FROM s GROUP BY user_id, sid
            |ORDER BY user_id ASC NULLS FIRST, session_start ASC NULLS FIRST""".stripMargin))

  // — multimodal: REAL header decode. The fixture synthesizes genuine
  //   BMP / WAV / PPM byte streams whose header fields are arithmetic in
  //   doc_id; the per-partition codec parses them back out of the raw
  //   bytes (magic-byte dispatch, little-endian field extraction), and the
  //   oracle predicts every parsed field from the same arithmetic. ————————
  private val x10 = Probe(
    "x10_multimodal_meta",
    (s, dir) => {
      val media = Multimodal.synthMedia(s, t(s, dir, "documents"), "doc_id").toDF()
      Multimodal.extractMeta(s, media).toDF()
        .select(col("media_id"), col("kind"), col("byte_len"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"))
        .orderBy("media_id")
    },
    Some("""WITH m AS (
           |  SELECT doc_id AS media_id, doc_id % 3 AS k,
           |    doc_id % 64 + 1 AS bw, doc_id % 48 + 1 AS bh,
           |    doc_id % 2 + 1 AS wc, 8000 + (doc_id % 8) * 1000 AS wr, doc_id % 100 AS wn,
           |    doc_id % 32 + 1 AS pw, doc_id % 24 + 1 AS ph
           |  FROM documents)
           |SELECT media_id,
           |  CASE k WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'ppm' END AS kind,
           |  CAST(CASE k
           |    WHEN 0 THEN 54 + ((bw * 3 + 3) // 4) * 4 * bh
           |    WHEN 1 THEN 44 + wn * wc * 2
           |    ELSE 3 + len(CAST(pw AS VARCHAR)) + 1 + len(CAST(ph AS VARCHAR)) + 5 + pw * ph * 3
           |  END AS BIGINT) AS byte_len,
           |  CAST(CASE k WHEN 0 THEN bw WHEN 1 THEN wr ELSE pw END AS BIGINT) AS width,
           |  CAST(CASE k WHEN 0 THEN bh WHEN 1 THEN 16 ELSE ph END AS BIGINT) AS height,
           |  CAST(CASE k WHEN 0 THEN 3 WHEN 1 THEN wc ELSE 3 END AS BIGINT) AS channels
           |FROM m ORDER BY media_id ASC NULLS FIRST""".stripMargin))

  // — multimodal: frame sampling shape ———————————————————————————————————
  private val x11 = Probe(
    "x11_frame_sample",
    (s, dir) => {
      val media = Multimodal.pack(t(s, dir, "documents"), "doc_id", "text", "video")
      Multimodal.sampleFrames(s, media, frameBytes = 64, everyN = 2).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("frame_idx")).as("sum_idx"),
          sum(length(col("frame_bytes"))).as("sampled_bytes"))
        .orderBy("media_id")
    },
    Some("""WITH m AS (
           |  SELECT doc_id AS media_id, octet_length(encode(text)) AS len,
           |    CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS nchunks
           |  FROM documents),
           |calc AS (
           |  SELECT media_id, len, nchunks, (nchunks + 1) // 2 AS n FROM m WHERE nchunks > 0)
           |SELECT media_id, CAST(n AS BIGINT) AS n_frames,
           |  CAST(n * (n - 1) AS BIGINT) AS sum_idx,
           |  CAST(64 * n - CASE WHEN (nchunks - 1) % 2 = 0 THEN 64 * nchunks - len ELSE 0 END AS BIGINT)
           |    AS sampled_bytes
           |FROM calc ORDER BY media_id ASC NULLS FIRST""".stripMargin))

  // — IVF-Flat ANN with the deterministic seed quantizer (oracle-checked) —
  private val x12 = Probe(
    "x12_sim_topk_ivf",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16)
      Ivf.search(queries, "query_id", "qvec", emb, "vec_id", "embedding", cents, k = 5, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH cents AS (
           |  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16),
           |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
           |cc AS (SELECT vec_id, centroid_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           |              CAST(unnest(cvec) AS DOUBLE) AS y FROM embeddings, cents),
           |ccs AS (SELECT vec_id, centroid_id,
           |          round(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))), 6) AS sim
           |        FROM cc GROUP BY 1, 2),
           |assigned AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn FROM ccs)
           |  WHERE rn = 1),
           |qc AS (SELECT query_id, centroid_id, CAST(unnest(qvec) AS DOUBLE) AS x,
           |              CAST(unnest(cvec) AS DOUBLE) AS y FROM q, cents),
           |qcs AS (SELECT query_id, centroid_id,
           |          round(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))), 6) AS sim
           |        FROM qc GROUP BY 1, 2),
           |probes AS (
           |  SELECT query_id, centroid_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn FROM qcs)
           |  WHERE rn <= 4),
           |cand AS (SELECT p.query_id, a.vec_id FROM probes p
           |         JOIN assigned a USING (centroid_id) WHERE a.vec_id != p.query_id),
           |pair AS (SELECT cand.query_id, cand.vec_id, CAST(unnest(q.qvec) AS DOUBLE) AS x,
           |                CAST(unnest(e.embedding) AS DOUBLE) AS y
           |         FROM cand JOIN q ON q.query_id = cand.query_id
           |         JOIN embeddings e ON e.vec_id = cand.vec_id),
           |sims AS (SELECT query_id, vec_id,
           |           round(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))), 6) AS cosine_sim
           |         FROM pair GROUP BY 1, 2)
           |SELECT query_id, vec_id, cosine_sim, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank FROM sims)
           |WHERE rank <= 5
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin))

  // — streaming windowed counts, run to completion in the correctness gate —
  private val x13 = Probe(
    "x13_stream_counts",
    (s, dir) => {
      val tmp = s"${graft.TmpDir.root}/tmp/x13_jsonl_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      t(s, dir, "events").select(EventsVocab.eventJson.as("value"))
        .coalesce(4).write.mode("overwrite").text(tmp)
      val flat = graft.streaming.StreamingIngest.flatEvents(s, tmp)
      val counts = flat
        .withWatermark("event_date", "1 hour")
        .groupBy(window(col("event_date"), "1 day"), col("event_code"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("window.start"), Schemas.TsFmt).as("window_start"),
          col("event_code"), col("n_events"))
      graft.streaming.StreamingIngest
        .runToMemory(s, counts, s"x13_mem_${System.nanoTime()}", outputMode = "complete")
        .orderBy("window_start", "event_code")
    },
    Some(s"""SELECT strftime(date_trunc('day', ts), '$F') AS window_start,
            |  ${EventsVocab.codeSql} AS event_code, CAST(count(*) AS BIGINT) AS n_events
            |FROM events GROUP BY 1, 2
            |ORDER BY window_start ASC NULLS FIRST, event_code ASC NULLS FIRST""".stripMargin))

  // — stateful streaming (flatMapGroupsWithState): final per-key snapshot
  //   equals the batch per-key aggregate → fully oracle-checkable ————————
  private val x17 = Probe(
    "x17_stream_stateful",
    (s, dir) => {
      val tmp = s"${graft.TmpDir.root}/tmp/x17_jsonl_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      t(s, dir, "events").select(EventsVocab.eventJson.as("value"))
        .coalesce(4).write.mode("overwrite").text(tmp)
      val flat = graft.streaming.StreamingIngest.flatEvents(s, tmp)
      val snaps = graft.streaming.StreamingIngest.runToMemory(
        s,
        graft.streaming.StreamingIngest.statefulShipmentProgress(flat, "1 hour").toDF(),
        s"x17_mem_${System.nanoTime()}", outputMode = "append")
      snaps.groupBy(col("shippingId"))
        .agg(
          max(col("nEvents")).as("n_events"),
          date_format(min(col("firstEventAt")), Schemas.TsFmt).as("first_at"),
          date_format(max(col("lastEventAt")), Schemas.TsFmt).as("last_at"))
        .select(col("shippingId").as("shipping_id"),
          col("n_events"), col("first_at"), col("last_at"))
        .orderBy("shipping_id")
    },
    Some(s"""SELECT ${EventsVocab.shippingIdSql} AS shipping_id,
            |  CAST(count(*) AS BIGINT) AS n_events,
            |  strftime(min(ts), '$F') AS first_at, strftime(max(ts), '$F') AS last_at
            |FROM events WHERE ${EventsVocab.shippingIdSql} IS NOT NULL
            |GROUP BY 1 ORDER BY shipping_id ASC NULLS FIRST""".stripMargin))

  // — streaming dedup within watermark: first-seen triples ≡ batch DISTINCT
  private val x18 = Probe(
    "x18_stream_dedup",
    (s, dir) => {
      val tmp = s"${graft.TmpDir.root}/tmp/x18_jsonl_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      t(s, dir, "events").select(EventsVocab.eventJson.as("value"))
        .coalesce(4).write.mode("overwrite").text(tmp)
      val flat = graft.streaming.StreamingIngest.flatEvents(s, tmp)
      val deduped = graft.streaming.StreamingIngest.runToMemory(
        s,
        graft.streaming.StreamingIngest.dedupedEvents(flat, "30 days")
          .select(col("shipping_id"), col("event_code"),
            date_format(col("event_date"), Schemas.TsFmt).as("event_at")),
        s"x18_mem_${System.nanoTime()}", outputMode = "append")
      deduped.orderBy("shipping_id", "event_code", "event_at")
    },
    Some(s"""SELECT DISTINCT ${EventsVocab.shippingIdSql} AS shipping_id,
            |  ${EventsVocab.codeSql} AS event_code, strftime(ts, '$F') AS event_at
            |FROM events WHERE ${EventsVocab.shippingIdSql} IS NOT NULL
            |ORDER BY shipping_id ASC NULLS FIRST, event_code ASC NULLS FIRST,
            |  event_at ASC NULLS FIRST""".stripMargin))

  // — deterministic sampling: per-stratum exact top-N (oracled) and the
  //   hash-split assignment (rows-only: split depends on xxhash64) ————————
  private val x19 = Probe(
    "x19_stratified_sample",
    (s, dir) => Sampling.stratifiedTopN(
        t(s, dir, "events").select(col("event_id"), col("event_type"), col("user_id")),
        col("event_type"), col("event_id"), 50)
      .orderBy("event_type", "event_id"),
    Some("""SELECT event_id, event_type, user_id FROM (
           |  SELECT event_id, event_type, user_id,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY event_id ASC NULLS FIRST) AS rn
           |  FROM events)
           |WHERE rn <= 50
           |ORDER BY event_type ASC NULLS FIRST, event_id ASC NULLS FIRST""".stripMargin))

  //   The hash-split assignment depends on xxhash64, so the gate checks
  //   the INVARIANTS instead: totality (every row in exactly one split —
  //   n_total equals the table count DuckDB recomputes), the split count,
  //   and each split's fraction within ±2% of its target (measured drift
  //   ≤0.7% at sf0.01; binomial σ ≈ 0.4%). ————————————————————————————————
  private val x20 = Probe(
    "x20_hash_split",
    (s, dir) => {
      val counts = Sampling.hashSplit(
          t(s, dir, "events"), col("event_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
      def fracOk(split: String, target: Double) =
        (abs(max(when(col("split") === split, col("n"))).cast("double") / sum(col("n")) - target)
          <= 0.02).as(s"${split}_frac_ok")
      counts.agg(
        sum(col("n")).cast("long").as("n_total"),
        count(lit(1)).as("n_splits"),
        fracOk("train", 0.8), fracOk("val", 0.1), fracOk("test", 0.1))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_total, CAST(3 AS BIGINT) AS n_splits,
           |  TRUE AS train_frac_ok, TRUE AS val_frac_ok, TRUE AS test_frac_ok
           |FROM events""".stripMargin))

  // — incremental dedup: a new batch against an existing corpus — the
  //   daily-ingest shape. The fixture splits documents 80/20 into
  //   corpus/batch and plants exact duplicates (id-shifted copies of every
  //   corpus doc with doc_id%7==1). Per-row statuses are fully oracled:
  //   the exact path is plain SQL (text equality ≡ hash equality — the
  //   fixture has no collisions), and the near path's banding recall is
  //   exact 1.0 at these corpus sizes (16×4 bands at jaccard≥0.2, same
  //   empirical pin as x03), so DuckDB recomputes every row from the
  //   exact batch→corpus jaccard pairs. ——————————————————————————————————
  private val x21 = Probe(
    "x21_incremental_dedup",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .unionByName(corpus.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Dedup.incrementalDedup(corpus, batch, "doc_id", col("text"),
          n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
           |batch AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
           |  WHERE doc_id % 5 != 0 AND doc_id % 7 = 1),
           |ex AS (
           |  SELECT b.doc_id, min(c.doc_id) AS exact_of
           |  FROM batch b JOIN corpus c
           |    ON c.text IS NOT DISTINCT FROM b.text GROUP BY 1),
           |surv AS (SELECT * FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
           |shc AS (
           |  SELECT doc_id AS id, unnest(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
           |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tok
           |        FROM corpus)),
           |shb AS (
           |  SELECT doc_id AS id, unnest(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
           |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tok
           |        FROM surv)),
           |szc AS (SELECT id, count(*) AS n FROM shc GROUP BY id),
           |szb AS (SELECT id, count(*) AS n FROM shb GROUP BY id),
           |inter AS (
           |  SELECT b.id AS id_a, c.id AS id_b, count(*) AS i
           |  FROM shb b JOIN shc c ON b.s = c.s GROUP BY 1, 2),
           |jac AS (
           |  SELECT id_a, id_b
           |  FROM inter
           |  JOIN szb sa ON sa.id = id_a
           |  JOIN szc sb ON sb.id = id_b
           |  WHERE floor((i * 1.0 / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.2),
           |near AS (SELECT id_a AS doc_id, min(id_b) AS near_of FROM jac GROUP BY 1)
           |SELECT b.doc_id,
           |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
           |       WHEN nr.near_of IS NOT NULL THEN 'near_dup'
           |       ELSE 'new' END AS status,
           |  coalesce(e.exact_of, nr.near_of) AS dup_of
           |FROM batch b
           |LEFT JOIN ex e ON e.doc_id = b.doc_id
           |LEFT JOIN near nr ON nr.doc_id = b.doc_id
           |ORDER BY b.doc_id ASC NULLS FIRST""".stripMargin))

  // — int8-quantized candidate top-k + exact rerank. Quantization is
  //   deterministic arithmetic (half-up-via-floor — engine-portable), so
  //   unlike the hash-family probes the ENTIRE pipeline has a value-level
  //   DuckDB twin: same quantized codes, same 6-decimal approx candidate
  //   cut, same exact rerank. ———————————————————————————————————————————
  private val x22 = Probe(
    "x22_sim_topk_quantized",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.quantizedTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding",
          k = 5, candMult = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
           |qq AS (
           |  SELECT query_id, qe,
           |    greatest(list_max([abs(CAST(x AS DOUBLE)) for x in qe]), 1e-30) AS qmax,
           |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in qe])) AS qnorm
           |  FROM q),
           |qv AS (
           |  SELECT query_id, qe, qnorm, qmax / 127.0 AS qs,
           |    [floor(CAST(x AS DOUBLE) * 127.0 / qmax + 0.5) for x in qe] AS qcode
           |  FROM qq),
           |cq AS (
           |  SELECT vec_id, embedding AS ce,
           |    greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]), 1e-30) AS cmax,
           |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS cnorm
           |  FROM embeddings),
           |cv AS (
           |  SELECT vec_id, ce, cnorm, cmax / 127.0 AS cs,
           |    [floor(CAST(x AS DOUBLE) * 127.0 / cmax + 0.5) for x in ce] AS ccode
           |  FROM cq),
           |pflat AS (
           |  SELECT query_id, vec_id, unnest(qcode) AS a, unnest(ccode) AS b
           |  FROM qv, cv WHERE vec_id != query_id),
           |adots AS (SELECT query_id, vec_id, sum(a * b) AS dq FROM pflat GROUP BY 1, 2),
           |approx AS (
           |  SELECT d.query_id, d.vec_id,
           |    round(d.dq * qv.qs * cv.cs / (qv.qnorm * cv.cnorm), 6) AS ap
           |  FROM adots d
           |  JOIN qv ON qv.query_id = d.query_id
           |  JOIN cv ON cv.vec_id = d.vec_id),
           |cands AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY ap DESC NULLS LAST, vec_id ASC NULLS FIRST) AS r FROM approx)
           |  WHERE r <= 20),
           |rflat AS (
           |  SELECT c.query_id, c.vec_id, CAST(unnest(qv.qe) AS DOUBLE) AS x,
           |    CAST(unnest(cv.ce) AS DOUBLE) AS y
           |  FROM cands c
           |  JOIN qv ON qv.query_id = c.query_id
           |  JOIN cv ON cv.vec_id = c.vec_id),
           |sims AS (
           |  SELECT f.query_id, f.vec_id,
           |    round(sum(f.x * f.y) / (any_value(qv.qnorm) * any_value(cv.cnorm)), 6) AS cosine_sim
           |  FROM rflat f
           |  JOIN qv ON qv.query_id = f.query_id
           |  JOIN cv ON cv.vec_id = f.vec_id
           |  GROUP BY 1, 2)
           |SELECT query_id, vec_id, cosine_sim, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank FROM sims)
           |WHERE rank <= 5
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin))

  // — near-dup connected components: pairwise matches → per-cluster
  //   keep/drop. Pairs chain (a~b, b~c ⇒ one cluster), so the canonical
  //   survivor is the min id of the CONNECTED COMPONENT, not of the pair.
  //   Spark side is iterative min-label propagation; DuckDB recomputes the
  //   same fixpoint with a recursive transitive-closure CTE over the exact
  //   (oracled, x02) pair set. ———————————————————————————————————————————
  private val x23 = Probe(
    "x23_dedup_components",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), 3, 0.2)
      Dedup.components(pairs)
        .select(col("id").as("doc_id"), col("comp"),
          (col("id") === col("comp")).as("is_canonical"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${jacCte(0.2)},
            |edges AS (
            |  SELECT id_a AS src, id_b AS dst FROM jac
            |  UNION
            |  SELECT id_b AS src, id_a AS dst FROM jac),
            |reach AS (
            |  SELECT src, dst FROM edges
            |  UNION
            |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            |SELECT src AS doc_id, least(src, min(dst)) AS comp,
            |  least(src, min(dst)) = src AS is_canonical
            |FROM reach GROUP BY src
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — leakage-safe split (x106): split assignment coins on the near-dup
  //   COMPONENT, so no near-dup pair straddles a split boundary. The coin
  //   depends on xxhash64 (x20's invariant-oracle territory), but the
  //   leakage contract itself is VALUE-checked: n_pairs is the exact
  //   (oracled, x02/x23) pair count and n_leaky_pairs — pairs whose two
  //   sides landed in different splits — must be EXACTLY zero (pairwise
  //   agreement over every edge implies whole-component agreement by
  //   transitivity). Fractions ride as invariants with a tolerance above
  //   the cluster-coin's measured drift at this corpus size.
  private val x106 = Probe(
    "x106_leakage_safe_split",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      val split = Sampling.leakageSafeSplit(docs, "doc_id", col("text"),
        n = 3, threshold = 0.2, splits = Seq("train" -> 0.8, "test" -> 0.2))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), 3, 0.2)
      val sides = pairs
        .join(split.select(col("doc_id").as("id_a"), col("split").as("__sa")), Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"), col("split").as("__sb")), Seq("id_b"))
      val fracs = split.groupBy(col("split")).agg(count(lit(1)).as("n"))
      val fracChecks = fracs.agg(
        sum(col("n")).cast("long").as("n_total"),
        (abs(max(when(col("split") === "train", col("n"))).cast("double") / sum(col("n")) - 0.8)
          <= 0.05).as("train_frac_ok"),
        (abs(max(when(col("split") === "test", col("n"))).cast("double") / sum(col("n")) - 0.2)
          <= 0.05).as("test_frac_ok"))
      val leak = sides.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)).as("n_leaky_pairs"))
      fracChecks.crossJoin(leak)
    },
    Some(s"""WITH RECURSIVE ${jacCte(0.2)}
            |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total,
            |  TRUE AS train_frac_ok, TRUE AS test_frac_ok,
            |  (SELECT CAST(count(*) AS BIGINT) FROM jac) AS n_pairs,
            |  CAST(0 AS BIGINT) AS n_leaky_pairs""".stripMargin))

  // — tf-idf top terms per document (keyword extraction). Rational
  //   smoothed idf — deterministic across engines (see scaladoc) — so the
  //   whole ranking carries a value-level oracle. —————————————————————————
  private val x24 = Probe(
    "x24_tfidf_top_terms",
    (s, dir) => TextStats.tfidfTopTerms(
        Readers.fanOut(t(s, dir, "documents")), "doc_id", col("text"), k = 5)
      .orderBy("doc_id", "rank"),
    Some("""WITH toks AS (
           |  SELECT doc_id AS id,
           |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS tok
           |  FROM documents),
           |tc AS (SELECT id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
           |dl AS (SELECT id, sum(cnt) AS len FROM tc GROUP BY 1),
           |dfq AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
           |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
           |scored AS (
           |  SELECT tc.id, tc.tok,
           |    floor(((CAST(tc.cnt AS DOUBLE) / CAST(dl.len AS DOUBLE))
           |      * ((nd.n_docs + CAST(1 AS DOUBLE)) / (CAST(dfq.df AS DOUBLE) + CAST(1 AS DOUBLE))))
           |      * 10000 + 0.5) / 10000 AS score
           |  FROM tc
           |  JOIN dl ON dl.id = tc.id
           |  JOIN dfq ON dfq.tok = tc.tok
           |  CROSS JOIN nd)
           |SELECT id AS doc_id, tok AS term, score, CAST(rank AS BIGINT) AS rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY id
           |    ORDER BY score DESC NULLS LAST, tok ASC NULLS FIRST) AS rank FROM scored)
           |WHERE rank <= 5
           |ORDER BY doc_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin))

  // — PII scrubbing (emails/URLs/phones → tags). The fixture corpus has no
  //   PII, so both engines plant identical doc_id-derived PII into every
  //   document, scrub, and compare the FULL scrubbed text plus pre-scrub
  //   match counts. Patterns live in the Java-regex ∩ RE2 subset so one
  //   pattern string serves both engines. ————————————————————————————————
  private val x25 = Probe(
    "x25_text_scrub",
    (s, dir) => {
      val planted = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via https://ex.com/p/"),
          col("doc_id"), lit(" or 555-123-4567")).as("text"))
      planted.select(
          col("doc_id"),
          TextStats.scrub(col("text")).as("scrubbed"),
          size(regexp_extract_all(col("text"), lit(TextStats.EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("text"), lit(TextStats.UrlRe), lit(0)))
            .cast("long").as("n_urls"),
          size(regexp_extract_all(col("text"), lit(TextStats.PhoneRe), lit(0)))
            .cast("long").as("n_phones"))
        .orderBy("doc_id")
    },
    Some("""WITH planted AS (
           |  SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR)
           |      || '@example.com via https://ex.com/p/' || CAST(doc_id AS VARCHAR)
           |      || ' or 555-123-4567' AS text
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(
           |    regexp_replace(
           |      regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
           |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS scrubbed,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
           |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones
           |FROM planted ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — count-min-sketch term frequency, gated like x16: the sketch counters
  //   are engine-specific, but `est ≥ exact` (CMS never undercounts) and
  //   `est ≤ exact + ⌈eps·N⌉` (seed-fixed, verified at all fixture scales)
  //   are pinned invariants over the exact counts DuckDB recomputes with
  //   the same whitespace tokenization as x24. The vocabulary is the exact
  //   top-20 (deterministic tie-break by term), per the operator's
  //   small-query-set contract. ———————————————————————————————————————————
  private val x26 = Probe(
    "x26_cms_term_freq",
    (s, dir) => {
      val toks = Readers.fanOut(t(s, dir, "documents"))
        .select(explode(TextStats.tokens(col("text"))).as("term"))
        .persist()
      val nTotal = toks.count() // eager: toks feeds the sketch AND the exact counts
      val cms = Frequency.sketch(toks, col("term"), eps = 1e-3, confidence = 0.99, seed = 7)
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("term").asc)
        .limit(20).collect() // 20 rows by contract — the query vocabulary
      toks.unpersist()
      val slack = math.ceil(1e-3 * nTotal).toLong
      import s.implicits._
      vocab.toSeq.map { r =>
        val (term, n) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(term)
        (term, n, est >= n, est <= n + slack)
      }.toDF("term", "exact_n", "est_ge_exact", "within_eps")
        .orderBy(col("exact_n").desc, col("term").asc)
    },
    Some("""WITH toks AS (
           |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
           |    x -> x != '')) AS term
           |  FROM documents),
           |ex AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS exact_n
           |  FROM toks GROUP BY 1
           |  ORDER BY exact_n DESC, term ASC LIMIT 20)
           |SELECT term, exact_n, TRUE AS est_ge_exact, TRUE AS within_eps
           |FROM ex ORDER BY exact_n DESC NULLS LAST, term ASC NULLS FIRST""".stripMargin))

  // — training-sequence packing (GPT-style concat-and-chunk): documents
  //   concatenate per shard and cut at exact 256-token boundaries, a doc
  //   straddling a cut splits across sequences. Pure window + explode
  //   arithmetic, so the oracle replays it exactly. The probe pins shard
  //   (doc_id % 4) and order (doc_id) to portable expressions; the
  //   operator's defaults hash both. ——————————————————————————————————————
  private val x27 = Probe(
    "x27_sequence_pack",
    (s, dir) => Packing.concatChunk(
        Readers.fanOut(t(s, dir, "documents")),
        "doc_id", size(TextStats.tokens(col("text"))), budget = 256, shards = 4,
        shardBy = Some(col("doc_id") % 4), orderBy = Some(col("doc_id")))
      .orderBy("shard", "seq_id", "start_in_seq", "doc_id"),
    Some("""WITH d AS (
           |  SELECT doc_id, doc_id % 4 AS shard,
           |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
           |      x -> x != '')) AS BIGINT) AS t
           |  FROM documents),
           |p AS (
           |  SELECT doc_id, shard, t,
           |    sum(t) OVER (PARTITION BY shard ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS e
           |  FROM d WHERE t > 0),
           |x AS (
           |  SELECT doc_id, shard, e - t AS s, e, t,
           |    unnest(generate_series(CAST(floor((e - t) / 256.0) AS BIGINT),
           |      CAST(floor((e - 1) / 256.0) AS BIGINT))) AS seq_id
           |  FROM p)
           |SELECT doc_id, shard, seq_id,
           |  CAST(greatest(s - seq_id * 256, 0) AS BIGINT) AS start_in_seq,
           |  CAST(least(e - seq_id * 256, 256) AS BIGINT) AS end_in_seq,
           |  t AS n_tokens
           |FROM x
           |ORDER BY shard ASC NULLS FIRST, seq_id ASC NULLS FIRST,
           |  start_in_seq ASC NULLS FIRST, doc_id ASC NULLS FIRST""".stripMargin))

  // — per-language quality pruning: drop exactly floor(0.2·n) of each
  //   language's documents, lowest composite score first; score ties break
  //   in the PORTABLE-HASH order (fp%256, fp, id) of the id's positional
  //   fingerprint — fully deterministic AND engine-replayable, so the kept
  //   set is value-oracled end to end (the quality formula replay is x08's
  //   oracle CTE, the fingerprint replay is x53's). ————————————————————————
  private val x28 = Probe(
    "x28_quality_prune",
    (s, dir) => TextStats.qualityPrune(
        Readers.fanOut(t(s, dir, "documents")), "doc_id", frac = 0.2)
      .select(col("doc_id"), col("pred_lang"), col("quality_score"))
      .orderBy("doc_id"),
    Some(s"""WITH base AS (
            |  SELECT doc_id, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
            |  FROM documents),
            |ratios AS (
            |  SELECT doc_id, text,
            |    CAST(len(tok) AS BIGINT) AS n_tokens,
            |    floor((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
            |      / nullif(length(text), 0)) * 10000 + 0.5) / 10000 AS punct_ratio,
            |    floor((CAST(len(list_filter(tok, t -> t = 'the' OR t = 'a')) AS DOUBLE)
            |      / nullif(len(tok), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio
            |  FROM base),
            |scored AS (
            |  SELECT doc_id,
            |    ${TextStats.langIdSql("text")} AS pred_lang,
           |    floor((least(1.0, n_tokens / 64.0) * 0.4
           |      + (1.0 - least(1.0, coalesce(punct_ratio, 0) * 10)) * 0.3
           |      + least(1.0, coalesce(stopword_ratio, 0) * 20) * 0.3) * 10000 + 0.5) / 10000
           |      AS quality_score
           |  FROM ratios),
           |fp AS (
           |  SELECT *, ${TextStats.fingerprintSql("ids")} AS idfp
           |  FROM (SELECT *, CAST(doc_id AS VARCHAR) AS ids FROM scored)),
           |ranked AS (
           |  SELECT *,
           |    row_number() OVER (PARTITION BY pred_lang
           |      ORDER BY quality_score ASC, idfp % 256 ASC, idfp ASC, doc_id ASC) AS rn,
           |    count(*) OVER (PARTITION BY pred_lang) AS n
           |  FROM fp)
           |SELECT doc_id, pred_lang, quality_score
           |FROM ranked WHERE rn > floor(n * 0.2)
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — end-to-end near-dup removal: exact jaccard pairs → connected
  //   components → anti-join drops every non-canonical cluster member.
  //   The oracle replays the pair CTE (x02), transitive closure (x23),
  //   and the anti-join, so the SURVIVING CORPUS itself is value-checked.
  private val x29 = Probe(
    "x29_dedup_corpus",
    (s, dir) => Dedup.dedupCorpusExact(
        Readers.fanOut(t(s, dir, "documents")), "doc_id", col("text"),
        n = 3, threshold = 0.2)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE ${jacCte(0.2)},
            |edges AS (
            |  SELECT id_a AS src, id_b AS dst FROM jac
            |  UNION
            |  SELECT id_b AS src, id_a AS dst FROM jac),
            |reach AS (
            |  SELECT src, dst FROM edges
            |  UNION
            |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            |SELECT doc_id, n_chars FROM documents
            |WHERE doc_id NOT IN (
            |  SELECT src FROM reach GROUP BY src
            |  HAVING least(src, min(dst)) != src)
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — sliding-window chunking (retrieval/RAG shape): 64-token windows
  //   every 48 tokens, chunk text reassembled. No shuffle — tokenize +
  //   explode only — and the oracle replays the identical slicing, so
  //   chunk boundaries AND text are value-checked. ————————————————————————
  private val x30 = Probe(
    "x30_doc_chunks",
    (s, dir) => Packing.slidingChunks(
        Readers.fanOut(t(s, dir, "documents")), "doc_id", col("text"),
        chunkSize = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH d AS (
           |  SELECT doc_id,
           |    list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS toks
           |  FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
           |      FROM d WHERE len(toks) > 0),
           |c AS (
           |  SELECT doc_id, toks, n,
           |    unnest(generate_series(0,
           |      CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT))) AS chunk_idx
           |  FROM n)
           |SELECT doc_id, chunk_idx, chunk_idx * 48 AS tok_start,
           |  least(chunk_idx * 48 + 64, n) AS tok_end,
           |  array_to_string(list_slice(toks, chunk_idx * 48 + 1,
           |    least(chunk_idx * 48 + 64, n)), ' ') AS chunk_text
           |FROM c
           |ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST""".stripMargin))

  // — weighted corpus mixture, gated like x20: the hash coin is not
  //   DuckDB-computable, so the gate is (a) exact per-meta-corpus totals
  //   DuckDB recomputes, (b) pinned tolerance booleans on the realized
  //   keep fraction (deterministic for the fixture — verified with margin
  //   at every SF), (c) rate-1.0 must keep EVERYTHING (exact, not
  //   tolerance). The 20 fixture sources fold into 3 meta-corpora. ————————
  private val x31 = Probe(
    "x31_mixture_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      def grp(lo: Int, hi: Int) = docs.filter(srcNum.between(lo, hi))
      val rates = Map("wiki" -> 1.0, "books" -> 0.5, "web" -> 0.2)
      val mixed = Sampling.mixture(Seq(
        ("wiki", grp(0, 6), rates("wiki")),
        ("books", grp(7, 13), rates("books")),
        ("web", grp(14, 19), rates("web"))), col("doc_id"))
      val kept = mixed.groupBy("mix_source").agg(count(lit(1)).as("__kept"))
      val totals = docs
        .select(when(srcNum <= 6, "wiki").when(srcNum <= 13, "books")
          .otherwise("web").as("mix_source"))
        .groupBy("mix_source").agg(count(lit(1)).as("n_total"))
      val rateCol = when(col("mix_source") === "wiki", rates("wiki"))
        .when(col("mix_source") === "books", rates("books")).otherwise(rates("web"))
      totals.join(kept, Seq("mix_source"), "left")
        .select(col("mix_source"), col("n_total"),
          (abs(coalesce(col("__kept"), lit(0L)).cast("double") / col("n_total") - rateCol)
            <= 0.12).as("frac_ok"),
          (rateCol < 1.0 || coalesce(col("__kept"), lit(0L)) === col("n_total"))
            .as("rate1_keeps_all"))
        .orderBy("mix_source")
    },
    Some("""WITH g AS (
           |  SELECT CASE WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) <= 6
           |              THEN 'wiki'
           |              WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) <= 13
           |              THEN 'books'
           |              ELSE 'web' END AS mix_source
           |  FROM documents)
           |SELECT mix_source, CAST(count(*) AS BIGINT) AS n_total,
           |  TRUE AS frac_ok, TRUE AS rate1_keeps_all
           |FROM g GROUP BY 1 ORDER BY mix_source ASC NULLS FIRST""".stripMargin))

  // — interval-overlap join (range×range): both interval sets explode to
  //   covering bins, bin-equi join, exact residual + first-overlap-bin
  //   dedup — same anti-BNLJ technique as x15's point-in-interval, closing
  //   the range-join family. Value-oracled against the direct inequality
  //   join. ————————————————————————————————————————————————————————————————
  private val x32 = Probe(
    "x32_interval_overlap",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.filter(col("event_id") % 100 === 0)
        .select(col("event_id").as("a_id"), col("value").as("alo"),
          (col("value") + 20.0).as("ahi"))
      val b = ev.filter(col("event_id") % 100 === 1)
        .select(col("event_id").as("b_id"), col("value").as("blo"),
          (col("value") + 15.0).as("bhi"))
      RangeJoin.intervalOverlap(a, "alo", "ahi", b, "blo", "bhi", binWidth = 16.0)
        .select(col("a_id"), col("b_id"),
          graft.Canonical.round4(least(col("ahi"), col("bhi"))
            - greatest(col("alo"), col("blo"))).as("overlap_len"))
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH a AS (
            |  SELECT event_id AS a_id, value AS alo, value + 20.0 AS ahi
            |  FROM events WHERE event_id % 100 = 0 AND value IS NOT NULL),
            |b AS (
            |  SELECT event_id AS b_id, value AS blo, value + 15.0 AS bhi
            |  FROM events WHERE event_id % 100 = 1 AND value IS NOT NULL)
            |SELECT a_id, b_id,
            |  ${graft.Canonical.round4Sql("least(ahi, bhi) - greatest(alo, blo)")} AS overlap_len
            |FROM a JOIN b ON alo <= bhi AND blo <= ahi
            |ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""".stripMargin))

  // — forward as-of join: FIRST event at-or-after each purchase per user
  //   (x14 gates the backward direction; this closes the pair). —————————————
  private val x33 = Probe(
    "x33_asof_forward",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"))
      AsofJoin.forward(purchases, views, Seq("user_id"), "ts", "view_ts", Seq("view_ts"))
        .select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), Schemas.TsFmt).as("ts_str"),
          date_format(col("view_ts"), Schemas.TsFmt).as("next_view_ts"))
        .orderBy("event_id")
    },
    Some(s"""SELECT p.event_id, p.user_id, strftime(p.ts, '$F') AS ts_str,
            |  strftime((SELECT min(c.ts) FROM events c
            |            WHERE c.user_id = p.user_id AND c.event_type = 'view'
            |              AND c.ts >= p.ts), '$F') AS next_view_ts
            |FROM events p WHERE p.event_type = 'purchase'
            |ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  // — salted join: the salt only changes PARTITIONING (each hot key lands
  //   on `salts` reducers), never the result — so the oracle is simply the
  //   unsalted join, making the equivalence itself the gate. ———————————————
  private val x34 = Probe(
    "x34_salted_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_total"))
      Skew.saltedJoin(
          ev.select(col("event_id"), col("event_type"), col("value")),
          dim, "event_type", salts = 8)
        .groupBy(col("event_type"), col("type_total"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("total_value"))
        .orderBy("event_type")
    },
    Some("""WITH dim AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS type_total
           |  FROM events GROUP BY 1)
           |SELECT e.event_type, d.type_total, CAST(count(*) AS BIGINT) AS n_rows,
           |  round(sum(e.value), 4) AS total_value
           |FROM events e JOIN dim d ON e.event_type = d.event_type
           |GROUP BY e.event_type, d.type_total
           |ORDER BY e.event_type ASC NULLS FIRST""".stripMargin))

  // — stratifiedExact counts: WHICH rows survive depends on xxhash64 (not
  //   DuckDB-computable), but HOW MANY per stratum is the operator's exact
  //   contract — ceil(frac · n_k) — and that the kept rows are a subset of
  //   the stratum. Both are value-oracled. ————————————————————————————————
  private val x35 = Probe(
    "x35_stratified_exact",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"))
      Sampling.stratifiedExact(ev, col("event_type"), col("event_id"), 0.1)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_kept"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
           |  CAST(ceil(count(*) * 0.1) AS BIGINT) AS n_kept
           |FROM events GROUP BY event_type
           |ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  // — IVF × int8 quantization: the composed 100-TB ANN plan (coarse
  //   quantizer restricts the scan to nprobe lists; candidates inside the
  //   probed lists are cut over int8 codes; exact rerank on the survivors).
  //   Every stage is deterministic arithmetic, so like x12/x22 the ENTIRE
  //   pipeline has a value-level DuckDB twin. ——————————————————————————————
  private val x37 = Probe(
    "x37_sim_topk_ivf_quantized",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16)
      Ivf.searchQuantized(queries, "query_id", "qvec", emb, "vec_id", "embedding", cents,
          k = 5, nprobe = 4, candMult = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH cents AS (
           |  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16),
           |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
           |cc AS (SELECT vec_id, centroid_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           |              CAST(unnest(cvec) AS DOUBLE) AS y FROM embeddings, cents),
           |ccs AS (SELECT vec_id, centroid_id,
           |          round(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))), 6) AS sim
           |        FROM cc GROUP BY 1, 2),
           |assigned AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn FROM ccs)
           |  WHERE rn = 1),
           |qc AS (SELECT query_id, centroid_id, CAST(unnest(qe) AS DOUBLE) AS x,
           |              CAST(unnest(cvec) AS DOUBLE) AS y FROM q, cents),
           |qcs AS (SELECT query_id, centroid_id,
           |          round(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))), 6) AS sim
           |        FROM qc GROUP BY 1, 2),
           |probes AS (
           |  SELECT query_id, centroid_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) AS rn FROM qcs)
           |  WHERE rn <= 4),
           |qv AS (
           |  SELECT query_id, qe,
           |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in qe])) AS qnorm,
           |    greatest(list_max([abs(CAST(x AS DOUBLE)) for x in qe]), 1e-30) AS qmax
           |  FROM q),
           |qv2 AS (
           |  SELECT query_id, qe, qnorm, qmax / 127.0 AS qs,
           |    [floor(CAST(x AS DOUBLE) * 127.0 / qmax + 0.5) for x in qe] AS qcode
           |  FROM qv),
           |cv AS (
           |  SELECT vec_id, embedding AS ce,
           |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS cnorm,
           |    greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]), 1e-30) AS cmax
           |  FROM embeddings),
           |cv2 AS (
           |  SELECT vec_id, ce, cnorm, cmax / 127.0 AS cs,
           |    [floor(CAST(x AS DOUBLE) * 127.0 / cmax + 0.5) for x in ce] AS ccode
           |  FROM cv),
           |candset AS (
           |  SELECT p.query_id, a.vec_id FROM probes p
           |  JOIN assigned a USING (centroid_id) WHERE a.vec_id != p.query_id),
           |aflat AS (
           |  SELECT c.query_id, c.vec_id, unnest(qv2.qcode) AS a, unnest(cv2.ccode) AS b
           |  FROM candset c
           |  JOIN qv2 ON qv2.query_id = c.query_id
           |  JOIN cv2 ON cv2.vec_id = c.vec_id),
           |adots AS (SELECT query_id, vec_id, sum(a * b) AS dq FROM aflat GROUP BY 1, 2),
           |approx AS (
           |  SELECT d.query_id, d.vec_id,
           |    round(d.dq * qv2.qs * cv2.cs / (qv2.qnorm * cv2.cnorm), 6) AS ap
           |  FROM adots d
           |  JOIN qv2 ON qv2.query_id = d.query_id
           |  JOIN cv2 ON cv2.vec_id = d.vec_id),
           |cands AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY ap DESC NULLS LAST, vec_id ASC NULLS FIRST) AS r FROM approx)
           |  WHERE r <= 20),
           |rflat AS (
           |  SELECT c.query_id, c.vec_id, CAST(unnest(qv2.qe) AS DOUBLE) AS x,
           |    CAST(unnest(cv2.ce) AS DOUBLE) AS y
           |  FROM cands c
           |  JOIN qv2 ON qv2.query_id = c.query_id
           |  JOIN cv2 ON cv2.vec_id = c.vec_id),
           |sims AS (
           |  SELECT f.query_id, f.vec_id,
           |    round(sum(f.x * f.y) / (any_value(qv2.qnorm) * any_value(cv2.cnorm)), 6) AS cosine_sim
           |  FROM rflat f
           |  JOIN qv2 ON qv2.query_id = f.query_id
           |  JOIN cv2 ON cv2.vec_id = f.vec_id
           |  GROUP BY 1, 2)
           |SELECT query_id, vec_id, cosine_sim, rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank FROM sims)
           |WHERE rank <= 5
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin))

  // — planted-neighbor ANN recall: the fixture embeddings are near-
  //   orthogonal, so top-k recall gates on RANDOM queries cannot sit above
  //   0.5 (documented in BASELINE.md). This probe PLANTS the ground truth
  //   instead: each query is a corpus vector plus a deterministic ±3%
  //   per-coordinate perturbation (pure arithmetic — DuckDB replays it),
  //   so its true nearest neighbor is known to be the source vector with
  //   cos ≈ 0.9998. Brute force must find it exactly (value-oracled count);
  //   LSH / IVF / IVF+int8 recall of the planted neighbor is gated ≥ 0.9 —
  //   a regression from "working" to "barely working" now fails loudly. ——
  private val x38 = Probe(
    "x38_ann_planted_recall",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") % 9 === 3)
        .select((col("vec_id") + 10000000L).as("query_id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") +
              (((col("vec_id") + i.cast("long")) % 7) - 3).cast("double") * 0.01).as("qvec"),
          col("vec_id").as("planted_nn"))
      val plant = queries.select(col("query_id"), col("planted_nn"))
      def found(res: org.apache.spark.sql.DataFrame) =
        res.join(plant, Seq("query_id"))
          .filter(col("vec_id") === col("planted_nn"))
          .select(col("query_id")).distinct()
      val bf1 = Similarity.bruteForceTopK(queries, "query_id", "qvec",
        emb, "vec_id", "embedding", k = 1)
      val lsh = Similarity.lshBucketTopK(queries, "query_id", "qvec",
        emb, "vec_id", "embedding", k = 5, numPlanes = 6, dim = 64, multiProbe = true)
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16)
      val ivf = Ivf.search(queries, "query_id", "qvec",
        emb, "vec_id", "embedding", cents, k = 5, nprobe = 4)
      val ivfq = Ivf.searchQuantized(queries, "query_id", "qvec",
        emb, "vec_id", "embedding", cents, k = 5, nprobe = 4, candMult = 4)
      val cb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16, dim = 64)
      val ivfpq = Ivf.searchPq(queries, "query_id", "qvec",
        emb, "vec_id", "embedding", cents, cb, k = 5, nprobe = 4, candMult = 4)
      scalarRow(
        "n_queries" -> queries.agg(count(lit(1))),
        "n_bf_top1_planted" -> found(bf1).agg(count(lit(1))),
        "__n_lsh" -> found(lsh).agg(count(lit(1))),
        "__n_ivf" -> found(ivf).agg(count(lit(1))),
        "__n_ivfq" -> found(ivfq).agg(count(lit(1))),
        "__n_ivfpq" -> found(ivfpq).agg(count(lit(1))))
        .select(
          col("n_queries"), col("n_bf_top1_planted"),
          (col("__n_lsh") >= col("n_queries") * 0.9).as("lsh_recall_ge_090"),
          (col("__n_ivf") >= col("n_queries") * 0.9).as("ivf_recall_ge_090"),
          (col("__n_ivfq") >= col("n_queries") * 0.9).as("ivfq_recall_ge_090"),
          (col("__n_ivfpq") >= col("n_queries") * 0.9).as("ivfpq_recall_ge_090"))
    },
    Some("""WITH q AS (
           |  SELECT vec_id, vec_id + 10000000 AS query_id,
           |    [CAST(embedding[i] AS DOUBLE)
           |       + (((vec_id + i - 1) % 7) - 3) * 0.01
           |     for i in range(1, len(embedding) + 1)] AS qe
           |  FROM embeddings WHERE vec_id % 9 = 3),
           |flat AS (
           |  SELECT q.query_id, q.vec_id AS planted, e.vec_id,
           |    unnest(q.qe) AS x, CAST(unnest(e.embedding) AS DOUBLE) AS y
           |  FROM q, embeddings e),
           |dots AS (SELECT query_id, planted, vec_id, sum(x * y) AS d,
           |           sum(x * x) AS nx, sum(y * y) AS ny
           |         FROM flat GROUP BY 1, 2, 3),
           |top1 AS (
           |  SELECT query_id, planted, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY round(d / (sqrt(nx) * sqrt(ny)), 6) DESC NULLS LAST,
           |        vec_id ASC NULLS FIRST) AS rn FROM dots)
           |  WHERE rn = 1)
           |SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n_queries,
           |  CAST((SELECT count(*) FROM top1 WHERE vec_id = planted) AS BIGINT)
           |    AS n_bf_top1_planted,
           |  TRUE AS lsh_recall_ge_090,
           |  TRUE AS ivf_recall_ge_090,
           |  TRUE AS ivfq_recall_ge_090,
           |  TRUE AS ivfpq_recall_ge_090""".stripMargin))

  // — IVF index maintenance (x108): the x38 recall discipline applied to
  //   the DRIFT lifecycle the r11 verdict flagged — appendToIndex under
  //   frozen centroids piles a never-seen distribution into one inverted
  //   list (pruning collapses toward a full scan), rebalanceIndex
  //   (hierarchical quantile-seed split + local Lloyd, committed as one
  //   index version) restores balance, and plantedRecall re-gates ≥ 0.9
  //   afterward. Value oracle: corpus/batch counts replay in SQL; the
  //   skew/balance/recall claims are Spark-side gates (TRUE literals,
  //   the x38 convention — DuckDB cannot cheaply replay Lloyd).
  private val x108 = Probe(
    "x108_ivf_rebalance",
    (s, dir) => {
      import s.implicits._
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val a = emb.filter(col("vec_id") % 3 =!= 0)
      val b = emb.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"),
          transform(sequence(lit(0), size(col("embedding")) - 1), j =>
            abs(element_at(col("embedding"),
              pmod(j + pmod(col("vec_id"), lit(8L)).cast("int"), size(col("embedding"))) + 1))
              + lit(1.0f)).as("embedding"))
      val idx = graft.TmpDir.scratch("x108_ivf")
      Ivf.writeIndex(idx, a, "vec_id", "embedding",
        Ivf.train(a, "vec_id", "embedding", k = 16, iters = 2))
      Ivf.appendToIndex(s, idx, b, "vec_id", "embedding")
      val (_, lists) = Ivf.readIndex(s, idx)
      val nTotal = lists.count()
      val nB = b.count()
      val hotB = lists.join(b.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .groupBy(col("centroid_id")).count()
        .agg(coalesce(max(col("count")), lit(0L))).as[Long].head()
      Ivf.rebalanceIndex(s, idx, "vec_id", "embedding")
      val (_, lists2) = Ivf.readIndex(s, idx)
      val sizesAfter = lists2.groupBy(col("centroid_id")).count()
        .select(col("count")).as[Long].collect()
      val meanAfter = sizesAfter.sum.toDouble / sizesAfter.length
      val recall = Ivf.plantedRecall(s, idx, "vec_id", "embedding", k = 5, nprobe = 4)
      Seq((nTotal, nB,
        hotB >= (nB * 9L) / 10L,
        lists2.count() == nTotal,
        sizesAfter.max <= meanAfter * 2.0 + 1,
        recall >= 0.9))
        .toDF("n_indexed", "n_drifted",
          "drift_skews_one_list", "rebalance_preserves_rows",
          "balanced_after", "recall_after_ge_090")
    },
    Some("""SELECT
           |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_indexed,
           |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 3 = 0) AS BIGINT)
           |    AS n_drifted,
           |  TRUE AS drift_skews_one_list,
           |  TRUE AS rebalance_preserves_rows,
           |  TRUE AS balanced_after,
           |  TRUE AS recall_after_ge_090""".stripMargin))

  /** One hand-written sentence per classifiable language (no single
    * quotes — the strings embed verbatim in the oracle SQL). Residue
    * `i+1 mod 23` of the doc_id space is replanted with sentence i; the
    * langid unit test asserts each sentence classifies AS its language,
    * so the planted fixture exercises every branch of the classifier.
    */
  val LangIdPlants: Seq[(String, String)] = Seq(
    "fr" -> "le chat est sur la table et les enfants de la maison sont dans le jardin de la ville",
    "de" -> "der hund und die katze laufen durch den wald und der mann ist ein freund der schule",
    "zh" -> "这是一个中文句子用于语言识别测试",
    "es" -> "el perro y el gato que juegan en el jardín son los animales que la familia quiere cuidar",
    "it" -> "il treno della stazione di milano porta molto presto tutti verso le direzioni che vanno fino a napoli",
    "pt" -> "a informação e a decisão do governo são dadas em documentos que falam da situação do país",
    "nl" -> "een man en een vrouw lopen van de straat naar een huis en geven aan de kinderen een boek van hun vader",
    "ru" -> "собака и кошка живут в доме у реки весь год",
    "ja" -> "これは日本語のテストですとても簡単です",
    "ko" -> "이것은 한국어 테스트입니다 아주 쉽습니다",
    "ar" -> "هذا اختبار للغة العربية في المدينة الكبيرة",
    "el" -> "αυτό είναι ένα ελληνικό κείμενο για δοκιμή στην πόλη",
    "hi" -> "यह हिंदी भाषा की परीक्षा है और बहुत आसान है",
    "en" -> "the man and the woman walk to the house of their friends and they like the garden of the city",
    // round-5 hard cases: SHORT documents (few trigram hits have to clear
    // the density gate AND win the argmax) and the es/pt near-boundary
    // (heavily overlapping profiles — ção/açã/não vs ión/ció/aci decide)
    "es" -> "la región y la nación española que los niños quieren",
    "pt" -> "a nação portuguesa não dá a informação da situação",
    "en" -> "the cat sat on the mat",
    "de" -> "ich bin in der schule und der wald ist schön")

  // — trigram-profile language ID over a PLANTED 14-language fixture: the
  //   documents corpus is English-ish word salad, so the probe replaces a
  //   deterministic doc_id slice per language with a hand-written sentence
  //   (planting pattern, same as x25's PII) — one per trigram profile and
  //   one per script range, all from the shared [[LangIdPlants]] constant.
  //   The classifier is pure replace-count/regex arithmetic, so DuckDB
  //   replays every row — full value-level oracle. ————————————————————————
  private val x39 = Probe(
    "x39_langid_trigram",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val plantedText = LangIdPlants.zipWithIndex
        .foldLeft(null.asInstanceOf[org.apache.spark.sql.Column]) {
          case (null, ((_, sent), i)) => when(col("doc_id") % 23 === (i + 1), sent)
          case (acc, ((_, sent), i)) => acc.when(col("doc_id") % 23 === (i + 1), sent)
        }.otherwise(col("text"))
      docs.select(col("doc_id"), plantedText.as("text"))
        .select(col("doc_id"), TextStats.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },
    Some {
      val cases = LangIdPlants.zipWithIndex.map { case ((_, sent), i) =>
        s"         WHEN doc_id % 23 = ${i + 1} THEN '$sent'"
      }.mkString("\n")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE
         |$cases
         |         ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id, ${TextStats.langIdSql("text")} AS pred_lang
         |FROM planted ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  /** Position-weighted checksum of a little-endian field as SQL: the
    * `nBytes` bytes of `v` starting at byte offset `at`, each weighted
    * `(idx % 64) + 1` — replays [[graft.ops.Multimodal.MediaCodec
    * .checksum]] over header bytes the oracle derives arithmetically.
    */
  private def leSumSql(v: String, nBytes: Int, at: Int): String =
    (0 until nBytes)
      .map(k => s"((($v) // ${BigInt(256).pow(k)}) % 256) * ${(at + k) % 64 + 1}")
      .mkString(" + ")

  // — REAL nearest-neighbor raster resize: every image (BMP/PPM) in the
  //   synthesized media lake is resized to 16×12 and re-decoded. The
  //   resized pixels are zeroed (the fixture's are), so byte_len, dims,
  //   channels AND the positional checksum are pure header arithmetic the
  //   oracle rebuilds byte-by-byte from the file-format spec. WAV rows are
  //   excluded: resize is an image transform and passes audio through. ————
  private val x40 = Probe(
    "x40_multimodal_resize",
    (s, dir) => {
      val media = Multimodal.synthMedia(s, t(s, dir, "documents"), "doc_id")
        .toDF().filter(col("kind") =!= "wav")
      val resized = Multimodal.resizeAll(s, media, 16, 12).toDF()
      Multimodal.extractMeta(s, resized).toDF()
        .select(col("media_id"), col("kind"), col("byte_len"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"), col("checksum"))
        .orderBy("media_id")
    },
    Some {
      val fileSize = "(54 + ((16*3+3)//4)*4*12)"
      val dataSize = "(((16*3+3)//4)*4*12)"
      val bmpSum = Seq(
        s"66 * 1", s"77 * 2",
        leSumSql(fileSize, 4, 2),
        leSumSql("54", 4, 10), leSumSql("40", 4, 14),
        leSumSql("16", 4, 18), leSumSql("12", 4, 22),
        leSumSql("1", 2, 26), leSumSql("24", 2, 28),
        leSumSql(dataSize, 4, 34),
        leSumSql("2835", 4, 38), leSumSql("2835", 4, 42)).mkString(" + ")
      s"""WITH hdr AS (SELECT 'P6' || chr(10) || '16 12' || chr(10) || '255' || chr(10) AS p6),
         |sums AS (
         |  SELECT CAST($bmpSum AS BIGINT) AS bmp_cs,
         |    CAST((SELECT list_sum(list_transform(range(1, length(p6) + 1),
         |      i -> ascii(p6[i]) * (((i - 1) % 64) + 1))) FROM hdr) AS BIGINT) AS ppm_cs,
         |    CAST((SELECT length(p6) FROM hdr) AS BIGINT) AS p6_len)
         |SELECT doc_id AS media_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'ppm' END AS kind,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN $fileSize
         |            ELSE (SELECT p6_len FROM sums) + 16*12*3 END AS BIGINT) AS byte_len,
         |  CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
         |  CAST(3 AS BIGINT) AS channels,
         |  CASE WHEN doc_id % 3 = 0 THEN (SELECT bmp_cs FROM sums)
         |       ELSE (SELECT ppm_cs FROM sums) END AS checksum
         |FROM documents WHERE doc_id % 3 != 1
         |ORDER BY media_id ASC NULLS FIRST""".stripMargin
    })

  // — gap-filled resampling: hourly per-type buckets over a dense calendar
  //   spine (empty hours appear with zero counts). The oracle replays the
  //   bucket → span → generate_series spine → left join exactly. ——————————
  private val x36 = Probe(
    "x36_resample_gapfill",
    (s, dir) => Resample.gapFilled(t(s, dir, "events"), "event_type", "ts", "value", "hour")
      .select(col("event_type"),
        date_format(col("bucket"), Schemas.TsFmt).as("bucket"),
        col("n_events"), round(col("total_value"), 4).as("total_value"))
      .orderBy("event_type", "bucket"),
    Some(s"""WITH b AS (
            |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
            |    CAST(count(*) AS BIGINT) AS n, sum(value) AS v
            |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
            |span AS (SELECT event_type, min(h) AS mn, max(h) AS mx FROM b GROUP BY 1),
            |spine AS (
            |  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS h
            |  FROM span)
            |SELECT s.event_type, strftime(s.h, '$F') AS bucket,
            |  coalesce(b.n, 0) AS n_events,
            |  round(coalesce(b.v, 0.0), 4) AS total_value
            |FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.h = b.h
            |ORDER BY s.event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""".stripMargin))

  /** Shingle CTE for the decontamination split: `c` = corpus (doc_id % 37
    * != 0), `b` = benchmark (doc_id % 37 = 0), distinct 3-gram shingles.
    */
  private val decontCte =
    """sh AS (
      |  SELECT doc_id AS id, unnest(list_distinct(
      |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tok
      |        FROM documents)),
      |c AS (SELECT * FROM sh WHERE id % 37 != 0),
      |b AS (SELECT * FROM sh WHERE id % 37 = 0),
      |o AS (
      |  SELECT c.id AS corpus_id, b.id AS bench_id, CAST(count(*) AS BIGINT) AS hits
      |  FROM c JOIN b ON c.s = b.s GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  // — benchmark decontamination: corpus docs sharing ≥2 distinct 3-gram
  //   shingles with any "eval set" doc (the doc_id % 37 = 0 slice standing
  //   in for a benchmark) are flagged (x41) and removed (x42) — the
  //   GPT-3-appendix n-gram collision pass, fully value-oracled. —————————
  private val x41 = Probe(
    "x41_decontaminate",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("bid"), col("text").as("btext"))
      Decontaminate.overlaps(corpus, "doc_id", col("text"), bench, "bid", col("btext"),
          n = 3, minHits = 2)
        .orderBy("corpus_id", "bench_id")
    },
    Some(s"""WITH $decontCte
            |SELECT corpus_id, bench_id, hits FROM o
            |ORDER BY corpus_id ASC NULLS FIRST, bench_id ASC NULLS FIRST""".stripMargin))

  // — persisted bench index (x103): x41's exact fixture and oracle, but
  //   the benchmark side comes entirely from an on-disk
  //   [[Decontaminate.BenchIndex]] built in TWO steps (write half the
  //   suite, append the other half) — the indexed path, append fold
  //   included, must be indistinguishable from the live operator. The
  //   index is cached per sf dir + source token ([[graft.TmpDir.cached]],
  //   which marks the cache done only after the append).
  private def x103Index(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.TmpDir.cached("x103_benchidx", "v2", dir, s"$dir/documents.parquet") { path =>
      val docs = Readers.fanOut(t(s, dir, "documents"))
      Decontaminate.writeBenchIndex(
        docs.filter(col("doc_id") % 74 === 0),
        "doc_id", col("text"), n = 3, path, expectedItems = 100000L)
      Decontaminate.appendToBenchIndex(s, path,
        docs.filter(col("doc_id") % 37 === 0 && col("doc_id") % 74 =!= 0),
        "doc_id", col("text"))
    }
  private val x103 = Probe(
    "x103_decontaminate_indexed",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      Decontaminate.overlapsIndexed(
          Decontaminate.readBenchIndex(s, x103Index(s, dir)),
          corpus, "doc_id", col("text"), minHits = 2)
        .orderBy("corpus_id", "bench_id")
    },
    Some(s"""WITH $decontCte
            |SELECT corpus_id, bench_id, hits FROM o
            |ORDER BY corpus_id ASC NULLS FIRST, bench_id ASC NULLS FIRST""".stripMargin))

  private val x42 = Probe(
    "x42_decontaminate_clean",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("bid"), col("text").as("btext"))
      Decontaminate.clean(corpus, "doc_id", col("text"), bench, "bid", col("btext"),
          n = 3, minHits = 2)
        .select(col("doc_id")).orderBy("doc_id")
    },
    Some(s"""WITH $decontCte
            |SELECT doc_id FROM documents
            |WHERE doc_id % 37 != 0 AND doc_id NOT IN (SELECT corpus_id FROM o)
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — Gopher-style repetition stats + keep gate over a planted fixture
  //   (boilerplate loop / clean 2-liner / natural single-line text); every
  //   fraction is integer counting + one round4 division, so DuckDB
  //   replays the whole gate bit-for-bit. ————————————————————————————————
  private val repBoiler =
    "click here to buy now\nclick here to buy now\nclick here to buy now\nclick here to buy now"
  private val repNatural =
    "the quick brown fox jumps over a lazy dog\nand then it ran far away from home"

  private val x43 = Probe(
    "x43_repetition_stats",
    (s, dir) => {
      val planted = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"),
        when(col("doc_id") % 13 === 1, repBoiler)
          .when(col("doc_id") % 13 === 2, repNatural)
          .otherwise(col("text")).as("text"))
      Repetition.gopherStats(planted, "doc_id", "text").orderBy("doc_id")
    },
    Some {
      val r4 = graft.Canonical.round4Sql _
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 1 THEN '${repBoiler.replace("\n", "' || chr(10) || '")}'
         |         WHEN doc_id % 13 = 2 THEN '${repNatural.replace("\n", "' || chr(10) || '")}'
         |         ELSE text END AS text
         |  FROM documents),
         |ln AS (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x != '') AS l
         |       FROM planted),
         |linestats AS (
         |  SELECT doc_id,
         |    CASE WHEN len(l) = 0 THEN 0.0
         |         ELSE ${r4("(len(l) - len(list_distinct(l))) * 1.0 / len(l)")} END AS dup_line_frac,
         |    CASE WHEN coalesce(list_sum(list_transform(l, x -> length(x))), 0) = 0 THEN 0.0
         |         ELSE ${r4("(list_sum(list_transform(l, x -> length(x))) - list_sum(list_transform(list_distinct(l), x -> length(x)))) * 1.0 / list_sum(list_transform(l, x -> length(x)))")} END AS dup_line_char_frac
         |  FROM ln),
         |toks AS (SELECT doc_id, length(text) AS tlen,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
         |  FROM planted),
         |g2 AS (SELECT doc_id, unnest([tok[i] || ' ' || tok[i+1] for i in range(1, len(tok))]) AS gram FROM toks),
         |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
         |top2 AS (SELECT doc_id, cnt * length(gram) AS topchars FROM (
         |    SELECT doc_id, cnt, gram, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY cnt DESC, length(gram) DESC, gram DESC) AS rn
         |    FROM c2) WHERE rn = 1),
         |g5 AS (SELECT doc_id, unnest([tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4]
         |    for i in range(1, len(tok) - 3)]) AS gram FROM toks),
         |c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2),
         |dup5 AS (SELECT doc_id, sum(cnt * length(gram)) AS dupchars FROM c5 WHERE cnt >= 2 GROUP BY doc_id),
         |fr AS (
         |  SELECT t.doc_id, ls.dup_line_frac, ls.dup_line_char_frac,
         |    CASE WHEN t.tlen = 0 OR top2.topchars IS NULL THEN 0.0
         |         ELSE ${r4("least(1.0, top2.topchars * 1.0 / t.tlen)")} END AS top_2gram_char_frac,
         |    CASE WHEN t.tlen = 0 OR dup5.dupchars IS NULL THEN 0.0
         |         ELSE ${r4("least(1.0, dup5.dupchars * 1.0 / t.tlen)")} END AS dup_5gram_char_frac
         |  FROM toks t
         |  JOIN linestats ls USING (doc_id)
         |  LEFT JOIN top2 USING (doc_id)
         |  LEFT JOIN dup5 USING (doc_id))
         |SELECT doc_id, dup_line_frac, dup_line_char_frac, top_2gram_char_frac, dup_5gram_char_frac,
         |  (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
         |   AND top_2gram_char_frac <= 0.20 AND dup_5gram_char_frac <= 0.15) AS keep
         |FROM fr ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  // — end-to-end SEMANTIC dedup (SemDeDup shape): exact cosine pairs →
  //   components → drop non-canonical members; the surviving id set is
  //   oracled (pairs via the x07 dot-product CTE, clusters via the x23
  //   recursive closure). The LSH pair stage is the scale path; its recall
  //   is gated separately by x38. ————————————————————————————————————————
  private val x44 = Probe(
    "x44_semantic_dedup",
    (s, dir) => Dedup.dedupCorpusSemantic(Readers.fanOut(t(s, dir, "embeddings")),
        "vec_id", "embedding", 0.4, exact = true)
      .select(col("vec_id")).orderBy("vec_id"),
    Some("""WITH RECURSIVE pairs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
           |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
           |flat AS (SELECT id_a, id_b, CAST(unnest(ea) AS DOUBLE) AS x,
           |                CAST(unnest(eb) AS DOUBLE) AS y FROM pairs),
           |dots AS (SELECT id_a, id_b, sum(x * y) AS d, sum(x * x) AS nx, sum(y * y) AS ny
           |         FROM flat GROUP BY 1, 2),
           |jac AS (SELECT id_a, id_b FROM dots
           |        WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.4),
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM jac
           |  UNION
           |  SELECT id_b AS src, id_a AS dst FROM jac),
           |reach AS (
           |  SELECT src, dst FROM edges
           |  UNION
           |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
           |comp AS (SELECT src AS id, least(src, min(dst)) AS comp FROM reach GROUP BY src)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id != comp)
           |ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  // — approx quality prune (the 100-TB 2-pass form): per-language sketch
  //   threshold + broadcast cut instead of a partition sort. Gated against
  //   the exact window form: the approx cut never keeps MORE than the
  //   exact floor(frac·n) contract, and the shortfall is bounded by the
  //   ties at the threshold (the sketch's rank error is < 1 at fixture
  //   scale). n_total / n_kept_exact are DuckDB-recomputed exactly. ———————
  private val x45 = Probe(
    "x45_quality_prune_approx",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val frac = 0.2
      val stats = TextStats.withStats(docs)
        .select(col("doc_id"), col("pred_lang"), col("quality_score"))
      val thr = stats.groupBy(col("pred_lang"))
        .agg(percentile_approx(col("quality_score"), lit(frac), lit(10000)).as("__thr"))
      val total = stats.groupBy(col("pred_lang")).agg(count(lit(1)).as("n_total"))
      val keptE = TextStats.qualityPrune(docs, "doc_id", frac)
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("n_kept_exact"))
      val keptA = TextStats.qualityPruneApprox(docs, "doc_id", frac)
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("__n_kept_approx"))
      val ties = stats.join(thr, Seq("pred_lang"))
        .filter(col("quality_score") === col("__thr"))
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("__n_ties"))
      total
        .join(keptE, Seq("pred_lang"), "left")
        .join(keptA, Seq("pred_lang"), "left")
        .join(ties, Seq("pred_lang"), "left")
        .select(col("pred_lang"), col("n_total"),
          coalesce(col("n_kept_exact"), lit(0L)).as("n_kept_exact"),
          (coalesce(col("__n_kept_approx"), lit(0L)) <=
            coalesce(col("n_kept_exact"), lit(0L))).as("approx_not_over"),
          (coalesce(col("n_kept_exact"), lit(0L)) -
            coalesce(col("__n_kept_approx"), lit(0L)) <=
            coalesce(col("__n_ties"), lit(0L))).as("approx_within_ties"))
        .orderBy("pred_lang")
    },
    Some(s"""WITH base AS (
            |  SELECT doc_id, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
            |  FROM documents),
            |ratios AS (
            |  SELECT doc_id, text,
            |    CAST(len(tok) AS BIGINT) AS n_tokens,
            |    floor((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
            |      / nullif(length(text), 0)) * 10000 + 0.5) / 10000 AS punct_ratio,
            |    floor((CAST(len(list_filter(tok, t -> t = 'the' OR t = 'a')) AS DOUBLE)
            |      / nullif(len(tok), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio
            |  FROM base),
            |scored AS (
            |  SELECT doc_id,
            |    ${TextStats.langIdSql("text")} AS pred_lang,
            |    floor((least(1.0, n_tokens / 64.0) * 0.4
            |      + (1.0 - least(1.0, coalesce(punct_ratio, 0) * 10)) * 0.3
            |      + least(1.0, coalesce(stopword_ratio, 0) * 20) * 0.3) * 10000 + 0.5) / 10000
            |      AS quality_score
            |  FROM ratios),
            |ranked AS (
            |  SELECT *, row_number() OVER (PARTITION BY pred_lang
            |      ORDER BY quality_score ASC, doc_id ASC) AS rn,
            |    count(*) OVER (PARTITION BY pred_lang) AS n
            |  FROM scored)
            |SELECT pred_lang, CAST(max(n) AS BIGINT) AS n_total,
            |  CAST(count(*) FILTER (WHERE rn > floor(n * 0.2)) AS BIGINT) AS n_kept_exact,
            |  TRUE AS approx_not_over, TRUE AS approx_within_ties
            |FROM ranked GROUP BY pred_lang
            |ORDER BY pred_lang ASC NULLS FIRST""".stripMargin))

  // — token-budget mixture: per-source greedy fill to a token budget in
  //   content-addressed hash order (how pretraining recipes are actually
  //   stated). Hash order is engine-local → derived-metric gate: totals
  //   are DuckDB-recomputed; the fill contract (budget reached to within
  //   one document, or the whole source when it is too small) and
  //   determinism across two independent evaluations are pinned booleans.
  private val x46 = Probe(
    "x46_token_budget_mixture",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val toks = size(TextStats.tokens(col("text"))).cast("long")
      val srcs = Seq(
        ("web", docs.filter(col("doc_id") % 3 === 0), 2000L),   // partial fill
        ("books", docs.filter(col("doc_id") % 3 === 1), 10000000L), // keeps all
        ("wiki", docs.filter(col("doc_id") % 3 === 2), 5000L))  // partial fill
      def kept() = Sampling.tokenBudget(
        srcs.map { case (n, df, b) => (n, df, b) }, col("doc_id"), toks)
      val keptAgg = kept().groupBy(col("mix_source"))
        .agg(sum(size(TextStats.tokens(col("text"))).cast("long")).as("__tok_kept"),
          count(lit(1)).as("__docs_kept"),
          sum(col("doc_id")).as("__id_sum_a"))
      val keptAgg2 = kept().groupBy(col("mix_source"))
        .agg(sum(col("doc_id")).as("__id_sum_b"))
      val totals = srcs.map { case (n, df, b) =>
        df.agg(lit(n).as("mix_source"),
          count(lit(1)).as("n_docs_total"),
          sum(toks).as("n_tokens_total"),
          max(toks).as("__max_tok"),
          lit(b).as("__budget"))
      }.reduce(_ unionByName _)
      totals
        .join(keptAgg, Seq("mix_source"))
        .join(keptAgg2, Seq("mix_source"))
        .select(col("mix_source"), col("n_docs_total"), col("n_tokens_total"),
          // the greedy-prefix contract
          (col("__tok_kept") >= least(col("__budget"), col("n_tokens_total")))
            .as("filled"),
          (col("__tok_kept") < col("__budget") + col("__max_tok") ||
            col("__tok_kept") === col("n_tokens_total")).as("within_one_doc"),
          // two independent evaluations keep the identical document set
          (col("__id_sum_a") === col("__id_sum_b")).as("deterministic"))
        .orderBy("mix_source")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN 'web'
           |         WHEN doc_id % 3 = 1 THEN 'books' ELSE 'wiki' END AS mix_source,
           |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS BIGINT) AS tok
           |  FROM documents)
           |SELECT mix_source, CAST(count(*) AS BIGINT) AS n_docs_total,
           |  CAST(sum(tok) AS BIGINT) AS n_tokens_total,
           |  TRUE AS filled, TRUE AS within_one_doc, TRUE AS deterministic
           |FROM toks GROUP BY mix_source
           |ORDER BY mix_source ASC NULLS FIRST""".stripMargin))

  // — incremental SEMANTIC dedup: planted batch = exact copies (identical
  //   arrays → exact_dup), 2×-scaled copies (same direction, same sign
  //   bucket BY CONSTRUCTION — positive scaling cannot flip a hyperplane
  //   sign — cosine exactly 1 → near_dup), and reversed vectors (validated
  //   < 0.9 vs every corpus vector → new). LSH recall is provably 1.0 on
  //   this fixture, so the oracle recomputes every status and dup_of from
  //   first principles (equality join + exact cosine join). ———————————————
  private val x47 = Probe(
    "x47_incremental_semantic",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val batch = emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding"))
          .when(col("vec_id") % 5 === 1, transform(col("embedding"), x => x * lit(2.0f)))
          .otherwise(reverse(col("embedding"))).as("embedding"))
      val res = Dedup.incrementalSemanticDedup(emb, batch, "vec_id", "embedding",
        threshold = 0.9, numPlanes = 8, dim = 64)
      res.orderBy("vec_id")
    },
    Some("""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
           |batch AS (
           |  SELECT vec_id + 1000000 AS vec_id,
           |    CASE WHEN vec_id % 5 = 0 THEN embedding
           |         WHEN vec_id % 5 = 1 THEN list_transform(embedding, x -> x * 2)
           |         ELSE list_reverse(embedding) END AS bvec
           |  FROM corpus),
           |ex AS (
           |  SELECT b.vec_id, min(c.vec_id) AS eof
           |  FROM batch b JOIN corpus c ON b.bvec = c.embedding GROUP BY 1),
           |flat AS (
           |  SELECT b.vec_id AS bid, c.vec_id AS cid,
           |    CAST(unnest(b.bvec) AS DOUBLE) AS x, CAST(unnest(c.embedding) AS DOUBLE) AS y
           |  FROM batch b, corpus c),
           |dots AS (SELECT bid, cid, sum(x * y) AS d, sum(x * x) AS nx, sum(y * y) AS ny
           |         FROM flat GROUP BY 1, 2),
           |nr AS (SELECT bid AS vec_id, min(cid) AS nof FROM dots
           |       WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.9 GROUP BY 1)
           |SELECT b.vec_id,
           |  CASE WHEN ex.eof IS NOT NULL THEN 'exact_dup'
           |       WHEN nr.nof IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status,
           |  coalesce(ex.eof, nr.nof) AS dup_of
           |FROM batch b
           |LEFT JOIN ex ON ex.vec_id = b.vec_id
           |LEFT JOIN nr ON nr.vec_id = b.vec_id
           |ORDER BY b.vec_id ASC NULLS FIRST""".stripMargin))

  // — the COMPOSED curation pipeline (scrub → quality gate → repetition
  //   gate → exact dedup → near-dup removal → decontamination) end to
  //   end: every stage is individually oracled elsewhere, and this probe
  //   replays the entire composition in one DuckDB query so stage
  //   INTERACTIONS (each stage sees exactly the previous stage's
  //   survivors) are value-checked too. URLs planted on doc_id % 7 = 1
  //   make the scrub stage consequential; the fixture corpus is
  //   single-line (verified: no chr(10) anywhere, and neither plant nor
  //   scrub adds one) so the duplicate-line gates are identically zero
  //   and only the n-gram repetition gates bind in the oracle. ————————————
  /** The x48 fixture, shared with the x73 attribution probe. */
  private def curateFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Readers.fanOut(t(s, dir, "documents"))
    val planted = docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 1, " see https://ex.com/z now").otherwise("")).as("text"))
    val bench = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("bid"), col("text").as("btext"))
    (planted, bench)
  }

  private val x48 = Probe(
    "x48_curate_pipeline",
    (s, dir) => {
      val (planted, bench) = curateFixture(s, dir)
      Curate.run(planted, "doc_id", "text", Some((bench, "bid", "btext")),
          Curate.Config(minQuality = 0.6))
        .select(col("doc_id"), col("n_tokens"), col("pred_lang"), col("quality_score"))
        .orderBy("doc_id")
    },
    Some(s"""${curateOracleCtes()}
            |SELECT doc_id, n_tokens, pred_lang, quality_score
            |FROM deduped WHERE doc_id NOT IN (SELECT id FROM contaminated)
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — per-document drop attribution over the SAME composed pipeline: the
  //   removal-rate accounting a production curation run reports. Every
  //   input id appears exactly once labeled with the first stage that
  //   dropped it (stage survivor sets are nested) or 'kept'; the oracle
  //   replays the x48 CTE chain and derives the same label from the
  //   stage-boundary CTEs, so the attribution arithmetic AND the stage
  //   interactions are value-checked together. —————————————————————————
  private val x73 = Probe(
    "x73_curate_audit",
    (s, dir) => {
      val (planted, bench) = curateFixture(s, dir)
      Curate.runAudited(planted, "doc_id", "text", Some((bench, "bid", "btext")),
          Curate.Config(minQuality = 0.6))
        .attribution
        .orderBy("doc_id")
    },
    Some(s"""${curateOracleCtes()}
            |SELECT p.doc_id,
            |  CASE WHEN g.doc_id IS NULL THEN 'quality'
            |       WHEN r.doc_id IS NULL THEN 'repetition'
            |       WHEN e.doc_id IS NULL THEN 'exact_dup'
            |       WHEN d.doc_id IS NULL THEN 'near_dup'
            |       WHEN ct.id IS NOT NULL THEN 'contaminated'
            |       ELSE 'kept' END AS stage
            |FROM planted p
            |LEFT JOIN (SELECT doc_id FROM gated) g ON g.doc_id = p.doc_id
            |LEFT JOIN (SELECT doc_id FROM repkept) r ON r.doc_id = p.doc_id
            |LEFT JOIN (SELECT doc_id FROM exactkept) e ON e.doc_id = p.doc_id
            |LEFT JOIN (SELECT doc_id FROM deduped) d ON d.doc_id = p.doc_id
            |LEFT JOIN (SELECT DISTINCT id FROM contaminated) ct ON ct.id = p.doc_id
            |ORDER BY p.doc_id ASC NULLS FIRST""".stripMargin))

  // — the composed pipeline WITH the trained-LM fluency stage (x104):
  //   CCNet order — heuristics, then the model gate, then dedup +
  //   decontamination. The model is the x101 model (trained on the raw
  //   doc_id % 3 ≠ 0 split); thresholds are pinned so the stage BINDS on
  //   this fixture (some repetition-survivors must die here, or the probe
  //   would green-light a gate that never fires). The oracle re-derives
  //   the model AND the whole 7-stage composition from first principles.
  //   (the sf0.01 fixture's score band under this model is ≈[-1.55,-1.44],
  //   so the default CCNet thresholds would keep everything — these sit
  //   inside the band; exact integer sums + round4 make the knife-edge
  //   comparison identical in both engines)
  private val X104HeadThr = -1.48
  private val X104MidThr = -1.51
  private val x104 = Probe(
    "x104_curate_lm_gated",
    (s, dir) => {
      val (planted, bench) = curateFixture(s, dir)
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val model = Lm.train(docs.filter(col("doc_id") % 3 =!= 0), "text",
        vocabSize = 256, bigramSize = 1024, minBigramCount = 2L)
      Curate.run(planted, "doc_id", "text", Some((bench, "bid", "btext")),
          Curate.Config(minQuality = 0.6,
            lmGate = Some(Lm.gateOf(model, keep = Seq("head", "middle"),
              headThr = X104HeadThr, midThr = X104MidThr))))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .orderBy("doc_id")
    },
    Some(s"""${curateOracleCtes(lmGated = true)}
            |SELECT doc_id, n_tokens, quality_score
            |FROM deduped WHERE doc_id NOT IN (SELECT id FROM contaminated)
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  /** The x48/x73/x104 shared DuckDB replay of the composed curation
    * pipeline, ending at the `contaminated` CTE; callers append their
    * final SELECT. `lmGated = true` splices the trained-LM fluency stage
    * (model re-derived from first principles via [[Lm.trainSql]], scores
    * via [[Lm.annotateSql]]) between the repetition gate and exact dedup
    * — the x104 composition.
    */
  private def curateOracleCtes(lmGated: Boolean = false): String = {
    val preExact = if (lmGated) "lmkept" else "repkept"
    val lmStage =
      if (!lmGated) ""
      else s"""__lm2_ref AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
              |${Lm.trainSql(vocabSize = 256, bigramSize = 1024, minBigramCount = 2L)},
              |__lm2_in AS (SELECT doc_id, text FROM repkept),
              |${Lm.annotateSql(headThr = X104HeadThr, midThr = X104MidThr)},
              |lmkept AS (SELECT r.* FROM repkept r
              |  WHERE r.doc_id IN (SELECT doc_id FROM __lm2_scored
              |                     WHERE slm_bucket IN ('head', 'middle'))),""".stripMargin
    s"""WITH RECURSIVE planted AS (
            |  SELECT doc_id,
            |    text || CASE WHEN doc_id % 7 = 1 THEN ' see https://ex.com/z now' ELSE '' END AS text
            |  FROM documents),
            |scrub AS (
            |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
            |    'https?://[^\\s]+', '<URL>', 'g'),
            |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            |    '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS text
            |  FROM planted),
            |base AS (SELECT doc_id, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
            |  FROM scrub),
            |ratios AS (
            |  SELECT doc_id, text, tok,
            |    CAST(len(tok) AS BIGINT) AS n_tokens,
            |    floor((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
            |      / nullif(length(text), 0)) * 10000 + 0.5) / 10000 AS punct_ratio,
            |    floor((CAST(len(list_filter(tok, t -> t = 'the' OR t = 'a')) AS DOUBLE)
            |      / nullif(len(tok), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio
            |  FROM base),
            |scored AS (
            |  SELECT doc_id, text, tok, n_tokens,
            |    ${TextStats.langIdSql("text")} AS pred_lang,
            |    floor((least(1.0, n_tokens / 64.0) * 0.4
            |      + (1.0 - least(1.0, coalesce(punct_ratio, 0) * 10)) * 0.3
            |      + least(1.0, coalesce(stopword_ratio, 0) * 20) * 0.3) * 10000 + 0.5) / 10000
            |      AS quality_score
            |  FROM ratios),
            |gated AS (SELECT * FROM scored WHERE quality_score >= 0.6),
            |g2 AS (SELECT doc_id, unnest([tok[i] || ' ' || tok[i+1] for i in range(1, len(tok))]) AS gram FROM gated),
            |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
            |top2 AS (SELECT doc_id, cnt * length(gram) AS topchars FROM (
            |    SELECT doc_id, cnt, gram, row_number() OVER (
            |      PARTITION BY doc_id ORDER BY cnt DESC, length(gram) DESC, gram DESC) AS rn
            |    FROM c2) WHERE rn = 1),
            |g5 AS (SELECT doc_id, unnest([tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4]
            |    for i in range(1, len(tok) - 3)]) AS gram FROM gated),
            |c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2),
            |dup5 AS (SELECT doc_id, sum(cnt * length(gram)) AS dupchars FROM c5 WHERE cnt >= 2 GROUP BY 1),
            |repkept AS (
            |  SELECT g.* FROM gated g
            |  LEFT JOIN top2 USING (doc_id)
            |  LEFT JOIN dup5 USING (doc_id)
            |  WHERE (CASE WHEN length(g.text) = 0 OR top2.topchars IS NULL THEN 0.0
            |         ELSE floor(top2.topchars * 1.0 / length(g.text) * 10000 + 0.5) / 10000 END) <= 0.20
            |    AND (CASE WHEN length(g.text) = 0 OR dup5.dupchars IS NULL THEN 0.0
            |         ELSE floor(dup5.dupchars * 1.0 / length(g.text) * 10000 + 0.5) / 10000 END) <= 0.15),
            |$lmStage
            |exactkept AS (
            |  SELECT * FROM (
            |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS __rn
            |    FROM $preExact) WHERE __rn = 1),
            |sh AS (SELECT doc_id AS id, unnest(list_distinct(
            |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
            |  FROM exactkept),
            |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
            |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
            |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
            |jac AS (SELECT id_a, id_b FROM inter
            |  JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
            |  WHERE floor((i * 1.0 / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.5),
            |edges AS (SELECT id_a AS src, id_b AS dst FROM jac
            |  UNION SELECT id_b, id_a FROM jac),
            |reach AS (SELECT src, dst FROM edges
            |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            |comp AS (SELECT src AS id, least(src, min(dst)) AS comp FROM reach GROUP BY src),
            |deduped AS (SELECT * FROM exactkept
            |  WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != comp)),
            |bsh AS (SELECT doc_id AS bid, unnest(list_distinct(
            |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
            |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
            |        FROM documents WHERE doc_id % 37 = 0)),
            |csh AS (SELECT doc_id AS id, unnest(list_distinct(
            |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
            |  FROM deduped),
            |contaminated AS (SELECT id FROM (
            |    SELECT c.id, b.bid, count(*) AS h FROM csh c JOIN bsh b ON c.s = b.s GROUP BY 1, 2)
            |  WHERE h >= 2)""".stripMargin
  }

  // — link-graph authority (x114): power-iteration PageRank over a
  //   directed graph derived deterministically from `orders` (src =
  //   o_custkey mod 199, dst = o_orderkey mod 211, every 7th order — the
  //   mod mismatch guarantees DANGLING nodes, ids 199–210 appear only as
  //   destinations, so the dangling-mass redistribution arm is exercised,
  //   not just compiled). FULL value oracle: the DuckDB twin unrolls the
  //   same 5 iterations as chained CTEs with the identical IEEE update
  //   expression; ranks compare at the shared round6 grain.
  private val x114 = Probe(
    "x114_pagerank",
    (s, dir) => {
      val ed = t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select((col("o_custkey") % 199).as("src"), (col("o_orderkey") % 211).as("dst"))
      Graph.pageRank(ed, "src", "dst", iters = 5, damping = 0.85)
        .orderBy("node")
    },
    Some(Graph.pageRankSql(
      "SELECT o_custkey % 199 AS src, o_orderkey % 211 AS dst FROM orders WHERE o_orderkey % 7 = 0",
      iters = 5, damping = 0.85) + "\nORDER BY node ASC NULLS FIRST"))

  // — random projection, FULL value oracle (x116): ±1 Achlioptas matrix,
  //   top-k by PROJECTED cosine. Oracle-able because every step is
  //   engine-portable: the matrix is baked as literals into the SQL by
  //   the same Scala that builds the Spark plan, ± products are exact in
  //   float, and both engines fold the additions in the same sequential
  //   order (VecDot's loop ↔ list_reduce).
  private val x116 = Probe(
    "x116_sim_topk_projected",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.topKProjected(queries, "query_id", "qvec", emb, "vec_id", "embedding",
          k = 5, outDim = 8, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some {
      def proj(e: String) =
        Similarity.projectSqlArray(e, Similarity.projectionMatrix(8, 64))
      s"""WITH q AS (SELECT vec_id AS query_id, ${proj("embedding")} AS qp
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, ${proj("embedding")} AS cp FROM embeddings),
         |pairs AS (SELECT query_id, vec_id, qp, cp FROM q, c WHERE vec_id != query_id),
         |dots AS (SELECT query_id, vec_id,
         |    list_reduce(list_transform(range(1, 9), i -> qp[i] * cp[i]), (a, b) -> a + b) AS d,
         |    list_reduce(list_transform(range(1, 9), i -> qp[i] * qp[i]), (a, b) -> a + b) AS nx,
         |    list_reduce(list_transform(range(1, 9), i -> cp[i] * cp[i]), (a, b) -> a + b) AS ny
         |  FROM pairs),
         |sims AS (SELECT query_id, vec_id,
         |    round(d / (sqrt(nx) * sqrt(ny)), 6) AS proj_cosine FROM dots),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY proj_cosine DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank FROM sims)
         |SELECT query_id, vec_id, proj_cosine, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
    })

  // — project → shortlist → exact rerank (x117): the production JL
  //   composition, gated x06-style by recall against x05's exact top-k.
  //   The synthetic near-orthogonal embeddings are the WORST case for any
  //   projection (all cosines ≈ 0, ranking is noise — x06's own caveat);
  //   measured recall at (outDim 32, shortlist 100): 0.78 at sf0.001 AND
  //   sf0.01, so the 0.6 gate has margin on both driver scales. Clustered
  //   real embeddings sit far above. Full-fill also asserted: shortlist ≥ k
  //   ⇒ every query returns exactly k reranked rows.
  private val x117 = Probe(
    "x117_sim_topk_projected_rerank",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(queries, "query_id", "qvec", emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"))
      val rr = Similarity.topKProjectedRerank(queries, "query_id", "qvec", emb, "vec_id", "embedding",
          k = 5, shortlist = 100, outDim = 32, dim = 64)
        .select(col("query_id"), col("vec_id"))
      val overlap = rr.join(exact, Seq("query_id", "vec_id"), "left_semi")
      scalarRow(
        "n_queries" -> queries.agg(count(lit(1))),
        "n_exact_results" -> exact.agg(count(lit(1))),
        "n_rerank_results" -> rr.agg(count(lit(1))),
        "__n_overlap" -> overlap.agg(count(lit(1))))
        .select(
          col("n_queries"), col("n_exact_results"), col("n_rerank_results"),
          (col("__n_overlap") >= col("n_exact_results") * 0.6).as("recall_ge_060"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(count(*) * 5 AS BIGINT) AS n_exact_results,
           |  CAST(count(*) * 5 AS BIGINT) AS n_rerank_results,
           |  TRUE AS recall_ge_060
           |FROM embeddings WHERE vec_id < 10""".stripMargin))

  // — quote-graph authority (x118): containment → citation edges →
  //   PageRank, composed end-to-end. The x111 fixture (every document
  //   doubled as full text + a 12-token slice of itself) gives each
  //   container exactly one contained quote; the slice CITES its source
  //   (quoteEdges), and authority concentrates on the containers —
  //   boilerplate/quote-farm mining as a graph problem. FULL value
  //   oracle: the containment CTEs (x111's own) feed the unrolled
  //   PageRank CTE chain inside one nested WITH.
  private val x118 = Probe(
    "x118_quote_authority",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val toks = filter(split(col("text"), "\\s+"), t => t =!= lit(""))
      val fix = docs.select((col("doc_id") * 2).as("fid"), col("text"))
        .unionByName(docs.select((col("doc_id") * 2 + 1).as("fid"),
          concat_ws(" ", slice(toks, 5, 12)).as("text")))
      val pairs = Dedup.containmentPairs(fix, "fid", col("text"), n = 3, threshold = 0.8)
      Graph.pageRank(Graph.quoteEdges(pairs, 0.8), "src", "dst", iters = 5)
        .orderBy("node")
    },
    Some {
      def r4(e: String) = graft.Canonical.round4Sql(e)
      val edgesCte =
        s"""WITH fix AS (
           |  SELECT doc_id * 2 AS id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id * 2 + 1 AS id,
           |    array_to_string(
           |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')[5:16],
           |      ' ') AS text
           |  FROM documents),
           |sh AS (
           |  SELECT id, unnest(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
           |  FROM (SELECT id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
           |        FROM fix)),
           |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
           |sc AS (
           |  SELECT id_a, id_b,
           |    ${r4("i * 1.0 / sa.n")} AS ca,
           |    ${r4("i * 1.0 / sb.n")} AS cb
           |  FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b)
           |SELECT
           |  CASE WHEN ca >= 0.8 AND cb >= 0.8 THEN greatest(id_a, id_b)
           |       WHEN ca >= 0.8 THEN id_a ELSE id_b END AS src,
           |  CASE WHEN ca >= 0.8 AND cb >= 0.8 THEN least(id_a, id_b)
           |       WHEN ca >= 0.8 THEN id_b ELSE id_a END AS dst
           |FROM sc WHERE greatest(ca, cb) >= 0.8""".stripMargin
      Graph.pageRankSql(edgesCte, iters = 5, damping = 0.85) +
        "\nORDER BY node ASC NULLS FIRST"
    })

  // — persisted simhash index (x119): Hamming near-dup state for 64-bit
  //   perceptual signatures (image/audio/video hashes probe the SAME
  //   index — the chunk machinery is hash-agnostic). Engine-portable
  //   integer fixture: sig(d) = ((d·48271) mod 2^31−1)·4194301 +
  //   (d·69621) mod 1048573 spreads all three pigeonhole chunks; batch C
  //   (with planted hamming-1 neighbors of init-batch A and exact twins
  //   of appended batch B, one append REPLAYED as a ledgerless anti-join
  //   no-op) probes the A∪B index. FULL value oracle: DuckDB recomputes
  //   every signature, the xor bit-plants, and the all-pairs Hamming ≤ 2
  //   filter — which the cold chunk path must equal EXACTLY by
  //   pigeonhole (no fixture bucket nears the hot cap).
  private val x119 = Probe(
    "x119_simhash_index",
    (s, dir) => {
      val path = graft.TmpDir.scratch("x119_sim")
      val sig = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id").as("d"))
        .select(col("d"),
          (((col("d") * 48271L) % 2147483647L) * 4194301L +
            (col("d") * 69621L) % 1048573L).as("s"))
      def part(m: Int) = sig.filter(pmod(col("d"), lit(3)) === m)
        .select((col("d") * 10).as("id"), col("s"))
      Dedup.writeSimhashIndex(part(0), "id", "s", path, maxDist = 2)
      val b = part(1)
      Dedup.appendToSimhashIndex(s, path, b, "id", "s")
      Dedup.appendToSimhashIndex(s, path, b, "id", "s") // replay: anti-join no-op
      val plantNear = sig.filter(pmod(col("d"), lit(15)) === 0)
        .select((col("d") * 10 + 2).as("id"),
          col("s").bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), CAST(d % 22 AS INT))")).as("s"))
      val plantExact = sig.filter(pmod(col("d"), lit(15)) === 1)
        .select((col("d") * 10 + 2).as("id"), col("s"))
      val c = part(2).unionByName(plantNear).unionByName(plantExact)
      val idx = Dedup.readSimhashIndex(s, path)
      Dedup.probeSimhashIndex(idx, c, "id", "s")
        .select(col("batch_id"), col("corpus_id"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("batch_id", "corpus_id")
    },
    Some("""WITH sig AS (
           |  SELECT doc_id AS d,
           |    ((doc_id * 48271) % 2147483647) * 4194301 + (doc_id * 69621) % 1048573 AS s
           |  FROM documents),
           |corpus AS (
           |  SELECT 10 * d AS cid, s FROM sig WHERE d % 3 = 0
           |  UNION ALL SELECT 10 * d AS cid, s FROM sig WHERE d % 3 = 1),
           |batch AS (
           |  SELECT 10 * d AS bid, s FROM sig WHERE d % 3 = 2
           |  UNION ALL SELECT 10 * d + 2 AS bid,
           |    xor(s, CAST(1 AS BIGINT) << (d % 22)) AS s FROM sig WHERE d % 15 = 0
           |  UNION ALL SELECT 10 * d + 2 AS bid, s FROM sig WHERE d % 15 = 1)
           |SELECT b.bid AS batch_id, c.cid AS corpus_id,
           |  CAST(bit_count(xor(b.s, c.s)) AS BIGINT) AS hamming
           |FROM batch b JOIN corpus c
           |  ON bit_count(xor(b.s, c.s)) <= 2 AND b.bid != c.cid
           |ORDER BY batch_id ASC NULLS FIRST, corpus_id ASC NULLS FIRST""".stripMargin))

  // — HOST-grain quote authority (x121): the x118 composition lifted to
  //   the grain production curation weights at — the site, not the page.
  //   Fixture: each document's 12-token slice is attributed to the NEXT
  //   host ((d+1) mod 31), so every quote is a cross-host citation and
  //   the host graph is a 31-node multi-ring with document-count-driven
  //   in-degree. FULL value oracle: x118's containment/edge CTEs + a
  //   host map + the unrolled PageRank chain.
  private val x121 = Probe(
    "x121_host_authority",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val toks = filter(split(col("text"), "\\s+"), t => t =!= lit(""))
      val fix = docs.select((col("doc_id") * 2).as("fid"), col("text"),
          pmod(col("doc_id"), lit(31L)).as("host"))
        .unionByName(docs.select((col("doc_id") * 2 + 1).as("fid"),
          concat_ws(" ", slice(toks, 5, 12)).as("text"),
          pmod(col("doc_id") + 1, lit(31L)).as("host")))
      val pairs = Dedup.containmentPairs(fix, "fid", col("text"), n = 3, threshold = 0.8)
      Graph.hostAuthority(Graph.quoteEdges(pairs, 0.8),
          fix.select(col("fid"), col("host")), "fid", "host", iters = 5)
        .orderBy("node")
    },
    Some {
      def r4(e: String) = graft.Canonical.round4Sql(e)
      val edgesCte =
        s"""WITH fix AS (
           |  SELECT doc_id * 2 AS id, text, doc_id % 31 AS h FROM documents
           |  UNION ALL
           |  SELECT doc_id * 2 + 1 AS id,
           |    array_to_string(
           |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')[5:16],
           |      ' ') AS text,
           |    (doc_id + 1) % 31 AS h
           |  FROM documents),
           |sh AS (
           |  SELECT id, unnest(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
           |  FROM (SELECT id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
           |        FROM fix)),
           |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
           |sc AS (
           |  SELECT id_a, id_b,
           |    ${r4("i * 1.0 / sa.n")} AS ca,
           |    ${r4("i * 1.0 / sb.n")} AS cb
           |  FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b),
           |de AS (
           |  SELECT
           |    CASE WHEN ca >= 0.8 AND cb >= 0.8 THEN greatest(id_a, id_b)
           |         WHEN ca >= 0.8 THEN id_a ELSE id_b END AS ds,
           |    CASE WHEN ca >= 0.8 AND cb >= 0.8 THEN least(id_a, id_b)
           |         WHEN ca >= 0.8 THEN id_b ELSE id_a END AS dd
           |  FROM sc WHERE greatest(ca, cb) >= 0.8)
           |SELECT hs.h AS src, hd.h AS dst
           |FROM de JOIN fix hs ON hs.id = de.ds JOIN fix hd ON hd.id = de.dd""".stripMargin
      Graph.pageRankSql(edgesCte, iters = 5, damping = 0.85) +
        "\nORDER BY node ASC NULLS FIRST"
    })

  // — weighted PageRank (x122): duplicate (src, dst) edges aggregate
  //   into integer weights (exact cross-engine sums), contributions
  //   split rank by w/W. Graph derived from lineitem (supplier→part mod
  //   graph, weight = line number). FULL value oracle: the unrolled
  //   weighted CTE chain.
  private val x122 = Probe(
    "x122_pagerank_weighted",
    (s, dir) => {
      val ed = t(s, dir, "lineitem")
        .select((col("l_suppkey") % 97).as("src"), (col("l_partkey") % 101).as("dst"),
          col("l_linenumber").as("w"))
      Graph.pageRankWeighted(ed, "src", "dst", "w", iters = 5).orderBy("node")
    },
    Some(Graph.pageRankWeightedSql(
      "SELECT l_suppkey % 97 AS src, l_partkey % 101 AS dst, l_linenumber AS w FROM lineitem",
      iters = 5) + "\nORDER BY node ASC NULLS FIRST"))

  // — TrustRank (x123): personalized PageRank whose teleport vector is
  //   uniform over a hand-vetted SEED set (nodes < 20 of the x114 orders
  //   graph) — trust propagates along links and never leaks to unvetted
  //   hosts through dangling pages (dangling mass redistributes by the
  //   teleport vector). FULL value oracle: the same CTE chain with the
  //   seed teleport.
  private val x123 = Probe(
    "x123_trustrank",
    (s, dir) => {
      val ed = t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select((col("o_custkey") % 199).as("src"), (col("o_orderkey") % 211).as("dst"),
          lit(1L).as("w"))
      val nodes = ed.select(col("src").as("node"))
        .unionByName(ed.select(col("dst").as("node"))).distinct()
      val seeds = nodes.filter(col("node") < 20).localCheckpoint()
      val k = seeds.count() // bounded driver scalar (seed-set size)
      val tf = seeds.select(col("node"), (lit(1.0) / lit(k.toDouble)).as("t"))
      Graph.pageRankWeighted(ed, "src", "dst", "w", iters = 5, teleport = Some(tf))
        .orderBy("node")
    },
    Some(Graph.pageRankWeightedSql(
      "SELECT o_custkey % 199 AS src, o_orderkey % 211 AS dst, CAST(1 AS BIGINT) AS w " +
        "FROM orders WHERE o_orderkey % 7 = 0",
      iters = 5,
      teleportCte = Some(
        "SELECT node, 1.0 / (SELECT count(*) FROM nodes WHERE node < 20) AS t " +
          "FROM nodes WHERE node < 20")) + "\nORDER BY node ASC NULLS FIRST"))

  // — PII statistics (x124): detection counts per type + redacted text,
  //   with the scrub pass's order-sensitive masking chain (URL → email →
  //   phone, so an email inside a URL counts as URL). Fixture plants all
  //   three PII kinds by doc_id arm, incl. the embedded-email trap. FULL
  //   value oracle: DuckDB replays the masking chain and every count
  //   with the same RE2-safe patterns.
  private val x124 = Probe(
    "x124_pii_stats",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0, lit(" contact me@example.com"))
            .when(pmod(col("doc_id"), lit(4)) === 1,
              lit(" see https://a.example.com/u?mail=x@y.org or b@c.org"))
            .when(pmod(col("doc_id"), lit(4)) === 2, lit(" call 555-123-4567 now"))
            .otherwise(lit(""))).as("text"))
      TextStats.piiStats(fix, "doc_id").orderBy("doc_id")
    },
    Some {
      def l(re: String) = "'" + re.replace("'", "''") + "'"
      val (u, e, p) = (l(TextStats.UrlRe), l(TextStats.EmailRe), l(TextStats.PhoneRe))
      s"""WITH fix AS (
         |  SELECT doc_id, text || CASE doc_id % 4
         |    WHEN 0 THEN ' contact me@example.com'
         |    WHEN 1 THEN ' see https://a.example.com/u?mail=x@y.org or b@c.org'
         |    WHEN 2 THEN ' call 555-123-4567 now'
         |    ELSE '' END AS text
         |  FROM documents),
         |m AS (SELECT doc_id, text,
         |    regexp_replace(text, $u, '<URL>', 'g') AS t1
         |  FROM fix),
         |m2 AS (SELECT doc_id, text, t1,
         |    regexp_replace(t1, $e, '<EMAIL>', 'g') AS t2
         |  FROM m)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, $u)) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(t1, $e)) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t2, $p)) AS BIGINT) AS n_phones,
         |  regexp_replace(t2, $p, '<PHONE>', 'g') AS text_scrubbed
         |FROM m2
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  // — incremental connected components (x125): persisted cluster labels
  //   folded one pair-delta at a time — label edges carry the old
  //   connectivity exactly, so incremental ≡ one-shot over the full pair
  //   history. Fixture: chain edges (d, d+17) split alternately into two
  //   batches, so batch A alone is FRAGMENTS and folding batch B must
  //   merge every fragment chain to its global min — the worst merge
  //   shape for a label-propagation design (and O(log n) for star
  //   contraction). FULL value oracle: DuckDB's transitive closure over
  //   the complete edge set.
  private val x125 = Probe(
    "x125_components_incremental",
    (s, dir) => {
      val path = graft.TmpDir.scratch("x125_cc")
      val edges = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id").as("id_a"), (col("doc_id") + 17).as("id_b"))
      val a = edges.filter(pmod(col("id_a"), lit(2L)) === 0L)
      val b = edges.filter(pmod(col("id_a"), lit(2L)) === 1L)
      Dedup.writeCcIndex(s, path, Dedup.components(a))
      Dedup.appendToCcIndex(s, path, b)
      Dedup.appendToCcIndex(s, path, b) // idempotent replay: fixpoint
      Dedup.readCcIndex(s, path).orderBy("id")
    },
    Some("""WITH RECURSIVE e0 AS (SELECT doc_id AS a, doc_id + 17 AS b FROM documents),
           |edges AS (SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0),
           |reach AS (SELECT src, dst FROM edges
           |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
           |SELECT src AS id, least(src, min(dst)) AS comp
           |FROM reach GROUP BY src
           |ORDER BY id ASC NULLS FIRST""".stripMargin))

  // — compression-ratio quality signal (x126): deflate(text)/len(text),
  //   the entropy proxy beside the repetition rules. Deflate output is
  //   not bit-specified across zlib implementations, so this is a
  //   DERIVED-METRIC oracle (the x06 discipline): three fixture arms —
  //   heavy repetition, natural text, hex noise — must order
  //   repetitive < natural < noise on ARM MEANS, every ratio must sit in
  //   (0, 1.2], and the row count is exact.
  private val x126 = Probe(
    "x126_compression_ratio",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, concat_ws(" ",
          transform(sequence(lit(1), lit(40)), _ => lit("spam ham"))))
          .when(pmod(col("doc_id"), lit(3)) === 1, col("text"))
          .otherwise(concat(md5(col("text")), md5(concat(col("text"), lit("x"))),
            md5(concat(col("text"), lit("y"))))).as("text"))
        .withColumn("r", TextStats.compressionRatio(col("text")))
        .withColumn("arm", pmod(col("doc_id"), lit(3)))
        .localCheckpoint()
      val means = fix.groupBy(col("arm")).agg(avg(col("r")).as("m"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      scalarRow(
        "n_docs" -> fix.agg(count(lit(1))),
        "n_out_of_bounds" -> fix.filter(col("r") <= 0 || col("r") > 1.2).agg(count(lit(1))))
        .select(col("n_docs"), col("n_out_of_bounds"),
          lit(means(0L) < means(1L)).as("repetitive_lt_natural"),
          lit(means(1L) < means(2L)).as("natural_lt_noise"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(0 AS BIGINT) AS n_out_of_bounds,
           |  TRUE AS repetitive_lt_natural,
           |  TRUE AS natural_lt_noise
           |FROM documents""".stripMargin))

  // — encoding repair (x127): the ftfy-lite pass. The fixture BUILDS the
  //   mojibake in-engine (decode(encode(clean, UTF-8), ISO-8859-1), once
  //   and twice) so the probe exercises the real mistake; the oracle
  //   needs only the CLEAN expected strings — arm 0 must be untouched
  //   (fixpoint), arms 1/2 must repair to the identical clean literal,
  //   arm 3 (a code point > 0xFF prepended) must abort untouched.
  private val x127 = Probe(
    "x127_encoding_repair",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val clean = "résumé – café’s naïve façade"
      def moji(c: org.apache.spark.sql.Column) = decode(encode(c, "UTF-8"), "ISO-8859-1")
      val fix = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0, col("text"))
          .when(pmod(col("doc_id"), lit(4)) === 1, moji(lit(clean)))
          .when(pmod(col("doc_id"), lit(4)) === 2, moji(moji(lit(clean))))
          .otherwise(concat(lit("日本 "), col("text"))).as("text"))
      fix.select(col("doc_id"), TextStats.repairEncoding(col("text")).as("repaired"))
        .orderBy("doc_id")
    },
    Some {
      val clean = "résumé – café’s naïve façade"
      s"""SELECT doc_id, CASE doc_id % 4
         |    WHEN 0 THEN text
         |    WHEN 1 THEN '$clean'
         |    WHEN 2 THEN '$clean'
         |    ELSE '日本 ' || text END AS repaired
         |FROM documents
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  // — WEIGHTED host authority (x128): the x121 composition with quote
  //   MULTIPLICITY as edge weight — hostQuoteWeights counts doc-level
  //   citations per host pair and pageRankWeighted splits rank by w/W
  //   (contrast x121, where multi-edges deliberately collapse). FULL
  //   value oracle: x121's containment/edge CTEs + the host-count group
  //   feeding the weighted unrolled PageRank chain.
  private val x128 = Probe(
    "x128_host_authority_weighted",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val toks = filter(split(col("text"), "\\s+"), t => t =!= lit(""))
      val fix = docs.select((col("doc_id") * 2).as("fid"), col("text"),
          pmod(col("doc_id"), lit(31L)).as("host"))
        .unionByName(docs.select((col("doc_id") * 2 + 1).as("fid"),
          concat_ws(" ", slice(toks, 5, 12)).as("text"),
          pmod(col("doc_id") + 1, lit(31L)).as("host")))
      val pairs = Dedup.containmentPairs(fix, "fid", col("text"), n = 3, threshold = 0.8)
      val hw = Graph.hostQuoteWeights(Graph.quoteEdges(pairs, 0.8),
        fix.select(col("fid"), col("host")), "fid", "host")
      Graph.pageRankWeighted(hw, "src", "dst", "w", iters = 5).orderBy("node")
    },
    Some {
      def r4(e: String) = graft.Canonical.round4Sql(e)
      val edgesCte =
        s"""WITH fix AS (
           |  SELECT doc_id * 2 AS id, text, doc_id % 31 AS h FROM documents
           |  UNION ALL
           |  SELECT doc_id * 2 + 1 AS id,
           |    array_to_string(
           |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')[5:16],
           |      ' ') AS text,
           |    (doc_id + 1) % 31 AS h
           |  FROM documents),
           |sh AS (
           |  SELECT id, unnest(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
           |  FROM (SELECT id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
           |        FROM fix)),
           |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
           |sc AS (
           |  SELECT id_a, id_b,
           |    ${r4("i * 1.0 / sa.n")} AS ca,
           |    ${r4("i * 1.0 / sb.n")} AS cb
           |  FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b),
           |de AS (
           |  SELECT
           |    CASE WHEN ca >= 0.8 AND cb >= 0.8 THEN greatest(id_a, id_b)
           |         WHEN ca >= 0.8 THEN id_a ELSE id_b END AS ds,
           |    CASE WHEN ca >= 0.8 AND cb >= 0.8 THEN least(id_a, id_b)
           |         WHEN ca >= 0.8 THEN id_b ELSE id_a END AS dd
           |  FROM sc WHERE greatest(ca, cb) >= 0.8)
           |SELECT hs.h AS src, hd.h AS dst, count(*) AS w
           |FROM de JOIN fix hs ON hs.id = de.ds JOIN fix hd ON hd.id = de.dd
           |GROUP BY 1, 2""".stripMargin
      Graph.pageRankWeightedSql(edgesCte, iters = 5, damping = 0.85) +
        "\nORDER BY node ASC NULLS FIRST"
    })

  // — exact-k weighted sample per group (x129): Efraimidis–Spirakis
  //   A-ES over the portable coin — keep the 5 "largest-key" documents
  //   per language, keys ln(u)/w with w = n_chars. FULL value oracle:
  //   DuckDB replays the fingerprint coin, the key arithmetic at the
  //   shared round4 grain, and the per-group ranking with the id
  //   tiebreak.
  private val x129 = Probe(
    "x129_weighted_sample",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      Sampling.weightedTopKPerGroup(docs, col("lang"), col("doc_id"),
          col("n_chars"), k = 5)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "doc_id")
    },
    Some {
      val fp = TextStats.fingerprintSql("wrs")
      s"""WITH t AS (
         |  SELECT lang, doc_id, n_chars,
         |    'wr:' || CAST(doc_id AS VARCHAR) AS wrs
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         |f AS (SELECT lang, doc_id, n_chars,
         |    (($fp % 100000) + 0.5) / 100000 AS u
         |  FROM t),
         |keyed AS (SELECT lang, doc_id, n_chars,
         |    ${graft.Canonical.round4Sql("ln(u) / CAST(n_chars AS DOUBLE)")} AS k
         |  FROM f),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY k DESC NULLS LAST, doc_id ASC NULLS FIRST) AS rn
         |  FROM keyed)
         |SELECT lang, doc_id, n_chars FROM ranked WHERE rn <= 5
         |ORDER BY lang ASC NULLS FIRST, doc_id ASC NULLS FIRST""".stripMargin
    })

  // — PII release card (x130): per-source detection totals + rollup
  //   grand total over the x124 planted fixture — the card a release
  //   checklist reads. FULL value oracle: the masking-chain counts
  //   grouped by ROLLUP(source).
  private val x130 = Probe(
    "x130_pii_card",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"), col("source"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0, lit(" contact me@example.com"))
            .when(pmod(col("doc_id"), lit(4)) === 1,
              lit(" see https://a.example.com/u?mail=x@y.org or b@c.org"))
            .when(pmod(col("doc_id"), lit(4)) === 2, lit(" call 555-123-4567 now"))
            .otherwise(lit(""))).as("text"))
      Report.piiCard(fix, "doc_id").orderBy("is_total", "source")
    },
    Some {
      def l(re: String) = "'" + re.replace("'", "''") + "'"
      val (u, e, p) = (l(TextStats.UrlRe), l(TextStats.EmailRe), l(TextStats.PhoneRe))
      s"""WITH fix AS (
         |  SELECT doc_id, source, text || CASE doc_id % 4
         |    WHEN 0 THEN ' contact me@example.com'
         |    WHEN 1 THEN ' see https://a.example.com/u?mail=x@y.org or b@c.org'
         |    WHEN 2 THEN ' call 555-123-4567 now'
         |    ELSE '' END AS text
         |  FROM documents),
         |m AS (SELECT doc_id, source, text,
         |    regexp_replace(text, $u, '<URL>', 'g') AS t1
         |  FROM fix),
         |m2 AS (SELECT doc_id, source, text, t1,
         |    regexp_replace(t1, $e, '<EMAIL>', 'g') AS t2
         |  FROM m),
         |cnt AS (SELECT source,
         |    CAST(len(regexp_extract_all(text, $u)) AS BIGINT) AS n_urls,
         |    CAST(len(regexp_extract_all(t1, $e)) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(t2, $p)) AS BIGINT) AS n_phones
         |  FROM m2)
         |SELECT source, CAST(GROUPING(source) AS BIGINT) AS is_total,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_urls) AS BIGINT) AS n_urls,
         |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
         |  CAST(sum(n_phones) AS BIGINT) AS n_phones
         |FROM cnt GROUP BY ROLLUP(source)
         |ORDER BY is_total ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin
    })

  // — sentence-aware chunking (x131): chunks cut ONLY at sentence
  //   boundaries (cumulative-token buckets, densified chunk ids; a
  //   straddling sentence overflows its chunk rather than splitting —
  //   the pinned contract). Fixture synthesizes multi-sentence docs with
  //   arm-varied terminators (. ! ?) from substrings of the natural
  //   text. FULL value oracle: DuckDB replays the RE2-safe sentence
  //   split, per-sentence token counts, the window cumsum bucketing, the
  //   dense re-rank, and the ordered reassembly.
  private val x131 = Probe(
    "x131_sentence_chunks",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val sep = when(pmod(col("doc_id"), lit(3)) === 0, lit(". "))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("! "))
        .otherwise(lit("? "))
      val fix = docs.select(col("doc_id"),
        concat(substring(col("text"), 1, 80), sep,
          substring(col("text"), 30, 90), sep, col("text")).as("text"))
      Packing.sentenceChunks(fix, "doc_id", col("text"), maxTokens = 25)
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH fix AS (
           |  SELECT doc_id,
           |    substr(text, 1, 80) ||
           |    (CASE doc_id % 3 WHEN 0 THEN '. ' WHEN 1 THEN '! ' ELSE '? ' END) ||
           |    substr(text, 30, 90) ||
           |    (CASE doc_id % 3 WHEN 0 THEN '. ' WHEN 1 THEN '! ' ELSE '? ' END) ||
           |    text AS text
           |  FROM documents),
           |sp AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]+(?:[.!?]+|$)') AS l FROM fix),
           |s AS (SELECT doc_id, x['pos'] AS pos, x['sent'] AS sent FROM (
           |  SELECT doc_id, unnest([{'pos': i, 'sent': l[i]} for i in range(1, len(l) + 1)]) AS x
           |  FROM sp)),
           |tk AS (SELECT doc_id, pos, sent,
           |    CAST(len(list_filter(regexp_split_to_array(sent, '\s+'), t -> t != '')) AS BIGINT) AS tk
           |  FROM s),
           |b AS (SELECT *, floor(coalesce(sum(tk) OVER (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 25) AS bucket FROM tk),
           |d AS (SELECT *, CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY bucket) - 1 AS BIGINT)
           |    AS chunk_idx FROM b)
           |SELECT doc_id, chunk_idx,
           |  string_agg(sent, '' ORDER BY pos) AS chunk_text,
           |  CAST(count(*) AS BIGINT) AS n_sentences,
           |  CAST(sum(tk) AS BIGINT) AS n_tokens
           |FROM d GROUP BY doc_id, chunk_idx
           |ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST""".stripMargin))

  // — overlapping sentence chunks (x132): x131's bucketing plus the RAG
  //   overlap — each chunk carries the last sentence of its predecessor
  //   (duplicated, counted in both). Same fixture as x131; the oracle
  //   adds the carried-membership CTE (last-1-by-position per chunk,
  //   shifted +1, only where the successor exists).
  private val x132 = Probe(
    "x132_sentence_chunks_overlap",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val sep = when(pmod(col("doc_id"), lit(3)) === 0, lit(". "))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("! "))
        .otherwise(lit("? "))
      val fix = docs.select(col("doc_id"),
        concat(substring(col("text"), 1, 80), sep,
          substring(col("text"), 30, 90), sep, col("text")).as("text"))
      Packing.sentenceChunksOverlap(fix, "doc_id", col("text"),
          maxTokens = 25, overlap = 1)
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH fix AS (
           |  SELECT doc_id,
           |    substr(text, 1, 80) ||
           |    (CASE doc_id % 3 WHEN 0 THEN '. ' WHEN 1 THEN '! ' ELSE '? ' END) ||
           |    substr(text, 30, 90) ||
           |    (CASE doc_id % 3 WHEN 0 THEN '. ' WHEN 1 THEN '! ' ELSE '? ' END) ||
           |    text AS text
           |  FROM documents),
           |sp AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]+(?:[.!?]+|$)') AS l FROM fix),
           |s AS (SELECT doc_id, x['pos'] AS pos, x['sent'] AS sent FROM (
           |  SELECT doc_id, unnest([{'pos': i, 'sent': l[i]} for i in range(1, len(l) + 1)]) AS x
           |  FROM sp)),
           |tk AS (SELECT doc_id, pos, sent,
           |    CAST(len(list_filter(regexp_split_to_array(sent, '\s+'), t -> t != '')) AS BIGINT) AS tk
           |  FROM s),
           |b AS (SELECT *, floor(coalesce(sum(tk) OVER (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 25) AS bucket FROM tk),
           |d AS (SELECT *, CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY bucket) - 1 AS BIGINT)
           |    AS chunk_idx FROM b),
           |mx AS (SELECT doc_id, max(chunk_idx) AS max_idx FROM d GROUP BY doc_id),
           |carried AS (
           |  SELECT r.doc_id, r.chunk_idx + 1 AS chunk_idx, r.pos, r.sent, r.tk
           |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, chunk_idx
           |      ORDER BY pos DESC) AS rnd FROM d) r
           |  JOIN mx ON mx.doc_id = r.doc_id
           |  WHERE r.rnd <= 1 AND r.chunk_idx + 1 <= mx.max_idx),
           |members AS (
           |  SELECT doc_id, chunk_idx, pos, sent, tk FROM d
           |  UNION ALL SELECT doc_id, chunk_idx, pos, sent, tk FROM carried)
           |SELECT doc_id, chunk_idx,
           |  string_agg(sent, '' ORDER BY pos) AS chunk_text,
           |  CAST(count(*) AS BIGINT) AS n_sentences,
           |  CAST(sum(tk) AS BIGINT) AS n_tokens
           |FROM members GROUP BY doc_id, chunk_idx
           |ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST""".stripMargin))

  // — persisted HLL sketch index (x133): per-key approx-distinct state
  //   folded batch-by-batch (distinct users per event type here; hosts
  //   at crawl scale). Sketch bytes are engine-private, so the gate is
  //   derived-metric (x16 discipline): the replayed fold must leave
  //   estimates REGISTER-IDENTICAL (idempotence by max-algebra — the
  //   no-ledger claim, checked by value), every estimate within 10% of
  //   the exact distinct, and the key count exact.
  private val x133 = Probe(
    "x133_hll_index",
    (s, dir) => {
      val path = graft.TmpDir.scratch("x133_hll")
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"), col("event_id"))
      val a = ev.filter(pmod(col("event_id"), lit(2L)) === 0L)
      val b = ev.filter(pmod(col("event_id"), lit(2L)) === 1L)
      Frequency.writeHllIndex(s, path, a, "event_type", "user_id")
      Frequency.foldIntoHllIndex(s, path, b, "event_type", "user_id")
      val e1 = Frequency.readHllEstimates(s, path).withColumnRenamed("approx_distinct", "e1")
        .localCheckpoint()
      Frequency.foldIntoHllIndex(s, path, b, "event_type", "user_id") // replay: register no-op
      val e2 = Frequency.readHllEstimates(s, path).withColumnRenamed("approx_distinct", "e2")
      val exact = ev.groupBy(col("event_type").as("key"))
        .agg(countDistinct(col("user_id")).as("exact"))
      val j = e1.join(e2, Seq("key")).join(exact, Seq("key")).localCheckpoint()
      scalarRow(
        "n_keys" -> j.agg(count(lit(1))),
        "n_idem_mismatch" -> j.filter(col("e1") =!= col("e2")).agg(count(lit(1))),
        "n_outside_10pct" -> j.filter(
          abs(col("e1") - col("exact")).cast("double") > col("exact").cast("double") * 0.1)
          .agg(count(lit(1))))
    },
    Some("""SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_keys,
           |  CAST(0 AS BIGINT) AS n_idem_mismatch,
           |  CAST(0 AS BIGINT) AS n_outside_10pct
           |FROM events""".stripMargin))

  // — host authority through the STRING-host encode path (x134): x121/
  //   x128 exercise hostAuthority on numeric host keys; this probe runs
  //   the full deployment pipeline — string hosts → [[Graph.encodeHosts]]
  //   (dense lexicographic ids via the round-13 parallel range-sort +
  //   zipWithIndex, no single-task window) → doc-graph edges lifted to
  //   host grain → PageRank — and the oracle replays the dictionary with
  //   a row_number window plus the shared pageRankSql CTE chain, so the
  //   encode path is VALUE-oracled end-to-end, not just unit-tested.
  private val docsHostSql =
    "SELECT doc_id, printf('h%02d.example.com', CAST(doc_id % 31 AS INT)) AS host FROM documents"
  private val dictSql =
    s"""SELECT host, CAST(row_number() OVER (ORDER BY host ASC) AS BIGINT) AS host_id
       |FROM (SELECT DISTINCT host FROM ($docsHostSql))""".stripMargin
  private val x134 = Probe(
    "x134_host_authority_encoded",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          format_string("h%02d.example.com", pmod(col("doc_id"), lit(31L))).as("host"))
      val dict = Graph.encodeHosts(docs, "host")
      val mapped = docs.join(dict, Seq("host")).select(col("doc_id"), col("host_id"))
      // deterministic doc-graph: each doc links to its half-id parent
      // (endpoints outside the corpus drop in the host join, both engines)
      val edges = docs.filter(col("doc_id") >= 2)
        .select(col("doc_id").as("src"), floor(col("doc_id") / 2).cast("long").as("dst"))
      Graph.hostAuthority(edges, mapped, "doc_id", "host_id", iters = 5)
        .join(dict, col("node") === col("host_id"))
        .select(col("host"), col("host_id"), col("pagerank"))
        .orderBy("host_id")
    },
    Some {
      val edgesCte =
        s"""SELECT hs.host_id AS src, hd.host_id AS dst
           |FROM (SELECT doc_id AS s, doc_id // 2 AS d FROM documents WHERE doc_id >= 2) e
           |JOIN ($docsHostSql) ds ON ds.doc_id = e.s
           |JOIN ($dictSql) hs ON hs.host = ds.host
           |JOIN ($docsHostSql) dd ON dd.doc_id = e.d
           |JOIN ($dictSql) hd ON hd.host = dd.host""".stripMargin
      s"""SELECT d.host, pr.node AS host_id, pr.pagerank
         |FROM (${Graph.pageRankSql(edgesCte, iters = 5, damping = 0.85)}) pr
         |JOIN ($dictSql) d ON d.host_id = pr.node
         |ORDER BY host_id ASC NULLS FIRST""".stripMargin
    })

  // — BM25 retrieval scoring (x135): every corpus document scored
  //   against a small deterministic query set (queries = first-4-token
  //   prefixes of every 97th doc, so planted self-hits exist); the
  //   oracle replays tokenization, tf/df, Lucene's +1 idf, and the
  //   length-normalized term sum verbatim in DuckDB. round4 grain (ln is
  //   the only transcendental; the repo's cosine probes already accept
  //   ulp-level engine divergence at a finer grain).
  private val x135 = Probe(
    "x135_bm25",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      TextStats.bm25(docs, "doc_id", col("text"), queries, "query_id", col("qtext"))
        .select(col("query_id"), col("doc_id"),
          graft.Canonical.round4(col("bm25")).as("bm25"))
        .orderBy("query_id", "doc_id")
    },
    Some {
      val toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
      s"""WITH q AS (
         |  SELECT doc_id * 1000 AS query_id,
         |    array_to_string(list_filter(
         |      regexp_split_to_array(text, '\\s+'), x -> x != '')[1:4], ' ') AS text
         |  FROM documents WHERE doc_id % 97 = 1),
         |qt AS (SELECT query_id, unnest(list_distinct($toks)) AS term FROM q),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    avg(CAST(len($toks) AS DOUBLE)) AS avgdl FROM documents),
         |dt AS (SELECT doc_id, CAST(len(__t) AS DOUBLE) AS dl, unnest(__t) AS term
         |  FROM (SELECT doc_id, $toks AS __t FROM documents)),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
         |  FROM dt WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |c AS (SELECT qt.query_id, tf.doc_id,
         |    ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)) AS contrib
         |  FROM tf JOIN qt USING (term) JOIN df USING (term), st)
         |SELECT query_id, doc_id, ${graft.Canonical.round4Sql("sum(contrib)")} AS bm25
         |FROM c GROUP BY 1, 2
         |ORDER BY query_id ASC NULLS FIRST, doc_id ASC NULLS FIRST""".stripMargin
    })

  // — persisted BM25 postings index (x137): the index is built over half
  //   the corpus, the other half FOLDS in (idempotent anti-join appends,
  //   replayed once to prove it), compaction runs mid-life, and the probe
  //   scores the SAME queries as x135 through term-partition-pruned
  //   postings — against the IDENTICAL oracle SQL as the live op, so
  //   index ≡ live is value-checked end-to-end, not asserted.
  private val x137 = Probe(
    "x137_bm25_indexed",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val path = graft.TmpDir.scratch("x137_bm25")
      val a = docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
      val b = docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)
      TextStats.writeBm25Index(a, "doc_id", col("text"), path)
      TextStats.appendToBm25Index(s, path, b, "doc_id", col("text"))
      TextStats.appendToBm25Index(s, path, b, "doc_id", col("text")) // replay: anti-join no-op
      TextStats.compactBm25Index(s, path)
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      TextStats.probeBm25Index(s, path, queries, "query_id", col("qtext"))
        .select(col("query_id"), col("doc_id"),
          graft.Canonical.round4(col("bm25")).as("bm25"))
        .orderBy("query_id", "doc_id")
    },
    x135.oracle) // the live op's oracle verbatim: index ≡ live, by value

  // — BM25 top-k retrieval (x139): the per-query rank cut over the x135
  //   scores — ties break on doc_id, scores round4'd BEFORE ranking so
  //   the kept set is engine-portable; the oracle ranks the same
  //   round4'd scores with a row_number window.
  private val x139 = Probe(
    "x139_bm25_topk",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      TextStats.bm25TopK(docs, "doc_id", col("text"),
          queries, "query_id", col("qtext"), k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"), col("bm25"))
        .orderBy("query_id", "rank")
    },
    x135.oracle.map { liveSql =>
      s"""WITH scored AS (
         |${liveSql.replaceAll("\nORDER BY [^\n]*$", "")}),
         |ranked AS (SELECT query_id, doc_id, bm25,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, doc_id, bm25 FROM ranked WHERE rank <= 10
         |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
    })

  // — STREAMING BM25 index fold (x138): three document micro-batches
  //   stream through [[graft.streaming.StreamingIngest.bm25IndexSink]]
  //   (exactly-once by per-table anti-join idempotence — no ledger), and
  //   the probe of the streamed index must equal the live x135 scores
  //   over the whole corpus, against the IDENTICAL oracle SQL — batch
  //   boundaries must leave no seam in tf/df/dl/N/avgdl.
  private val x138 = Probe(
    "x138_streaming_bm25_index",
    (s, dir) => {
      val base = graft.TmpDir.scratch("x138")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val schema = docs.schema
      val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
      def feed(df: org.apache.spark.sql.DataFrame, t2: String): Unit =
        ParityProbes.feedAtomic(s, base, in, df, t2)
      feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 0L), "b0")
      val q = graft.streaming.StreamingIngest.bm25IndexSink(
        s.readStream.schema(schema).parquet(in), idx, ckp, "doc_id", "text")
      try {
        q.processAllAvailable()
        feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 1L), "b1")
        q.processAllAvailable()
        feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), "b2")
        q.processAllAvailable()
      } finally q.stop()
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      TextStats.probeBm25Index(s, idx, queries, "query_id", col("qtext"))
        .select(col("query_id"), col("doc_id"),
          graft.Canonical.round4(col("bm25")).as("bm25"))
        .orderBy("query_id", "doc_id")
    },
    x135.oracle) // streamed index ≡ live scores, by value

  // — retrieval-decontamination end-cap (x141): the BM25 family's stated
  //   use-case COMPOSED end-to-end (the x48/x29 pattern) — benchmark
  //   queries (the x135 fixture) retrieve their top-5 corpus docs, hits
  //   scoring ≥ 1.0 are contaminated, and the SURVIVING corpus comes
  //   back. The oracle replays the scoring, the rank window (a k-
  //   boundary tie breaks on doc_id over round4 scores), the threshold,
  //   the hit-set DISTINCT (a doc matched by many queries is removed
  //   once), and the anti-join — the interaction semantics are value-
  //   checked through the whole composition, not per primitive.
  private val x141 = Probe(
    "x141_bm25_decontaminate",
    (s, dir) => {
      // fan the single-file read out first (guide §2.5 input skew): the
      // corpus-side tokenize/explode otherwise runs on one scan task
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      TextStats.bm25Decontaminate(docs, "doc_id", col("text"),
          queries, "query_id", col("qtext"), k = 5, minScore = 1.0)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    x135.oracle.map { liveSql =>
      s"""WITH scored AS (
         |${liveSql.replaceAll("\nORDER BY [^\n]*$", "")}),
         |ranked AS (SELECT query_id, doc_id, bm25,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM scored),
         |hit AS (SELECT DISTINCT doc_id FROM ranked WHERE rank <= 5 AND bm25 >= 1.0)
         |SELECT d.doc_id FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM hit)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  // — hybrid lexical+semantic retrieval (x142): BM25 top-10 (the x135
  //   query fixture) and exact cosine top-10 (the same source docs'
  //   embeddings — vec_id ≡ doc_id in the fixture) fused by reciprocal
  //   rank (RRF, c=60) into a hybrid top-5. No self-exclusion on the
  //   semantic arm: the query's source doc is the PLANTED relevant hit
  //   both arms should surface. The oracle replays both rankings (x135's
  //   scoring CTEs + the x05 unnest-dot-product shape) and the fusion —
  //   contribution sum, round6, rank-recompute, ties on doc_id.
  private val x142 = Probe(
    "x142_hybrid_rrf_topk",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      val lexical = TextStats.bm25TopK(docs, "doc_id", col("text"),
          queries, "query_id", col("qtext"), k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val qVec = emb.filter(pmod(col("vec_id"), lit(97L)) === 1L)
        .select((col("vec_id") * 1000L).as("query_id"), col("embedding").as("qvec"))
      val semantic = Similarity.bruteForceTopK(qVec, "query_id", "qvec",
          emb, "vec_id", "embedding", k = 10, excludeSelf = false)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(lexical, semantic, "query_id", "doc_id", k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
        .orderBy("query_id", "rank")
    },
    x135.oracle.map { liveSql =>
      s"""WITH scored AS (
         |${liveSql.replaceAll("\nORDER BY [^\n]*$", "")}),
         |lex0 AS (SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY bm25 DESC, doc_id ASC) AS rank
         |  FROM scored),
         |lex AS (SELECT * FROM lex0 WHERE rank <= 10),
         |qv AS (SELECT vec_id * 1000 AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id % 97 = 1),
         |pairs AS (SELECT query_id, vec_id, qe, embedding AS ce FROM qv, embeddings),
         |flat AS (SELECT query_id, vec_id, CAST(unnest(qe) AS DOUBLE) AS x,
         |    CAST(unnest(ce) AS DOUBLE) AS y FROM pairs),
         |dots AS (SELECT query_id, vec_id, sum(x * y) AS d, sum(x * x) AS nx,
         |    sum(y * y) AS ny FROM flat GROUP BY 1, 2),
         |sims AS (SELECT query_id, vec_id,
         |    round(d / (sqrt(nx) * sqrt(ny)), 6) AS cs FROM dots),
         |sem0 AS (SELECT query_id, vec_id AS doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cs DESC NULLS LAST, vec_id ASC) AS rank
         |  FROM sims),
         |sem AS (SELECT * FROM sem0 WHERE rank <= 10),
         |uni AS (SELECT query_id, doc_id,
         |    CAST(1 AS DOUBLE) / (60 + rank) AS s FROM lex
         |  UNION ALL SELECT query_id, doc_id,
         |    CAST(1 AS DOUBLE) / (60 + rank) AS s FROM sem),
         |fused AS (SELECT query_id, doc_id,
         |    ${graft.Canonical.round6Sql("sum(s)")} AS rrf FROM uni GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, rrf,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM fused)
         |SELECT query_id, rank, doc_id, rrf FROM ranked WHERE rank <= 5
         |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
    })

  // — retrieval decontamination, INDEXED (x146): the x141 end-cap with
  //   the retrieval served from a freshly persisted postings index
  //   ([[TextStats.bm25DecontaminateIndexed]]) — against x141's oracle
  //   VERBATIM: indexed ≡ live through the cut, the threshold, and the
  //   anti-join.
  private val x146 = Probe(
    "x146_bm25_decontaminate_indexed",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val path = graft.TmpDir.scratch("x146_bm25")
      TextStats.writeBm25Index(docs, "doc_id", col("text"), path)
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      TextStats.bm25DecontaminateIndexed(s, path, docs,
          queries, "query_id", col("qtext"), k = 5, minScore = 1.0)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    x141.oracle) // indexed sweep ≡ live x141, by value

  // — hybrid retrieval, INDEXED lexical arm (x143): the x142 fusion with
  //   the BM25 side served from a freshly persisted postings index
  //   ([[TextStats.probeBm25Index]] + the SHARED [[TextStats.bm25RankCut]])
  //   instead of the live scorer — the daily-sweep deployment shape.
  //   Oracle: x142's verbatim — indexed ≡ live through the whole fused
  //   composition, by value.
  private val x143 = Probe(
    "x143_hybrid_rrf_indexed",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val path = graft.TmpDir.scratch("x143_bm25")
      TextStats.writeBm25Index(docs, "doc_id", col("text"), path)
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
      val lexical = TextStats.bm25RankCut(
          TextStats.probeBm25Index(s, path, queries, "query_id", col("qtext")),
          "query_id", "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val qVec = emb.filter(pmod(col("vec_id"), lit(97L)) === 1L)
        .select((col("vec_id") * 1000L).as("query_id"), col("embedding").as("qvec"))
      val semantic = Similarity.bruteForceTopK(qVec, "query_id", "qvec",
          emb, "vec_id", "embedding", k = 10, excludeSelf = false)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(lexical, semantic, "query_id", "doc_id", k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
        .orderBy("query_id", "rank")
    },
    x142.oracle) // indexed lexical arm ≡ live x142, by value

  // — hybrid retrieval, FULLY indexed (x147): the x142 fusion with BOTH
  //   arms served from persisted indexes — lexical from a freshly
  //   persisted BM25 postings layout, semantic from a persisted IVF
  //   inverted-list layout probed with nprobe = numCentroids (every
  //   list → exact ≡ brute force) through [[Similarity
  //   .hybridTopKIndexed]] / [[Ivf.searchIndex]]'s centroid-partition
  //   pruning path. Oracle: x142's verbatim — the complete indexed
  //   daily-sweep composition ≡ the live fusion, by value (the
  //   approximate smaller-nprobe deployment point is recall-gated by
  //   x38/IvfSpec instead).
  private val x147 = Probe(
    "x147_hybrid_indexed",
    (s, dir) => {
      // fan both single-file reads out (guide §2.5): index builds and
      // the probe arms otherwise tokenize/score on one scan task
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val bmPath = graft.TmpDir.scratch("x147_bm25")
      val ivfPath = graft.TmpDir.scratch("x147_ivf")
      // the two builds are independent (different inputs, different
      // paths): overlap them (guide §2.6) instead of serializing ~a dozen
      // driver-submitted build jobs end to end
      graft.Concurrent.par(
        TextStats.writeBm25Index(docs, "doc_id", col("text"), bmPath),
        Ivf.writeIndex(ivfPath, emb, "vec_id", "embedding",
          Ivf.seedCentroids(emb, "vec_id", "embedding", 16)))
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
        .join(emb.filter(pmod(col("vec_id"), lit(97L)) === 1L)
            .select((col("vec_id") * 1000L).as("query_id"), col("embedding").as("qvec")),
          Seq("query_id"))
      Similarity.hybridTopKIndexed(s, bmPath, ivfPath, queries, "query_id",
          col("qtext"), "qvec", "vec_id", "embedding",
          k = 5, kPerArm = 10, nprobe = 16, excludeSelf = false)
        .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
        .orderBy("query_id", "rank")
    },
    x142.oracle) // fully indexed sweep ≡ live x142 fusion, by value

  // — hybrid retrieval, PRUNED deployment point (x149): x147 pins the
  //   exact (nprobe = numCentroids) composition by value; this gates the
  //   APPROXIMATE point a 100-TB sweep actually runs (nprobe = 4 of 16 —
  //   a 4× list-scan cut) with the x38 planted-recall convention. Two
  //   gates: the [[Ivf.searchIndex]] semantic arm alone must place each
  //   query's own (planted, cosine = 1) vector at top-1 — its nearest
  //   centroid IS its assigned list, so rank-1 probing finds it and a
  //   miss means the pruning path broke — and the fused hybrid top-5
  //   must surface the planted source doc for ≥ 90% of queries. Value
  //   oracle: the query count replays in SQL; the recall claims are
  //   Spark-side gates (TRUE literals, the x38 convention).
  private val x149 = Probe(
    "x149_hybrid_pruned_recall",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val bmPath = graft.TmpDir.scratch("x149_bm25")
      val ivfPath = graft.TmpDir.scratch("x149_ivf")
      // independent builds overlapped (guide §2.6) — the x147 discipline
      graft.Concurrent.par(
        TextStats.writeBm25Index(docs, "doc_id", col("text"), bmPath),
        Ivf.writeIndex(ivfPath, emb, "vec_id", "embedding",
          Ivf.seedCentroids(emb, "vec_id", "embedding", 16)))
      val queries = docs.filter(pmod(col("doc_id"), lit(97L)) === 1L)
        .select((col("doc_id") * 1000L).as("query_id"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 4)).as("qtext"))
        .join(emb.filter(pmod(col("vec_id"), lit(97L)) === 1L)
            .select((col("vec_id") * 1000L).as("query_id"), col("embedding").as("qvec")),
          Seq("query_id"))
        .localCheckpoint() // pinned: feeds both arms and the planted map
      val planted = queries.select(col("query_id"),
        (col("query_id") / 1000L).cast("long").as("planted"))
      def found(res: org.apache.spark.sql.DataFrame, idc: String) =
        res.join(planted, Seq("query_id"))
          .filter(col(idc) === col("planted"))
          .select(col("query_id")).distinct()
      val hybrid = Similarity.hybridTopKIndexed(s, bmPath, ivfPath, queries,
        "query_id", col("qtext"), "qvec", "vec_id", "embedding",
        k = 5, kPerArm = 10, nprobe = 4, excludeSelf = false)
      val sem = Ivf.searchIndex(s, ivfPath, queries, "query_id", "qvec",
        "vec_id", "embedding", k = 1, nprobe = 4, excludeSelf = false)
      scalarRow(
        "n_queries" -> queries.agg(count(lit(1))),
        "__h" -> found(hybrid, "doc_id").agg(count(lit(1))),
        "__s" -> found(sem, "vec_id").agg(count(lit(1))))
        .select(col("n_queries"),
          (col("__s") === col("n_queries")).as("ivf_index_self_top1_all"),
          (col("__h") >= col("n_queries") * 0.9).as("hybrid_pruned_recall_ge_090"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  TRUE AS ivf_index_self_top1_all,
           |  TRUE AS hybrid_pruned_recall_ge_090
           |FROM documents WHERE doc_id % 97 = 1""".stripMargin))

  // — target-distribution domain balancing (x136): water-filling keep
  //   rates (C = min_s T_s/f_s; rate_s = C·f_s/T_s ≤ 1, the binding
  //   source keeps everything) — the data-recipe step ahead of the x83
  //   mixture coin. Exact integer token sums + IEEE division, so the
  //   whole card value-oracles.
  private val x136 = Probe(
    "x136_domain_balance",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .withColumn("grp", concat(lit("g"), pmod(col("doc_id"), lit(4L))))
      Sampling.domainBalance(docs, col("grp"),
          size(TextStats.tokens(col("text"))),
          Seq("g0" -> 0.4, "g1" -> 0.3, "g2" -> 0.2, "g3" -> 0.1))
        .orderBy("source")
    },
    Some {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
      s"""WITH d AS (SELECT 'g' || CAST(doc_id % 4 AS VARCHAR) AS source,
         |    CAST(len($toks) AS BIGINT) AS tk FROM documents),
         |t(source, target_frac) AS (VALUES
         |  ('g0', CAST(0.4 AS DOUBLE)), ('g1', CAST(0.3 AS DOUBLE)),
         |  ('g2', CAST(0.2 AS DOUBLE)), ('g3', CAST(0.1 AS DOUBLE))),
         |a AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
         |j AS (SELECT a.source, a.n_tokens, t.target_frac FROM a JOIN t USING (source)),
         |c AS (SELECT min(n_tokens / target_frac) AS c FROM j)
         |SELECT source, n_tokens, target_frac,
         |  CAST(floor(c.c * target_frac) AS BIGINT) AS quota_tokens,
         |  ${graft.Canonical.round6Sql("c.c * target_frac / n_tokens")} AS rate
         |FROM j, c ORDER BY source ASC NULLS FIRST""".stripMargin
    })

  // — incremental domain balance (x144): the x136 recipe served from the
  //   persisted source-token index — init empty, fold half the corpus,
  //   fold the other half, REPLAY the second fold (ledger no-op, proved
  //   by the probe equaling the live rates) — against x136's oracle
  //   VERBATIM: indexed ≡ live through the whole water-fill card.
  private val x144 = Probe(
    "x144_domain_balance_indexed",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .withColumn("grp", concat(lit("g"), pmod(col("doc_id"), lit(4L))))
      val path = graft.TmpDir.scratch("x144_srctok")
      Sampling.writeSourceTokenIndex(s, path)
      val tk = size(TextStats.tokens(col("text")))
      Sampling.foldIntoSourceTokenIndex(s, path, "a",
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), col("grp"), tk)
      Sampling.foldIntoSourceTokenIndex(s, path, "b",
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), col("grp"), tk)
      Sampling.foldIntoSourceTokenIndex(s, path, "b", // replay: ledger no-op
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), col("grp"), tk)
      Sampling.domainBalanceFromIndex(s, path,
          Seq("g0" -> 0.4, "g1" -> 0.3, "g2" -> 0.2, "g3" -> 0.1))
        .orderBy("source")
    },
    x136.oracle) // indexed recipe ≡ live, by value

  // — STREAMING domain-balance fold (x145): three document micro-batches
  //   stream through [[graft.streaming.StreamingIngest.sourceTokenIndexSink]]
  //   (exactly-once by the in-table stream-<id> ledger), and the recipe
  //   from the streamed index must equal the live x136 card over the
  //   whole corpus, against the IDENTICAL oracle SQL — batch boundaries
  //   must leave no seam in the token sums.
  private val x145 = Probe(
    "x145_streaming_domain_balance",
    (s, dir) => {
      val base = graft.TmpDir.scratch("x145")
      val docs = t(s, dir, "documents")
        .withColumn("grp", concat(lit("g"), pmod(col("doc_id"), lit(4L))))
        .select(col("doc_id"), col("grp"), col("text"))
      val schema = docs.schema
      val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
      def feed(df: org.apache.spark.sql.DataFrame, t2: String): Unit =
        ParityProbes.feedAtomic(s, base, in, df, t2)
      feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 0L), "b0")
      val q = graft.streaming.StreamingIngest.sourceTokenIndexSink(
        s.readStream.schema(schema).parquet(in), idx, ckp, "grp",
        size(TextStats.tokens(col("text"))))
      try {
        q.processAllAvailable()
        feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 1L), "b1")
        q.processAllAvailable()
        feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), "b2")
        q.processAllAvailable()
      } finally q.stop()
      Sampling.domainBalanceFromIndex(s, idx,
          Seq("g0" -> 0.4, "g1" -> 0.3, "g2" -> 0.2, "g3" -> 0.1))
        .orderBy("source")
    },
    x136.oracle) // streamed recipe ≡ live card, by value

  // — applied domain balance (x140): [[Sampling.balanceToTarget]] keeps
  //   each doc with its source's water-fill rate via the content-
  //   addressed coin — the oracle replays the rate table (x136's CTEs)
  //   AND the positional-fingerprint coin row by row, so the exact kept
  //   set is value-checked, not just its per-source fractions.
  private val x140 = Probe(
    "x140_balance_to_target",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .withColumn("grp", concat(lit("g"), pmod(col("doc_id"), lit(4L))))
      Sampling.balanceToTarget(docs, col("grp"), col("doc_id"),
          size(TextStats.tokens(col("text"))),
          Seq("g0" -> 0.4, "g1" -> 0.3, "g2" -> 0.2, "g3" -> 0.1))
        .select(col("doc_id"), col("grp"), col("balance_rate"))
        .orderBy("doc_id")
    },
    Some {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
      s"""WITH d AS (SELECT doc_id, 'g' || CAST(doc_id % 4 AS VARCHAR) AS grp,
         |    CAST(len($toks) AS BIGINT) AS tk FROM documents),
         |t(source, target_frac) AS (VALUES
         |  ('g0', CAST(0.4 AS DOUBLE)), ('g1', CAST(0.3 AS DOUBLE)),
         |  ('g2', CAST(0.2 AS DOUBLE)), ('g3', CAST(0.1 AS DOUBLE))),
         |a AS (SELECT grp AS source, CAST(sum(tk) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
         |j AS (SELECT a.source, a.n_tokens, t.target_frac FROM a JOIN t USING (source)),
         |c AS (SELECT min(n_tokens / target_frac) AS c FROM j),
         |r AS (SELECT source,
         |    ${graft.Canonical.round6Sql("c.c * target_frac / n_tokens")} AS rate
         |  FROM j, c),
         |sl AS (SELECT d.doc_id, d.grp, r.rate,
         |    'bal:' || d.grp || ':' || CAST(d.doc_id AS VARCHAR) AS salt
         |  FROM d JOIN r ON r.source = d.grp),
         |k AS (SELECT doc_id, grp, rate,
         |    ((${TextStats.fingerprintSql("salt")} % 100000) * 2654435761) % 10000 AS slot
         |  FROM sl)
         |SELECT doc_id, grp, rate AS balance_rate FROM k
         |WHERE slot < CAST(floor(rate * 10000 + 0.5) AS BIGINT)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  // — the data-card RECIPE composed end-to-end (x148): water-fill domain
  //   balance ([[Sampling.balanceToTarget]], the x140 content-addressed
  //   coin) → seeded portable epoch shuffle → token-balanced contiguous
  //   shards ([[graft.etl.Export.trainOrderTokenShards]], the x65
  //   boundary math) — the balance → shuffle → shard interaction the r14
  //   verdict flagged as unpinned. The oracle replays the rate card, the
  //   per-row coin, the fingerprint permutation, and the token-prefix
  //   shard split over the KEPT set only — so a drift in any stage's
  //   semantics (or in how the kept set feeds the prefix sums) breaks
  //   the value check, not just a per-stage probe.
  private val x148 = Probe(
    "x148_balance_to_shards",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .withColumn("grp", concat(lit("g"), pmod(col("doc_id"), lit(4L))))
      val tk = size(TextStats.tokens(col("text")))
      val kept = Sampling.balanceToTarget(docs, col("grp"), col("doc_id"), tk,
        Seq("g0" -> 0.4, "g1" -> 0.3, "g2" -> 0.2, "g3" -> 0.1))
      graft.etl.Export.trainOrderTokenShards(kept, "doc_id", "epoch1", 8,
          tk.cast("long"))
        .select(col("doc_id"), col("grp"), col("ord"), col("shard"))
        .orderBy("doc_id")
    },
    Some {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
      s"""WITH d AS (SELECT doc_id, 'g' || CAST(doc_id % 4 AS VARCHAR) AS grp,
         |    CAST(len($toks) AS BIGINT) AS tk FROM documents),
         |t(source, target_frac) AS (VALUES
         |  ('g0', CAST(0.4 AS DOUBLE)), ('g1', CAST(0.3 AS DOUBLE)),
         |  ('g2', CAST(0.2 AS DOUBLE)), ('g3', CAST(0.1 AS DOUBLE))),
         |a AS (SELECT grp AS source, CAST(sum(tk) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
         |j AS (SELECT a.source, a.n_tokens, t.target_frac FROM a JOIN t USING (source)),
         |c AS (SELECT min(n_tokens / target_frac) AS c FROM j),
         |r AS (SELECT source,
         |    ${graft.Canonical.round6Sql("c.c * target_frac / n_tokens")} AS rate
         |  FROM j, c),
         |sl AS (SELECT d.doc_id, d.grp, d.tk, r.rate,
         |    'bal:' || d.grp || ':' || CAST(d.doc_id AS VARCHAR) AS salt
         |  FROM d JOIN r ON r.source = d.grp),
         |kept AS (SELECT doc_id, grp, tk FROM (
         |    SELECT doc_id, grp, tk, rate,
         |      ((${TextStats.fingerprintSql("salt")} % 100000) * 2654435761) % 10000 AS slot
         |    FROM sl)
         |  WHERE slot < CAST(floor(rate * 10000 + 0.5) AS BIGINT)),
         |f AS (SELECT doc_id, grp, tk,
         |    'epoch1:' || CAST(doc_id AS VARCHAR) AS k FROM kept),
         |fp AS (SELECT doc_id, grp, tk, ${TextStats.fingerprintSql("k")} AS fp FROM f),
         |o AS (SELECT doc_id, grp,
         |    row_number() OVER (ORDER BY fp % 256, fp, doc_id) AS ord,
         |    coalesce(sum(tk) OVER (ORDER BY fp % 256, fp, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
         |    sum(tk) OVER () AS total
         |  FROM fp)
         |SELECT doc_id, grp, ord,
         |  CAST(least(floor(bef * 8 / greatest(total, 1)), 7) AS BIGINT) AS shard
         |FROM o ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  val all: Seq[Probe] = Seq(x01, x02, x03, x04, x05, x06, x07, x08, x09, x10, x11, x12, x13,
    x17, x18, x19, x20, x21, x22, x23, x24, x25, x26, x27, x28, x29, x30, x31, x32,
    x33, x34, x35, x36, x37, x38, x39, x40, x41, x42, x43, x44, x45, x46, x47, x48, x73,
    x103, x104, x106, x108, x111, x112, x114, x116, x117, x118, x119, x121, x122, x123, x124,
    x125, x126, x127, x128, x129, x130, x131, x132, x133, x134, x135, x136, x137, x138, x139,
    x140, x141, x142, x143, x144, x145, x146, x147, x148, x149)
}
