package graft.probes

import org.apache.spark.sql.functions._
import graft.ops._
import graft.sources.Readers
import ParityProbes.Probe

/** Probe catalog for the round-3 pipeline-bookkeeping extensions:
  * paragraph-level dedup, normalized ("fuzzy-exact") dedup, Bloom-pruned
  * incremental dedup, and snapshot diffing. Every probe carries a full
  * value oracle — the fixtures are deterministic transforms of the
  * `documents` table that both engines replay from first principles.
  */
object PipelineProbes {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Readers.table(s, dir, n)

  // — paragraph-level exact dedup (FineWeb granularity) ——————————————————
  //   Fixture: two-paragraph documents built by pairing each text with its
  //   successor's (wrapping at the end), so every paragraph appears in
  //   exactly two documents and the (id, pos) survivor election is
  //   exercised in both directions: doc i keeps its pos-2 paragraph (the
  //   pos-1 copy already appeared as doc i-1's pos-2), and doc 0
  //   additionally keeps its pos-1 paragraph (the wrap pairs it with the
  //   LAST doc, whose id is larger). The successor is fetched by a KEYED
  //   modular equi-join (doc_ids are contiguous 0..n−1 in the fixture; the
  //   coalesce self-pairs any id the join misses), not an unpartitioned
  //   lead() window — the fixture build itself parallelizes at pilot scale.
  //   The synthesized frame is materialized ONCE per sf dir (parquet +
  //   _SUCCESS marker, same marker-cache idea as BuildSf.buildScaled):
  //   round 4's bench showed the in-probe count()+join doubling x49's
  //   timed number — the probe must track the OPERATOR, so every pass
  //   after the first (the untimed warm-up, in the bench) just re-reads.
  private val x49 = Probe(
    "x49_paragraph_dedup",
    (s, dir) => {
      val fix = pairedParagraphFixture(s, dir)
      Dedup.paragraphDedup(fix, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH n AS (SELECT count(*) AS n FROM documents),
           |fix AS (
           |  SELECT a.doc_id, a.text || chr(10) || coalesce(b.text, a.text) AS text
           |  FROM documents a CROSS JOIN n
           |  LEFT JOIN documents b ON b.doc_id = (a.doc_id + 1) % n.n),
           |sp AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM fix),
           |p AS (SELECT doc_id, u.pos, u.para FROM (
           |    SELECT doc_id, unnest([{'pos': i, 'para': l[i]} for i in range(1, len(l) + 1)]) AS u
           |    FROM sp)
           |  WHERE length(trim(u.para)) > 0),
           |surv AS (SELECT doc_id, pos, para FROM (
           |    SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
           |    FROM p) WHERE rn = 1)
           |SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
           |FROM surv GROUP BY doc_id
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — normalized ("fuzzy-exact") dedup ———————————————————————————————————
  //   Fixture: each document paired with a shifted-id variant that differs
  //   only by case, doubled whitespace, and Unicode composition (NFC
  //   " café" vs uppercase + NFD " cafe" + combining acute U+0301). Plain
  //   content hashing sees 1000 distinct documents; the canonical form
  //   collapses each pair, keeping the original id.
  private val x50 = Probe(
    "x50_normalized_dedup",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
          concat(col("text"), lit(" café")).as("text")) // NFC: U+00E9
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          // NFD: 'e' + combining acute U+0301, plus case + spacing noise
          concat(upper(col("text")), lit("  café")).as("text")))
      Dedup.exactNormalized(fix, "text", "doc_id").orderBy("content_hash")
    },
    Some("""WITH fix AS (
           |  SELECT doc_id, text || ' caf' || chr(233) AS text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, upper(text) || '  cafe' || chr(769) FROM documents),
           |canon AS (SELECT doc_id,
           |    regexp_replace(trim(lower(nfc_normalize(text))), '\s+', ' ', 'g') AS ct
           |  FROM fix)
           |SELECT sha256(CAST(ct IS NULL AS VARCHAR) || coalesce(ct, '')) AS content_hash,
           |  min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
           |FROM canon GROUP BY 1
           |ORDER BY content_hash ASC NULLS FIRST""".stripMargin))

  // — Bloom-pruned incremental exact dedup ———————————————————————————————
  //   Fixture batch: every 5th document is an exact corpus copy
  //   (→ exact_dup of its source id), the rest get a ' v2' suffix
  //   (→ new). The sketch prunes, the verify join decides — so the
  //   classification is exact and DuckDB recomputes it with a plain
  //   content join, false positives and all.
  private val x51 = Probe(
    "x51_bloom_incremental",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 5 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v2"))).as("text"))
      Dedup.incrementalExactBloom(docs, batch, "doc_id", "text",
          expectedItems = 1000L, fpp = 0.01)
        .orderBy("doc_id")
    },
    Some("""WITH batch AS (
           |  SELECT doc_id + 1000000 AS bid,
           |    CASE WHEN doc_id % 5 = 0 THEN text ELSE text || ' v2' END AS btext
           |  FROM documents),
           |-- join on the TAGGED form (null-flag || coalesce) so the oracle
           |-- shares the operator's NULL==NULL content identity, not SQL
           |-- equality (which would call a null-text corpus match 'new')
           |m AS (SELECT b.bid, min(d.doc_id) AS dup_of
           |      FROM batch b JOIN documents d
           |        ON CAST(d.text IS NULL AS VARCHAR) || coalesce(d.text, '')
           |         = CAST(b.btext IS NULL AS VARCHAR) || coalesce(b.btext, '')
           |      GROUP BY 1)
           |SELECT b.bid AS doc_id,
           |  CASE WHEN m.dup_of IS NOT NULL THEN 'exact_dup' ELSE 'new' END AS status,
           |  m.dup_of
           |FROM batch b LEFT JOIN m ON m.bid = b.bid
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — persisted hash index (daily-ingest deployment shape) ————————————————
  //   Same fixture and classification contract as x51, but the corpus
  //   index is BUILT ONCE into a cached on-disk [[Dedup.HashIndex]]
  //   (parquet hash table + serialized Bloom sketch) and the batch
  //   classifies against the PERSISTED artifacts — the x51 semantics with
  //   zero corpus scans on the batch path. The oracle is deliberately the
  //   same content-join SQL as x51: the persisted path must be
  //   indistinguishable from the live path, false-positive pruning and
  //   all. Index version token + source token key the cache dir
  //   ([[graft.TmpDir.cached]]), so a formula change or an in-place
  //   fixture regen rebuilds the index.
  private def x57Index(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.TmpDir.cached("x57_hashidx", "v2", dir, s"$dir/documents.parquet") { path =>
      Dedup.writeHashIndex(Readers.fanOut(t(s, dir, "documents")), "doc_id", "text",
        path, expectedItems = 1000L)
    }
  private val x57 = Probe(
    "x57_persisted_hash_index",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 5 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v2"))).as("text"))
      Dedup.incrementalExactIndexed(Dedup.readHashIndex(s, x57Index(s, dir)),
          batch, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH batch AS (
           |  SELECT doc_id + 1000000 AS bid,
           |    CASE WHEN doc_id % 5 = 0 THEN text ELSE text || ' v2' END AS btext
           |  FROM documents),
           |m AS (SELECT b.bid, min(d.doc_id) AS dup_of
           |      FROM batch b JOIN documents d
           |        ON CAST(d.text IS NULL AS VARCHAR) || coalesce(d.text, '')
           |         = CAST(b.btext IS NULL AS VARCHAR) || coalesce(b.btext, '')
           |      GROUP BY 1)
           |SELECT b.bid AS doc_id,
           |  CASE WHEN m.dup_of IS NOT NULL THEN 'exact_dup' ELSE 'new' END AS status,
           |  m.dup_of
           |FROM batch b LEFT JOIN m ON m.bid = b.bid
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — persisted band index (near-dup daily-ingest shape) ——————————————————
  //   The banding twin of x57: x21's exact fixture and oracle, but the
  //   corpus side comes entirely from a cached on-disk band index (its
  //   own `hashes` table serves the exact stage) — the persisted near-dup
  //   path must classify every batch row identically to the live
  //   operator, so it shares x21's full per-row value oracle (banding
  //   recall is exactly 1.0 on this fixture, same pin as x21).
  private def x59Index(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.TmpDir.cached("x59_bandidx", "v4", dir, s"$dir/documents.parquet") { base =>
      val corpus = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), col("text")).filter(col("doc_id") % 5 =!= 0)
      Dedup.writeBandIndex(corpus, "doc_id", col("text"), s"$base/band",
        n = 3, numPerm = 64, numBands = 16, rowsPerBand = 4)
    }
  private val x59 = Probe(
    "x59_incremental_dedup_indexed",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .unionByName(corpus.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val base = x59Index(s, dir)
      Dedup.incrementalDedupIndexed(
          Dedup.readIngestIndex(s, s"$base/band", batch.schema("doc_id").dataType),
          batch, "doc_id", "text", threshold = 0.2)
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

  // — deterministic BPE token counting ————————————————————————————————————
  //   Mixture budgets are stated in tokenizer tokens; this value-checks
  //   the repo-pinned BPE counter (TextStats.BpeMerges) by having DuckDB
  //   replay the merge fold itself (list_reduce over the same table, same
  //   bracketed-symbol arithmetic). The fixture appends a merge-active
  //   planted vocabulary ("the"→1, "thinking"→2+2, "water"→3, …) so the
  //   counter's merge behavior — not just its whitespace split — decides
  //   the values; whitespace counts ride along to expose the compression.
  private val x58 = Probe(
    "x58_bpe_token_count",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        concat(col("text"), lit(" the thinking and that water other hello"))
          .as("text"))
      fix.select(col("doc_id"),
          graft.ops.TextStats.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          size(graft.ops.TextStats.tokens(col("text"))).cast("long").as("n_ws_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""WITH fix AS (
            |  SELECT doc_id,
            |    text || ' the thinking and that water other hello' AS text
            |  FROM documents)
            |SELECT doc_id,
            |  ${graft.ops.TextStats.bpeTokenCountSql("text")} AS n_bpe_tokens,
            |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_ws_tokens
            |FROM fix
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — snapshot diff ———————————————————————————————————————————————————————
  //   Fixture: new snapshot drops doc_id % 17 = 0, rewrites text where
  //   doc_id % 13 = 0, and adds shifted-id rows for doc_id % 19 = 0 —
  //   so all four statuses appear and interact (a dropped id can also
  //   match the rewrite predicate; removal wins because the row simply
  //   isn't there).
  private val x52 = Probe(
    "x52_snapshot_diff",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val next = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("added "), col("doc_id").cast("string")).as("text")))
      Snapshot.diff(docs, next, "doc_id", Seq("text"))
        .select(col("doc_id"), col("status")).orderBy("doc_id")
    },
    Some("""WITH oldsnap AS (SELECT doc_id, text FROM documents),
           |newsnap AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 17 != 0
           |  UNION ALL
           |  SELECT doc_id + 1000000, 'added ' || CAST(doc_id AS VARCHAR)
           |  FROM documents WHERE doc_id % 19 = 0)
           |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           |  CASE WHEN o.doc_id IS NULL THEN 'added'
           |       WHEN n.doc_id IS NULL THEN 'removed'
           |       -- IS NOT DISTINCT FROM mirrors the operator's tagged
           |       -- digest identity, where NULL text equals NULL text
           |       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
           |       ELSE 'changed' END AS status
           |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — sharded export + verifiable manifest ———————————————————————————————
  //   Real write path: documents land in 8 content-addressed shards
  //   (portable fingerprint hash of the id string — NOT xxhash64, so the
  //   oracle assigns every row to its shard independently), and the
  //   manifest is computed from the files READ BACK — a lost or
  //   double-written row changes n_rows/checksum and fails the value
  //   compare. The checksum is an order-independent fingerprint sum.
  private val x53 = Probe(
    "x53_sharded_export",
    (s, dir) => {
      val tmp = s"${graft.TmpDir.root}/tmp/x53_shards_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.etl.Export.sharded(s, t(s, dir, "documents"), "doc_id", "text",
          tmp, nShards = 8)
        .orderBy("shard")
    },
    Some("""WITH ids AS (
           |  SELECT doc_id, coalesce(text, '') AS text,
           |    CAST(doc_id AS VARCHAR) AS ids
           |  FROM documents),
           |fp AS (
           |  SELECT doc_id,
           |    CAST(coalesce(list_sum(list_transform(range(1, length(ids) + 1),
           |      i -> ascii(ids[i]) * ((i % 64) + 1))), 0) AS BIGINT) % 8 AS shard,
           |    CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1),
           |      i -> ascii(text[i]) * ((i % 64) + 1))), 0) AS BIGINT) AS cks
           |  FROM ids)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(doc_id) AS min_id, max(doc_id) AS max_id,
           |  -- the manifest's mod-2^64 wrap contract (Export scaladoc):
           |  -- DuckDB sums BIGINT into HUGEINT, so the two's-complement
           |  -- wrap Spark's long sum applies natively is made explicit
           |  CAST(CASE WHEN sum(cks) % 18446744073709551616 >= 9223372036854775808
           |       THEN sum(cks) % 18446744073709551616 - 18446744073709551616
           |       ELSE sum(cks) % 18446744073709551616 END AS BIGINT) AS checksum
           |FROM fp GROUP BY shard
           |ORDER BY shard ASC NULLS FIRST""".stripMargin))

  // — sketch-gated exact heavy hitters ———————————————————————————————————
  //   The CMS sibling of the x51 Bloom gate: estimate ≥ minFreq admits
  //   candidates map-side (over-count only — no true hitter dropped), the
  //   exact groupBy counts survivors, the final exact filter drops the
  //   sketch's false candidates. Output is EXACT, so the oracle is a plain
  //   GROUP BY ... HAVING. minFreq = 900 splits the fixture vocabulary
  //   mid-distribution (term counts cluster ~870-940), so both gate
  //   directions are exercised.
  private val x54 = Probe(
    "x54_heavy_hitters",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      Frequency.heavyHitters(
          docs.select(explode(TextStats.tokens(col("text"))).as("term")),
          col("term"), minFreq = 900L)
        .orderBy("term")
    },
    Some("""WITH tok AS (
           |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS term
           |  FROM documents)
           |SELECT term, CAST(count(*) AS BIGINT) AS n
           |FROM tok GROUP BY term HAVING count(*) >= 900
           |ORDER BY term ASC NULLS FIRST""".stripMargin))

  // — exact quality prune under MAXIMAL tie stress: every document is
  //   replaced by one constant sentence, so the whole corpus is a single
  //   (language, score) group and the drop boundary falls INSIDE it — the
  //   sub-bucketed boundary rank (fingerprint-bucket offsets +
  //   within-bucket row_number in (fp, id) order) decides EVERY row, the
  //   exact path a mass-tied threshold exercises at scale. The doc_ids are
  //   dense sequential longs — precisely the id shape whose constant top
  //   byte degenerated the round-4 raw-id bucketing to ONE task — so this
  //   probe now also exercises the real 256-way spread. The oracle replays
  //   the stats formula on the constant text and the naive rank window in
  //   the same portable order — DuckDB at probe scale can afford the
  //   single-partition form the engine's plan avoids. ————————————————————
  private val x55 = Probe(
    "x55_quality_prune_ties",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          lit("the quick brown fox, it jumps over a lazy dog.").as("text"))
      TextStats.qualityPrune(docs, "doc_id", frac = 0.3)
        .select(col("doc_id"), col("pred_lang"), col("quality_score"))
        .orderBy("doc_id")
    },
    Some(s"""WITH base AS (
            |  SELECT doc_id, 'the quick brown fox, it jumps over a lazy dog.' AS text
            |  FROM documents),
            |toks AS (
            |  SELECT doc_id, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
            |  FROM base),
            |ratios AS (
            |  SELECT doc_id, text,
            |    CAST(len(tok) AS BIGINT) AS n_tokens,
            |    floor((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
            |      / nullif(length(text), 0)) * 10000 + 0.5) / 10000 AS punct_ratio,
            |    floor((CAST(len(list_filter(tok, t -> t = 'the' OR t = 'a')) AS DOUBLE)
            |      / nullif(len(tok), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio
            |  FROM toks),
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
            |FROM ranked WHERE rn > floor(n * 0.3)
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — exact substring dedup (Lee et al. 2021 span granularity) ————————————
  //   Fixture: every 3rd document gets the same 9-token boilerplate
  //   sentence appended — a duplicated ≥8-token SPAN at paragraph-boundary-
  //   free positions, exactly what paragraph dedup cannot see. The
  //   smallest doc_id ≡ 0 (mod 3) wins the boilerplate windows and keeps
  //   them; every other tagged document has the span cut (its straddling
  //   windows are unique — the original tails differ — so only the
  //   boilerplate tokens go). Any NATURAL duplicated 8-token spans in the
  //   corpus dedup too; the oracle replays the full election from first
  //   principles, so the surviving text of EVERY document is value-checked.
  private val SharedSpan =
    "graft shared boilerplate footer sentence tokens appear here verbatim"
  private val x56 = Probe(
    "x56_substring_dedup",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" " + SharedSpan)))
          .otherwise(col("text")).as("text"))
      Dedup.substringDedup(fix, "doc_id", "text", k = 8).orderBy("doc_id")
    },
    Some(s"""WITH fix AS (
            |  SELECT doc_id,
            |    CASE WHEN doc_id % 3 = 0 THEN text || ' $SharedSpan' ELSE text END AS text
            |  FROM documents),
            |tok AS (
            |  SELECT doc_id, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tk
            |  FROM fix),
            |win AS (
            |  SELECT doc_id, u.p, u.w FROM (
            |    SELECT doc_id,
            |      unnest([{'p': p, 'w': array_to_string(tk[p:p+7], ' ')}
            |        for p in range(1, len(tk) - 6)]) AS u
            |    FROM tok WHERE len(tk) >= 8)),
            |ranked AS (
            |  SELECT doc_id, p,
            |    row_number() OVER (PARTITION BY w ORDER BY doc_id, p) AS rn
            |  FROM win),
            |cov AS (
            |  SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS cp
            |  FROM ranked WHERE rn > 1),
            |covagg AS (
            |  SELECT doc_id, list(cp) AS cps, count(*) AS ncov
            |  FROM cov GROUP BY doc_id)
            |SELECT t.doc_id,
            |  CASE WHEN c.doc_id IS NULL THEN t.text
            |       ELSE array_to_string(
            |         [t.tk[i] for i in range(1, len(t.tk) + 1)
            |          if NOT list_contains(c.cps, i)], ' ')
            |  END AS text
            |FROM tok t LEFT JOIN covagg c ON t.doc_id = c.doc_id
            |WHERE c.doc_id IS NULL OR c.ncov < len(t.tk)
            |ORDER BY t.doc_id ASC NULLS FIRST""".stripMargin))

  // — persisted SPAN index (x105): the x56 grain, incrementally ————————————
  //   The corpus is the x56 fixture (SharedSpan planted on doc_id % 3 = 0)
  //   indexed ONCE (cached, the x57 idiom); the batch plants five
  //   classes: exact corpus copies (fully covered → drop), corpus text +
  //   SharedSpan (all windows corpus-known → drop), token-prefixed text
  //   (wholly new → kept), prefixed + a batch-only span (in-batch
  //   election: min id keeps it, later ids lose it), prefixed + SharedSpan
  //   (corpus cuts the span, the prefixed body survives). The oracle
  //   replays corpus windows → batch windows → corpus-membership +
  //   in-batch election → coverage → reassembly from first principles, so
  //   the surviving TEXT of every batch document is value-checked.
  private val BatchSpan =
    "batch shared boilerplate sentence tokens appear here verbatim too"
  private def x105Index(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.TmpDir.cached("x105_spanidx", "v2", dir, s"$dir/documents.parquet") { path =>
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" " + SharedSpan)))
          .otherwise(col("text")).as("text"))
      Dedup.writeSpanIndex(fix, "doc_id", "text", path,
        expectedItems = 1000000L, k = 8)
    }
  private val x105 = Probe(
    "x105_substring_dedup_indexed",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val pref = concat_ws(" ",
        transform(filter(split(col("text"), "\\s+"), t => t =!= ""),
          t => concat(lit("q"), t)))
      val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 5 === 0, col("text"))
          .when(col("doc_id") % 5 === 1, concat(col("text"), lit(" " + SharedSpan)))
          .when(col("doc_id") % 5 === 2, pref)
          .when(col("doc_id") % 5 === 3, concat(pref, lit(" " + BatchSpan)))
          .otherwise(concat(pref, lit(" " + SharedSpan))).as("text"))
      Dedup.incrementalSubstringIndexed(
          Dedup.readSpanIndex(s, x105Index(s, dir)), batch, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(s"""WITH corpusfix AS (
            |  SELECT doc_id,
            |    CASE WHEN doc_id % 3 = 0 THEN text || ' $SharedSpan' ELSE text END AS text
            |  FROM documents),
            |ctok AS (SELECT doc_id,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tk
            |  FROM corpusfix),
            |cwin AS (SELECT DISTINCT array_to_string(tk[p:p+7], ' ') AS w
            |  FROM (SELECT tk, unnest(range(1, len(tk) - 6)) AS p
            |        FROM ctok WHERE len(tk) >= 8)),
            |batch0 AS (SELECT doc_id AS odid, text,
            |    array_to_string(list_transform(
            |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''),
            |      t -> 'q' || t), ' ') AS pref
            |  FROM documents),
            |batch AS (SELECT odid + 1000000 AS doc_id,
            |    CASE WHEN odid % 5 = 0 THEN text
            |         WHEN odid % 5 = 1 THEN text || ' $SharedSpan'
            |         WHEN odid % 5 = 2 THEN pref
            |         WHEN odid % 5 = 3 THEN pref || ' $BatchSpan'
            |         ELSE pref || ' $SharedSpan' END AS text
            |  FROM batch0),
            |btok AS (SELECT doc_id, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tk
            |  FROM batch),
            |bwin AS (SELECT doc_id, u.p, u.w FROM (
            |    SELECT doc_id,
            |      unnest([{'p': p, 'w': array_to_string(tk[p:p+7], ' ')}
            |        for p in range(1, len(tk) - 6)]) AS u
            |    FROM btok WHERE len(tk) >= 8)),
            |marked AS (SELECT b.doc_id, b.p, b.w, cw.w IS NOT NULL AS incorpus
            |  FROM bwin b LEFT JOIN cwin cw ON b.w = cw.w),
            |newranked AS (SELECT doc_id, p,
            |    row_number() OVER (PARTITION BY w ORDER BY doc_id, p) AS rn
            |  FROM marked WHERE NOT incorpus),
            |losers AS (SELECT doc_id, p FROM marked WHERE incorpus
            |  UNION ALL SELECT doc_id, p FROM newranked WHERE rn > 1),
            |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS cp FROM losers),
            |covagg AS (SELECT doc_id, list(cp) AS cps, count(*) AS ncov
            |  FROM cov GROUP BY doc_id)
            |SELECT t.doc_id,
            |  CASE WHEN c.doc_id IS NULL THEN t.text
            |       ELSE array_to_string(
            |         [t.tk[i] for i in range(1, len(t.tk) + 1)
            |          if NOT list_contains(c.cps, i)], ' ')
            |  END AS text
            |FROM btok t LEFT JOIN covagg c ON t.doc_id = c.doc_id
            |WHERE c.doc_id IS NULL OR c.ncov < len(t.tk)
            |ORDER BY t.doc_id ASC NULLS FIRST""".stripMargin))

  /** Build-once paired-paragraph fixture for x49 (see the probe comment),
    * cached on disk per (formula version, sf dir, SOURCE CONTENT TOKEN)
    * through [[graft.TmpDir.cached]]; bump the version on any formula
    * change (round-5 advice: a silent stale fixture breaks the DuckDB
    * oracle, which recomputes from the live documents table). The source
    * token makes an in-place regeneration of the documents table (same
    * path, new bytes — the round-6 fixture regeneration) land in a fresh
    * cache dir instead of silently reusing the stale fixture.
    */
  private def pairedParagraphFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.TmpDir.cached("x49_fix", "v2", dir, s"$dir/documents.parquet") { tmp =>
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val n = docs.count()
      val succ = docs.select(col("doc_id").as("__sid"), col("text").as("__stext"))
      docs
        .join(succ, pmod(col("doc_id") + 1, lit(n)) === col("__sid"), "left")
        .select(col("doc_id"),
          concat_ws("\n", col("text"), coalesce(col("__stext"), col("text")))
            .as("text"))
        .write.mode("overwrite").parquet(tmp)
    })

  // — C4-style line cleaning ——————————————————————————————————————————————
  //   Fixture: every document becomes 5 lines planted to hit each rule
  //   exactly once — a corpus-derived first line (the fixture corpus is
  //   unpunctuated word soup, so doc_id≡0 mod 3 gets a planted terminal
  //   period → kept, doc_id≡0 mod 7 collapses to a 2-word punctuated stub
  //   → word-count drop, everything else keeps the raw text → terminal-
  //   punct drop), a 2-word line (word-count drop), a blocklist line
  //   mentioning javascript (phrase drop despite clean shape), a
  //   guaranteed-clean doc_id-stamped sentence (every doc keeps ≥1 line,
  //   so minLines=1 drops nothing and the doc set stays comparable), and
  //   an unpunctuated line (terminal-punct drop). Both engines replay the
  //   predicate on the same planted frame.
  private val x60 = Probe(
    "x60_line_clean",
    (s, dir) => {
      val fix = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"),
        concat_ws("\n",
          when(pmod(col("doc_id"), lit(7)) === 0, lit("Ok fine."))
            .when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(".")))
            .otherwise(col("text")),
          lit("Too short."),
          concat(lit("Enable javascript to view doc "), col("doc_id"),
            lit(" properly today.")),
          concat(lit("A clean closing sentence for document "), col("doc_id"),
            lit(".")),
          lit("this line has no terminal punctuation at all")).as("text"))
      TextStats.cleanLines(fix, "doc_id").orderBy("doc_id")
    },
    Some("""WITH fix AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN 'Ok fine.'
           |         WHEN doc_id % 3 = 0 THEN text || '.'
           |         ELSE text END || chr(10) || 'Too short.'
           |      || chr(10) || 'Enable javascript to view doc ' || CAST(doc_id AS VARCHAR) || ' properly today.'
           |      || chr(10) || 'A clean closing sentence for document ' || CAST(doc_id AS VARCHAR) || '.'
           |      || chr(10) || 'this line has no terminal punctuation at all' AS text
           |  FROM documents),
           |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM fix),
           |k AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
           |  list_filter(ls, l ->
           |    regexp_matches(trim(l), '[.!?"'']$')
           |    AND len(regexp_extract_all(trim(l), '[A-Za-z0-9]+')) >= 3
           |    AND NOT contains(lower(trim(l)), 'javascript')
           |    AND NOT contains(lower(trim(l)), 'lorem ipsum')
           |    AND NOT contains(lower(trim(l)), 'cookie policy')
           |    AND NOT contains(lower(trim(l)), 'terms of use')
           |    AND NOT contains(lower(trim(l)), 'all rights reserved')
           |    AND NOT contains(lower(trim(l)), 'privacy policy')) AS kept
           |  FROM sp)
           |SELECT doc_id, array_to_string(kept, chr(10)) AS text,
           |  n_lines, CAST(len(kept) AS BIGINT) AS n_kept
           |FROM k WHERE len(kept) >= 1
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — CCNet-style LM fluency gate —————————————————————————————————————————
  //   Fixture: the corpus text, except doc_id≡0 (mod 17) becomes symbol
  //   soup (zero LM tokens → the empty-document path → `tail`), doc_id≡0
  //   (mod 5) becomes pure head-of-table function words (a guaranteed
  //   `head`), and doc_id≡1 (mod 5) a half-OOV mix landing between the
  //   thresholds (`middle`) — all three buckets, the n=0 guard, and the
  //   OOV charge are exercised deterministically (the raw corpus is
  //   mostly table-absent word soup → deep `tail`). The oracle replays the pinned
  //   centi-log10 table (integer sums — order-free, engine-exact) via
  //   [[graft.ops.TextStats.lmAnnotateSql]], so table and arithmetic are
  //   written once and shared.
  private val x61 = Probe(
    "x61_lm_perplexity",
    (s, dir) => {
      val fix = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(17)) === 0, lit("@@@ ###"))
          .when(pmod(col("doc_id"), lit(5)) === 0,
            lit("the of and a to in is it was for"))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            lit("the quickly of brown and fox a jumps"))
          .otherwise(col("text")).as("text"))
      TextStats.lmAnnotate(fix)
        .select(col("doc_id"), col("lm_n_toks"), col("lm_centi_sum"),
          col("lm_mean_log10p"), col("lm_bucket"))
        .orderBy("doc_id")
    },
    Some(s"""WITH __lm_in AS (
            |  SELECT doc_id,
            |    CASE WHEN doc_id % 17 = 0 THEN '@@@ ###'
            |         WHEN doc_id % 5 = 0 THEN 'the of and a to in is it was for'
            |         WHEN doc_id % 5 = 1 THEN 'the quickly of brown and fox a jumps'
            |         ELSE text END AS text
            |  FROM documents),
            |${TextStats.lmAnnotateSql("text")}
            |SELECT doc_id, lm_n_toks, lm_centi_sum, lm_mean_log10p, lm_bucket
            |FROM __lm ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — per-domain token cap ————————————————————————————————————————————————
  //   Dolma/FineWeb-style domain capping: every source keeps documents in
  //   the portable fingerprint order until a 4000-char budget is spent
  //   (the fixture's 20 sources carry ~7k chars each, so every group is
  //   cut mid-list and the greedy prefix boundary is exercised 20 times).
  //   The oracle replays the fingerprint order and prefix sum verbatim.
  private val x62 = Probe(
    "x62_source_token_cap",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      Sampling.groupTokenCap(docs, col("source"), col("doc_id"), col("n_chars"), 4000L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(s"""WITH f AS (SELECT doc_id, source, n_chars,
            |    CAST(doc_id AS VARCHAR) AS ids FROM documents),
            |fp AS (SELECT doc_id, source, n_chars,
            |    ${TextStats.fingerprintSql("ids")} AS fp FROM f),
            |o AS (SELECT doc_id, source, n_chars,
            |    coalesce(sum(n_chars) OVER (PARTITION BY source
            |      ORDER BY fp % 256, fp, doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
            |  FROM fp)
            |SELECT doc_id, source, n_chars FROM o WHERE bef < 4000
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — DSIR importance scoring —————————————————————————————————————————————
  //   Target = the corpus's English slice, raw = the whole corpus: the
  //   centi-llr table is estimated from both (1024 hashed buckets,
  //   add-one smoothing), then every document scores the integer sum of
  //   its tokens' units — English-like documents score high. The oracle
  //   rebuilds the table AND the scores from first principles (same
  //   fingerprint buckets, same explicitly-associated log10 arithmetic,
  //   same floor(x·100+0.5) quantization, integer sums).
  private val x63 = Probe(
    "x63_dsir_score",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val table = Dsir.featureTable(docs.filter(col("lang") === "en"), docs)
      Dsir.annotate(docs, table)
        .select(col("doc_id"), col("dsir_n_toks"), col("dsir_centi"))
        .orderBy("doc_id")
    },
    Some(s"""WITH __dsir_target AS (SELECT text FROM documents WHERE lang = 'en'),
            |__dsir_in AS (SELECT doc_id, text FROM documents),
            |${Dsir.annotateSql()}
            |SELECT doc_id, dsir_n_toks, dsir_centi FROM __dsir
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — deterministic epoch shuffle (round-robin shards) ————————————————————
  //   The training dataloader contract: ord = position in the seeded
  //   portable permutation, shard = round-robin over 8 workers, pos =
  //   position within the shard. The oracle recomputes the permutation
  //   with one window over the replayed fingerprint order.
  private val x64 = Probe(
    "x64_train_order",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      graft.etl.Export.trainOrder(docs, "doc_id", "epoch1", 8)
        .select(col("doc_id"), col("ord"), col("shard"), col("pos"))
        .orderBy("doc_id")
    },
    Some(s"""WITH f AS (SELECT doc_id,
            |    'epoch1:' || CAST(doc_id AS VARCHAR) AS k FROM documents),
            |fp AS (SELECT doc_id, ${TextStats.fingerprintSql("k")} AS fp FROM f),
            |o AS (SELECT doc_id,
            |    row_number() OVER (ORDER BY fp % 256, fp, doc_id) AS ord FROM fp)
            |SELECT doc_id, ord, (ord - 1) % 8 AS shard,
            |  CAST(floor((ord - 1) / 8) AS BIGINT) AS pos
            |FROM o ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — token-balanced contiguous shards ————————————————————————————————————
  //   Same seeded order, shard boundaries on token-prefix quantiles: each
  //   of the 8 shards carries ~1/8 of total chars ± one document. The
  //   oracle replays the prefix sum and the floor(before·n/total) split.
  private val x65 = Probe(
    "x65_token_shards",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      graft.etl.Export.trainOrderTokenShards(docs, "doc_id", "epoch1", 8, col("n_chars"))
        .select(col("doc_id"), col("ord"), col("shard"))
        .orderBy("doc_id")
    },
    Some(s"""WITH f AS (SELECT doc_id, n_chars,
            |    'epoch1:' || CAST(doc_id AS VARCHAR) AS k FROM documents),
            |fp AS (SELECT doc_id, n_chars, ${TextStats.fingerprintSql("k")} AS fp FROM f),
            |o AS (SELECT doc_id,
            |    row_number() OVER (ORDER BY fp % 256, fp, doc_id) AS ord,
            |    coalesce(sum(n_chars) OVER (ORDER BY fp % 256, fp, doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
            |    sum(n_chars) OVER () AS total
            |  FROM fp)
            |SELECT doc_id, ord,
            |  CAST(least(floor(bef * 8 / greatest(total, 1)), 7) AS BIGINT) AS shard
            |FROM o ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — URL/provenance filter ———————————————————————————————————————————————
  //   Dolma/RefinedWeb-style metadata gate. The documents fixture has no
  //   URL column, so one is synthesized from doc_id covering every rule
  //   arm: a blocked registered domain (subdomain form), a two-level
  //   public suffix (registered domain must be example.co.uk, not co.uk),
  //   a www+keyword host, userinfo/port stripping, an invalid non-URL, a
  //   blocked-TLD host, and a trailing-dot host (clean survivors: the
  //   co.uk, example.com, and example.net arms). Both engines replay
  //   host extraction, the suffix-aware registered domain, and the gate
  //   from the same RE2-safe regexes.
  private val x66 = Probe(
    "x66_url_filter",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit("https://ads.tracker-network.com/banner?id="), col("doc_id")))
          .when(pmod(col("doc_id"), lit(7)) === 1,
            concat(lit("https://news.example.co.uk/story/"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(7)) === 2,
            concat(lit("http://www.BestCasino-win.org/"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(7)) === 3,
            concat(lit("https://user:pw@docs.example.com:8080/read/"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(7)) === 4,
            concat(lit("not a url at all "), col("doc_id")))
          .when(pmod(col("doc_id"), lit(7)) === 5,
            concat(lit("https://files.download-hub.zip/get/"), col("doc_id")))
          .otherwise(concat(lit("ftp://mirror.example.net./file/"), col("doc_id")))
          .as("url"))
      Urls.gate(fix, "url")
        .select(col("doc_id"), col("url_host"), col("url_domain"),
          col("url_tld"), col("url_valid"), col("url_kept"))
        .orderBy("doc_id")
    },
    Some("""WITH fix AS (SELECT doc_id,
           |    CASE doc_id % 7
           |      WHEN 0 THEN 'https://ads.tracker-network.com/banner?id=' || doc_id
           |      WHEN 1 THEN 'https://news.example.co.uk/story/' || doc_id
           |      WHEN 2 THEN 'http://www.BestCasino-win.org/' || doc_id
           |      WHEN 3 THEN 'https://user:pw@docs.example.com:8080/read/' || doc_id
           |      WHEN 4 THEN 'not a url at all ' || doc_id
           |      WHEN 5 THEN 'https://files.download-hub.zip/get/' || doc_id
           |      ELSE 'ftp://mirror.example.net./file/' || doc_id END AS url
           |  FROM documents),
           |h AS (SELECT doc_id,
           |    lower(regexp_replace(regexp_replace(regexp_replace(
           |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
           |      '^.*@', ''), ':[0-9]+$', ''), '\.$', '')) AS url_host
           |  FROM fix),
           |n AS (SELECT doc_id, url_host,
           |    regexp_replace(url_host, '^www\.', '') AS hn FROM h),
           |p AS (SELECT doc_id, url_host, hn, string_split(hn, '.') AS parts FROM n),
           |d AS (SELECT doc_id, url_host, hn, parts[-1] AS url_tld,
           |    CASE WHEN hn = '' THEN NULL
           |         WHEN len(parts) <= 2 THEN hn
           |         WHEN (parts[-2] || '.' || parts[-1]) IN
           |              ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
           |               'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
           |               'com.mx','com.tr','com.ar','co.in','co.kr','co.za','co.nz')
           |              AND parts[-3] IS NOT NULL
           |           THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
           |         ELSE parts[-2] || '.' || parts[-1] END AS url_domain
           |  FROM p)
           |SELECT doc_id, url_host, url_domain, url_tld,
           |  url_host <> '' AS url_valid,
           |  url_host <> ''
           |    AND coalesce(url_domain, '') NOT IN
           |        ('tracker-network.com','spam-mill.net','contentfarm.example')
           |    AND coalesce(url_tld, '') NOT IN ('zip','mov','country')
           |    AND NOT contains(hn, 'casino')
           |    AND NOT contains(hn, 'porn')
           |    AND NOT contains(hn, 'xxx') AS url_kept
           |FROM d ORDER BY doc_id ASC NULLS FIRST""".stripMargin))


  // — SemDeDup (cluster-bounded semantic dedup, as published) —————————————
  //   The literal Abbas '23 shape: quantize with a centroid table, compare
  //   embeddings only within a cluster, connect >=threshold pairs, keep
  //   each component's min id. The deterministic seed quantizer (4
  //   lowest-id vectors) makes assignment pure arithmetic both engines
  //   replay: argmax of round-6 cosine with centroid-id tiebreak, then
  //   within-cluster pairs, then the same recursive-components roll-up as
  //   x44. On the fixture the 4 clusters are near-balanced (117-133
  //   members at sf0.01) so the cluster bound — not a degenerate single
  //   bucket — is what's exercised.
  private val x67 = Probe(
    "x67_semdedup_cluster",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 4)
      Dedup.dedupCorpusSemanticClustered(emb, "vec_id", "embedding", cents, 0.4)
        .select(col("vec_id")).orderBy("vec_id")
    },
    Some("""WITH RECURSIVE cents AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
           |  ORDER BY vec_id LIMIT 4),
           |ap AS (SELECT e.vec_id, c.cid, e.embedding AS v, c.cvec
           |       FROM embeddings e CROSS JOIN cents c),
           |af AS (SELECT vec_id, cid, CAST(unnest(v) AS DOUBLE) AS x,
           |              CAST(unnest(cvec) AS DOUBLE) AS y FROM ap),
           |ad AS (SELECT vec_id, cid, sum(x*y) AS d, sum(x*x) AS nx,
           |              sum(y*y) AS ny FROM af GROUP BY 1, 2),
           |sim AS (SELECT vec_id, cid,
           |              round(d / (sqrt(nx) * sqrt(ny)), 6) AS s FROM ad),
           |asg AS (SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn FROM sim)
           |  WHERE rn = 1),
           |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    ea.embedding AS ea, eb.embedding AS eb
           |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  JOIN embeddings ea ON ea.vec_id = a.vec_id
           |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
           |cf AS (SELECT id_a, id_b, CAST(unnest(ea) AS DOUBLE) AS x,
           |              CAST(unnest(eb) AS DOUBLE) AS y FROM cand),
           |cd AS (SELECT id_a, id_b, sum(x*y) AS d, sum(x*x) AS nx,
           |              sum(y*y) AS ny FROM cf GROUP BY 1, 2),
           |jac AS (SELECT id_a, id_b FROM cd
           |        WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.4),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM jac
           |          UNION SELECT id_b, id_a FROM jac),
           |reach AS (SELECT src, dst FROM edges
           |          UNION SELECT r.src, e.dst FROM reach r
           |          JOIN edges e ON r.dst = e.src),
           |comp AS (SELECT src AS id, least(src, min(dst)) AS comp
           |         FROM reach GROUP BY src)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id != comp)
           |ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  // — HTML-to-text extraction ————————————————————————————————————————————
  //   The stage BEFORE every content heuristic (C4 extracts body text
  //   from crawled HTML first). Four template arms wrap the documents
  //   text in markup covering each chain: script+style+heading, comments
  //   + double-encoded entities, no markup at all, and list tags with
  //   &nbsp;. The oracle SQL's extraction expression is EMITTED by
  //   Html.htmlToTextSql from the same constant chains the Spark column
  //   folds over, so the two engines cannot drift.
  private val x68 = Probe(
    "x68_html_extract",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("<html><head><style>p{color:red}</style><script>var a='<p>'" +
              "</script></head><body><h1>Doc</h1><p>"), col("text"),
              lit("</p></body></html>")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit("<div>"), col("text"),
              lit("</div><!-- hidden <b>note</b> --><p>x &amp;lt; y &lt;tag&gt;</p>")))
          .when(pmod(col("doc_id"), lit(4)) === 2, col("text"))
          .otherwise(concat(lit("<ul><li>"), col("text"),
            lit("</li><li>extra&nbsp;item &quot;q&#39;</li></ul>")))
          .as("html"))
      Html.extractText(fix, "html").select(col("doc_id"), col("text_extracted"))
        .orderBy("doc_id")
    },
    Some(s"""WITH fix AS (SELECT doc_id,
            |    CASE doc_id % 4
            |      WHEN 0 THEN '<html><head><style>p{color:red}</style><script>var a=''<p>''' ||
            |        '</script></head><body><h1>Doc</h1><p>' || text || '</p></body></html>'
            |      WHEN 1 THEN '<div>' || text ||
            |        '</div><!-- hidden <b>note</b> --><p>x &amp;lt; y &lt;tag&gt;</p>'
            |      WHEN 2 THEN text
            |      ELSE '<ul><li>' || text ||
            |        '</li><li>extra&nbsp;item &quot;q&#39;</li></ul>' END AS html
            |  FROM documents)
            |SELECT doc_id, ${Html.htmlToTextSql("html")} AS text_extracted
            |FROM fix ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — URL-keyed dedup ————————————————————————————————————————————————————
  //   The cheapest dedup cut: recrawl/tracking variants of one page
  //   collapse on the canonical URL before any content hashes. Five
  //   surface arms per page group (doc_id mod 97 → the page, mod 5 → the
  //   variant): bare, trailing slash, default port + fragment,
  //   tracking-only query, userinfo + tracking — arms 0-2 canonicalize
  //   to the bare form, arms 3-4 to the ?a=1&b=2 form (unsorted +
  //   tracking-polluted spellings of the same query), so each page
  //   yields at most two survivors with min-doc_id election. The oracle
  //   replays every canonicalization step (fragment, userinfo, default
  //   port, trailing dot/slash, tracking filter + param sort) in CTEs.
  private val x69 = Probe(
    "x69_url_dedup",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val g = pmod(col("doc_id"), lit(97))
      val fix = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("https://shop.example.com/item/"), g))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(lit("https://shop.example.com/item/"), g, lit("/")))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            concat(lit("https://shop.example.com:443/item/"), g, lit("#reviews")))
          .when(pmod(col("doc_id"), lit(5)) === 3,
            concat(lit("https://shop.example.com/item/"), g,
              lit("?b=2&a=1&utm_source=feed")))
          .otherwise(concat(lit("https://user@shop.example.com/item/"), g,
            lit("?a=1&ref=tw&b=2")))
          .as("url"))
      Urls.dedupByUrl(fix, "url", "doc_id").orderBy("doc_id")
    },
    Some(s"""WITH fix AS (SELECT doc_id,
            |    CASE doc_id % 5
            |      WHEN 0 THEN 'https://shop.example.com/item/' || (doc_id % 97)
            |      WHEN 1 THEN 'https://shop.example.com/item/' || (doc_id % 97) || '/'
            |      WHEN 2 THEN 'https://shop.example.com:443/item/' || (doc_id % 97) || '#reviews'
            |      WHEN 3 THEN 'https://shop.example.com/item/' || (doc_id % 97) || '?b=2&a=1&utm_source=feed'
            |      ELSE 'https://user@shop.example.com/item/' || (doc_id % 97) || '?a=1&ref=tw&b=2'
            |    END AS url FROM documents),
            |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nofrag FROM fix),
            |parts AS (SELECT doc_id, url,
            |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            |    regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS auth,
            |    regexp_replace(regexp_extract(nofrag,
            |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$$', '') AS path,
            |    regexp_extract(nofrag, '\\?([^#]*)', 1) AS q
            |  FROM nf),
            |hp AS (SELECT *, lower(regexp_replace(auth, '^.*@', '')) AS hostport FROM parts),
            |hc AS (SELECT *, regexp_replace(
            |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
            |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
            |         ELSE hostport END, '\\.+$$', '') AS hostc FROM hp),
            |qq AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(
            |    string_split(q, '&'), p -> p <> '' AND NOT regexp_matches(p,
            |      '${Urls.TrackingParamRe}'))), '&'), '') AS qc FROM hc),
            |canon AS (SELECT doc_id, url,
            |    CASE WHEN auth = '' THEN url ELSE scheme || '://' || hostc || path ||
            |      CASE WHEN qc = '' THEN '' ELSE '?' || qc END END AS curl FROM qq),
            |keep AS (SELECT curl, min(doc_id) AS kid FROM canon GROUP BY curl)
            |SELECT c.doc_id, c.url FROM canon c
            |JOIN keep k ON c.doc_id = k.kid AND c.curl = k.curl
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — hashed linear quality classifier —————————————————————————————————————
  //   fastText-inference shape: pinned (term, centi-weight) vocabulary →
  //   collision-summed bucket table → per-document integer weight sum
  //   over unigram+bigram features → sigmoid-free logit-threshold gate.
  //   The oracle rebuilds the bucket table FROM THE SAME interpolated
  //   vocabulary rows (fingerprint-mod hashing replayed in SQL), builds
  //   the same feature list, and replays sum, mean, and gate — so model
  //   compilation AND inference arithmetic are both cross-checked.
  private val x70 = Probe(
    "x70_quality_classifier",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      Classify.gate(docs, "text")
        .select(col("doc_id"), col("clf_n_feats"), col("clf_centi"),
          col("clf_score"), col("clf_keep"))
        .orderBy("doc_id")
    },
    Some {
      val vocabRows = Classify.DefaultVocab
        .map { case (t, w) => s"('${t}', ${w})" }.mkString(", ")
      val b = Classify.Buckets
      def fpb(ref: String): String =
        s"(${graft.ops.TextStats.fingerprintSql(ref)} % $b + $b) % $b"
      s"""WITH vocab(term, w) AS (VALUES $vocabRows),
         |lut AS (SELECT ${fpb("term")} AS bucket, sum(w) AS w FROM vocab GROUP BY 1),
         |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
         |  FROM documents),
         |withf AS (SELECT doc_id,
         |    list_concat(tk, CASE WHEN len(tk) >= 2
         |      THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
         |      ELSE [] END) AS fs FROM toks),
         |feats AS (SELECT doc_id, CAST(len(fs) AS BIGINT) AS nf,
         |    unnest(CASE WHEN len(fs) = 0 THEN [NULL] ELSE fs END) AS f FROM withf),
         |sc AS (SELECT doc_id, any_value(nf) AS clf_n_feats,
         |    CAST(sum(CASE WHEN f IS NULL THEN 0 ELSE coalesce(l.w, 0) END) AS BIGINT)
         |      AS clf_centi
         |  FROM feats LEFT JOIN lut l ON l.bucket = ${fpb("f")}
         |  GROUP BY doc_id)
         |SELECT doc_id, clf_n_feats, clf_centi,
         |  CASE WHEN clf_n_feats = 0 THEN 0.0
         |       ELSE ${graft.Canonical.round4Sql("clf_centi * 1.0 / (clf_n_feats * 100.0)")}
         |  END AS clf_score,
         |  clf_n_feats > 0 AND clf_centi >= 0 AS clf_keep
         |FROM sc ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  // — classifier TRAINING (x99): Naive Bayes log-odds over the x70
  //   hashed feature space. The label is a deterministic fixture split
  //   (doc_id % 3); the oracle replays tokenize → bigrams → bucket →
  //   per-class counts → the exact ln/quantize arithmetic, so every
  //   trained weight (not just a score built from it) is value-checked.
  private val x99 = Probe(
    "x99_classifier_train",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      Classify.train(docs, pmod(col("doc_id"), lit(3)) =!= 0, "text")
        .orderBy("bucket")
    },
    Some {
      val b = Classify.Buckets
      def fpb(ref: String): String =
        s"(${graft.ops.TextStats.fingerprintSql(ref)} % $b + $b) % $b"
      s"""WITH toks AS (SELECT doc_id, doc_id % 3 <> 0 AS lab,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         |withf AS (SELECT doc_id, lab,
         |    list_concat(tk, CASE WHEN len(tk) >= 2
         |      THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
         |      ELSE [] END) AS fs FROM toks),
         |feats AS (SELECT lab, unnest(fs) AS f FROM withf),
         |cnt AS (SELECT ${fpb("f")} AS bucket,
         |    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
         |  FROM feats GROUP BY 1),
         |tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM cnt)
         |SELECT bucket, n_pos, n_neg,
         |  CAST(floor((ln((n_pos + 1.0) / (tp + ${b}.0))
         |    - ln((n_neg + 1.0) / (tn + ${b}.0))) * 100.0 + 0.5) AS BIGINT)
         |    AS weight_centi
         |FROM cnt, tot ORDER BY bucket ASC NULLS FIRST""".stripMargin
    })

  // — video near-dup (x100): frame-digest set Jaccard ————————————————————
  //   Fixture: each document packs as a "video" (32-byte frames over its
  //   UTF-8 bytes) twice — media 2·id is the full stream, media 2·id+1 is
  //   the CLIPPED copy (first 32 chars dropped), so every planted pair
  //   shares all but ~one frame and the oracle replays chunk → md5 →
  //   distinct sets → exact pair Jaccard → threshold from first
  //   principles. maxDf stays at the default (no digest in the sf0.01
  //   corpus approaches it), so both engines compute the UNGUARDED exact
  //   operator.
  private val x100 = Probe(
    "x100_video_near_dup",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val full = docs.select((col("doc_id") * 2).as("media_id"), col("text"),
        lit("synth").as("source"))
      val clipped = docs.select((col("doc_id") * 2 + 1).as("media_id"),
        expr("substring(text, 33)").as("text"), lit("synth").as("source"))
      val media = Multimodal.pack(full.unionByName(clipped), "media_id", "text", "video")
      Multimodal.videoNearDupPairs(s, media, frameBytes = 32, everyN = 1,
          threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id * 2 AS id, text FROM documents
            |  UNION ALL
            |  SELECT doc_id * 2 + 1, substring(text, 33) FROM documents),
            |-- DuckDB cannot slice BLOBs, so frames replay as CHARACTER
            |-- chunks + md5(varchar) (md5 of the chunk's UTF-8 bytes) —
            |-- byte-exact because the documents fixture is pure ASCII
            |-- (asserted: octet_length(encode(text)) = length(text) on
            |-- every row), the byteMetaSql precedent
            |fr AS (SELECT id, unnest(list_transform(
            |    range(0, CAST(ceil(length(text) / 32.0) AS BIGINT)),
            |    i -> md5(substring(text, CAST(1 + 32 * i AS INT), 32)))) AS shingle
            |  FROM m),
            |sh AS (SELECT DISTINCT id, shingle FROM fr),
            |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
            |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
            |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            |          GROUP BY 1, 2),
            |j AS (SELECT id_a, id_b,
            |    ${graft.Canonical.round4Sql("i * 1.0 / (sa.n + sb.n - i)")} AS jaccard
            |  FROM inter
            |  JOIN sizes sa ON sa.id = inter.id_a
            |  JOIN sizes sb ON sb.id = inter.id_b)
            |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
            |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin))

  // — trained LM (x101/x102): stupid-backoff bigram model ————————————————
  //   Train on the doc_id % 3 ≠ 0 split (the x99 reference-split idiom);
  //   caps small enough (vocab 256, bigrams 1024) that the top-K
  //   elections BIND at sf0.01 — the deterministic (count DESC, term ASC)
  //   total order is exercised, not just the happy everything-fits path.
  //   x101 value-checks every model row (counts AND quantized centi);
  //   x102 scores the held-out doc_id % 3 = 0 split, so the oracle
  //   re-derives the model AND the integer backoff sums from first
  //   principles.
  //   Null contract planted on day one (the x92 lesson): both fixtures
  //   null out a doc_id slice — train must ignore those rows, scoring
  //   must keep them as 0-token tail docs, in BOTH engines.
  private val x101 = Probe(
    "x101_lm_train",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(101L)) === 1L, lit(null: String))
            .otherwise(col("text")).as("text"))
      Lm.train(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L), "text",
          vocabSize = 256, bigramSize = 1024, minBigramCount = 2L)
        .orderBy("kind", "term")
    },
    Some(s"""WITH __lm2_ref AS (
            |  SELECT CASE WHEN doc_id % 101 = 1 THEN NULL ELSE text END AS text
            |  FROM documents WHERE doc_id % 3 <> 0),
            |${Lm.trainSql(vocabSize = 256, bigramSize = 1024, minBigramCount = 2L)}
            |SELECT kind, term, n, centi FROM __lm2_model
            |ORDER BY kind ASC NULLS FIRST, term ASC NULLS FIRST""".stripMargin))

  private val x102 = Probe(
    "x102_lm_trained_score",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(101L)) === 1L, lit(null: String))
            .otherwise(col("text")).as("text"))
      val model = Lm.train(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L), "text",
        vocabSize = 256, bigramSize = 1024, minBigramCount = 2L)
      Lm.annotate(docs.filter(pmod(col("doc_id"), lit(3L)) === 0L)
          .select(col("doc_id"), col("text")), model)
        .select(col("doc_id"), col("slm_n_toks"), col("slm_centi_sum"),
          col("slm_mean_log10p"), col("slm_bucket"))
        .orderBy("doc_id")
    },
    Some(s"""WITH planted AS (
            |  SELECT doc_id,
            |    CASE WHEN doc_id % 101 = 1 THEN NULL ELSE text END AS text
            |  FROM documents),
            |__lm2_ref AS (SELECT text FROM planted WHERE doc_id % 3 <> 0),
            |${Lm.trainSql(vocabSize = 256, bigramSize = 1024, minBigramCount = 2L)},
            |__lm2_in AS (SELECT doc_id, text FROM planted WHERE doc_id % 3 = 0),
            |${Lm.annotateSql()}
            |SELECT doc_id, slm_n_toks, slm_centi_sum, slm_mean_log10p, slm_bucket
            |FROM __lm2_scored
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — TRIGRAM stupid backoff (x109/x110): the Brants '07 estimator at its
  //   production order (KenLM/CCNet train ≥ trigram). Counts stay exact
  //   sufficient statistics (one corpus scan, additive, mergeCounts
  //   unchanged); the kept-trigram denominator is the UNFILTERED folded
  //   bigram count attached by a distinct-bigram-bounded join (a capped
  //   bigram table must not move a trigram's ratio). x109 value-checks
  //   every model row; x110 scores the held-out split through the
  //   recursive tri→bi→uni backoff — both with the x101/x102 null
  //   plantings, caps small enough that all three elections BIND.
  private val x109 = Probe(
    "x109_lm_trigram_train",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(101L)) === 1L, lit(null: String))
            .otherwise(col("text")).as("text"))
      Lm.train3(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L), "text",
          vocabSize = 256, bigramSize = 1024, trigramSize = 1024,
          minBigramCount = 2L, minTrigramCount = 2L)
        .orderBy("kind", "term")
    },
    Some(s"""WITH __lm2_ref AS (
            |  SELECT CASE WHEN doc_id % 101 = 1 THEN NULL ELSE text END AS text
            |  FROM documents WHERE doc_id % 3 <> 0),
            |${Lm.trainSql3(vocabSize = 256, bigramSize = 1024, trigramSize = 1024,
                minBigramCount = 2L, minTrigramCount = 2L)}
            |SELECT kind, term, n, centi FROM __lm3_model
            |ORDER BY kind ASC NULLS FIRST, term ASC NULLS FIRST""".stripMargin))

  private val x110 = Probe(
    "x110_lm_trigram_score",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(101L)) === 1L, lit(null: String))
            .otherwise(col("text")).as("text"))
      val model = Lm.train3(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L), "text",
        vocabSize = 256, bigramSize = 1024, trigramSize = 1024,
        minBigramCount = 2L, minTrigramCount = 2L)
      Lm.annotate3(docs.filter(pmod(col("doc_id"), lit(3L)) === 0L)
          .select(col("doc_id"), col("text")), model)
        .select(col("doc_id"), col("slm_n_toks"), col("slm_centi_sum"),
          col("slm_mean_log10p"), col("slm_bucket"))
        .orderBy("doc_id")
    },
    Some(s"""WITH planted AS (
            |  SELECT doc_id,
            |    CASE WHEN doc_id % 101 = 1 THEN NULL ELSE text END AS text
            |  FROM documents),
            |__lm2_ref AS (SELECT text FROM planted WHERE doc_id % 3 <> 0),
            |${Lm.trainSql3(vocabSize = 256, bigramSize = 1024, trigramSize = 1024,
                minBigramCount = 2L, minTrigramCount = 2L)},
            |__lm2_in AS (SELECT doc_id, text FROM planted WHERE doc_id % 3 = 0),
            |${Lm.annotateSql3()}
            |SELECT doc_id, slm_n_toks, slm_centi_sum, slm_mean_log10p, slm_bucket
            |FROM __lm3_scored
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — persisted LM counts index (x113): the daily-fold deployment shape.
  //   Two batches (the x109 null-planted reference corpus split in two)
  //   fold into a fresh index, one is replayed (must no-op via the
  //   in-table ledger), and the read-back statistics must equal the raw
  //   one-shot n-gram counts of the union — which is exactly what the
  //   oracle computes from first principles.
  private val x113 = Probe(
    "x113_lm_counts_index",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(101L)) === 1L, lit(null: String))
            .otherwise(col("text")).as("text"))
      val path = graft.TmpDir.scratch("x113_lm")
      Lm.writeCountsIndex(s, path)
      Lm.foldIntoCountsIndex(s, path, "b1",
        docs.filter(pmod(col("doc_id"), lit(3L)) === 1L), "text")
      Lm.foldIntoCountsIndex(s, path, "b2",
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), "text")
      Lm.foldIntoCountsIndex(s, path, "b1",
        docs.filter(pmod(col("doc_id"), lit(3L)) === 1L), "text") // replay no-op
      Lm.readCountsIndex(s, path).orderBy("kind", "term")
    },
    Some("""WITH src AS (
           |  SELECT CASE WHEN doc_id % 101 = 1 THEN NULL ELSE text END AS text
           |  FROM documents WHERE doc_id % 3 <> 0),
           |t2 AS (SELECT regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS tk
           |       FROM src),
           |uc AS (SELECT 'uni' AS kind, u AS term, CAST(count(*) AS BIGINT) AS n
           |       FROM (SELECT unnest(tk) AS u FROM t2) GROUP BY 2),
           |bc AS (SELECT 'bi' AS kind, b AS term, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT unnest(CASE WHEN len(tk) >= 2
           |      THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
           |      ELSE [] END) AS b FROM t2)
           |  GROUP BY 2),
           |tc AS (SELECT 'tri' AS kind, g AS term, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT unnest(CASE WHEN len(tk) >= 3
           |      THEN list_transform(range(1, len(tk) - 1),
           |        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
           |      ELSE [] END) AS g FROM t2)
           |  GROUP BY 2)
           |SELECT kind, term, n FROM (
           |  SELECT * FROM uc UNION ALL SELECT * FROM bc UNION ALL SELECT * FROM tc)
           |ORDER BY kind ASC NULLS FIRST, term ASC NULLS FIRST""".stripMargin))

  // — STREAMING LM counts fold (x115): the x113 daily-fold shape driven
  //   by Structured Streaming — three micro-batches partitioning the
  //   documents fixture stream through [[StreamingIngest.
  //   lmCountsIndexSink]]; the in-table ledger makes replays no-ops, so
  //   the read-back statistics must equal the one-shot n-gram counts of
  //   the WHOLE corpus, which the oracle computes from first principles
  //   (batch boundaries must leave no seam — counts are additive).
  private val x115 = Probe(
    "x115_streaming_lm_counts",
    (s, dir) => {
      val base = graft.TmpDir.scratch("x115")
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      val schema = docs.schema
      val (in, idx, ckp) = (s"$base/in", s"$base/idx", s"$base/ckp")
      // atomic single-file feeds (the x89/x95 discipline)
      def feed(df: org.apache.spark.sql.DataFrame, tag2: String): Unit =
        ParityProbes.feedAtomic(s, base, in, df, tag2)
      feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 0L), "b0")
      val q = graft.streaming.StreamingIngest.lmCountsIndexSink(
        s.readStream.schema(schema).parquet(in), idx, ckp, "text")
      try {
        q.processAllAvailable()
        feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 1L), "b1")
        q.processAllAvailable()
        feed(docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), "b2")
        q.processAllAvailable()
      } finally q.stop()
      Lm.readCountsIndex(s, idx).orderBy("kind", "term")
    },
    Some("""WITH t2 AS (SELECT regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS tk
           |       FROM documents),
           |uc AS (SELECT 'uni' AS kind, u AS term, CAST(count(*) AS BIGINT) AS n
           |       FROM (SELECT unnest(tk) AS u FROM t2) GROUP BY 2),
           |bc AS (SELECT 'bi' AS kind, b AS term, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT unnest(CASE WHEN len(tk) >= 2
           |      THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
           |      ELSE [] END) AS b FROM t2)
           |  GROUP BY 2),
           |tc AS (SELECT 'tri' AS kind, g AS term, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT unnest(CASE WHEN len(tk) >= 3
           |      THEN list_transform(range(1, len(tk) - 1),
           |        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
           |      ELSE [] END) AS g FROM t2)
           |  GROUP BY 2)
           |SELECT kind, term, n FROM (
           |  SELECT * FROM uc UNION ALL SELECT * FROM bc UNION ALL SELECT * FROM tc)
           |ORDER BY kind ASC NULLS FIRST, term ASC NULLS FIRST""".stripMargin))

  // — STREAMING media dedup through the persisted simhash index (x120):
  //   three signature micro-batches (the x119 integer grain) stream
  //   through [[StreamingIngest.mediaCorpusIndexedSink]] — intra-batch
  //   Hamming dedup (pairs → components → keep min id), cross-batch
  //   probe against the index, batch-owned corpus partitions. FULL value
  //   oracle: DuckDB replays every signature, the per-batch intra
  //   components (recursive reachability), and the cumulative ≤2-Hamming
  //   probe, batch by batch.
  private def x120Intra(k: Int): String =
    s"""p$k AS (SELECT a.id AS ia, b.id AS ib FROM b$k a JOIN b$k b
       |  ON a.id < b.id AND bit_count(xor(a.s, b.s)) <= 2),
       |e$k AS (SELECT ia AS src, ib AS dst FROM p$k UNION SELECT ib, ia FROM p$k),
       |r$k AS (SELECT src, dst FROM e$k
       |  UNION SELECT r.src, e.dst FROM r$k r JOIN e$k e ON r.dst = e.src),
       |k$k AS (SELECT * FROM b$k WHERE id NOT IN (
       |  SELECT src FROM r$k GROUP BY src HAVING least(src, min(dst)) <> src))""".stripMargin

  private def x120Probe(k: Int, prev: String): String =
    s"""s$k AS (SELECT k.id, k.s FROM k$k k WHERE NOT EXISTS (
       |  SELECT 1 FROM $prev c WHERE bit_count(xor(c.s, k.s)) <= 2 AND c.id <> k.id))""".stripMargin

  private val x120 = Probe(
    "x120_streaming_media_dedup",
    (s, dir) => {
      val base = graft.TmpDir.scratch("x120")
      val sig = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id").as("d"))
        .select(col("d"),
          (((col("d") * 48271L) % 2147483647L) * 4194301L +
            (col("d") * 69621L) % 1048573L).as("s"))
      def flip(bits: Long, mod: Int) =
        col("s").bitwiseXOR(expr(s"shiftleft(CAST($bits AS BIGINT), CAST(d % $mod AS INT))"))
      val b0 = sig.filter(pmod(col("d"), lit(3L)) === 0L)
        .select((col("d") * 10).as("media_id"), col("s").as("sig"))
      val b1 = sig.filter(pmod(col("d"), lit(3L)) === 1L)
        .select((col("d") * 10).as("media_id"), col("s").as("sig"))
        .unionByName(sig.filter(pmod(col("d"), lit(15L)) === 0L)
          .select((col("d") * 10 + 1).as("media_id"), col("s").as("sig")))       // exact of b0
        .unionByName(sig.filter(pmod(col("d"), lit(15L)) === 3L)
          .select((col("d") * 10 + 1).as("media_id"), flip(1L, 22).as("sig")))   // near of b0
        .unionByName(sig.filter(pmod(col("d"), lit(15L)) === 6L)
          .select((col("d") * 10 + 1).as("media_id"), flip(7L, 20).as("sig")))   // hamming 3: NEW
      val b2 = sig.filter(pmod(col("d"), lit(3L)) === 2L)
        .select((col("d") * 10).as("media_id"), col("s").as("sig"))
        .unionByName(sig.filter(pmod(col("d"), lit(15L)) === 6L)
          .select((col("d") * 10 + 2).as("media_id"), flip(7L, 20).as("sig")))   // exact of b1's plant
        .unionByName(sig.filter(pmod(col("d"), lit(15L)) === 2L)
          .select((col("d") * 10 + 2).as("media_id"), flip(3L, 20).as("sig")))   // intra near, loses to 10d
      val schema = b0.schema
      val (in, corpus, idx, ckp) = (s"$base/in", s"$base/corpus", s"$base/idx", s"$base/ckp")
      def feed(df: org.apache.spark.sql.DataFrame, tag2: String): Unit =
        ParityProbes.feedAtomic(s, base, in, df, tag2)
      feed(b0, "b0")
      val q = graft.streaming.StreamingIngest.mediaCorpusIndexedSink(
        s.readStream.schema(schema).parquet(in), corpus, idx, ckp, "media_id", "sig")
      try {
        q.processAllAvailable()
        feed(b1, "b1")
        q.processAllAvailable()
        feed(b2, "b2")
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(corpus)
        .select(col("media_id"), col("__batch").cast("long").as("batch"))
        .orderBy("media_id")
    },
    Some(s"""WITH RECURSIVE
            |sig AS (SELECT doc_id AS d,
            |  ((doc_id * 48271) % 2147483647) * 4194301 + (doc_id * 69621) % 1048573 AS s
            |  FROM documents),
            |b0 AS (SELECT 10 * d AS id, s FROM sig WHERE d % 3 = 0),
            |b1 AS (SELECT 10 * d AS id, s FROM sig WHERE d % 3 = 1
            |  UNION ALL SELECT 10 * d + 1, s FROM sig WHERE d % 15 = 0
            |  UNION ALL SELECT 10 * d + 1, xor(s, CAST(1 AS BIGINT) << (d % 22))
            |    FROM sig WHERE d % 15 = 3
            |  UNION ALL SELECT 10 * d + 1, xor(s, CAST(7 AS BIGINT) << (d % 20))
            |    FROM sig WHERE d % 15 = 6),
            |b2 AS (SELECT 10 * d AS id, s FROM sig WHERE d % 3 = 2
            |  UNION ALL SELECT 10 * d + 2, xor(s, CAST(7 AS BIGINT) << (d % 20))
            |    FROM sig WHERE d % 15 = 6
            |  UNION ALL SELECT 10 * d + 2, xor(s, CAST(3 AS BIGINT) << (d % 20))
            |    FROM sig WHERE d % 15 = 2),
            |${x120Intra(0)},
            |c0 AS (SELECT id, s, CAST(0 AS BIGINT) AS batch FROM k0),
            |${x120Intra(1)},
            |${x120Probe(1, "c0")},
            |c1 AS (SELECT * FROM c0
            |  UNION ALL SELECT id, s, CAST(1 AS BIGINT) AS batch FROM s1),
            |${x120Intra(2)},
            |${x120Probe(2, "c1")},
            |c2 AS (SELECT * FROM c1
            |  UNION ALL SELECT id, s, CAST(2 AS BIGINT) AS batch FROM s2)
            |SELECT id AS media_id, batch FROM c2
            |ORDER BY media_id ASC NULLS FIRST""".stripMargin))

  // — Gopher document-shape quality rules ————————————————————————————————
  //   The non-repetition half of Rae '21 table A1 (word-count and
  //   mean-word-length bounds, #/ellipsis symbol ratio, bullet-start and
  //   ellipsis-end line fractions, alpha-word fraction, ≥2 stop words),
  //   complementing x43's repetition half. Eight fixture arms plant each
  //   rule's failure mode on top of the natural text; the oracle replays
  //   every count, fraction, and the conjunction with list arithmetic.
  private val x71 = Probe(
    "x71_gopher_quality",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(8)) === 0, col("text"))
          .when(pmod(col("doc_id"), lit(8)) === 1, lit("tiny doc"))
          .when(pmod(col("doc_id"), lit(8)) === 2,
            concat(lit("### ## the of "), col("text")))
          .when(pmod(col("doc_id"), lit(8)) === 3,
            concat(lit("- one\n- two\n- three\n"), col("text")))
          .when(pmod(col("doc_id"), lit(8)) === 4,
            concat(col("text"), lit(" wait...\nmore to come...")))
          .when(pmod(col("doc_id"), lit(8)) === 5,
            lit("1 2 3 4 5 6 7 8 9 0 11 22 33 44 55"))
          .when(pmod(col("doc_id"), lit(8)) === 6,
            concat(lit("pneumonoultramicroscopic volcanoconiosis "), col("text")))
          .otherwise(concat(lit("the of and that "), col("text")))
          .as("text"))
      Repetition.gopherQualityStats(fix, "doc_id", "text", minWords = 5L)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_word_ratio"), col("bullet_line_frac"),
          col("ellipsis_line_frac"), col("alpha_word_frac"),
          col("stopword_hits"), col("quality_keep"))
        .orderBy("doc_id")
    },
    Some {
      val stops = Repetition.GopherStopwords.map(s0 => s"'$s0'").mkString("[", ",", "]")
      def r4(e: String) = graft.Canonical.round4Sql(e)
      s"""WITH fix AS (SELECT doc_id,
         |    CASE doc_id % 8
         |      WHEN 0 THEN text
         |      WHEN 1 THEN 'tiny doc'
         |      WHEN 2 THEN '### ## the of ' || text
         |      WHEN 3 THEN '- one' || chr(10) || '- two' || chr(10) || '- three' || chr(10) || text
         |      WHEN 4 THEN text || ' wait...' || chr(10) || 'more to come...'
         |      WHEN 5 THEN '1 2 3 4 5 6 7 8 9 0 11 22 33 44 55'
         |      WHEN 6 THEN 'pneumonoultramicroscopic volcanoconiosis ' || text
         |      ELSE 'the of and that ' || text END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '') AS toks
         |  FROM fix),
         |st AS (SELECT doc_id, text,
         |    CAST(len(toks) AS BIGINT) AS n,
         |    CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS BIGINT) AS chars,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha,
         |    CAST(len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
         |      $stops)) AS BIGINT) AS stops
         |  FROM tk),
         |ln AS (SELECT doc_id,
         |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
         |      l -> l <> '') AS lines
         |  FROM fix),
         |ls AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS nl,
         |    CAST(len(list_filter(lines, l -> starts_with(l, '•')
         |      OR starts_with(l, '-') OR starts_with(l, '*'))) AS BIGINT) AS bullet,
         |    CAST(len(list_filter(lines, l -> ends_with(l, '...')
         |      OR ends_with(l, '…'))) AS BIGINT) AS ellip
         |  FROM ln),
         |sym AS (SELECT doc_id,
         |    CAST((length(text) - length(replace(text, '#', '')))
         |      + (length(text) - length(replace(text, '...', ''))) / 3
         |      + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS symbols
         |  FROM fix),
         |fr AS (SELECT st.doc_id, st.n AS n_words,
         |    CASE WHEN st.n > 0 THEN ${r4("st.chars * 1.0 / st.n")} ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN st.n > 0 THEN ${r4("sym.symbols * 1.0 / st.n")} ELSE 0.0 END AS symbol_word_ratio,
         |    CASE WHEN ls.nl > 0 THEN ${r4("ls.bullet * 1.0 / ls.nl")} ELSE 0.0 END AS bullet_line_frac,
         |    CASE WHEN ls.nl > 0 THEN ${r4("ls.ellip * 1.0 / ls.nl")} ELSE 0.0 END AS ellipsis_line_frac,
         |    CASE WHEN st.n > 0 THEN ${r4("st.alpha * 1.0 / st.n")} ELSE 0.0 END AS alpha_word_frac,
         |    st.stops AS stopword_hits
         |  FROM st JOIN ls ON st.doc_id = ls.doc_id JOIN sym ON st.doc_id = sym.doc_id)
         |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
         |  ellipsis_line_frac, alpha_word_frac, stopword_hits,
         |  (n_words >= 5 AND n_words <= 100000 AND mean_word_len >= 3.0
         |   AND mean_word_len <= 10.0 AND symbol_word_ratio <= 0.1
         |   AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
         |   AND alpha_word_frac >= 0.8 AND stopword_hits >= 2) AS quality_keep
         |FROM fr ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    })

  // — composed web pre-cleaning pipeline —————————————————————————————————
  //   Curate.webPreclean end-to-end: URL dedup → URL gate → HTML extract
  //   → Gopher shape rules → hashed classifier. The fixture wires the
  //   stages so each one CUTS: 5 URL variant arms per page group (2
  //   canonical survivors each), every 11th page group on a blocked
  //   domain (gate kills whole groups AFTER dedup), a markup template
  //   whose script/comment noise the extractor must strip before the
  //   shape rules see the text. The oracle is the five stage replays
  //   CHAINED — survivor interactions (a page dropped at stage 1 never
  //   reaches stage 4) are exactly what a per-stage oracle can't check.
  /** Scala half of the x72/x88 web-page fixture: URL variant arms (2
    * canonical survivors per page group), every 11th page group on a
    * blocked domain, and a markup template whose script/comment noise the
    * extractor must strip. `withSource` carries the natural `source`
    * column through for the mixture stage (x88).
    */
  /** The spam payload of the x88 classifier arm: heavy negative-vocab
    * terms, alphabetic and stopword-bearing so it passes the SHAPE rules
    * and dies only at the classifier (4 repetitions outweigh the natural
    * text's positive prose indicators).
    */
  private val SpamPayload = " click here to buy now free casino bonus"
  private val SpamReps = 4

  /** The leak payload of the x88 contamination arm: a benchmark sentence
    * planted verbatim into doc_id%31=2 pages AND into the bench side, so
    * the `contaminated` fate provably fires at every sf — including the
    * synthetic-sf1 bench corpus, where the id-sliced natural bench alone
    * is either too dense (%37 contaminated EVERY survivor at 10× text
    * copies) or statistically thin.
    */
  private val LeakSentence = " the held out benchmark passage appears verbatim in this page"

  private def webFixture(docs: org.apache.spark.sql.DataFrame,
      withSource: Boolean, spamArm: Boolean = false,
      leakArm: Boolean = false): org.apache.spark.sql.DataFrame = {
    val g = pmod(col("doc_id"), lit(97))
    val host = when(pmod(g, lit(11)) === 0, lit("sub.tracker-network.com"))
      .otherwise(lit("shop.example.com"))
    val spam = if (spamArm)
      when(pmod(col("doc_id"), lit(23)) === 5, lit(SpamPayload * SpamReps)).otherwise(lit(""))
    else lit("")
    val leak = if (leakArm)
      when(pmod(col("doc_id"), lit(31)) === 2, lit(LeakSentence)).otherwise(lit(""))
    else lit("")
    val base = Seq(col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("https://"), host, lit("/item/"), g))
        .when(pmod(col("doc_id"), lit(5)) === 1,
          concat(lit("https://"), host, lit("/item/"), g, lit("/")))
        .when(pmod(col("doc_id"), lit(5)) === 2,
          concat(lit("https://"), host, lit(":443/item/"), g, lit("#reviews")))
        .when(pmod(col("doc_id"), lit(5)) === 3,
          concat(lit("https://"), host, lit("/item/"), g,
            lit("?b=2&a=1&utm_source=feed")))
        .otherwise(concat(lit("https://user@"), host, lit("/item/"), g,
          lit("?a=1&ref=tw&b=2")))
        .as("url"),
      concat(lit("<html><head><script>var x='<p>'</script></head><body>" +
          "<h1>Post</h1><p>"), col("text"), spam, leak,
        lit("</p><!-- footer --></body></html>")).as("html"))
    docs.select((if (withSource) base :+ col("source") else base): _*)
  }

  /** DuckDB half of the fixture: the `fix` CTE body. */
  private def webFixtureSql(withSource: Boolean, spamArm: Boolean = false,
      leakArm: Boolean = false): String = {
    val src = if (withSource) ", source" else ""
    val spamSql = if (spamArm)
      s" || CASE WHEN doc_id % 23 = 5 THEN repeat('$SpamPayload', $SpamReps) ELSE '' END"
    else ""
    val leakSql = if (leakArm)
      s" || CASE WHEN doc_id % 31 = 2 THEN '$LeakSentence' ELSE '' END"
    else ""
    val payload = spamSql + leakSql
    s"""fix AS (SELECT doc_id$src,
       |    CASE doc_id % 5
       |      WHEN 0 THEN 'https://' || h || '/item/' || g
       |      WHEN 1 THEN 'https://' || h || '/item/' || g || '/'
       |      WHEN 2 THEN 'https://' || h || ':443/item/' || g || '#reviews'
       |      WHEN 3 THEN 'https://' || h || '/item/' || g || '?b=2&a=1&utm_source=feed'
       |      ELSE 'https://user@' || h || '/item/' || g || '?a=1&ref=tw&b=2' END AS url,
       |    '<html><head><script>var x=''<p>''</script></head><body><h1>Post</h1><p>'
       |      || text$payload || '</p><!-- footer --></body></html>' AS html
       |  FROM (SELECT doc_id$src, text, doc_id % 97 AS g,
       |          CASE WHEN (doc_id % 97) % 11 = 0 THEN 'sub.tracker-network.com'
       |               ELSE 'shop.example.com' END AS h
       |        FROM documents))""".stripMargin
  }

  private val x72 = Probe(
    "x72_web_preclean",
    (s, dir) => {
      val fix = webFixture(Readers.fanOut(t(s, dir, "documents")), withSource = false)
      Curate.webPreclean(fix, "doc_id", "url", "html",
          minWords = 5L, minStopwordHits = 1L, clfMinMeanCenti = -100L)
        .orderBy("doc_id")
    },
    // plain concatenation, no outer stripMargin: the helpers' already-
    // stripped lines may legitimately START with `||` continuations,
    // which a second stripMargin would eat
    Some(s"WITH ${webFixtureSql(withSource = false)},\n" +
      precleanCtes(minWords = 5, minStop = 1, clfMin = -100) + "\n" +
      "SELECT doc_id, url, text FROM s4\n" +
      "ORDER BY doc_id ASC NULLS FIRST"))

  /** DuckDB replay of [[Curate.webPreclean]] stage by stage, consuming a
    * `fix(doc_id, url, html, …)` CTE: `s1` = post-URL-dedup, `s2` =
    * post-domain-gate, `ex` = extracted text, `s3` = post-shape-rules,
    * `s4(doc_id, url, text)` = post-classifier survivors. Shared by the
    * x72 preclean probe and the x88 end-to-end assembly probe — the chain
    * is written once so the two probes can't drift.
    */
  private def precleanCtes(minWords: Long, minStop: Long, clfMin: Long): String = {
    val stops = Repetition.GopherStopwords.map(s0 => s"'$s0'").mkString("[", ",", "]")
    val vocabRows = Classify.DefaultVocab
      .map { case (t0, w) => s"('${t0}', ${w})" }.mkString(", ")
    val b = Classify.Buckets
    def fpb(ref: String): String =
      s"(${graft.ops.TextStats.fingerprintSql(ref)} % $b + $b) % $b"
    def r4(e: String) = graft.Canonical.round4Sql(e)
    s"""nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nofrag FROM fix),
         |parts AS (SELECT doc_id, url,
         |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS auth,
         |    regexp_replace(regexp_extract(nofrag,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$$', '') AS path,
         |    regexp_extract(nofrag, '\\?([^#]*)', 1) AS q
         |  FROM nf),
         |hp AS (SELECT *, lower(regexp_replace(auth, '^.*@', '')) AS hostport FROM parts),
         |hc AS (SELECT *, regexp_replace(
         |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
         |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
         |         ELSE hostport END, '\\.+$$', '') AS hostc FROM hp),
         |qq AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(
         |    string_split(q, '&'), p -> p <> '' AND NOT regexp_matches(p,
         |      '${Urls.TrackingParamRe}'))), '&'), '') AS qc FROM hc),
         |canon AS (SELECT doc_id, url,
         |    CASE WHEN auth = '' THEN url ELSE scheme || '://' || hostc || path ||
         |      CASE WHEN qc = '' THEN '' ELSE '?' || qc END END AS curl FROM qq),
         |dkeep AS (SELECT curl, min(doc_id) AS kid FROM canon GROUP BY curl),
         |s1 AS (SELECT c.doc_id, c.url, fx.html FROM canon c
         |  JOIN dkeep k ON c.doc_id = k.kid AND c.curl = k.curl
         |  JOIN fix fx ON fx.doc_id = c.doc_id),
         |gh AS (SELECT doc_id, url, html,
         |    lower(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
         |      '^.*@', ''), ':[0-9]+$$', ''), '\\.$$', '')) AS url_host
         |  FROM s1),
         |gn AS (SELECT *, regexp_replace(url_host, '^www\\.', '') AS hn FROM gh),
         |gp AS (SELECT *, string_split(hn, '.') AS hparts FROM gn),
         |gd AS (SELECT *, hparts[-1] AS url_tld,
         |    CASE WHEN hn = '' THEN NULL
         |         WHEN len(hparts) <= 2 THEN hn
         |         WHEN (hparts[-2] || '.' || hparts[-1]) IN
         |              ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
         |               'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
         |               'com.mx','com.tr','com.ar','co.in','co.kr','co.za','co.nz')
         |              AND hparts[-3] IS NOT NULL
         |           THEN hparts[-3] || '.' || hparts[-2] || '.' || hparts[-1]
         |         ELSE hparts[-2] || '.' || hparts[-1] END AS url_domain
         |  FROM gp),
         |s2 AS (SELECT doc_id, url, html FROM gd
         |  WHERE url_host <> ''
         |    AND coalesce(url_domain, '') NOT IN
         |        ('tracker-network.com','spam-mill.net','contentfarm.example')
         |    AND coalesce(url_tld, '') NOT IN ('zip','mov','country')
         |    AND NOT contains(hn, 'casino') AND NOT contains(hn, 'porn')
         |    AND NOT contains(hn, 'xxx')),
         |ex AS (SELECT doc_id, url, ${Html.htmlToTextSql("html")} AS text FROM s2),
         |gtk AS (SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '') AS gtoks
         |  FROM ex),
         |gst AS (SELECT doc_id, text,
         |    CAST(len(gtoks) AS BIGINT) AS n,
         |    CAST(coalesce(list_sum(list_transform(gtoks, w -> length(w))), 0) AS BIGINT) AS chars,
         |    CAST(len(list_filter(gtoks, t2 -> regexp_matches(t2, '[A-Za-z]'))) AS BIGINT) AS alpha,
         |    CAST(len(list_intersect(list_distinct(list_transform(gtoks, t2 -> lower(t2))),
         |      $stops)) AS BIGINT) AS stops
         |  FROM gtk),
         |gln AS (SELECT doc_id,
         |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
         |      l -> l <> '') AS glines
         |  FROM ex),
         |gls AS (SELECT doc_id, CAST(len(glines) AS BIGINT) AS nl,
         |    CAST(len(list_filter(glines, l -> starts_with(l, '•')
         |      OR starts_with(l, '-') OR starts_with(l, '*'))) AS BIGINT) AS bullet,
         |    CAST(len(list_filter(glines, l -> ends_with(l, '...')
         |      OR ends_with(l, '…'))) AS BIGINT) AS ellip
         |  FROM gln),
         |gsym AS (SELECT doc_id,
         |    CAST((length(text) - length(replace(text, '#', '')))
         |      + (length(text) - length(replace(text, '...', ''))) / 3
         |      + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS symbols
         |  FROM ex),
         |s3 AS (SELECT e.doc_id, e.url, e.text FROM ex e
         |  JOIN gst ON e.doc_id = gst.doc_id
         |  JOIN gls ON e.doc_id = gls.doc_id
         |  JOIN gsym ON e.doc_id = gsym.doc_id
         |  WHERE gst.n >= $minWords AND gst.n <= 100000
         |    AND (CASE WHEN gst.n > 0 THEN ${r4("gst.chars * 1.0 / gst.n")} ELSE 0.0 END) >= 3.0
         |    AND (CASE WHEN gst.n > 0 THEN ${r4("gst.chars * 1.0 / gst.n")} ELSE 0.0 END) <= 10.0
         |    AND (CASE WHEN gst.n > 0 THEN ${r4("gsym.symbols * 1.0 / gst.n")} ELSE 0.0 END) <= 0.1
         |    AND (CASE WHEN gls.nl > 0 THEN ${r4("gls.bullet * 1.0 / gls.nl")} ELSE 0.0 END) <= 0.9
         |    AND (CASE WHEN gls.nl > 0 THEN ${r4("gls.ellip * 1.0 / gls.nl")} ELSE 0.0 END) <= 0.3
         |    AND (CASE WHEN gst.n > 0 THEN ${r4("gst.alpha * 1.0 / gst.n")} ELSE 0.0 END) >= 0.8
         |    AND gst.stops >= $minStop),
         |vocab(term, w) AS (VALUES $vocabRows),
         |lut AS (SELECT ${fpb("term")} AS bucket, sum(w) AS w FROM vocab GROUP BY 1),
         |ctk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ctoks
         |  FROM s3),
         |cwf AS (SELECT doc_id,
         |    list_concat(ctoks, CASE WHEN len(ctoks) >= 2
         |      THEN list_transform(range(1, len(ctoks)), i -> ctoks[i] || ' ' || ctoks[i + 1])
         |      ELSE [] END) AS cfs FROM ctk),
         |cfe AS (SELECT doc_id, CAST(len(cfs) AS BIGINT) AS nf,
         |    unnest(CASE WHEN len(cfs) = 0 THEN [NULL] ELSE cfs END) AS f FROM cwf),
         |csc AS (SELECT doc_id, any_value(nf) AS nf,
         |    CAST(sum(CASE WHEN f IS NULL THEN 0 ELSE coalesce(l.w, 0) END) AS BIGINT) AS centi
         |  FROM cfe LEFT JOIN lut l ON l.bucket = ${fpb("f")}
         |  GROUP BY doc_id),
         |s4 AS (SELECT s.doc_id, s.url, s.text FROM s3 s
         |  JOIN csc c ON s.doc_id = c.doc_id
         |  WHERE c.nf > 0 AND c.centi >= $clfMin * c.nf)""".stripMargin
  }

  // — quality-ranked near-dup canonical selection ————————————————————————
  //   dedupCorpusExact's cluster tail with argmax-quality (tie → min id)
  //   instead of min-id keep-first: the planted quality (doc_id·37 mod
  //   101, integer arithmetic both engines replay exactly) is
  //   deliberately NOT monotone in doc_id, so most clusters elect a
  //   non-minimum canonical and the probe discriminates keep-best from
  //   keep-first. The oracle replays the x29 pair CTE + recursive
  //   closure, then the quality election as a per-component rank.
  private val x74 = Probe(
    "x74_dedup_keep_best",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
        .withColumn("quality", col("doc_id") * 37 % 101)
      Dedup.dedupCorpusKeepBest(docs, "doc_id", col("text"), col("quality"),
          n = 3, threshold = 0.2)
        .select(col("doc_id"), col("quality"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${ExtensionProbes.jacCte(0.2)},
            |edges AS (
            |  SELECT id_a AS src, id_b AS dst FROM jac
            |  UNION
            |  SELECT id_b AS src, id_a AS dst FROM jac),
            |reach AS (
            |  SELECT src, dst FROM edges
            |  UNION
            |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            |comp AS (
            |  SELECT src AS id, least(src, min(dst)) AS comp
            |  FROM reach GROUP BY src),
            |member AS (
            |  SELECT c.id, c.comp, d.doc_id * 37 % 101 AS q
            |  FROM comp c JOIN documents d ON d.doc_id = c.id),
            |elect AS (
            |  SELECT id, comp,
            |    row_number() OVER (PARTITION BY comp
            |      ORDER BY q DESC NULLS LAST, id ASC NULLS FIRST) AS rn
            |  FROM member)
            |SELECT doc_id, doc_id * 37 % 101 AS quality, n_chars
            |FROM documents
            |WHERE doc_id NOT IN (SELECT id FROM elect WHERE rn > 1)
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — embedding-space decontamination (exact arm = the value oracle) —————
  //   Bench = every 41st corpus embedding re-labeled (+1_000_000), so the
  //   flag set provably contains each bench vector's corpus original at
  //   cosine 1.0 plus whatever planted near neighbors clear 0.8. The
  //   exact arm scores ALL corpus×bench pairs (broadcast nested-loop, no
  //   shuffle), and the oracle replays the identical dot/norm/round
  //   arithmetic, so every flagged pair is value-checked. The bucketed
  //   arm is recall-gated against this exact arm in OpsSpec.
  private val x75 = Probe(
    "x75_semantic_decontaminate",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val bench = emb.filter(col("vec_id") % 41 === 0)
        .select((col("vec_id") + 1000000L).as("bench_id"), col("embedding"))
      Decontaminate.semanticOverlaps(emb, "vec_id", "embedding",
          bench, "bench_id", "embedding", threshold = 0.8, exact = true)
        .orderBy("corpus_id", "bench_id")
    },
    Some("""WITH q AS (
           |  SELECT vec_id + 1000000 AS bench_id, embedding AS qe
           |  FROM embeddings WHERE vec_id % 41 = 0),
           |pairs AS (
           |  SELECT e.vec_id AS corpus_id, q.bench_id, e.embedding AS ce, q.qe
           |  FROM embeddings e, q),
           |flat AS (
           |  SELECT corpus_id, bench_id, CAST(unnest(ce) AS DOUBLE) AS x,
           |    CAST(unnest(qe) AS DOUBLE) AS y
           |  FROM pairs),
           |dots AS (
           |  SELECT corpus_id, bench_id, sum(x * y) AS d, sum(x * x) AS nx,
           |    sum(y * y) AS ny
           |  FROM flat GROUP BY 1, 2)
           |SELECT corpus_id, bench_id,
           |  round(d / (sqrt(nx) * sqrt(ny)), 6) AS cosine_sim
           |FROM dots
           |WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.8
           |ORDER BY corpus_id ASC NULLS FIRST, bench_id ASC NULLS FIRST""".stripMargin))

  // — BPE merge training (the learner for x58's counter) ———————————————
  //   Six merge rounds over the documents corpus: every round's weighted
  //   pair counts, argmax election (count desc, lexicographic tie), and
  //   greedy whole-symbol rewrite are replayed by six chained oracle
  //   CTEs, so the FULL training trajectory is value-checked — a wrong
  //   count in round 2 shifts every later election. The fixture appends
  //   a high-frequency suffix so early merges are forced through a known
  //   dense region ("the"-family pairs) at every sf.
  private val x76 = Probe(
    "x76_bpe_train",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(
        concat(col("text"), lit(" the theme then that breathe")).as("text"))
      Bpe.train(fix, col("text"), numMerges = 6).orderBy("rank")
    },
    Some(s"""WITH fix AS (
            |  SELECT text || ' the theme then that breathe' AS text
            |  FROM documents),
            |${Bpe.trainSql("fix", "text", 6)}
            |ORDER BY rank ASC NULLS FIRST""".stripMargin))

  // — product-quantized ANN (ADC over seed codebooks) ————————————————————
  //   Deterministic end-to-end PQ: seed codebooks (subvectors of the 16
  //   lowest-id vectors), encode the whole corpus (round-6 argmin, tie →
  //   lower code), per-query LUT, ADC top-3 by approximate dot. The
  //   oracle rebuilds codebooks, codes, LUTs, and scores from the raw
  //   embeddings table, so quantization AND scoring arithmetic are
  //   value-checked — a wrong code on any of the corpus's m·N cells
  //   shifts some query's ranking. Recall vs the exact ANN baseline is
  //   gated separately in OpsSpec (seed-corpus exactness).
  private val x77 = Probe(
    "x77_sim_topk_pq_adc",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val cb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16, dim = 64)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Pq.adcTopK(queries, "query_id", "qvec",
          Pq.encode(emb, "vec_id", "embedding", cb), "vec_id", cb, k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH cbv AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, embedding
           |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
           |js AS (SELECT unnest(generate_series(0, 7)) AS j),
           |ts AS (SELECT unnest(generate_series(1, 8)) AS t),
           |cb AS (
           |  SELECT j, k, t, CAST(embedding[j * 8 + t] AS DOUBLE) AS c
           |  FROM cbv, js, ts),
           |sub AS (
           |  SELECT vec_id, j, t, CAST(embedding[j * 8 + t] AS DOUBLE) AS x
           |  FROM embeddings, js, ts),
           |dist AS (
           |  SELECT s.vec_id, s.j, cb.k,
           |    round(sum((s.x - cb.c) * (s.x - cb.c)), 6) AS d
           |  FROM sub s JOIN cb ON cb.j = s.j AND cb.t = s.t
           |  GROUP BY 1, 2, 3),
           |codes AS (
           |  SELECT vec_id, j, k AS code FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
           |      ORDER BY d ASC, k ASC) AS rn
           |    FROM dist) WHERE rn = 1),
           |lut AS (
           |  SELECT q.vec_id AS query_id, q.j, cb.k, sum(q.x * cb.c) AS pdot
           |  FROM (SELECT * FROM sub WHERE vec_id < 5) q
           |  JOIN cb ON cb.j = q.j AND cb.t = q.t
           |  GROUP BY 1, 2, 3),
           |score AS (
           |  SELECT l.query_id, c.vec_id, round(sum(l.pdot), 6) AS adc_dot
           |  FROM codes c JOIN lut l ON l.j = c.j AND l.k = c.code
           |  WHERE c.vec_id != l.query_id
           |  GROUP BY 1, 2),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY adc_dot DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank
           |  FROM score)
           |SELECT query_id, vec_id, adc_dot, CAST(rank AS BIGINT) AS rank
           |FROM ranked WHERE rank <= 3
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin))

  // — BPE tokenization to portable ids (the shard payload) ———————————————
  //   x58 counts tokens; this emits the actual id sequence a training
  //   shard stores, one row per (doc, pos) so every id is hash-compared
  //   scalar-wise (array columns stringify differently across engines).
  //   Ids are engine-portable by construction — code point for single
  //   chars, 0x110000 + producing merge rank for merged symbols — and
  //   the oracle replays the fold, the split, and the id mapping from
  //   first principles. The planted suffix guarantees merged-symbol ids
  //   (the "th"/"the"/"and"/"that" family) appear at every sf.
  private val x78 = Probe(
    "x78_bpe_tokenize",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = docs.select(col("doc_id"),
        concat(substring(col("text"), 1, 400), lit(" the thinking and that")).as("text"))
      fix.select(col("doc_id"),
          posexplode(TextStats.bpeTokenize(col("text"))).as(Seq("pos", "token_id")))
        .orderBy("doc_id", "pos")
    },
    Some(s"""WITH fix AS (
            |  SELECT doc_id, left(text, 400) || ' the thinking and that' AS text
            |  FROM documents),
            |ws AS (
            |  SELECT doc_id, list_filter(regexp_split_to_array(
            |      replace(replace(text, chr(31), ''), chr(1), ''), '\\s+'),
            |      x -> x != '') AS ws
            |  FROM fix),
            |wi AS (
            |  SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
            |  FROM ws),
            |words AS (SELECT doc_id, wi, ws[wi] AS w FROM wi),
            |folded AS (
            |  SELECT doc_id, wi,
            |    string_split(trim(${TextStats.bpeFoldSql("w")}, chr(31)),
            |      chr(31) || chr(31)) AS l
            |  FROM words),
            |si AS (
            |  SELECT doc_id, wi, unnest(generate_series(1, len(l))) AS si, l
            |  FROM folded),
            |syms AS (SELECT doc_id, wi, si, l[si] AS sym FROM si)
            |SELECT doc_id,
            |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1 AS INT) AS pos,
            |  CAST(CASE WHEN length(sym) = 1 THEN unicode(sym)
            |       ELSE 1114112 + (SELECT min(r) FROM ${TextStats.bpeMergeRanksSql()}
            |                       WHERE a || b = sym) END AS BIGINT) AS token_id
            |FROM syms
            |ORDER BY doc_id ASC NULLS FIRST, pos ASC NULLS FIRST""".stripMargin))

  // — IVF-PQ search (the fully composed ANN stack) ———————————————————————
  //   Coarse quantizer (16 seed centroids, nprobe 4) bounds the scan to
  //   probed lists, PQ ADC (8 seed codebooks of 16) cuts candidates with
  //   byte lookups, exact cosine reranks the 20 survivors per query. All
  //   three stages deterministic, so the oracle replays assignment,
  //   probes, codes, LUTs, ADC cut, and rerank from the raw table — the
  //   x37 (IVF+int8) discipline with the PQ candidate stage swapped in.
  private val x79 = Probe(
    "x79_sim_topk_ivf_pq",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16)
      val cb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16, dim = 64)
      Ivf.searchPq(queries, "query_id", "qvec", emb, "vec_id", "embedding", cents, cb,
          k = 5, nprobe = 4, candMult = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH cents AS (
           |  SELECT vec_id AS centroid_id, embedding AS cvec
           |  FROM embeddings ORDER BY vec_id LIMIT 16),
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
           |cbv AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, embedding
           |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
           |js AS (SELECT unnest(generate_series(0, 7)) AS j),
           |ts AS (SELECT unnest(generate_series(1, 8)) AS t),
           |cb AS (
           |  SELECT j, k, t, CAST(embedding[j * 8 + t] AS DOUBLE) AS c
           |  FROM cbv, js, ts),
           |sub AS (
           |  SELECT vec_id, j, t, CAST(embedding[j * 8 + t] AS DOUBLE) AS x
           |  FROM embeddings, js, ts),
           |dist AS (
           |  SELECT s.vec_id, s.j, cb.k,
           |    round(sum((s.x - cb.c) * (s.x - cb.c)), 6) AS d
           |  FROM sub s JOIN cb ON cb.j = s.j AND cb.t = s.t
           |  GROUP BY 1, 2, 3),
           |codes AS (
           |  SELECT vec_id, j, k AS code FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
           |      ORDER BY d ASC, k ASC) AS rn
           |    FROM dist) WHERE rn = 1),
           |lut AS (
           |  SELECT q2.vec_id AS query_id, q2.j, cb.k, sum(q2.x * cb.c) AS pdot
           |  FROM (SELECT * FROM sub WHERE vec_id < 10) q2
           |  JOIN cb ON cb.j = q2.j AND cb.t = q2.t
           |  GROUP BY 1, 2, 3),
           |candset AS (
           |  SELECT p.query_id, a.vec_id FROM probes p
           |  JOIN assigned a USING (centroid_id) WHERE a.vec_id != p.query_id),
           |nrm AS (
           |  SELECT vec_id, embedding,
           |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nn
           |  FROM embeddings),
           |adc AS (
           |  SELECT cs.query_id, cs.vec_id,
           |    round(sum(l.pdot) / (any_value(qn.nn) * any_value(cn.nn)), 6) AS ap
           |  FROM candset cs
           |  JOIN codes c ON c.vec_id = cs.vec_id
           |  JOIN lut l ON l.query_id = cs.query_id AND l.j = c.j AND l.k = c.code
           |  JOIN nrm qn ON qn.vec_id = cs.query_id
           |  JOIN nrm cn ON cn.vec_id = cs.vec_id
           |  GROUP BY 1, 2),
           |cands AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY ap DESC NULLS LAST, vec_id ASC NULLS FIRST) AS r FROM adc)
           |  WHERE r <= 20),
           |rflat AS (
           |  SELECT c.query_id, c.vec_id, CAST(unnest(qn.embedding) AS DOUBLE) AS x,
           |    CAST(unnest(cn.embedding) AS DOUBLE) AS y
           |  FROM cands c
           |  JOIN nrm qn ON qn.vec_id = c.query_id
           |  JOIN nrm cn ON cn.vec_id = c.vec_id),
           |sims AS (
           |  SELECT f.query_id, f.vec_id,
           |    round(sum(f.x * f.y) / (any_value(qn.nn) * any_value(cn.nn)), 6) AS cosine_sim
           |  FROM rflat f
           |  JOIN nrm qn ON qn.vec_id = f.query_id
           |  JOIN nrm cn ON cn.vec_id = f.vec_id
           |  GROUP BY 1, 2)
           |SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cosine_sim DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank
           |  FROM sims) WHERE rank <= 5
           |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin))

  // — dataset card (corpus report with rollup totals) ————————————————————
  //   One pass, one rollup aggregate: per-(source, language) doc/token/
  //   byte counts and exact 1e-4-unit quality sums, plus the per-source
  //   and grand-total grains SQL ROLLUP defines. The oracle recomputes
  //   every per-document stat (langId, ratios, quality, BPE count) from
  //   first principles and re-aggregates with GROUP BY ROLLUP, so the
  //   whole report — including the null-keyed rollup rows — is
  //   value-checked.
  private val x80 = Probe(
    "x80_dataset_card",
    (s, dir) => Report.datasetCard(Readers.fanOut(t(s, dir, "documents")))
      .orderBy(col("source").asc_nulls_first, col("pred_lang").asc_nulls_first),
    Some(s"""WITH base AS (
            |  SELECT source, text,
            |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
            |  FROM documents),
            |ratios AS (
            |  SELECT source, text, tok,
            |    CAST(len(tok) AS BIGINT) AS n_tokens,
            |    floor((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
            |      / nullif(length(text), 0)) * 10000 + 0.5) / 10000 AS punct_ratio,
            |    floor((CAST(len(list_filter(tok, t -> t = 'the' OR t = 'a')) AS DOUBLE)
            |      / nullif(len(tok), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio
            |  FROM base),
            |scored AS (
            |  SELECT source,
            |    ${TextStats.langIdSql("text")} AS pred_lang,
            |    n_tokens,
            |    CAST(length(text) AS BIGINT) AS n_chars,
            |    ${TextStats.bpeTokenCountSql("text")} AS n_bpe,
            |    CAST(floor((least(1.0, n_tokens / 64.0) * 0.4
            |      + (1.0 - least(1.0, coalesce(punct_ratio, 0) * 10)) * 0.3
            |      + least(1.0, coalesce(stopword_ratio, 0) * 20) * 0.3) * 10000 + 0.5)
            |      AS BIGINT) AS q1e4
            |  FROM ratios)
            |SELECT source, pred_lang,
            |  CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(n_tokens) AS BIGINT) AS n_ws_tokens,
            |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
            |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
            |  CAST(sum(q1e4) AS BIGINT) AS quality_sum_1e4
            |FROM scored
            |GROUP BY ROLLUP (source, pred_lang)
            |ORDER BY source ASC NULLS FIRST, pred_lang ASC NULLS FIRST""".stripMargin))

  // — semantic decontamination: the SURVIVING corpus (x42 twin) ——————————
  //   x75 oracles the flagged pairs; this oracles the anti-join tail the
  //   pipeline actually ships — corpus minus every vector flagged at
  //   cosine ≥ 0.8 against the planted bench. Survivor interactions
  //   (a vector flagged by TWO bench items must drop once) come free.
  private val x81 = Probe(
    "x81_semantic_decontaminate_clean",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val bench = emb.filter(col("vec_id") % 41 === 0)
        .select((col("vec_id") + 1000000L).as("bench_id"), col("embedding"))
      Decontaminate.semanticClean(emb, "vec_id", "embedding",
          bench, "bench_id", "embedding", threshold = 0.8, exact = true)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },
    Some("""WITH q AS (
           |  SELECT vec_id + 1000000 AS bench_id, embedding AS qe
           |  FROM embeddings WHERE vec_id % 41 = 0),
           |pairs AS (
           |  SELECT e.vec_id AS corpus_id, q.bench_id, e.embedding AS ce, q.qe
           |  FROM embeddings e, q),
           |flat AS (
           |  SELECT corpus_id, bench_id, CAST(unnest(ce) AS DOUBLE) AS x,
           |    CAST(unnest(qe) AS DOUBLE) AS y
           |  FROM pairs),
           |dots AS (
           |  SELECT corpus_id, bench_id, sum(x * y) AS d, sum(x * x) AS nx,
           |    sum(y * y) AS ny
           |  FROM flat GROUP BY 1, 2),
           |flagged AS (
           |  SELECT DISTINCT corpus_id FROM dots
           |  WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.8)
           |SELECT vec_id, label FROM embeddings
           |WHERE vec_id NOT IN (SELECT corpus_id FROM flagged)
           |ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  // — perceptual image hashing (aHash near-dup over rasters) —————————————
  //   Synthetic 16×12 RGB rasters keyed by ⌊doc_id/2⌋, so consecutive ids
  //   share a pattern and the odd member perturbs exactly one pixel —
  //   every (2g, 2g+1) pair lands within Hamming ≤ 1; cross-group slopes
  //   mostly sit far apart (the structured ramps do produce some
  //   incidental near-collisions, all equally value-checked). The pairs
  //   come from the SimHash chunk machinery (pigeonhole-exact for the
  //   Hamming bound), so the oracle's all-pairs replay — hash arithmetic
  //   included, via a generated bit-power lookup (DuckDB refuses 1<<63;
  //   bit 63 rides as -2⁶³ exactly) — is the complete expected answer.
  private val x82 = Probe(
    "x82_image_ahash_neardup",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val g = floor(col("media_id") / 2).cast("long")
      val odd = pmod(col("media_id"), lit(2))
      // per-group SLOPE (2g+3, odd so it cycles the full mod-256 ring):
      // an additive per-group shift would leave every luminance ordering
      // — and so the hash — unchanged across groups
      val px = transform(sequence(lit(0), lit(16 * 12 * 3 - 1)), i =>
        (pmod((i.cast("long") + 1) * (g * 2 + 3), lit(256)) +
          when(odd === 1 && i === 0, 1L).otherwise(0L)).cast("int"))
      val fix = docs.select(col("doc_id").as("media_id")).select(col("media_id"), px.as("px"))
      Multimodal.imageNearDupPairs(fix, "media_id", col("px"), w = 16, h = 12, maxDist = 2)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    },
    Some {
      val pw = (0 until 64).map(c =>
        s"($c, ${if (c == 63) "(-9223372036854775807 - 1)" else (1L << c).toString})")
        .mkString(", ")
      def idx(off: Int) =
        s"(((c // 8) * 12 // 8) * 16 + ((c % 8) * 16 // 8)) * 3 + $off"
      s"""WITH base AS (
         |  SELECT doc_id AS media_id, doc_id // 2 AS g, doc_id % 2 AS odd
         |  FROM documents),
         |px AS (
         |  SELECT media_id,
         |    list_transform(range(0, 576), i ->
         |      ((i + 1) * (g * 2 + 3)) % 256
         |        + CASE WHEN odd = 1 AND i = 0 THEN 1 ELSE 0 END) AS p
         |  FROM base),
         |cells AS (SELECT unnest(generate_series(0, 63)) AS c),
         |lum AS (
         |  SELECT media_id, c,
         |    CAST(p[${idx(1)}] + p[${idx(2)}] + p[${idx(3)}] AS BIGINT) AS lu
         |  FROM px, cells),
         |tot AS (SELECT media_id, sum(lu) AS total FROM lum GROUP BY 1),
         |pw AS (SELECT * FROM (VALUES $pw) t(c, v)),
         |bits AS (
         |  SELECT l.media_id,
         |    CAST(sum(CASE WHEN l.lu * 64 > t.total THEN pw.v ELSE 0 END) AS BIGINT) AS h
         |  FROM lum l
         |  JOIN tot t ON t.media_id = l.media_id
         |  JOIN pw ON pw.c = l.c
         |  GROUP BY 1)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM bits a JOIN bits b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.h, b.h)) <= 2
         |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin
    })

  // — temperature-weighted mixture (mBERT/XLM-R/mT5 recipe) ———————————————
  //   Rates p_s ∝ √n_s against a 300-doc budget over the x31 meta-corpora.
  //   The RATE TABLE is value-checked (α = 0.5 keeps the power step
  //   engine-exact — IEEE sqrt is correctly rounded, pow is not; the
  //   division/round-4 chain is replayed verbatim); the realized keep
  //   fractions are hash-coin gated with the x31 tolerance discipline
  //   (margins verified with headroom at every fixture sf).
  private val x83 = Probe(
    "x83_temperature_mixture",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      def grp(lo: Int, hi: Int) = docs.filter(srcNum.between(lo, hi))
      val sources = Seq(("wiki", grp(0, 6)), ("books", grp(7, 13)), ("web", grp(14, 19)))
      val rates = Sampling.temperatureRates(sources, alpha = 0.5, budget = 300L)
      val mixed = Sampling.temperatureMixture(sources, col("doc_id"), rates)
      val kept = mixed.groupBy("mix_source").agg(count(lit(1)).as("__kept"))
      val totals = docs
        .select(when(srcNum <= 6, "wiki").when(srcNum <= 13, "books")
          .otherwise("web").as("mix_source"))
        .groupBy("mix_source").agg(count(lit(1)).as("n_total"))
      val rateCol = rates.foldLeft(lit(null).cast("double")) { case (acc, (n, _, r)) =>
        when(col("mix_source") === n, lit(r)).otherwise(acc)
      }
      totals.join(kept, Seq("mix_source"), "left")
        .select(col("mix_source"), col("n_total"), rateCol.as("rate"),
          (abs(coalesce(col("__kept"), lit(0L)).cast("double") / col("n_total") - rateCol)
            <= 0.12).as("frac_ok"))
        .orderBy("mix_source")
    },
    Some("""WITH g AS (
           |  SELECT CASE WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) <= 6
           |              THEN 'wiki'
           |              WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) <= 13
           |              THEN 'books'
           |              ELSE 'web' END AS mix_source
           |  FROM documents),
           |t AS (SELECT mix_source, CAST(count(*) AS BIGINT) AS n_total FROM g GROUP BY 1),
           |z AS (SELECT sum(sqrt(CAST(n_total AS DOUBLE))) AS z FROM t)
           |SELECT mix_source, n_total,
           |  greatest(0.0001,
           |    floor(least(1.0, 300 * (sqrt(CAST(n_total AS DOUBLE)) / z.z)
           |        / greatest(CAST(n_total AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000) AS rate,
           |  TRUE AS frac_ok
           |FROM t, z
           |ORDER BY mix_source ASC NULLS FIRST""".stripMargin))

  // — persisted vec index (semantic daily-ingest shape) ———————————————————
  //   The embedding twin of x59: x47's exact fixture and oracle (exact
  //   copies / 2×-scaled copies / reversed vectors — LSH recall is
  //   provably 1.0, see ExtensionProbes.x47), but the corpus side comes
  //   entirely from a cached on-disk vec index. The
  //   persisted semantic path must classify every batch row identically
  //   to the live operator, so it shares x47's full per-row value oracle.
  private def x84Index(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.TmpDir.cached("x84_vecidx", "v3", dir, s"$dir/embeddings.parquet") { base =>
      Dedup.writeVecIndex(Readers.fanOut(t(s, dir, "embeddings")), "vec_id", "embedding",
        s"$base/vec", numPlanes = 8, dim = 64, expectedItems = 1000000L)
    }
  private val x84 = Probe(
    "x84_incremental_semantic_indexed",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val batch = emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding"))
          .when(col("vec_id") % 5 === 1, transform(col("embedding"), x => x * lit(2.0f)))
          .otherwise(reverse(col("embedding"))).as("embedding"))
      val base = x84Index(s, dir)
      Dedup.incrementalSemanticIndexed(
          Dedup.readVecIngestIndex(s, s"$base/vec", batch.schema("vec_id").dataType),
          batch, "vec_id", "embedding", threshold = 0.9)
        .orderBy("vec_id")
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

  // — batched BPE training (the real-vocabulary-size path) ————————————————
  //   x76 trains 6 merges at one job per merge; this trains a 10-round ×
  //   32-candidate batched run (86 merges on the sf0.01 fixture — ≥64 at
  //   every sf, jobs ≈ 2·rounds ≪ merges, pinned in OpsSpec) and
  //   DuckDB replays the ENTIRE run: per-round weighted pair counts,
  //   candidate rank, the greedy blocked-symbol admission walk, and the
  //   in-rank-order batch rewrite (Bpe.trainBatchedSql).
  private val x85 = Probe(
    "x85_bpe_train_batched",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      Bpe.trainBatched(docs, col("text"), rounds = 10, batchSize = 32).orderBy("rank")
    },
    Some(Bpe.trainBatchedSql("documents", "text", 10, 32)))

  // — keep-best through the LSH arm (the production path) ————————————————
  //   x74 oracles dedupCorpusKeepBest (exact pairs + quality election);
  //   this oracles dedupCorpusLsh(quality = ...) — the arm a deployment
  //   actually ships — at threshold 1.0, where LSH recall is PROVABLY 1:
  //   jaccard = 1 means identical shingle sets, identical sets give
  //   identical signatures/bands, so every true pair shares all its
  //   buckets (hot buckets still reach the cluster via the star hub and
  //   components close it transitively). The oracle replays the whole
  //   semantics from first principles: group by the sorted distinct
  //   shingle set (empty sets are singletons — they share no shingle, so
  //   the verifier can never pair them), keep each group's argmax-quality
  //   member (quality DESC NULLS LAST, id ASC — dropNonCanonical's
  //   election order). Planted clones (doc_id % 4, shifted +1e6) carry a
  //   different quality than their originals, so the election is
  //   consequential on every group.
  private val x86 = Probe(
    "x86_dedup_keep_best_lsh",
    (s, dir) => {
      val base = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      val clones = base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = base.unionByName(clones)
        .withColumn("q", (col("doc_id") * 37 % 101).cast("double"))
      Dedup.dedupCorpusLsh(corpus, "doc_id", col("text"),
          n = 3, numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 1.0,
          quality = Some(col("q")))
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (SELECT doc_id, text FROM documents),
           |corpus AS (
           |  SELECT doc_id, text FROM base
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 4 = 0),
           |q AS (SELECT doc_id, CAST(doc_id * 37 % 101 AS DOUBLE) AS q FROM corpus),
           |sh AS (
           |  SELECT doc_id, list_sort(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS ss
           |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tok
           |        FROM corpus)),
           |grp AS (
           |  SELECT doc_id,
           |    CASE WHEN ss IS NULL OR len(ss) = 0 THEN 'E' || doc_id
           |         ELSE array_to_string(ss, chr(31)) END AS g
           |  FROM sh),
           |rank AS (
           |  SELECT gr.doc_id,
           |    row_number() OVER (PARTITION BY gr.g
           |      ORDER BY q.q DESC NULLS LAST, gr.doc_id ASC) AS rn
           |  FROM grp gr JOIN q ON q.doc_id = gr.doc_id)
           |SELECT doc_id FROM rank WHERE rn = 1
           |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — dHash vs aHash under clamped brightness (the re-encode artifact) ————
  //   Fixture: pairs (2g, 2g+1) share a ramp image; the odd member is the
  //   SAME image through a clamped brightness shift (+150/channel,
  //   saturating at 255). Pixel columns x ∈ {2,4,6} are pinned at 255 —
  //   aHash's 8×8 grid samples them (px = 2·cx), dHash's 9×8 grid
  //   (px = ⌊cx·16/9⌋ ∈ {0,1,3,5,7,8,10,12,14}) never does. So every
  //   dHash-sampled value rides the ramp (< 107 ≤ 255−150: the shift is
  //   EXACT there) and all 64 horizontal orderings survive → planted
  //   dHamming ≡ 0; while aHash's mean moves by less than the unclamped
  //   +450/lum (the 24 saturated cells contribute +0), so ramp cells with
  //   luminance in the ~169-wide band under the mean flip 0→1 — the ramp
  //   step s = ((2g+3) mod 105)+1 keeps ≥3 flips for EVERY one of the 105
  //   possible step classes (exhaustively asserted in OpsSpec), so aHash
  //   misses every planted pair at maxDist 2. Both arms are full value
  //   oracles: DuckDB replays both hashes all-pairs, so the incidental
  //   same-step collisions across groups (s has period 105 in g) are
  //   checked too, not just the planted pairs.
  private val x87 = Probe(
    "x87_image_dhash_brightness",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val g = floor(col("media_id") / 2).cast("long")
      val odd = pmod(col("media_id"), lit(2L))
      val step = pmod(g * 2 + 3, lit(105L)) + 1L
      val px = flatten(transform(sequence(lit(0L), lit(16 * 12 - 1L)), p => {
        val raw = when(pmod(p, lit(16L)).isin(2L, 4L, 6L), lit(255L))
          .otherwise(pmod((p + 1L) * step, lit(107L)))
        val v = least(lit(255L), raw + lit(150L) * odd).cast("int")
        array(v, v, v)
      }))
      val fix = docs.select(col("doc_id").as("media_id"))
        .select(col("media_id"), px.as("px"))
      val a = Multimodal.imageNearDupPairs(fix, "media_id", col("px"),
          w = 16, h = 12, maxDist = 2)
        .withColumn("arm", lit("ahash"))
      val d = Multimodal.imageNearDupPairsDHash(fix, "media_id", col("px"),
          w = 16, h = 12, maxDist = 2)
        .withColumn("arm", lit("dhash"))
      a.unionByName(d)
        .select(col("arm"), col("id_a"), col("id_b"), col("hamming").cast("long"))
        .orderBy("arm", "id_a", "id_b")
    },
    Some {
      val pw = (0 until 64).map(c =>
        s"($c, ${if (c == 63) "(-9223372036854775807 - 1)" else (1L << c).toString})")
        .mkString(", ")
      val lum = "3 * least(255, CASE WHEN p % 16 IN (2, 4, 6) THEN 255" +
        " ELSE ((p + 1) * s) % 107 END + 150 * odd)"
      s"""WITH base AS (
         |  SELECT doc_id AS media_id, ((doc_id // 2) * 2 + 3) % 105 + 1 AS s,
         |    doc_id % 2 AS odd
         |  FROM documents),
         |pw AS (SELECT * FROM (VALUES $pw) t(c, v)),
         |ca AS (
         |  SELECT c, ((c // 8) * 12 // 8) * 16 + (c % 8) * 2 AS p
         |  FROM (SELECT unnest(generate_series(0, 63)) AS c)),
         |lumA AS (
         |  SELECT b.media_id, ca.c, CAST($lum AS BIGINT) AS lu
         |  FROM base b, ca),
         |totA AS (SELECT media_id, sum(lu) AS total FROM lumA GROUP BY 1),
         |bitsA AS (
         |  SELECT l.media_id,
         |    CAST(sum(CASE WHEN l.lu * 64 > t.total THEN pw.v ELSE 0 END) AS BIGINT) AS h
         |  FROM lumA l JOIN totA t ON t.media_id = l.media_id
         |  JOIN pw ON pw.c = l.c GROUP BY 1),
         |gd AS (
         |  SELECT j, ((j // 9) * 12 // 8) * 16 + (j % 9) * 16 // 9 AS p
         |  FROM (SELECT unnest(generate_series(0, 71)) AS j)),
         |lumD AS (
         |  SELECT b.media_id, gd.j, CAST($lum AS BIGINT) AS lu
         |  FROM base b, gd),
         |bitsD AS (
         |  SELECT l.media_id,
         |    CAST(sum(CASE WHEN r.lu > l.lu THEN pw.v ELSE 0 END) AS BIGINT) AS h
         |  FROM (SELECT unnest(generate_series(0, 63)) AS c) cd
         |  JOIN lumD l ON l.j = (cd.c // 8) * 9 + (cd.c % 8)
         |  JOIN lumD r ON r.media_id = l.media_id AND r.j = (cd.c // 8) * 9 + (cd.c % 8) + 1
         |  JOIN pw ON pw.c = cd.c
         |  GROUP BY 1),
         |pairs AS (
         |  SELECT 'ahash' AS arm, a.media_id AS id_a, b.media_id AS id_b,
         |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |  FROM bitsA a JOIN bitsA b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.h, b.h)) <= 2
         |  UNION ALL
         |  SELECT 'dhash' AS arm, a.media_id AS id_a, b.media_id AS id_b,
         |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |  FROM bitsD a JOIN bitsD b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.h, b.h)) <= 2)
         |SELECT arm, id_a, id_b, hamming FROM pairs
         |ORDER BY arm ASC NULLS FIRST, id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin
    })

  // — end-to-end pretraining assembly (web-raw → ordered token shards) ————
  //   Curate.assemblePretraining over the x72 web fixture plus a spam arm
  //   (doc_id%23=5 pages carry repeated negative-vocab payload that
  //   passes the shape rules and dies at the classifier): URL dedup →
  //   domain gate → HTML extract → shape rules → classifier →
  //   decontamination (bench = the sparse doc_id%149 slice PLUS a planted
  //   leak row matching the doc_id%31=2 pages' embedded benchmark
  //   sentence — guaranteed `contaminated` hits at every sf without the
  //   dense-slice catastrophe: a %37 bench over the synthetic-sf1 corpus,
  //   10× text copies, contaminated EVERY survivor and starved the
  //   mixture) → temperature mixture over the natural source slices (budget 60
  //   cuts at sf0.01+; the PORTABLE coin makes per-row keeps
  //   replayable — x83 could only tolerance-gate its xxhash coin) →
  //   token-balanced shards in the seeded epoch order. One row per input
  //   page: first-dropping stage or kept + (shard, ord). On the bench's
  //   SYNTHETIC sf1 corpus the tail stages run survivor-starved (the
  //   copy-prefix `c{i}_` that de-dups scaled text also erases stopwords,
  //   so the shape gate keeps only payload-carrying pages — the sf1 row
  //   measures the heavy stages, URL-dedup shuffle + extract + shape at
  //   full volume, which is where the 10× cost lives; the 50k-row
  //   attribution was value-checked against DuckDB at sf1 in round 9).
  //   The oracle
  //   chains the x72 preclean CTEs (shared helper — written once) with
  //   the x41 shingle replay, the x83 rate arithmetic, the fingerprint
  //   coin, and the x65 prefix-sum shard replay: survivor interactions
  //   across all seven stages are exactly what the per-stage oracles
  //   can't check.
  private val x88 = Probe(
    "x88_pretrain_assembly",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val fix = webFixture(docs, withSource = true, spamArm = true, leakArm = true)
      val bench = docs.filter(col("doc_id") % 149 === 0)
        .select(col("doc_id").as("bid"), col("text").as("btext"))
        .unionByName(docs.sparkSession.range(1)
          .select(lit(9999999L).as("bid"), lit(LeakSentence.trim).as("btext")))
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val sources = Seq(
        "wiki" -> (srcNum <= 6),
        "books" -> srcNum.between(7, 13),
        "web" -> (srcNum >= 14))
      Curate.assemblePretraining(fix, "doc_id", "url", "html", sources,
          bench, "bid", col("btext"),
          minWords = 5L, minStopwordHits = 1L, clfMinMeanCenti = 0L,
          decontamNgram = 3, decontamMinHits = 2L,
          alpha = 0.5, budget = 60L, seed = "epoch1", nShards = 8)
        .orderBy("doc_id")
    },
    Some {
      def fp(ref: String) = graft.ops.TextStats.fingerprintSql(ref)
      val srcCase = "CASE WHEN CAST(regexp_extract(d.source, 'src(\\d+)', 1) AS INT) <= 6" +
        " THEN 'wiki' WHEN CAST(regexp_extract(d.source, 'src(\\d+)', 1) AS INT) <= 13" +
        " THEN 'books' ELSE 'web' END"
      s"WITH ${webFixtureSql(withSource = true, spamArm = true, leakArm = true)},\n" +
        precleanCtes(minWords = 5, minStop = 1, clfMin = 0) + ",\n" +
        s"""dsh AS (SELECT doc_id AS id, unnest(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS g3
           |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
           |        FROM s4)),
           |bsh AS (SELECT doc_id AS id, unnest(list_distinct(
           |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS g3
           |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
           |        FROM (SELECT doc_id, text FROM documents WHERE doc_id % 149 = 0
           |              UNION ALL SELECT 9999999, trim('$LeakSentence')))),
           |ov AS (SELECT c.id FROM dsh c JOIN bsh b ON c.g3 = b.g3
           |  GROUP BY c.id, b.id HAVING count(*) >= 2),
           |s5 AS (SELECT doc_id, text FROM s4
           |  WHERE doc_id NOT IN (SELECT id FROM ov)),
           |src AS (SELECT s5.doc_id, s5.text, $srcCase AS mix_source
           |  FROM s5 JOIN documents d ON d.doc_id = s5.doc_id),
           |cnt AS (SELECT mix_source, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1),
           |z AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS z FROM cnt),
           |rates AS (SELECT mix_source,
           |    greatest(0.0001, floor(least(1.0, 60 * (sqrt(CAST(n AS DOUBLE)) / z.z)
           |        / greatest(CAST(n AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000) AS rate
           |  FROM cnt, z),
           |ck AS (SELECT src.doc_id, src.text, r.rate,
           |    src.mix_source || ':' || CAST(src.doc_id AS VARCHAR) AS k
           |  FROM src JOIN rates r ON r.mix_source = src.mix_source),
           |s6 AS (SELECT doc_id, text FROM ck
           |  WHERE ((${fp("k")} % 100000) * 2654435761) % 10000
           |    < CAST(floor(rate * 10000 + 0.5) AS BIGINT)),
           |tf AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS tok,
           |    'epoch1:' || CAST(doc_id AS VARCHAR) AS ek FROM s6),
           |tfp AS (SELECT doc_id, tok, ${fp("ek")} AS fpv FROM tf),
           |o AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY fpv % 256, fpv, doc_id) AS ord,
           |    coalesce(sum(tok) OVER (ORDER BY fpv % 256, fpv, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
           |    sum(tok) OVER () AS total
           |  FROM tfp),
           |sh AS (SELECT doc_id, ord,
           |    CAST(least(floor(bef * 8 / greatest(total, 1)), 7) AS BIGINT) AS shard
           |  FROM o)
           |SELECT f.doc_id,
           |  CASE WHEN f.doc_id NOT IN (SELECT doc_id FROM s1) THEN 'url_dup'
           |       WHEN f.doc_id NOT IN (SELECT doc_id FROM s2) THEN 'url_blocked'
           |       WHEN f.doc_id NOT IN (SELECT doc_id FROM s3) THEN 'shape'
           |       WHEN f.doc_id NOT IN (SELECT doc_id FROM s4) THEN 'classifier'
           |       WHEN f.doc_id NOT IN (SELECT doc_id FROM s5) THEN 'contaminated'
           |       WHEN sh.doc_id IS NULL THEN 'mixture'
           |       ELSE 'kept' END AS stage,
           |  sh.shard, sh.ord
           |FROM fix f LEFT JOIN sh ON sh.doc_id = f.doc_id
           |ORDER BY f.doc_id ASC NULLS FIRST""".stripMargin
    })

  // — streaming indexed curated-corpus ingest, run to completion in the
  //   correctness gate. Three micro-batches of the documents table (split
  //   by doc_id % 3, with planted cross-batch exact duplicates under
  //   shifted ids) flow through curatedCorpusIndexedSink: per batch,
  //   Curate scrubs and intra-batch-dedups (keep-first exact + connected-
  //   component near), then the batch probes the streaming-maintained
  //   ingest index and survivors append under their batch-owned
  //   partitions. The FINAL CORPUS — every surviving (doc_id, batch,
  //   n_tokens) — is value-oracled: DuckDB replays the scrub, each
  //   batch's intra dedup (exact election + pair CTE + recursive
  //   closure), and the growing-corpus exact/near probe chain across all
  //   three batches. Cross-batch near classification rides MinHash
  //   banding whose recall is exact 1.0 at these corpus sizes (16×4 bands
  //   at jaccard ≥ 0.2 — the same empirical pin as x03/x21); intra-batch
  //   pair generation is exact by construction. The config disables the
  //   quality and repetition gates (those stages are oracled by x48/x73)
  //   so the replay isolates the multi-batch INDEX semantics.
  private val x89ScrubSql: String =
    """regexp_replace(regexp_replace(regexp_replace(text,
      |    'https?://[^\s]+', '<URL>', 'g'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')""".stripMargin

  /** Intra-batch dedup replay for scrubbed batch CTE `b$k`: keep-first
    * exact election, exact 3-gram Jaccard pairs, recursive transitive
    * closure, canonical-min drop → `k$k` (survivors with text).
    */
  private def x89IntraCtes(k: Int): String =
    s"""e$k AS (
       |  SELECT doc_id, text FROM b$k
       |  WHERE doc_id IN (SELECT min(doc_id) FROM b$k GROUP BY text)),
       |sh$k AS (
       |  SELECT doc_id AS id, unnest(list_distinct(
       |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
       |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
       |        FROM e$k)),
       |sz$k AS (SELECT id, count(*) AS n FROM sh$k GROUP BY id),
       |jp$k AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT l.id AS id_a, r.id AS id_b, count(*) AS i
       |    FROM sh$k l JOIN sh$k r ON l.s = r.s AND l.id < r.id GROUP BY 1, 2) x
       |  JOIN sz$k sa ON sa.id = x.id_a
       |  JOIN sz$k sb ON sb.id = x.id_b
       |  WHERE floor((i * 1.0 / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.2),
       |ed$k AS (SELECT id_a AS src, id_b AS dst FROM jp$k
       |  UNION SELECT id_b, id_a FROM jp$k),
       |re$k AS (SELECT src, dst FROM ed$k
       |  UNION SELECT r.src, e.dst FROM re$k r JOIN ed$k e ON r.dst = e.src),
       |k$k AS (
       |  SELECT doc_id, text FROM e$k WHERE doc_id NOT IN (
       |    SELECT src FROM re$k GROUP BY src HAVING least(src, min(dst)) != src))""".stripMargin

  /** Cross-batch probe replay: batch `k`'s intra survivors `k$k` against
    * corpus CTE `$corpus` — exact text match, then 3-gram Jaccard ≥ 0.2
    * for the exact-survivors — → `s$k` (the docs batch `k` appends).
    */
  private def x89ProbeCtes(k: Int, corpus: String): String =
    s"""x$k AS (
       |  SELECT DISTINCT q.doc_id FROM k$k q JOIN $corpus c
       |    ON c.text IS NOT DISTINCT FROM q.text),
       |csh$k AS (
       |  SELECT doc_id AS id, unnest(list_distinct(
       |    [tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] for i in range(1, len(tok) - 1)])) AS s
       |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tok
       |        FROM $corpus)),
       |csz$k AS (SELECT id, count(*) AS n FROM csh$k GROUP BY id),
       |pn$k AS (
       |  SELECT DISTINCT x.id_a FROM (
       |    SELECT l.id AS id_a, r.id AS id_b, count(*) AS i
       |    FROM (SELECT * FROM sh$k
       |          WHERE id IN (SELECT doc_id FROM k$k)
       |            AND id NOT IN (SELECT doc_id FROM x$k)) l
       |    JOIN csh$k r ON l.s = r.s GROUP BY 1, 2) x
       |  JOIN sz$k sa ON sa.id = x.id_a
       |  JOIN csz$k sb ON sb.id = x.id_b
       |  WHERE floor((i * 1.0 / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.2),
       |s$k AS (SELECT doc_id, text FROM k$k
       |  WHERE doc_id NOT IN (SELECT doc_id FROM x$k)
       |    AND doc_id NOT IN (SELECT id_a FROM pn$k))""".stripMargin

  private val x89 = Probe(
    "x89_streaming_indexed_ingest",
    (s, dir) => {
      val base = graft.TmpDir.scratch("x89")
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
      val b0 = slice(0)
      val b1 = slice(1).unionByName(
        b0.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val b2 = slice(2).unionByName(
        docs.filter(col("doc_id") % 3 < 2 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      val schema = b0.schema
      val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
      val cfg = graft.ops.Curate.Config(minQuality = 0.0, repetitionGate = false,
        dedupNgram = 3, dedupThreshold = 0.2)
      // each logical batch must appear in the watched dir ATOMICALLY: the
      // running stream triggers continuously, and a multi-file write can
      // be listed mid-write — splitting one logical batch across two
      // micro-batches and shifting every later __batch label. One
      // coalesced part file, staged outside the watched dir and renamed
      // in, appears all-or-nothing.
      def feed(df: org.apache.spark.sql.DataFrame, tag: String): Unit =
        ParityProbes.feedAtomic(s, base, in, df, tag)
      feed(b0, "b0")
      val q = graft.streaming.StreamingIngest.curatedCorpusIndexedSink(
        s.readStream.schema(schema).parquet(in), corpus, index, ckp, "doc_id", "text", cfg)
      try {
        q.processAllAvailable()
        feed(b1, "b1")
        q.processAllAvailable()
        feed(b2, "b2")
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(corpus)
        .select(col("doc_id"), col("__batch").cast("long").as("batch"), col("n_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
            |raw0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
            |raw1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
            |  UNION ALL
            |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
            |  WHERE doc_id % 3 = 0 AND doc_id % 7 = 1),
            |raw2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
            |  UNION ALL
            |  SELECT doc_id + 4000000 AS doc_id, text FROM documents
            |  WHERE doc_id % 3 < 2 AND doc_id % 5 = 0),
            |b0 AS (SELECT doc_id, $x89ScrubSql AS text FROM raw0),
            |b1 AS (SELECT doc_id, $x89ScrubSql AS text FROM raw1),
            |b2 AS (SELECT doc_id, $x89ScrubSql AS text FROM raw2),
            |${x89IntraCtes(0)},
            |c0 AS (SELECT doc_id, text, CAST(0 AS BIGINT) AS batch FROM k0),
            |${x89IntraCtes(1)},
            |${x89ProbeCtes(1, "c0")},
            |c1 AS (SELECT * FROM c0
            |  UNION ALL SELECT doc_id, text, CAST(1 AS BIGINT) AS batch FROM s1),
            |${x89IntraCtes(2)},
            |${x89ProbeCtes(2, "c1")},
            |c2 AS (SELECT * FROM c1
            |  UNION ALL SELECT doc_id, text, CAST(2 AS BIGINT) AS batch FROM s2)
            |SELECT doc_id, batch,
            |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT)
            |    AS n_tokens
            |FROM c2
            |ORDER BY doc_id ASC NULLS FIRST""".stripMargin))

  // — pHash: the frequency-domain perceptual hash vs stripe noise ————————
  //   16×16 synthetic textures (dense pseudo-random base, per doc-id
  //   class); odd twins add ±30 alternating by COLUMN parity — a
  //   separable single-axis pattern that projects only onto the v = 0
  //   coefficient column the DC-cropped pHash excludes, while flipping
  //   dHash's horizontal orderings in every class (hamming 4-12,
  //   exhaustively asserted in OpsSpec). Both arms are FULL value
  //   oracles: DuckDB replays the integer DCT — the shared K table is
  //   generated from the same round(cos·1024) formula — the lower-median
  //   threshold, the bit assembly, and the all-pairs Hamming filter.
  private val x91 = Probe(
    "x91_image_phash_stripes",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val g = floor(col("media_id") / 2).cast("long")
      val odd = pmod(col("media_id"), lit(2L))
      val cls = pmod(g * 2 + 3, lit(105L)) + 1L
      val px = flatten(transform(sequence(lit(0L), lit(255L)), p0 => {
        val x = p0 % 16L
        val y = (p0 / 16L).cast("long")
        val base = lit(60L) +
          pmod(x * 73L + y * 151L + cls * 7919L + x * y * 31L, lit(997L)) % 40L
        val v = (base + lit(30L) * odd * (lit(1L) - lit(2L) * (x % 2L))).cast("int")
        array(v, v, v)
      }))
      val fix = docs.select(col("doc_id").as("media_id"))
        .select(col("media_id"), px.as("px"))
      val p = Multimodal.imageNearDupPairsPHash(fix, "media_id", col("px"),
          w = 16, h = 16, maxDist = 2)
        .withColumn("arm", lit("phash"))
      val d = Multimodal.imageNearDupPairsDHash(fix, "media_id", col("px"),
          w = 16, h = 16, maxDist = 2)
        .withColumn("arm", lit("dhash"))
      p.unionByName(d)
        .select(col("arm"), col("id_a"), col("id_b"), col("hamming").cast("long"))
        .orderBy("arm", "id_a", "id_b")
    },
    Some {
      val kRows = (for (x <- 0 until 16; u <- 1 to 8)
        yield s"($x, $u, ${math.round(math.cos((2 * x + 1) * u * math.Pi / 32) * 1024.0)})")
        .mkString(", ")
      val pw = (0 until 64).map(c =>
        s"($c, ${if (c == 63) "(-9223372036854775807 - 1)" else (1L << c).toString})")
        .mkString(", ")
      val lum = "3 * (60 + ((x * 73 + y * 151 + s * 7919 + x * y * 31) % 997) % 40" +
        " + 30 * odd * (1 - 2 * (x % 2)))"
      s"""WITH base AS (
         |  SELECT doc_id AS media_id, ((doc_id // 2) * 2 + 3) % 105 + 1 AS s,
         |    doc_id % 2 AS odd
         |  FROM documents),
         |k AS (SELECT * FROM (VALUES $kRows) t(x, u, kv)),
         |pw AS (SELECT * FROM (VALUES $pw) t(c, v)),
         |cell AS (
         |  SELECT i % 16 AS x, i // 16 AS y
         |  FROM (SELECT unnest(generate_series(0, 255)) AS i)),
         |lum AS (
         |  SELECT b.media_id, cell.x, cell.y, CAST($lum AS BIGINT) AS lu
         |  FROM base b, cell),
         |rp AS (
         |  SELECT l.media_id, l.y, k.u, sum(l.lu * k.kv) AS r
         |  FROM lum l JOIN k ON k.x = l.x GROUP BY 1, 2, 3),
         |cf AS (
         |  SELECT rp.media_id, rp.u, k.u AS v, sum(k.kv * rp.r) AS cv
         |  FROM rp JOIN k ON k.x = rp.y GROUP BY 1, 2, 3),
         |med AS (
         |  SELECT media_id, cv AS m FROM (
         |    SELECT media_id, cv, row_number() OVER (
         |      PARTITION BY media_id ORDER BY cv) AS rn FROM cf)
         |  WHERE rn = 32),
         |bitsP AS (
         |  SELECT cf.media_id,
         |    CAST(sum(CASE WHEN cf.cv > med.m THEN pw.v ELSE 0 END) AS BIGINT) AS h
         |  FROM cf JOIN med ON med.media_id = cf.media_id
         |  JOIN pw ON pw.c = (cf.u - 1) * 8 + (cf.v - 1)
         |  GROUP BY 1),
         |gd AS (
         |  SELECT j, (j // 9) * 2 * 16 + (j % 9) * 16 // 9 AS p
         |  FROM (SELECT unnest(generate_series(0, 71)) AS j)),
         |lumD AS (
         |  SELECT l.media_id, gd.j, l.lu
         |  FROM gd JOIN lum l ON l.y = gd.p // 16 AND l.x = gd.p % 16),
         |bitsD AS (
         |  SELECT l.media_id,
         |    CAST(sum(CASE WHEN r.lu > l.lu THEN pw.v ELSE 0 END) AS BIGINT) AS h
         |  FROM (SELECT unnest(generate_series(0, 63)) AS c) cd
         |  JOIN lumD l ON l.j = (cd.c // 8) * 9 + (cd.c % 8)
         |  JOIN lumD r ON r.media_id = l.media_id AND r.j = (cd.c // 8) * 9 + (cd.c % 8) + 1
         |  JOIN pw ON pw.c = cd.c
         |  GROUP BY 1),
         |pairs AS (
         |  SELECT 'phash' AS arm, a.media_id AS id_a, b.media_id AS id_b,
         |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |  FROM bitsP a JOIN bitsP b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.h, b.h)) <= 2
         |  UNION ALL
         |  SELECT 'dhash' AS arm, a.media_id AS id_a, b.media_id AS id_b,
         |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |  FROM bitsD a JOIN bitsD b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.h, b.h)) <= 2)
         |SELECT arm, id_a, id_b, hamming FROM pairs
         |ORDER BY arm ASC NULLS FIRST, id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin
    })

  // — duplication-aware soft dedup (1/k cluster weights + portable coin) —
  //   duplicationWeights over the documents fixture: exact 3-gram pairs →
  //   transitive closure (the x23 machinery) → cluster size k → weight
  //   round4(1/k), plus the kept flag of the sampled arm — an EXACT
  //   integer coin (slot·k < 10000 on the positional fingerprint), so
  //   every column including the per-row sampling decision is
  //   value-oracled.
  /** The x93/x97 value oracle — arm-agnostic: exact-pair replay →
    * recursive closure → cluster size → `round4(1/k)` weight → the
    * integer sampling coin. The LSH arm (x97) matches it because the
    * 16×4 banding's recall at jaccard ≥ 0.2 is exactly 1.0 at these
    * corpus sizes (the x03/x21 empirical pin).
    */
  private def softDedupOracleSql: String = {
      val fp = graft.ops.TextStats.fingerprintSql("('softdedup:' || CAST(d.doc_id AS VARCHAR))")
      s"""WITH RECURSIVE ${ExtensionProbes.jacCte(0.2)},
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM jac
         |  UNION SELECT id_b, id_a FROM jac),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS comp
         |  FROM reach GROUP BY src),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |ksz AS (SELECT comp, CAST(count(*) AS BIGINT) AS k FROM lab GROUP BY comp)
         |SELECT d.doc_id, ksz.k AS cluster_size,
         |  ${graft.Canonical.round4Sql("1.0 / ksz.k")} AS weight,
         |  ((($fp % 100000) * 2654435761) % 10000) * ksz.k < 10000 AS kept
         |FROM documents d
         |JOIN lab ON lab.doc_id = d.doc_id
         |JOIN ksz ON ksz.comp = lab.comp
         |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin
  }

  private val x93 = Probe(
    "x93_soft_dedup_weights",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      Dedup.duplicationWeights(docs, "doc_id", col("text"), n = 3, threshold = 0.2)
        .withColumn("kept", Dedup.softDedupKeep(col("doc_id"), col("cluster_size")))
        .orderBy("doc_id")
    },
    Some(softDedupOracleSql))

  // — the LSH arm of soft dedup (the 100-TB path): banded candidates +
  //   exact-Jaccard verify, identical component/weight/coin tail. Same
  //   fixture and ORACLE as x93 — at these corpus sizes the 16×4 banding
  //   finds every jaccard ≥ 0.2 pair (the x03/x21 pin), so the two arms'
  //   outputs must be row-identical and BOTH oracle-exact.
  private val x97 = Probe(
    "x97_soft_dedup_lsh",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents")).select(col("doc_id"), col("text"))
      Dedup.duplicationWeightsLsh(docs, "doc_id", col("text"), n = 3,
          numPerm = 64, bands = 16, rowsPerBand = 4, threshold = 0.2)
        .withColumn("kept", Dedup.softDedupKeep(col("doc_id"), col("cluster_size")))
        .orderBy("doc_id")
    },
    Some(softDedupOracleSql))

  // — cluster-balanced temperature resampling (x98) ——————————————————————
  //   The embedding-space twin of the x83 temperature mixture (crawl
  //   embedding clusters are power-law sized; α = 0.5 flattens the head):
  //   max-cosine centroid assignment (the x12 argmax discipline) → per-
  //   cluster n^0.5 rates against a budget of n/4 documents → the
  //   portable fingerprint coin keyed "c<centroid>:<id>" decides each
  //   row. The oracle replays ALL of it from first principles: the
  //   argmax, the centroid-id-ordered weight fold (list_sum over an
  //   ordered list — the left-fold sum the Scala side pins), the exact
  //   1/10000 rate quantization, and the coin row by row — the kept SET
  //   is value-checked, not tolerance-gated.
  private val x98 = Probe(
    "x98_cluster_temperature",
    (s, dir) => {
      val emb = Readers.fanOut(t(s, dir, "embeddings"))
      val cents = Ivf.seedCentroids(emb, "vec_id", "embedding", 16)
      val budget = math.max(1L, emb.count() / 4)
      Sampling.clusterTemperature(emb, "vec_id", "embedding", cents,
          alpha = 0.5, budget = budget)
        .orderBy("vec_id")
    },
    Some(s"""WITH cents AS (
            |  SELECT vec_id AS centroid_id, embedding AS cvec
            |  FROM embeddings ORDER BY vec_id LIMIT 16),
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
            |cnt AS (SELECT centroid_id, count(*) AS n FROM assigned GROUP BY 1),
            |zt AS (SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY centroid_id)) AS z,
            |              GREATEST(1, (SELECT count(*) FROM embeddings) // 4) AS b FROM cnt),
            |rates AS (
            |  SELECT centroid_id,
            |    GREATEST(1.0/10000,
            |      floor(LEAST(1.0, CAST(b AS DOUBLE) * (sqrt(CAST(n AS DOUBLE)) / z)
            |        / GREATEST(CAST(n AS DOUBLE), 1.0)) * 10000 + 0.5) / 10000)
            |      AS cluster_rate
            |  FROM cnt, zt),
            |coin AS (
            |  SELECT vec_id, centroid_id,
            |    'c' || CAST(centroid_id AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR) AS s
            |  FROM assigned),
            |slotted AS (
            |  SELECT vec_id, centroid_id,
            |    ((${TextStats.fingerprintSql("s")} % 100000) * 2654435761) % 10000 AS slot
            |  FROM coin)
            |SELECT sl.vec_id, sl.centroid_id, r.cluster_rate
            |FROM slotted sl JOIN rates r USING (centroid_id)
            |WHERE sl.slot < CAST(floor(r.cluster_rate * 10000 + 0.5) AS BIGINT)
            |ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  // — host-scoped boilerplate line removal (CCNet/OpenWebText trick) ————
  //   Fixture: hosts from doc_id % 7; every page carries a host NAV line
  //   (df ≈ pages-per-host ≥ minDf → dropped), pages with doc_id % 3 = 0
  //   add a host PROMO line (df below the threshold at sf0.01 → kept;
  //   at larger sf it crosses the threshold — both engines replay the
  //   same arithmetic either way). The oracle replays split, per-host
  //   distinct-page line frequency, the threshold, and in-order
  //   reassembly with blank lines preserved.
  private val x92 = Probe(
    "x92_host_boilerplate",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val host = concat(lit("h"), (col("doc_id") % 7).cast("string"))
      val fix = docs.select(col("doc_id"), host.as("host"),
        concat(lit("NAV-"), host, lit("\n"), col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit("\nPROMO-"), host)).otherwise(lit(""))).as("text"))
      Curate.removeHostBoilerplate(fix, "doc_id", "host", "text", minDf = 40L)
        .orderBy("doc_id")
    },
    Some("""WITH fix AS (
           |  SELECT doc_id, 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
           |    'NAV-h' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || text ||
           |    CASE WHEN doc_id % 3 = 0
           |         THEN chr(10) || 'PROMO-h' || CAST(doc_id % 7 AS VARCHAR)
           |         ELSE '' END AS text
           |  FROM documents),
           |sp AS (SELECT doc_id, host, string_split(text, chr(10)) AS l FROM fix),
           |ln AS (
           |  SELECT doc_id, host, u.pos, u.line FROM (
           |    SELECT doc_id, host,
           |      unnest([{'pos': i, 'line': l[i]} for i in range(1, len(l) + 1)]) AS u
           |    FROM sp)),
           |hot AS (
           |  SELECT host, line FROM (
           |    SELECT host, line, count(DISTINCT doc_id) AS df
           |    FROM ln WHERE length(trim(line)) > 0 GROUP BY 1, 2)
           |  WHERE df >= 40),
           |kept AS (
           |  SELECT ln.doc_id, ln.host, ln.pos, ln.line FROM ln
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM hot WHERE hot.host = ln.host AND hot.line = ln.line)),
           |outp AS (
           |  SELECT doc_id, host, string_agg(line, chr(10) ORDER BY pos) AS text
           |  FROM kept GROUP BY 1, 2)
           |SELECT f.doc_id, f.host, coalesce(o.text, '') AS text
           |FROM fix f LEFT JOIN outp o ON o.doc_id = f.doc_id
           |ORDER BY f.doc_id ASC NULLS FIRST""".stripMargin))

  // — exact distributed quantiles (dataset-card scalars) ————————————————
  //   Iterative histogram refinement: ≤4 range-filtered map-side-combined
  //   aggregate rounds and a ≤2¹⁶-row driver collect per round — never a
  //   global sort. Ranks are computed in exact decimal arithmetic on both
  //   sides (binary-float q·n crosses integer boundaries), so the DuckDB
  //   replay — row_number over the sorted column — is value-exact.
  private val x90 = Probe(
    "x90_exact_quantiles",
    (s, dir) => Quantiles.exactQuantiles(
        Readers.fanOut(t(s, dir, "documents")), "n_chars",
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))
      .orderBy("q"),
    Some("""WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
           |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
           |qs(q) AS (VALUES (0.01), (0.25), (0.5), (0.75), (0.99)),
           |rk AS (SELECT q, greatest(CAST(1 AS BIGINT),
           |    CAST(ceil(q * n.n) AS BIGINT)) AS rank FROM qs, n)
           |SELECT CAST(rk.q AS DOUBLE) AS q, rk.rank, r.v AS value
           |FROM rk JOIN r ON r.rn = rk.rank
           |ORDER BY q ASC NULLS FIRST""".stripMargin))

  // — incremental paragraph dedup against a persisted paragraph index —————
  //   The FineWeb deployment shape x49 only covers corpus-wide: today's
  //   crawl batch dedups paragraph-by-paragraph against a cached
  //   on-disk [[Dedup.ParagraphIndex]] (digest→min-corpus-id parquet +
  //   Bloom sketch) — the corpus is never re-exploded per batch. Fixture
  //   plants every election arm: corpus = even docs with a shared
  //   'CORP FOOTER' paragraph; batch = odd docs carrying (a) a paragraph
  //   shared across EVERY batch doc ('BATCH COMMON' — only the min batch
  //   id keeps it, the in-batch election), (b) their own unique text
  //   (survives), (c) their even predecessor's text (in the corpus → cut,
  //   the cross-batch/corpus arm), (d) the corpus footer (cut), plus one
  //   all-corpus-paragraph doc that must drop out entirely. The oracle
  //   replays the whole classification — index semantics must be
  //   indistinguishable from first-principles SQL over the same frames.
  private def x94Index(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.TmpDir.cached("x94_paraidx", "v2", dir, s"$dir/documents.parquet") { path =>
      val corpus = Readers.fanOut(t(s, dir, "documents"))
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), concat(col("text"), lit("\nCORP FOOTER")).as("text"))
      Dedup.writeParagraphIndex(corpus, "doc_id", "text", path, expectedItems = 10000L)
    }
  private val x94 = Probe(
    "x94_incremental_paragraph_dedup",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val pred = docs.select(col("doc_id").as("__pid"), col("text").as("__ptext"))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .join(pred, col("__pid") === col("doc_id") - 1)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws("\n", lit("BATCH COMMON"), col("text"), col("__ptext"),
            lit("CORP FOOTER")).as("text"))
        .unionByName(s.range(1)
          .select(lit(3000000L).as("doc_id"), lit("CORP FOOTER").as("text")))
      Dedup.incrementalParagraphIndexed(
          Dedup.readParagraphIndex(s, x94Index(s, dir)), batch, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
           |  SELECT doc_id, text || chr(10) || 'CORP FOOTER' AS text
           |  FROM documents WHERE doc_id % 2 = 0),
           |batch AS (
           |  SELECT a.doc_id + 1000000 AS doc_id,
           |    'BATCH COMMON' || chr(10) || a.text || chr(10) || b.text ||
           |      chr(10) || 'CORP FOOTER' AS text
           |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id - 1
           |  WHERE a.doc_id % 2 = 1
           |  UNION ALL SELECT 3000000, 'CORP FOOTER'),
           |csp AS (SELECT string_split(text, chr(10)) AS l FROM corpus),
           |cp AS (
           |  SELECT DISTINCT u.para FROM (
           |    SELECT unnest([{'pos': i, 'para': l[i]} for i in range(1, len(l) + 1)]) AS u
           |    FROM csp)
           |  WHERE length(trim(u.para)) > 0),
           |bsp AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM batch),
           |bp AS (
           |  SELECT doc_id, u.pos, u.para FROM (
           |    SELECT doc_id, unnest([{'pos': i, 'para': l[i]} for i in range(1, len(l) + 1)]) AS u
           |    FROM bsp)
           |  WHERE length(trim(u.para)) > 0),
           |bw AS (
           |  SELECT doc_id, pos FROM (
           |    SELECT doc_id, pos, para,
           |      row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
           |    FROM bp)
           |  WHERE rn = 1 AND para NOT IN (SELECT para FROM cp))
           |SELECT p.doc_id, string_agg(p.para, chr(10) ORDER BY p.pos) AS text
           |FROM bp p JOIN bw ON bw.doc_id = p.doc_id AND bw.pos = p.pos
           |GROUP BY p.doc_id
           |ORDER BY p.doc_id ASC NULLS FIRST""".stripMargin))

  // — streaming SEMANTIC ingest (the embedding arm of x89): three micro-
  //   batches of the embeddings table flow through
  //   semanticCorpusIndexedSink — per batch, SemDeDup removes intra-batch
  //   near-dups (cosine ≥ 0.9 pairs → components → keep min id), then the
  //   batch probes the streaming-maintained VEC ingest index and
  //   survivors append under batch-owned partitions. Plants exercise
  //   every arm with provably-1.0 LSH recall (x47's discipline): exact
  //   copies (identical arrays), 2×-scaled copies (same direction — a
  //   positive scaling cannot flip a hyperplane sign — cosine exactly 1),
  //   NEGATED copies (cosine −1 vs the source: genuinely new, and a
  //   later negated twin then near-dups the PLANT), and a NEGATIVE-offset
  //   intra-batch plant that beats its natural source in the keep-min
  //   election (so the final corpus provably depends on the replayed
  //   election, not just on "naturals survive"). The FINAL CORPUS —
  //   every surviving (vec_id, batch) — is value-oracled: DuckDB replays
  //   each batch's all-pairs intra dedup (exact cosine + recursive
  //   closure) and the growing-corpus cosine probe chain.
  private def x95IntraCtes(k: Int): String =
    s"""fl$k AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    CAST(unnest(a.v) AS DOUBLE) AS x, CAST(unnest(b.v) AS DOUBLE) AS y
       |  FROM b$k a JOIN b$k b ON a.vec_id < b.vec_id),
       |p$k AS (
       |  SELECT ida, idb FROM (
       |    SELECT ida, idb, sum(x * y) AS d, sum(x * x) AS nx, sum(y * y) AS ny
       |    FROM fl$k GROUP BY 1, 2)
       |  WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.9),
       |ed$k AS (SELECT ida AS src, idb AS dst FROM p$k
       |  UNION SELECT idb, ida FROM p$k),
       |re$k AS (SELECT src, dst FROM ed$k
       |  UNION SELECT r.src, e.dst FROM re$k r JOIN ed$k e ON r.dst = e.src),
       |k$k AS (
       |  SELECT vec_id, v FROM b$k WHERE vec_id NOT IN (
       |    SELECT src FROM re$k GROUP BY src HAVING least(src, min(dst)) != src))""".stripMargin

  private def x95ProbeCtes(k: Int, corpus: String): String =
    s"""cf$k AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    CAST(unnest(q.v) AS DOUBLE) AS x, CAST(unnest(c.v) AS DOUBLE) AS y
       |  FROM k$k q, $corpus c),
       |cx$k AS (
       |  SELECT DISTINCT qid FROM (
       |    SELECT qid, cid, sum(x * y) AS d, sum(x * x) AS nx, sum(y * y) AS ny
       |    FROM cf$k GROUP BY 1, 2)
       |  WHERE round(d / (sqrt(nx) * sqrt(ny)), 6) >= 0.9),
       |s$k AS (SELECT vec_id, v FROM k$k
       |  WHERE vec_id NOT IN (SELECT qid FROM cx$k))""".stripMargin

  private val x95 = Probe(
    "x95_streaming_semantic_ingest",
    (s, dir) => {
      val base = graft.TmpDir.scratch("x95")
      val emb = Readers.fanOut(t(s, dir, "embeddings")).select(col("vec_id"), col("embedding"))
      def shifted(pred: org.apache.spark.sql.Column, off: Long,
          f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        emb.filter(pred).select((col("vec_id") + off).as("vec_id"),
          transform(col("embedding"), f).as("embedding"))
      val b0 = emb.filter(col("vec_id") % 3 === 0)
      val b1 = emb.filter(col("vec_id") % 3 === 1)
        .unionByName(shifted(col("vec_id") % 15 === 0, 1000000L, x => x))         // exact of b0
        .unionByName(shifted(col("vec_id") % 15 === 3, 1100000L, x => x * lit(2.0f))) // near of b0
        .unionByName(shifted(col("vec_id") % 15 === 6, 1200000L, x => negate(x)))     // NEW direction
      val b2 = emb.filter(col("vec_id") % 3 === 2)
        .unionByName(shifted(col("vec_id") % 15 === 1, 2000000L, x => x))         // exact of b1 corpus
        .unionByName(shifted(col("vec_id") % 3 === 2 && col("vec_id") % 14 === 0,
          -1000000L, x => x * lit(2.0f)))                                         // intra plant, WINS election
        .unionByName(shifted(col("vec_id") % 15 === 6, 2200000L, x => negate(x))) // near of b1's plant
      val schema = b0.schema
      val (in, corpus, index, ckp) = (s"$base/in", s"$base/corpus", s"$base/index", s"$base/ckp")
      // atomic single-file feeds (the x89 discipline): a logical batch must
      // never be listed mid-write and split across two micro-batches
      def feed(df: org.apache.spark.sql.DataFrame, tag2: String): Unit =
        ParityProbes.feedAtomic(s, base, in, df, tag2)
      feed(b0, "b0")
      val q = graft.streaming.StreamingIngest.semanticCorpusIndexedSink(
        s.readStream.schema(schema).parquet(in), corpus, index, ckp,
        "vec_id", "embedding", threshold = 0.9, numPlanes = 8, dim = 64)
      try {
        q.processAllAvailable()
        feed(b1, "b1")
        q.processAllAvailable()
        feed(b2, "b2")
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(corpus)
        .select(col("vec_id"), col("__batch").cast("long").as("batch"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE
            |base AS (SELECT vec_id, embedding FROM embeddings),
            |b0 AS (SELECT vec_id, embedding AS v FROM base WHERE vec_id % 3 = 0),
            |b1 AS (SELECT vec_id, embedding AS v FROM base WHERE vec_id % 3 = 1
            |  UNION ALL SELECT vec_id + 1000000, embedding FROM base WHERE vec_id % 15 = 0
            |  UNION ALL SELECT vec_id + 1100000, list_transform(embedding, x -> x * 2)
            |    FROM base WHERE vec_id % 15 = 3
            |  UNION ALL SELECT vec_id + 1200000, list_transform(embedding, x -> -x)
            |    FROM base WHERE vec_id % 15 = 6),
            |b2 AS (SELECT vec_id, embedding AS v FROM base WHERE vec_id % 3 = 2
            |  UNION ALL SELECT vec_id + 2000000, embedding FROM base WHERE vec_id % 15 = 1
            |  UNION ALL SELECT vec_id - 1000000, list_transform(embedding, x -> x * 2)
            |    FROM base WHERE vec_id % 3 = 2 AND vec_id % 14 = 0
            |  UNION ALL SELECT vec_id + 2200000, list_transform(embedding, x -> -x)
            |    FROM base WHERE vec_id % 15 = 6),
            |${x95IntraCtes(0)},
            |c0 AS (SELECT vec_id, v, CAST(0 AS BIGINT) AS batch FROM k0),
            |${x95IntraCtes(1)},
            |${x95ProbeCtes(1, "c0")},
            |c1 AS (SELECT * FROM c0
            |  UNION ALL SELECT vec_id, v, CAST(1 AS BIGINT) AS batch FROM s1),
            |${x95IntraCtes(2)},
            |${x95ProbeCtes(2, "c1")},
            |c2 AS (SELECT * FROM c1
            |  UNION ALL SELECT vec_id, v, CAST(2 AS BIGINT) AS batch FROM s2)
            |SELECT vec_id, batch FROM c2
            |ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  // — audio perceptual fingerprint vs volume scaling + silence padding ——
  //   Synthetic PCM per doc-id class (every sample magnitude ≥ 9 — strictly
  //   above the silence threshold, so trim bounds cannot shift between a
  //   signal and its 2× copy); twins are 2×-volume (every DCT coefficient
  //   and the median double together — exactly invariant) and 40-sample
  //   silence pads on both ends (the trim strips exactly the padding).
  //   FULL value oracle: DuckDB replays the trim bounds, the 16×16
  //   resample, the integer DCT (same round(cos·1024) K table as x91),
  //   the lower-median threshold, the bit assembly, and the all-pairs
  //   Hamming filter.
  private val x96 = Probe(
    "x96_audio_fingerprint",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val g = floor(col("doc_id") / 3).cast("long")
      val v = pmod(col("doc_id"), lit(3L))
      val cls = pmod(g * 3 + 5, lit(211L)) + 1L
      val baseArr = transform(sequence(lit(0L), lit(319L)), i =>
        (lit(1L) - lit(2L) * (i % 2L)) *
          (lit(9L) + pmod(i * 73L + cls * lit(7919L) + i * i * lit(31L) + i * cls * lit(101L),
            lit(1980L))))
      val samples = when(v === 1L, transform(baseArr, x => x * lit(2L)))
        .when(v === 2L, concat(array_repeat(lit(0L), 40), baseArr, array_repeat(lit(0L), 40)))
        .otherwise(baseArr)
      val fix = docs.select(col("doc_id").as("media_id"), samples.as("samples"))
      Multimodal.audioNearDupPairs(fix, "media_id", col("samples"), maxDist = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    },
    Some {
      val kRows = (for (x <- 0 until 16; u <- 1 to 8)
        yield s"($x, $u, ${math.round(math.cos((2 * x + 1) * u * math.Pi / 32) * 1024.0)})")
        .mkString(", ")
      val pw = (0 until 64).map(c =>
        s"($c, ${if (c == 63) "(-9223372036854775807 - 1)" else (1L << c).toString})")
        .mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id AS media_id, ((doc_id // 3) * 3 + 5) % 211 + 1 AS s,
         |    doc_id % 3 AS v
         |  FROM documents),
         |k AS (SELECT * FROM (VALUES $kRows) t(x, u, kv)),
         |pw AS (SELECT * FROM (VALUES $pw) t(c, pv)),
         |idx AS (SELECT unnest(generate_series(0, 399)) AS i),
         |samp0 AS (
         |  SELECT b.media_id, b.v, b.s, idx.i,
         |    idx.i - CASE WHEN b.v = 2 THEN 40 ELSE 0 END AS j
         |  FROM base b, idx
         |  WHERE idx.i < CASE WHEN b.v = 2 THEN 400 ELSE 320 END),
         |samp AS (
         |  SELECT media_id, i,
         |    CASE WHEN v = 2 AND (i < 40 OR i >= 360) THEN CAST(0 AS BIGINT)
         |      ELSE CAST((1 - 2 * (j % 2)) *
         |        (9 + ((j * 73 + s * 7919 + j * j * 31 + j * s * 101) % 1980)) *
         |        (CASE WHEN v = 1 THEN 2 ELSE 1 END) AS BIGINT) END AS sv
         |  FROM samp0),
         |tr AS (SELECT media_id, min(i) AS lo, max(i) AS hi
         |  FROM samp WHERE abs(sv) > 8 GROUP BY 1),
         |cell AS (SELECT unnest(generate_series(0, 255)) AS gidx),
         |gpos AS (
         |  SELECT t.media_id, c.gidx, t.lo + (c.gidx * (t.hi - t.lo + 1)) // 256 AS p
         |  FROM tr t, cell c),
         |grid AS (
         |  SELECT g.media_id, g.gidx % 16 AS x, g.gidx // 16 AS y, s2.sv AS lu
         |  FROM gpos g JOIN samp s2 ON s2.media_id = g.media_id AND s2.i = g.p),
         |rp AS (
         |  SELECT l.media_id, l.y, k.u, sum(l.lu * k.kv) AS r
         |  FROM grid l JOIN k ON k.x = l.x GROUP BY 1, 2, 3),
         |cf AS (
         |  SELECT rp.media_id, rp.u, k.u AS vv, sum(k.kv * rp.r) AS cv
         |  FROM rp JOIN k ON k.x = rp.y GROUP BY 1, 2, 3),
         |med AS (
         |  SELECT media_id, cv AS m FROM (
         |    SELECT media_id, cv, row_number() OVER (
         |      PARTITION BY media_id ORDER BY cv) AS rn FROM cf)
         |  WHERE rn = 32),
         |bits AS (
         |  SELECT cf.media_id,
         |    CAST(sum(CASE WHEN cf.cv > med.m THEN pw.pv ELSE 0 END) AS BIGINT) AS h
         |  FROM cf JOIN med ON med.media_id = cf.media_id
         |  JOIN pw ON pw.c = (cf.u - 1) * 8 + (cf.vv - 1)
         |  GROUP BY 1)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM bits a JOIN bits b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.h, b.h)) <= 2
         |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin
    })

  // — GATED audio near-dup (x107): the x96 kernel behind the coarse
  //   pre-key. Fixture: per doc-id group of 3, v=0 base + v=1 its
  //   2×-volume twin (the planted pair family — coarse-key-equal by the
  //   key's exact scale invariance) and v=2 a SINGLETON stream from a
  //   disjoint class range (the crawl-shaped population the gate exists
  //   to skip). FULL value oracle: DuckDB replays the trim, the 16-band
  //   strided energy signature + lower-median signs + log2-length bucket
  //   (the coarse key), the full x96 DCT hash, and the gated pair
  //   contract — pairs iff equal coarse key AND Hamming ≤ 2.
  private val x107 = Probe(
    "x107_audio_near_dup_gated",
    (s, dir) => {
      val docs = Readers.fanOut(t(s, dir, "documents"))
      val g = floor(col("doc_id") / 3).cast("long")
      val v = pmod(col("doc_id"), lit(3L))
      val cls = pmod(g * 3 + 5, lit(211L)) +
        when(v === 2L, lit(212L)).otherwise(lit(1L))
      val baseArr = transform(sequence(lit(0L), lit(319L)), i =>
        (lit(1L) - lit(2L) * (i % 2L)) *
          (lit(9L) + pmod(i * 73L + cls * lit(7919L) + i * i * lit(31L) + i * cls * lit(101L),
            lit(1980L))))
      val samples = when(v === 1L, transform(baseArr, x => x * lit(2L))).otherwise(baseArr)
      val fix = docs.select(col("doc_id").as("media_id"), samples.as("samples"))
      Multimodal.audioNearDupPairsGated(fix, "media_id", col("samples"), maxDist = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    },
    Some {
      val kRows = (for (x <- 0 until 16; u <- 1 to 8)
        yield s"($x, $u, ${math.round(math.cos((2 * x + 1) * u * math.Pi / 32) * 1024.0)})")
        .mkString(", ")
      val pw = (0 until 64).map(c =>
        s"($c, ${if (c == 63) "(-9223372036854775807 - 1)" else (1L << c).toString})")
        .mkString(", ")
      val pw32 = (0 until 32).map(b => s"($b, ${1L << b})").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id AS media_id,
         |    (doc_id // 3 * 3 + 5) % 211 +
         |      CASE WHEN doc_id % 3 = 2 THEN 212 ELSE 1 END AS s,
         |    doc_id % 3 AS v
         |  FROM documents),
         |k AS (SELECT * FROM (VALUES $kRows) t(x, u, kv)),
         |pw AS (SELECT * FROM (VALUES $pw) t(c, pv)),
         |pw32 AS (SELECT * FROM (VALUES $pw32) t(b, pv)),
         |idx AS (SELECT unnest(generate_series(0, 319)) AS i),
         |samp AS (
         |  SELECT b.media_id, idx.i,
         |    CAST((1 - 2 * (idx.i % 2)) *
         |      (9 + ((idx.i * 73 + b.s * 7919 + idx.i * idx.i * 31 + idx.i * b.s * 101) % 1980)) *
         |      (CASE WHEN b.v = 1 THEN 2 ELSE 1 END) AS BIGINT) AS sv
         |  FROM base b, idx),
         |tr AS (SELECT media_id, min(i) AS lo, max(i) AS hi
         |  FROM samp WHERE abs(sv) > 8 GROUP BY 1),
         |-- coarse key: 32 bands x 4 strided |s| reads over the trimmed span,
         |-- band-sum signs vs the lower median, plus the log2-length bucket
         |bnd AS (SELECT unnest(generate_series(0, 127)) AS bi),
         |bpos AS (
         |  SELECT t.media_id, bnd.bi // 4 AS b, t.hi - t.lo + 1 AS len,
         |    t.lo + (bnd.bi * (t.hi - t.lo + 1)) // 128 AS p
         |  FROM tr t, bnd),
         |bsum AS (
         |  SELECT bp.media_id, bp.b, any_value(bp.len) AS len, sum(abs(s2.sv)) AS bs
         |  FROM bpos bp JOIN samp s2 ON s2.media_id = bp.media_id AND s2.i = bp.p
         |  GROUP BY 1, 2),
         |bmed AS (
         |  SELECT media_id, bs AS m FROM (
         |    SELECT media_id, bs, row_number() OVER (
         |      PARTITION BY media_id ORDER BY bs) AS rn FROM bsum)
         |  WHERE rn = 16),
         |ck AS (
         |  SELECT bsum.media_id,
         |    CAST(length(bin(any_value(bsum.len))) - 1 AS BIGINT) * 4294967296 +
         |      sum(CASE WHEN bsum.bs > bmed.m THEN pw32.pv ELSE 0 END) AS ckv
         |  FROM bsum JOIN bmed ON bmed.media_id = bsum.media_id
         |  JOIN pw32 ON pw32.b = bsum.b
         |  GROUP BY 1),
         |-- full x96 DCT hash
         |cell AS (SELECT unnest(generate_series(0, 255)) AS gidx),
         |gpos AS (
         |  SELECT t.media_id, c.gidx, t.lo + (c.gidx * (t.hi - t.lo + 1)) // 256 AS p
         |  FROM tr t, cell c),
         |grid AS (
         |  SELECT g.media_id, g.gidx % 16 AS x, g.gidx // 16 AS y, s2.sv AS lu
         |  FROM gpos g JOIN samp s2 ON s2.media_id = g.media_id AND s2.i = g.p),
         |rp AS (
         |  SELECT l.media_id, l.y, k.u, sum(l.lu * k.kv) AS r
         |  FROM grid l JOIN k ON k.x = l.x GROUP BY 1, 2, 3),
         |cf AS (
         |  SELECT rp.media_id, rp.u, k.u AS vv, sum(k.kv * rp.r) AS cv
         |  FROM rp JOIN k ON k.x = rp.y GROUP BY 1, 2, 3),
         |med AS (
         |  SELECT media_id, cv AS m FROM (
         |    SELECT media_id, cv, row_number() OVER (
         |      PARTITION BY media_id ORDER BY cv) AS rn FROM cf)
         |  WHERE rn = 32),
         |bits AS (
         |  SELECT cf.media_id,
         |    CAST(sum(CASE WHEN cf.cv > med.m THEN pw.pv ELSE 0 END) AS BIGINT) AS h
         |  FROM cf JOIN med ON med.media_id = cf.media_id
         |  JOIN pw ON pw.c = (cf.u - 1) * 8 + (cf.vv - 1)
         |  GROUP BY 1)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM bits a JOIN bits b ON a.media_id < b.media_id
         |JOIN ck ca ON ca.media_id = a.media_id
         |JOIN ck cb ON cb.media_id = b.media_id
         |WHERE ca.ckv = cb.ckv AND bit_count(xor(a.h, b.h)) <= 2
         |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""".stripMargin
    })

  val all: Seq[Probe] = Seq(x49, x50, x51, x52, x53, x54, x55, x56, x57, x58, x59,
    x60, x61, x62, x63, x64, x65, x66, x67, x68, x69, x70, x71, x72, x74, x75, x76, x77,
    x78, x79, x80, x81, x82, x83, x84, x85, x86, x87, x88, x89, x90, x91, x92, x93, x94,
    x95, x96, x97, x98, x99, x100, x101, x102, x105, x107, x109, x110, x113, x115, x120)
}
