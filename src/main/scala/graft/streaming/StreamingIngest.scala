package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.etl.Flatten

/** Streaming ingest (north-star extension, SURVEY §7.6): the same parcel
  * payload arriving as JSON Lines drives the same [[Flatten]] projection
  * and a watermarked windowed variant of the KPI labeling — batch and
  * stream share one transformation library.
  *
  * The reference is pure batch; this is the scale path for continuous
  * ingest: a JSONL (or Kafka-value) stream is splittable and partition-
  * parallel, unlike the reference's multiLine CSV.
  */
object StreamingIngest {

  /** JSONL text stream → flat event frame (same 21 columns as batch). */
  def flatEvents(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", "16")
      .text(path)
      .withColumnRenamed("value", "event")
    Flatten(raw)
  }

  /** Windowed per-event-code counts with late-data handling: watermark on
    * `event_date`, tumbling windows. `approx_count_distinct` (HLL++)
    * replaces the exact distinct (not supported in streaming and the right
    * call at 100 TB anyway).
    */
  def windowedEventCounts(flat: DataFrame, windowDur: String, watermark: String): DataFrame =
    flat
      .withWatermark("event_date", watermark)
      .groupBy(window(col("event_date"), windowDur), col("event_code"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("shipping_id")).as("approx_shipments"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_code"), col("n_events"), col("approx_shipments"))

  /** Streaming sessionization: `session_window` with a watermark — the
    * streaming twin of [[graft.ops.Sessionize.bySessionWindow]].
    */
  def sessionized(flat: DataFrame, gap: String, watermark: String): DataFrame =
    flat
      .filter(col("shipping_id").isNotNull)
      .withWatermark("event_date", watermark)
      .groupBy(col("shipping_id"), session_window(col("event_date"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("shipping_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming dedup with bounded state: drop re-deliveries of the same
    * (shipping_id, event_code, event_date) triple, keeping state only
    * inside the watermark horizon (`dropDuplicatesWithinWatermark` —
    * unbounded-state `dropDuplicates` is the wrong call on an infinite
    * stream).
    */
  def dedupedEvents(flat: DataFrame, watermark: String): DataFrame =
    flat
      .filter(col("shipping_id").isNotNull && col("event_date").isNotNull)
      .withWatermark("event_date", watermark)
      .dropDuplicatesWithinWatermark("shipping_id", "event_code", "event_date")

  /** Stream-stream inner join: collection events matched to the delivery
    * event of the same shipment within `maxLag` event time. Both sides are
    * watermarked and the join carries an event-time range predicate — the
    * two conditions Spark needs to bound join state on an infinite stream.
    */
  def collectionToDelivery(flat: DataFrame, watermark: String, maxLag: String): DataFrame = {
    val coll = flat
      .filter(col("event_code") === "PEC")
      .select(col("shipping_id").as("c_shipping_id"), col("event_date").as("collected_at"))
      .withWatermark("collected_at", watermark)
    val deli = flat
      .filter(col("event_code") === "LIV")
      .select(col("shipping_id").as("d_shipping_id"), col("event_date").as("delivered_at"))
      .withWatermark("delivered_at", watermark)
    coll.join(deli,
      col("c_shipping_id") === col("d_shipping_id") &&
        col("delivered_at") >= col("collected_at") &&
        col("delivered_at") <= col("collected_at") + expr(s"INTERVAL $maxLag"),
      "inner")
      .select(col("c_shipping_id").as("shipping_id"),
        col("collected_at"), col("delivered_at"))
  }

  /** Per-key running state for [[statefulShipmentProgress]]. */
  final case class ShipmentProgress(
      shippingId: String,
      nEvents: Long,
      firstEventAt: java.sql.Timestamp,
      lastEventAt: java.sql.Timestamp,
      lastCode: String)

  /** Arbitrary stateful processing: `flatMapGroupsWithState` tracking each
    * shipment's running progress (event count, first/last event time, last
    * code seen) and emitting an updated snapshot per key per micro-batch.
    *
    * This is the custom-state escape hatch for semantics `session_window`
    * and windowed aggs can't express (cross-window per-entity accumulators,
    * conditional finalization). State is partitioned by `shipping_id` — at
    * scale it lives in the executor state store (RocksDB-backed on a real
    * cluster), never on the driver; the event-time timeout bounds state
    * growth to the watermark horizon.
    */
  def statefulShipmentProgress(flat: DataFrame, watermark: String,
      stateTtl: String = "2 hours"): Dataset[ShipmentProgress] = {
    val spark = flat.sparkSession
    import spark.implicits._
    flat
      .filter(col("shipping_id").isNotNull && col("event_date").isNotNull)
      .withWatermark("event_date", watermark)
      .select(col("shipping_id").as[String],
        col("event_date").as[java.sql.Timestamp],
        col("event_code").as[String])
      .as[(String, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ShipmentProgress, ShipmentProgress](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (id, rows, state: GroupState[ShipmentProgress]) =>
          if (state.hasTimedOut) {
            // horizon passed: final snapshot already emitted; drop the state
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val sorted = batch.sortBy(r => (r._2.getTime, r._3))
            val prev = state.getOption
            val merged = sorted.foldLeft(prev) {
              case (None, (_, ts, code)) => Some(ShipmentProgress(id, 1L, ts, ts, code))
              case (Some(p), (_, ts, code)) =>
                val first = if (ts.before(p.firstEventAt)) ts else p.firstEventAt
                val last = if (ts.after(p.lastEventAt)) ts else p.lastEventAt
                val lastCode = if (ts.before(p.lastEventAt)) p.lastCode else code
                Some(ShipmentProgress(id, p.nEvents + 1, first, last, lastCode))
            }
            merged.foreach { m =>
              state.update(m)
              // expire quiet keys `stateTtl` past their last event; floor at
              // the watermark (setTimeoutTimestamp rejects earlier values)
              state.setTimeoutTimestamp(
                math.max(m.lastEventAt.getTime, state.getCurrentWatermarkMs()), stateTtl)
            }
            merged.iterator
          }
      }
  }

  /** Streaming SCD2 dimension maintenance: every micro-batch of change
    * records merges into a parquet-backed versioned dimension through
    * [[graft.ops.Scd.merge]] — the CDC→warehouse-dim pattern, with the
    * batch operator reused verbatim (one transformation library for batch
    * and stream, same principle as [[flatEvents]]).
    *
    * `foreachBatch` rather than a stateful operator because the dimension
    * IS the state, and it must live in the warehouse (readable mid-stream,
    * survives restarts via the checkpoint + the table itself). Each batch:
    * read dim → `Scd.merge` (touches only the batch's keys) → write to a
    * staging dir → rename swap. The swap (not overwrite-in-place) matters
    * twice: Spark cannot overwrite a path feeding the very plan being
    * written, and a crash mid-write must not lose the dim. delete+rename
    * is NOT atomic, so the sink self-heals the window at the start of the
    * next batch: a staging dir always holds a COMPLETE merged dim, so
    * recovery either finishes the interrupted swap or discards a stale
    * staging copy (whose batch replays from the checkpoint).
    *
    * Contract inherited from [[graft.ops.Scd.merge]]: append-only changes,
    * unique ts per key.
    */
  def scd2DimSink(
      changes: DataFrame,
      dimPath: String,
      checkpoint: String,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val hPath = new org.apache.hadoop.fs.Path(dimPath)
        val staging = new org.apache.hadoop.fs.Path(dimPath + ".staging")
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // crash recovery around the swap window: a staging dir holds the
        // COMPLETE merged dim (old dim + its batch), so
        //   dim missing + staging present  ⇒ crashed between delete and
        //     rename — finish the swap, nothing was lost;
        //   dim present + staging present  ⇒ crashed before the delete —
        //     the staging copy is stale (its batch will replay), drop it
        if (!fs.exists(hPath) && fs.exists(staging)) {
          if (!fs.rename(staging, hPath))
            throw new java.io.IOException(s"crash recovery $staging -> $hPath failed")
        } else if (fs.exists(staging)) {
          fs.delete(staging, true)
        }
        val merged =
          if (fs.exists(hPath))
            graft.ops.Scd.merge(spark.read.parquet(dimPath), batch.toDF(),
              keyCols, tsCol, payloadCols)
          else
            graft.ops.Scd.fromHistory(batch.toDF(), keyCols, tsCol, payloadCols)
        merged.write.mode("overwrite").parquet(staging.toString)
        if (fs.exists(hPath)) fs.delete(hPath, true)
        if (!fs.rename(staging, hPath))
          throw new java.io.IOException(s"swap $staging -> $hPath failed")
        ()
      }
      .start()

  /** Streaming corpus curation: each micro-batch of documents is curated
    * batch-locally (scrub → quality/repetition gates → intra-batch exact
    * + near dedup via [[graft.ops.Curate.run]]), then deduped AGAINST THE
    * ACCUMULATED CORPUS with [[graft.ops.Dedup.incrementalDedup]] — the
    * corpus is only probed, never self-joined, so the pair work is
    * bounded by the batch, but each batch re-derives the corpus's band
    * index (a tokenize + shingle + MinHash pass over every prior
    * partition) — and the survivors are appended as a new corpus
    * partition.
    *
    * Exactly-once without a swap: each batch writes to its own
    * `__batch=<id>` Hive partition with overwrite, so a replayed batch
    * idempotently overwrites its own partition; the corpus read excludes
    * the current batch id, so a replay's stale partial output never
    * counts as corpus. Append-only — no rewrite of existing corpus bytes,
    * the shape that scales to a daily 100-TB ingest.
    */
  def curatedCorpusSink(
      docs: DataFrame,
      corpusPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      cfg: graft.ops.Curate.Config = graft.ops.Curate.Config(),
      numPerm: Int = 64,
      bands: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val curated = graft.ops.Curate.run(batch.toDF(), idCol, textCol, None, cfg)
        val base = new org.apache.hadoop.fs.Path(corpusPath)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // prior batch partitions with data (exclude this batch id: a crash
        // replay must not see its own stale partial output as corpus)
        val priorDirs =
          if (!fs.exists(base)) Array.empty[String]
          else fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
            .filter(p => p.getName.startsWith("__batch=") && p.getName != s"__batch=$batchId")
            .filter(p => fs.listStatus(p).exists(_.getPath.getName.startsWith("part-")))
            .map(_.toString)
        val survivors =
          if (priorDirs.isEmpty) curated
          else {
            val corpus = spark.read.option("basePath", corpusPath)
              .parquet(priorDirs.toIndexedSeq: _*)
            val res = graft.ops.Dedup.incrementalDedup(
              corpus.select(col(idCol), col(textCol)), curated.select(col(idCol), col(textCol)),
              idCol, col(textCol), cfg.dedupNgram, numPerm, bands, numPerm / bands,
              cfg.dedupThreshold)
            val out = curated.join(
              res.filter(col("status") === "new").select(col(idCol)), Seq(idCol), "left_semi")
              .localCheckpoint() // pin before releasing the dedup result cache
            res.unpersist()
            out
          }
        survivors.write.mode("overwrite").parquet(s"$corpusPath/__batch=$batchId")
        ()
      }
      .start()

  /** [[curatedCorpusSink]] with a streaming-maintained dedup index — the
    * deployment shape for a daily 100-TB ingest. The live sink's
    * [[graft.ops.Dedup.incrementalDedup]] derives the band index of ALL
    * prior corpus partitions every micro-batch (a corpus tokenize +
    * shingle + MinHash per batch, for state that did not change) and
    * probes it. Here the same index persists as a
    * [[graft.ops.Dedup.IngestIndex]] at `indexPath` and the same probe
    * runs against it, so a batch pays batch-sized compute plus column
    * scans of the compact index tables — batch cost tracks the batch,
    * not the corpus.
    *
    * Exactly-once under replay, without a swap, THROUGH the index:
    *
    *   - the corpus partition (`__batch=<id>`) is owned by its batch and
    *     written with OVERWRITE, and the index append commits the batch's
    *     rows (`__ingest=<id>`) as one version that replaces whatever an
    *     earlier attempt of the same batch committed, so any replay
    *     rewrites only its own output;
    *   - the probe EXCLUDES `__ingest=<batchId>`: a replay whose first
    *     attempt crashed after the index append classifies against
    *     exactly the pre-append corpus and reproduces the original
    *     survivor set (without the exclusion it would find its own
    *     first-attempt rows and dedup itself away);
    *   - the Bloom sketch merge is a bitwise OR (replay-idempotent), and
    *     a replayed batch's keys already in the sketch are harmless —
    *     positives verify against the provenance-filtered hash table.
    *
    * Crash windows, all recovered by the replay: before the corpus write
    * (nothing happened), between corpus write and index append (replay
    * reclassifies identically — the index has no `__ingest=<id>` rows —
    * and rewrites both), mid-append (nothing of it is committed), after
    * append but before checkpoint commit (the exclusion makes the
    * replay's classification identical).
    *
    * The index geometry is pinned in the index's first version; a restart
    * with different `cfg.dedupNgram`/`numPerm`/`bands` fails loudly
    * rather than silently probing with mismatched banding.
    *
    * `compactEvery = n` folds the index's per-batch write dirs into the
    * reserved base after every n-th batch (keeping the current batch's,
    * so replay exclusion still works) — without it a long-lived stream
    * accretes one dir per micro-batch and file listing eventually
    * dominates the probe ([[graft.ops.Dedup.compactIngestIndex]]).
    */
  def curatedCorpusIndexedSink(
      docs: DataFrame,
      corpusPath: String,
      indexPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      cfg: graft.ops.Curate.Config = graft.ops.Curate.Config(),
      numPerm: Int = 64,
      bands: Int = 16,
      expectedItems: Long = 10000000L,
      fpp: Double = 0.01,
      compactEvery: Int = 0,
      benchIndexPath: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    // decontamination state is READ-ONLY for the stream (an eval suite
    // does not grow with the crawl): the persisted BenchIndex is opened
    // ONCE at sink setup — the sketch is driver-held, the pair table a
    // lazy parquet scan — and every micro-batch probes it identically, so
    // replays are deterministic by construction (no exactly-once
    // machinery needed for this state, unlike the dedup index)
    val benchIdx = benchIndexPath.map(bp =>
      graft.ops.Decontaminate.readBenchIndex(docs.sparkSession, bp))
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val curated0 = graft.ops.Curate.run(batch.toDF(), idCol, textCol, None, cfg)
        val curated = benchIdx match {
          case Some(bi) => graft.ops.Decontaminate.cleanIndexed(
            bi, curated0, idCol, col(textCol), cfg.decontamMinHits)
          case None => curated0
        }
        if (!graft.ops.IndexStore.committed(spark, indexPath))
          graft.ops.Dedup.initIngestIndex(spark, indexPath, cfg.dedupNgram,
            numPerm, bands, numPerm / bands, expectedItems, fpp)
        val idx = graft.ops.Dedup.readIngestIndex(spark, indexPath,
          curated.schema(idCol).dataType)
        require(idx.n == cfg.dedupNgram && idx.numPerm == numPerm && idx.numBands == bands,
          s"ingest index at $indexPath was built with (n=${idx.n}, numPerm=${idx.numPerm}, " +
            s"bands=${idx.numBands}); caller passed (n=${cfg.dedupNgram}, numPerm=$numPerm, " +
            s"bands=$bands) — probing with mismatched banding would misclassify silently")
        val res = graft.ops.Dedup.probeIngestIndex(idx, curated, idCol, textCol,
          cfg.dedupThreshold, excludeIngest = batchId)
        val survivors = curated.join(
          res.filter(col("status") === "new").select(col(idCol)), Seq(idCol), "left_semi")
          .localCheckpoint() // pin before releasing the probe result cache
        res.unpersist()
        survivors.write.mode("overwrite").parquet(s"$corpusPath/__batch=$batchId")
        graft.ops.Dedup.appendToIngestIndex(spark, indexPath,
          survivors.select(col(idCol), col(textCol)), idCol, textCol, batchId,
          index = Some(idx))
        // periodic small-file maintenance: fold prior batches' write dirs
        // into the base, KEEPING the current batch's — a replay of this
        // batch must still be able to hide its own first-attempt rows by
        // partition exclusion. A crash mid-compaction leaves the previous
        // version current.
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          graft.ops.Dedup.compactIngestIndex(spark, indexPath,
            keepIngest = Some(batchId))
        ()
      }
      .start()
  }

  /** The EMBEDDING arm of [[curatedCorpusIndexedSink]] — a streaming
    * corpus sink whose dedup state is a
    * [[graft.ops.Dedup.VecIngestIndex]]: each micro-batch first removes
    * its own semantic near-dups (LSH-bucketed cosine pairs → connected
    * components → keep the min id —
    * [[graft.ops.Dedup.dedupCorpusSemantic]], the SemDeDup shape), then
    * probes the streaming-maintained vec index (exact content-hash +
    * sign-bucket cosine near) and appends survivors under batch-owned
    * partitions.
    *
    * Exactly-once under replay, the [[curatedCorpusIndexedSink]] contract
    * verbatim: the corpus partition (`__batch=<id>`) is a batch-owned
    * OVERWRITE write and the index append (`__ingest=<id>`) replaces the
    * batch's earlier attempt; the probe EXCLUDES `__ingest=<batchId>` so
    * a replay whose first attempt crashed after the index append
    * classifies against exactly the pre-append corpus; the Bloom merge is
    * a bitwise OR. A stale first-attempt index append is therefore
    * invisible to the replay and replaced — the kill+resume drill in
    * StreamingSpec plants one and asserts the final corpus is
    * byte-identical.
    *
    * The hyperplane geometry is pinned in the index's first version; a
    * restart with different `numPlanes`/`dim` fails loudly rather than
    * silently bucketing batches differently than the indexed corpus.
    * `compactEvery = n` folds prior batches' index dirs into the
    * `__ingest=-1` base after every n-th batch (keeping the current
    * batch's, so replay exclusion still works).
    */
  def semanticCorpusIndexedSink(
      docs: DataFrame,
      corpusPath: String,
      indexPath: String,
      checkpoint: String,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      numPlanes: Int = 8,
      dim: Int = 64,
      expectedItems: Long = 10000000L,
      fpp: Double = 0.01,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // intra-batch semantic dedup (deterministic, so a crash replay
        // reproduces the same survivor set from the same batch)
        val intra = graft.ops.Dedup.dedupCorpusSemantic(
          batch.toDF(), idCol, vecCol, threshold, numPlanes, dim)
        if (!graft.ops.IndexStore.committed(spark, indexPath))
          graft.ops.Dedup.initVecIngestIndex(spark, indexPath, numPlanes, dim,
            expectedItems, fpp)
        val idx = graft.ops.Dedup.readVecIngestIndex(spark, indexPath,
          batch.schema(idCol).dataType, batch.schema(vecCol).dataType)
        require(idx.numPlanes == numPlanes && idx.dim == dim,
          s"vec ingest index at $indexPath was built with (numPlanes=${idx.numPlanes}, " +
            s"dim=${idx.dim}); caller passed (numPlanes=$numPlanes, dim=$dim) — " +
            "probing with mismatched hyperplanes would misclassify silently")
        val res = graft.ops.Dedup.probeVecIngestIndex(idx, intra, idCol, vecCol,
          threshold, excludeIngest = batchId)
        val survivors = intra.join(
          res.filter(col("status") === "new").select(col(idCol)), Seq(idCol), "left_semi")
          .localCheckpoint() // pin before releasing the probe result cache
        res.unpersist()
        survivors.write.mode("overwrite").parquet(s"$corpusPath/__batch=$batchId")
        graft.ops.Dedup.appendToVecIngestIndex(spark, indexPath,
          survivors.select(col(idCol), col(vecCol)), idCol, vecCol, batchId,
          index = Some(idx))
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          graft.ops.Dedup.compactVecIngestIndex(spark, indexPath,
            keepIngest = Some(batchId))
        ()
      }
      .start()

  /** Streaming MEDIA near-dup sink over a persisted
    * [[graft.ops.Dedup.SimhashIndex]] — the daily media-ingest shape for
    * 64-bit perceptual signatures (image aHash/dHash/pHash, audio/video
    * fingerprints; the caller supplies the signature column, so any hash
    * family streams through the same sink). Each micro-batch: intra-batch
    * near-dup removal (Hamming pairs → connected components → keep min
    * id, deterministic), probe the persisted index, keep the unmatched,
    * write them under a batch-owned corpus partition and append them to
    * the index.
    *
    * Exactly-once under replay: the index append is an id-keyed
    * anti-join no-op on replay, and the probe result is anti-joined
    * against the CURRENT batch's own ids before classification — the
    * id-set form of the ingest sinks' partition exclusion (ids are
    * globally unique, so a matched corpus row carrying a current-batch
    * id can only be a first-attempt replay row). The id filter matters
    * beyond the trivial self-match: intra-batch survivors are component
    * representatives but [[graft.ops.Dedup.simhashPairs]]' hot-bucket
    * star-degradation can drop an intra-batch pair (ADVICE r12), so two
    * survivors MAY sit within maxDist — without the exclusion a replay
    * would see each one's first-attempt twin in the index, drop both
    * from the rewritten corpus partition, and leave the index holding
    * signatures the corpus no longer contains. A crash mid-append
    * (sigs written, chunks not) is also safe: the batch's own rows are
    * invisible to the replay's probe (an uncommitted append is invisible
    * to every reader) and the replayed append commits it whole.
    * Corpus partitions are batch-owned OVERWRITE writes — a
    * poisoned stale partial is simply rewritten (drilled in
    * StreamingSpec).
    */
  def mediaCorpusIndexedSink(media: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String, idCol: String, sigCol: String,
      maxDist: Int = 2,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val sigs = batch.toDF().select(col(idCol), col(sigCol).cast("long").as(sigCol))
        val pairs = graft.ops.Dedup.simhashPairs(
          sigs.select(col(idCol), col(sigCol).as("simhash")), idCol, maxDist)
        val drop = graft.ops.Dedup.components(pairs)
          .filter(col("id") =!= col("comp")).select(col("id").as(idCol))
        val intra = sigs.join(drop, Seq(idCol), "left_anti").localCheckpoint()
        if (!graft.ops.IndexStore.committed(spark, indexPath))
          graft.ops.Dedup.writeSimhashIndex(sigs.limit(0), idCol, sigCol,
            indexPath, maxDist)
        val idx = graft.ops.Dedup.readSimhashIndex(spark, indexPath)
        require(idx.maxDist == maxDist,
          s"simhash index at $indexPath was chunked for maxDist=${idx.maxDist}; " +
            s"caller passed maxDist=$maxDist — probing with a different distance " +
            "would silently lose the pigeonhole guarantee")
        // exclude corpus rows whose id is in THIS batch (first-attempt
        // replay rows) — see the exactly-once note in the scaladoc
        val dupIds = graft.ops.Dedup.probeSimhashIndex(idx, intra, idCol, sigCol)
          .join(intra.select(col(idCol).as("corpus_id")), Seq("corpus_id"), "left_anti")
          .select(col("batch_id").as(idCol)).distinct()
        val survivors = intra.join(dupIds, Seq(idCol), "left_anti").localCheckpoint()
        survivors.write.mode("overwrite").parquet(s"$corpusPath/__batch=$batchId")
        graft.ops.Dedup.appendToSimhashIndex(spark, indexPath, survivors, idCol, sigCol)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          graft.ops.Dedup.compactSimhashIndex(spark, indexPath)
        ()
      }
      .start()

  /** Streaming arm of the persisted LM counts index
    * ([[graft.ops.Lm.foldIntoCountsIndex]]): each micro-batch's exact
    * uni/bi/tri-gram sufficient statistics fold into the index under the
    * batch id. Exactly-once WITHOUT sink-side coordination: the fold's
    * in-table replay ledger makes a crash-replayed micro-batch a no-op
    * (same `stream-<id>` key ⇒ ledger hit ⇒ skip), and the fold's single
    * commit means a kill mid-fold leaves either the old counts or the
    * complete new counts — never a torn merge. The model
    * itself is NOT rebuilt per batch (that is a reader-side
    * `lmFromCounts` call on whatever cadence scoring wants); the stream
    * only maintains statistics, so its per-batch cost is one batch scan
    * plus a distinct-term-bounded merge — the near-flat fold the 32×
    * pilot measured (BASELINE.md round-12 addendum).
    *
    * CONTRACT: the ledger keys batch COMPOSITION through the checkpoint.
    * Resume with the SAME checkpoint; starting a FRESH checkpoint over an
    * already-folded index re-batches the input under reused `stream-<id>`
    * keys, and the ledger would silently skip genuinely-new data that
    * landed in a reused id. New checkpoint ⇒ new index (or pass a
    * distinct id prefix via a wrapper). ENFORCED (ADVICE r12 — the doc
    * alone guarded nothing): the first fold stamps the checkpoint's
    * streaming query id (`<checkpoint>/metadata`, written once at first
    * start and reused on every resume — exactly the identity a fresh
    * checkpoint changes) into `<indexPath>/stream_identity.json`, and a
    * fold under a DIFFERENT query id fails fast instead of silently
    * skipping data.
    */
  def lmCountsIndexSink(docs: DataFrame, indexPath: String, checkpoint: String,
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        requireCheckpointIdentity(spark, indexPath, checkpoint)
        // a kill mid-init commits nothing, so the replay re-inits
        if (!graft.ops.IndexStore.committed(spark, indexPath))
          graft.ops.Lm.writeCountsIndex(spark, indexPath)
        graft.ops.Lm.foldIntoCountsIndex(spark, indexPath, s"stream-$batchId",
          batch.toDF(), textCol)
        ()
      }
      .start()

  /** Streaming arm of the persisted source-token index
    * ([[graft.ops.Sampling.foldIntoSourceTokenIndex]]): each micro-batch
    * folds its per-source exact token sums under the `stream-<id>`
    * ledger key — the daily domain-balance recipe refresh without a
    * corpus rescan. Same exactly-once/crash contract as
    * [[lmCountsIndexSink]] (in-table ledger, one commit per fold,
    * checkpoint-identity stamp enforced), because it IS the same
    * single-table counts discipline at source grain. Initializes an
    * empty index on first touch; readers call
    * [[graft.ops.Sampling.domainBalanceFromIndex]] on whatever cadence
    * the recipe wants.
    */
  def sourceTokenIndexSink(docs: DataFrame, indexPath: String, checkpoint: String,
      sourceCol: String, tokenCount: org.apache.spark.sql.Column)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        requireCheckpointIdentity(spark, indexPath, checkpoint)
        if (!graft.ops.IndexStore.committed(spark, indexPath))
          graft.ops.Sampling.writeSourceTokenIndex(spark, indexPath)
        graft.ops.Sampling.foldIntoSourceTokenIndex(spark, indexPath,
          s"stream-$batchId", batch.toDF(), col(sourceCol), tokenCount)
        ()
      }
      .start()

  /** Fail fast when a ledger-keyed index is folded from a checkpoint
    * other than the one that built it (see [[lmCountsIndexSink]]'s
    * contract). The identity is the streaming query id from
    * `<checkpoint>/metadata`; the stamp is written BEFORE the first fold,
    * so a crash between stamp and fold re-stamps the same id on replay.
    */
  private def requireCheckpointIdentity(spark: SparkSession, indexPath: String,
      checkpoint: String): Unit = {
    val metaP = new org.apache.hadoop.fs.Path(s"$checkpoint/metadata")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaP)) return // defensive: metadata exists once a query has started
    val qid = """"id"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(graft.ops.Dedup.readTextFile(spark, s"$checkpoint/metadata"))
      .map(_.group(1)).getOrElse(return)
    val stampPath = s"$indexPath/stream_identity.json"
    val stampP = new org.apache.hadoop.fs.Path(stampPath)
    // the stamp lives under indexPath, which may be a DIFFERENT
    // filesystem than the checkpoint (local ckp + object-store index) —
    // resolve its own FS or the exists/read calls die with "Wrong FS"
    // (ADVICE r13)
    val sfs = stampP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!sfs.exists(stampP)) {
      graft.ops.Dedup.writeTextFile(spark, stampPath, s"""{"query_id":"$qid"}""")
    } else {
      val stamped = """"query_id"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(graft.ops.Dedup.readTextFile(spark, stampPath))
        .map(_.group(1)).getOrElse("?")
      require(stamped == qid,
        s"ledger-keyed index at $indexPath was built by streaming query $stamped; " +
          s"this sink runs as query $qid (a FRESH checkpoint over an already-" +
          "folded index would re-batch input under reused stream-<id> ledger " +
          "keys and silently skip new data). Resume with the original " +
          "checkpoint, or start a new index path.")
    }
  }

  /** Streaming arm of the persisted cluster-label index
    * ([[graft.ops.Dedup.appendToCcIndex]]): each micro-batch of
    * near-dup PAIRS folds into the labels. Exactly-once falls out of
    * algebra rather than bookkeeping: a fold is IDEMPOTENT (the same
    * delta re-folded is a fixpoint), so a crash-replayed micro-batch
    * converges to the identical labels with no ledger; each fold's single
    * commit closes the torn-write window. Initializes empty labels on
    * first touch (every id in the first
    * delta labels itself through the fold).
    */
  def ccIndexSink(pairs: DataFrame, indexPath: String, checkpoint: String,
      maxIter: Int = 20): org.apache.spark.sql.streaming.StreamingQuery =
    pairs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        if (!graft.ops.IndexStore.committed(spark, indexPath))
          graft.ops.Dedup.writeCcIndex(spark, indexPath,
            batch.toDF().select(col("id_a").as("id"), col("id_a").as("comp")).limit(0))
        graft.ops.Dedup.appendToCcIndex(spark, indexPath, batch.toDF(), maxIter)
        ()
      }
      .start()

  /** Streaming arm of the persisted HLL sketch index
    * ([[graft.ops.Frequency.foldIntoHllIndex]]): each micro-batch
    * APPENDS its per-key sketch rows as delta partitions (O(batch) I/O;
    * the read side unions per key, auto-compaction collapses the table).
    * Exactly-once by ALGEBRA (the ccIndexSink argument in sketch form):
    * HLL registers merge by elementwise max, so a crash-replayed
    * micro-batch's re-appended delta rows re-max registers with
    * themselves at read time — no ledger, no partition exclusion; every
    * fold and compaction is one commit. `lgK` must match the lgK pinned
    * in the index's manifest (the fold rejects a mismatch — mixed-
    * precision registers do not union). Initializes an empty index on
    * first touch.
    */
  def hllIndexSink(rows: DataFrame, indexPath: String, checkpoint: String,
      keyCol: String, valueCol: String,
      lgK: Int = 12): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        if (!graft.ops.IndexStore.committed(spark, indexPath))
          graft.ops.Frequency.writeHllIndex(spark, indexPath,
            batch.toDF().limit(0), keyCol, valueCol, lgK)
        graft.ops.Frequency.foldIntoHllIndex(spark, indexPath, batch.toDF(),
          keyCol, valueCol, lgK)
        ()
      }
      .start()

  /** Streaming arm of the persisted BM25 postings index
    * ([[graft.ops.TextStats.appendToBm25Index]]): each micro-batch of
    * documents folds into the postings + doclen tables. Exactly-once by
    * ANTI-JOIN idempotence over atomic commits: a crash-replayed
    * micro-batch finds its first attempt either committed (its anti-join
    * lands empty) or absent. The first NON-EMPTY batch builds the index;
    * an empty batch before then is skipped. Compaction rides the
    * append's auto-compact trigger.
    */
  def bm25IndexSink(docs: DataFrame, indexPath: String, checkpoint: String,
      idCol: String, textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        if (!graft.ops.IndexStore.committed(spark, indexPath)) {
          if (!batch.isEmpty)
            // explicit full-size sketch: a stream's FIRST micro-batch says
            // nothing about the eventual corpus, so the batch-count
            // auto-sizing (right for one-shot builds) would saturate here
            // and degrade later folds toward O(index)
            graft.ops.TextStats.writeBm25Index(batch.toDF(), idCol, col(textCol), indexPath,
              expectedItems = graft.ops.TextStats.Bm25BloomItems)
        } else
          graft.ops.TextStats.appendToBm25Index(spark, indexPath, batch.toDF(),
            idCol, col(textCol))
        ()
      }
      .start()

  /** Drive a streaming frame to completion against a memory sink and
    * return the collected result (test/local harness; production callers
    * use their own `writeStream` sink).
    */
  def runToMemory(spark: SparkSession, df: DataFrame, queryName: String,
      outputMode: String = "append"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }
}
