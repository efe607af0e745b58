package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-
  * sample stages.
  *
  * The Spark-side contract is real and tested — schema, partitioning,
  * per-partition batch iteration, output shape — and so are decode AND
  * resize: [[MediaCodec.decode]] parses real container headers (BMP,
  * PPM-P6, WAV) and [[MediaCodec.resize]] performs true nearest-neighbor
  * raster scaling for the uncompressed formats, all in pure JVM code with
  * no external libraries, sniffing the format from magic bytes.
  * Compressed formats (JPEG/PNG/MP4) would slot into the same dispatch
  * with a third-party codec.
  */
object Multimodal {

  /** One media object: id + kind + raw bytes + string metadata. */
  case class MediaRecord(media_id: Long, kind: String, bytes: Array[Byte], source: String)

  /** Decoded metadata the header-parsing codec emits. */
  case class MediaMeta(
      media_id: Long, kind: String, byte_len: Long,
      width: Int, height: Int, channels: Int, checksum: Long)

  /** One sampled frame of a media object. */
  case class MediaFrame(media_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  object MediaCodec {

    /** Positional checksum over the byte stream (cheap provenance). */
    def checksum(b: Array[Byte]): Long = {
      var s = 0L
      var i = 0
      while (i < b.length) { s += (b(i) & 0xff).toLong * ((i % 64) + 1); i += 1 }
      s
    }

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

    /** Real header decode, format sniffed from magic bytes:
      *
      *   - BMP (`BM`): width/height from the BITMAPINFOHEADER (LE int32 at
      *     offsets 18/22), channels = bits-per-pixel/8 (LE int16 at 28).
      *   - PPM binary (`P6`): ASCII `P6 <w> <h> <maxval>` header.
      *   - WAV (`RIFF…WAVE`): fmt chunk — mapped onto the image-shaped meta
      *     as width = sample rate (LE int32 at 24), height = bits/sample
      *     (LE int16 at 34), channels = audio channels (LE int16 at 22).
      *
      * Unknown formats degrade to byte-length-only metadata (0 dims), so a
      * mixed lake never fails the scan.
      */
    def decode(r: MediaRecord): MediaMeta = {
      val b = r.bytes
      def meta(w: Int, h: Int, c: Int) =
        MediaMeta(r.media_id, r.kind, b.length.toLong, w, h, c, checksum(b))
      if (b.length >= 54 && b(0) == 'B' && b(1) == 'M')
        meta(le32(b, 18), le32(b, 22), le16(b, 28) / 8)
      else if (b.length >= 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')
        meta(le32(b, 24), le16(b, 34), le16(b, 22))
      else if (b.length >= 2 && b(0) == 'P' && b(1) == '6') {
        // ASCII header: "P6" <ws> width <ws> height <ws> maxval <single ws>
        val toks = new scala.collection.mutable.ArrayBuffer[Int](3)
        var i = 2
        while (toks.length < 3 && i < b.length) {
          while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\t' || b(i) == '\r')) i += 1
          var v = 0
          var any = false
          while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1; any = true }
          if (any) toks += v else i = b.length
        }
        if (toks.length == 3) meta(toks(0), toks(1), 3) else meta(0, 0, 0)
      } else meta(0, 0, 0)
    }

    /** Minimal 24-bit BMP: 14-byte file header + 40-byte BITMAPINFOHEADER +
      * zeroed pixel rows padded to 4 bytes (the real on-disk layout).
      */
    def bmpBytes(width: Int, height: Int): Array[Byte] = {
      val rowSize = ((width * 3 + 3) / 4) * 4
      val dataSize = rowSize * height
      val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
        .putShort(0).putShort(0).putInt(54) // reserved + pixel offset
      buf.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
        .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      buf.array()
    }

    /** Minimal PCM WAV: 44-byte canonical header + zeroed samples. */
    def wavBytes(channels: Int, sampleRate: Int, bitsPerSample: Int, nSamples: Int): Array[Byte] = {
      val blockAlign = channels * bitsPerSample / 8
      val dataSize = nSamples * blockAlign
      val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      buf.putInt(16).putShort(1).putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort)
        .putShort(bitsPerSample.toShort)
      buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
      buf.array()
    }

    /** PCM WAV with a REAL sample payload: 44-byte canonical header +
      * 16-bit LE mono samples — the audio-fingerprint fixture writer
      * ([[wavBytes]] is the zeroed-header twin the meta probes use).
      */
    def wavBytesPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataSize = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      buf.putInt(16).putShort(1).putShort(1).putInt(sampleRate)
        .putInt(sampleRate * 2).putShort(2).putShort(16)
      buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
      samples.foreach(buf.putShort)
      buf.array()
    }

    /** Decode a PCM WAV's sample stream: walk the RIFF chunk list to the
      * `data` chunk (not a fixed offset — real encoders interleave LIST /
      * fact chunks) and read 16-bit LE signed samples, channels
      * interleaved as stored. Non-WAV or non-16-bit payloads decode to an
      * empty array (the mixed-lake degrade convention of [[decode]]).
      */
    def pcm16(r: MediaRecord): Array[Int] = {
      val b = r.bytes
      if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
          b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return Array.empty
      if (le16(b, 34) != 16) return Array.empty // bits per sample
      var i = 12
      while (i + 8 <= b.length) {
        val id = new String(b, i, 4, "US-ASCII")
        val sz = le32(b, i + 4)
        if (id == "data") {
          val n = math.min(sz, b.length - i - 8) / 2
          val out = new Array[Int](n)
          var j = 0
          while (j < n) { out(j) = le16(b, i + 8 + j * 2).toShort.toInt; j += 1 }
          return out
        }
        i += 8 + sz + (sz & 1) // chunks are word-aligned
      }
      Array.empty
    }

    /** Binary PPM (P6), maxval 255, zeroed pixels. */
    def ppmBytes(width: Int, height: Int): Array[Byte] = {
      val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + width * height * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      out
    }

    /** REAL nearest-neighbor raster resize for the uncompressed image
      * formats the codec decodes — pure-JVM integer math, no libraries:
      *
      *   - 24-bit BMP: source pixel (⌊x·w/w'⌋, ⌊y·h/h'⌋) for each target
      *     pixel, rows re-padded to 4 bytes, header fields rewritten.
      *     (Both buffers are bottom-up, so rows map without flipping.)
      *   - PPM-P6 (maxval 255): same sampling over the raw RGB stream.
      *   - Anything else (WAV audio, unknown blobs) passes through
      *     unchanged — resize is an image transform.
      *
      * The output is a VALID file of the same format: decode(resize(r))
      * reports the target dimensions, which is what probe x40 oracles.
      */
    def resize(r: MediaRecord, outW: Int, outH: Int): MediaRecord = {
      require(outW > 0 && outH > 0, s"target dims must be positive, got ${outW}x$outH")
      val b = r.bytes
      if (b.length >= 54 && b(0) == 'B' && b(1) == 'M' && le16(b, 28) == 24) {
        val (w, h, off) = (le32(b, 18), le32(b, 22), le32(b, 10))
        if (w <= 0 || h <= 0) return r
        val srcRow = ((w * 3 + 3) / 4) * 4
        val out = bmpBytes(outW, outH) // valid header + zeroed, padded rows
        val dstRow = ((outW * 3 + 3) / 4) * 4
        var y = 0
        while (y < outH) {
          val sy = (y.toLong * h / outH).toInt
          var x = 0
          while (x < outW) {
            val sx = (x.toLong * w / outW).toInt
            val so = off + sy * srcRow + sx * 3
            val dof = 54 + y * dstRow + x * 3
            if (so + 2 < b.length) {
              out(dof) = b(so); out(dof + 1) = b(so + 1); out(dof + 2) = b(so + 2)
            }
            x += 1
          }
          y += 1
        }
        r.copy(bytes = out)
      } else if (b.length >= 2 && b(0) == 'P' && b(1) == '6') {
        val meta = decode(r)
        val (w, h) = (meta.width, meta.height)
        if (w <= 0 || h <= 0) return r
        val out = ppmBytes(outW, outH)
        val srcOff = b.length - w * h * 3   // pixel stream starts right after the header
        val dstOff = out.length - outW * outH * 3
        if (srcOff < 2) return r            // malformed header; leave untouched
        var y = 0
        while (y < outH) {
          val sy = (y.toLong * h / outH).toInt
          var x = 0
          while (x < outW) {
            val sx = (x.toLong * w / outW).toInt
            val so = srcOff + (sy * w + sx) * 3
            val dof = dstOff + (y * outW + x) * 3
            if (so + 2 < b.length) {
              out(dof) = b(so); out(dof + 1) = b(so + 1); out(dof + 2) = b(so + 2)
            }
            x += 1
          }
          y += 1
        }
        r.copy(bytes = out)
      } else r
    }
  }

  /** Distributed resize over a media table — per-partition batch loop like
    * [[extractMeta]]; non-image kinds pass through unchanged.
    */
  def resizeAll(spark: SparkSession, media: DataFrame, w: Int, h: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map(MediaCodec.resize(_, w, h)))
  }

  /** Real-file ingestion: Spark's `binaryFile` source — one row per file
    * with (path, modificationTime, length, content), the canonical way to
    * load images/audio from a lake into binary columns. The scan is
    * partition-parallel across files; `pathGlobFilter` prunes by extension
    * at the listing (files never opened), and
    * `spark.sql.files.maxPartitionBytes` governs task granularity exactly
    * as for parquet.
    */
  def readBinaryDir(spark: SparkSession, dir: String, glob: String, kind: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        // path-addressed id: stable across relistings, no driver counter
        // (moves/renames change it; hash col("content") to content-address)
        xxhash64(col("path")).as("media_id"),
        lit(kind).as("kind"),
        col("content").as("bytes"),
        col("path").as("source"))

  /** Pack a text table into media records (binary column + metadata) — the
    * fixture stand-in for real image/audio ingestion. `encode` is a plain
    * Catalyst expression, so packing scales as a projection.
    */
  def pack(docs: DataFrame, idCol: String, textCol: String, kind: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      encode(col(textCol), "UTF-8").as("bytes"),
      coalesce(col("source"), lit("unknown")).as("source"))

  /** Per-partition decode: the executor-side batch loop a real codec needs
    * (amortized codec init per partition, not per row).
    */
  def extractMeta(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      // per-partition codec initialization would go here
      it.map(MediaCodec.decode)
    }
  }

  /** Synthesize a mixed-format media lake from the documents fixture: real
    * BMP / WAV / PPM byte streams whose header fields are arithmetic in
    * `doc_id` — so an oracle can predict exactly what [[MediaCodec.decode]]
    * must parse back out of the bytes.
    */
  def synthMedia(spark: SparkSession, docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].map { id =>
      (id % 3) match {
        case 0 => MediaRecord(id, "bmp",
          MediaCodec.bmpBytes((id % 64).toInt + 1, (id % 48).toInt + 1), "synth")
        case 1 => MediaRecord(id, "wav",
          MediaCodec.wavBytes((id % 2).toInt + 1, 8000 + (id % 8).toInt * 1000, 16, (id % 100).toInt), "synth")
        case _ => MediaRecord(id, "ppm",
          MediaCodec.ppmBytes((id % 32).toInt + 1, (id % 24).toInt + 1), "synth")
      }
    }
  }

  /** Frame sampling: split the byte stream into fixed-size "frames", keep
    * every `everyN`-th. Array slicing is per-row Catalyst work; explode
    * fans frames out line-rate.
    */
  def sampleFrames(spark: SparkSession, media: DataFrame, frameBytes: Int, everyN: Int): Dataset[MediaFrame] = {
    import spark.implicits._
    media.as[MediaRecord].flatMap { r =>
      r.bytes.grouped(frameBytes).zipWithIndex.collect {
        case (chunk, idx) if idx % everyN == 0 => MediaFrame(r.media_id, idx, chunk)
      }
    }
  }

  /** Declarative (no mapPartitions) byte-level metadata — length + the
    * positional checksum as pure Catalyst expressions, for metadata-only
    * callers that do not need header decode. The checksum expression
    * round-trips through UTF-8 `decode`, so it is only byte-exact for
    * ASCII payloads (e.g. [[pack]]ed text fixtures).
    */
  def byteMetaSql(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      length(col("bytes")).cast("long").as("byte_len"),
      // bindOnce: the decoded string referenced inside the fold lambda
      // would re-decode the whole payload per POSITION (O(bytes²) per
      // row) in the interpreted HOF path
      graft.Canonical.bindOnce(decode(col("bytes"), "UTF-8")) { s =>
        aggregate(sequence(lit(1), length(s)), lit(0L),
          (acc, i) => acc + ascii(s.substr(i, lit(1))).cast("long") * (((i - 1) % 64) + 1).cast("long"))
      }.as("checksum"))

  /** 64-bit average perceptual hash (aHash) of a decoded RGB raster — the
    * image near-dup primitive (pHash-family; LAION-scale image dedup
    * runs exactly this shape): downsample to an 8×8 luminance grid by
    * nearest-neighbor point sampling, set bit `c` iff cell c's luminance
    * is strictly above the grid mean. All arithmetic is integer
    * (`L·64 > ΣL` instead of a mean division; luminance = r+g+b unscaled)
    * so the hash is bit-identical across engines and a DuckDB oracle
    * replays it from the raw pixel list.
    *
    * `pixels` is a row-major interleaved RGB `array<int>` of length
    * `w·h·3` (the [[MediaCodec]] raster layout). Cell (cx, cy) samples
    * source pixel (cx·w/8, cy·h/8) — integer floors, the same NN
    * convention as [[MediaCodec.resize]]. The 64 cell expressions are
    * generated STATICALLY (one `element_at` chain per cell, a literal
    * mask per bit) — no variable shifts, no per-element lambda work
    * beyond the two shared bindings.
    */
  def aHash64(pixels: Column, w: Int, h: Int): Column = {
    require(w >= 8 && h >= 8, s"aHash needs at least an 8x8 source, got ${w}x$h")
    graft.Canonical.bindOnce(pixels) { p =>
      val lumCols = (0 until 64).map { c =>
        val (cx, cy) = (c % 8, c / 8)
        val base = ((cy * h / 8) * w + (cx * w / 8)) * 3
        (element_at(p, base + 1) + element_at(p, base + 2) + element_at(p, base + 3))
          .cast("long")
      }
      graft.Canonical.bindOnce(array(lumCols: _*)) { ls =>
        graft.Canonical.bindOnce(aggregate(ls, lit(0L), (a, x) => a + x)) { total =>
          (0 until 64).map { c =>
            when(element_at(ls, c + 1) * 64 > total, lit(1L << c)).otherwise(lit(0L))
          }.reduce(_.bitwiseOR(_))
        }
      }
    }
  }

  /** 64-bit difference perceptual hash (dHash) of a decoded RGB raster —
    * the gradient member of the perceptual-hash family. Samples a 9×8
    * luminance grid (nearest-neighbor, integer floors — the same NN
    * convention as [[aHash64]]); bit `c` (cell `(cx, cy)`, `c = cy·8+cx`)
    * is set iff cell `(cx+1, cy)`'s luminance strictly exceeds cell
    * `(cx, cy)`'s.
    *
    * Why carry both hashes: aHash compares every cell against the GLOBAL
    * grid mean, so pixel saturation anywhere (a brightness shift that
    * clamps highlights — the classic re-encode artifact) moves the mean
    * and flips bits in untouched regions; dHash compares each cell only
    * with its horizontal neighbor, so any monotone per-pixel tone change
    * (brightness/contrast, clamping included, as long as no two compared
    * samples BOTH saturate) preserves every bit. Probe x87 plants
    * exactly that scenario: a clamped brightness shift that flips ≥3
    * aHash bits in every step class of its fixture (exhaustively
    * asserted in OpsSpec) while dHash stays at Hamming 0, so aHash
    * misses every planted pair that dHash catches. All arithmetic is integer
    * and statically generated, like [[aHash64]] — a DuckDB oracle
    * replays it from the raw pixel list.
    */
  def dHash64(pixels: Column, w: Int, h: Int): Column = {
    require(w >= 9 && h >= 8, s"dHash needs at least a 9x8 source, got ${w}x$h")
    graft.Canonical.bindOnce(pixels) { p =>
      // 72 sampled luminances (9 columns × 8 rows), bound once so each is
      // computed a single time even though interior columns feed two bits
      val lumCols = (0 until 72).map { i =>
        val (cx, cy) = (i % 9, i / 9)
        val base = ((cy * h / 8) * w + (cx * w / 9)) * 3
        (element_at(p, base + 1) + element_at(p, base + 2) + element_at(p, base + 3))
          .cast("long")
      }
      graft.Canonical.bindOnce(array(lumCols: _*)) { ls =>
        (0 until 64).map { c =>
          val (cx, cy) = (c % 8, c / 8)
          when(element_at(ls, cy * 9 + cx + 2) > element_at(ls, cy * 9 + cx + 1),
            lit(1L << c)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_))
      }
    }
  }

  /** 64-bit DCT perceptual hash (pHash) of a decoded RGB raster — the
    * frequency-domain member of the perceptual-hash family. Samples a
    * 16×16 luminance grid (nearest-neighbor, integer floors — the
    * [[aHash64]]/[[dHash64]] convention), applies a SEPARABLE integer
    * DCT-II (`K(x,u) = round(cos((2x+1)uπ/32)·1024)` — 128 literal
    * constants; row pass then column pass, 2·16 multiply-adds per
    * output instead of 256), keeps the 8×8 block `u, v ∈ 1..8` — the
    * published DC-row/column-cropped variant — and sets bit
    * `c = (u−1)·8+(v−1)` iff `coef(u,v)` strictly exceeds the LOWER
    * MEDIAN (the 32nd smallest of the 64 kept coefficients — an exact
    * element, no interpolation, no float).
    *
    * Why carry a third hash, and why crop the DC row/column: aHash
    * breaks under clamped brightness shifts (x87), dHash under
    * STRIPE-SHAPED pixel artifacts — column banding, scanline noise,
    * interlace/rolling-shutter residue flip its horizontal
    * adjacent-sample orderings everywhere. Any separable single-axis
    * pattern `n(x, y) = f(x)` projects ONLY onto the `v = 0`
    * coefficient column (and `g(y)` onto `u = 0`): its contribution to
    * a kept coefficient is `(Σ_x f·K_u) · (Σ_y K(y,v))`, and the
    * second factor is the DCT orthogonality sum — exactly 0 in real
    * arithmetic, ≤ 8 with the rounded integer K. Cropping `u = 0` and
    * `v = 0` therefore makes the hash STRUCTURALLY immune to stripe
    * noise up to that rounding sliver; probe x91 plants alternating
    * column stripes that flip dHash bits in every fixture class while
    * pHash moves at most a bit or two, asserted exhaustively.
    *
    * All arithmetic is integer and the whole hash is four nested
    * Catalyst HOFs (`transform`/`aggregate` — the [[TextStats]] BPE-fold
    * precedent) over the bound luminance grid: products are bounded by
    * `16·1024·16·1024·765 < 2⁶³`, and a DuckDB oracle replays the exact
    * sums from the raw pixel list.
    */
  def pHash64(pixels: Column, w: Int, h: Int): Column = {
    require(w >= 16 && h >= 16, s"pHash needs at least a 16x16 source, got ${w}x$h")
    // frequencies u ∈ 1..8 (DC row/column cropped); flat index x·8 + (u−1)
    val kFlat: Seq[Long] = for (x <- 0 until 16; u <- 1 to 8)
      yield math.round(math.cos((2 * x + 1) * u * math.Pi / 32) * 1024.0)
    val kArr = array(kFlat.map(lit): _*)
    val pw = array(((0 until 63).map(c => lit(1L << c)) :+ lit(Long.MinValue)): _*)
    // Column `/` is DOUBLE division even on longs (Spark's Divide) — all
    // index math here is non-negative, so a truncating long cast IS the
    // floor the NN convention needs
    def idiv(a: Column, b: Long): Column = (a / b).cast("long")
    graft.Canonical.bindOnce(pixels) { p =>
      val lum = transform(sequence(lit(0L), lit(255L)), i => {
        val gx = i % 16L
        val gy = idiv(i, 16L)
        val base = (idiv(gy * h, 16L) * w + idiv(gx * w, 16L)) * 3L
        (element_at(p, (base + 1L).cast("int")) +
          element_at(p, (base + 2L).cast("int")) +
          element_at(p, (base + 3L).cast("int"))).cast("long")
      })
      graft.Canonical.bindOnce(lum) { ls =>
        graft.Canonical.bindOnce(kArr) { k =>
          // row pass: R(y,u) = Σ_x lum(y·16+x)·K(x,u), flat ru = y·8+u
          val rowPass = transform(sequence(lit(0L), lit(127L)), ru =>
            aggregate(sequence(lit(0L), lit(15L)), lit(0L), (acc, x) =>
              acc + element_at(ls, (idiv(ru, 8L) * 16L + x + 1L).cast("int")) *
                element_at(k, (x * 8L + ru % 8L + 1L).cast("int"))))
          graft.Canonical.bindOnce(rowPass) { rs =>
            // column pass: coef(u,v) = Σ_y K(y,v)·R(y,u), flat uv = u·8+v
            val coefs = transform(sequence(lit(0L), lit(63L)), uv =>
              aggregate(sequence(lit(0L), lit(15L)), lit(0L), (acc, y) =>
                acc + element_at(k, (y * 8L + uv % 8L + 1L).cast("int")) *
                  element_at(rs, (y * 8L + idiv(uv, 8L) + 1L).cast("int"))))
            graft.Canonical.bindOnce(coefs) { cs =>
              // lower median: 32nd smallest of the 64 kept coefficients
              graft.Canonical.bindOnce(
                element_at(array_sort(cs), 32)) { med =>
                aggregate(sequence(lit(0L), lit(63L)), lit(0L), (acc, c) =>
                  acc.bitwiseOR(
                    when(element_at(cs, (c + 1L).cast("int")) > med,
                      element_at(pw, (c + 1L).cast("int"))).otherwise(lit(0L))))
              }
            }
          }
        }
      }
    }
  }

  /** Distributed PCM decode over a media table: (media_id, samples) with
    * 16-bit signed samples as `array<int>` — the executor-side batch loop
    * shape of [[extractMeta]]; non-WAV rows decode to empty arrays.
    */
  def pcmAll(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map(r => (r.media_id, MediaCodec.pcm16(r))))
      .toDF("media_id", "samples")
  }

  /** 64-bit AUDIO perceptual fingerprint of a PCM sample stream — the
    * waveform member of the perceptual-hash family, built in the
    * [[pHash64]] exact-integer discipline so a DuckDB oracle replays it
    * end to end:
    *
    *   1. silence TRIM: drop everything before the first and after the
    *      last sample with |s| > `silenceThr` — the hash is structurally
    *      invariant to silence padding (the classic audio re-encode /
    *      concatenation artifact);
    *   2. uniform RESAMPLE of the trimmed span to a 16×16 grid (cell `i`
    *      reads trimmed sample ⌊i·m/256⌋ — integer floors, the
    *      [[aHash64]] NN convention), row = coarse time, column = fine
    *      time;
    *   3. the separable integer DCT-II of [[pHash64]] (the same 128
    *      `round(cos·1024)` constants), keeping the DC-cropped 8×8 block
    *      — the time-frequency energy signature of the waveform
    *      envelope, immune to any separable single-axis pattern up to
    *      the rounding sliver;
    *   4. bit `c` set iff coefficient `c` strictly exceeds the lower
    *      median of the 64 kept coefficients — comparing against an
    *      order statistic of the SAME coefficients makes the hash
    *      exactly invariant to integer volume scaling (every
    *      coefficient and the median scale together; `2a > 2b ⟺ a > b`),
    *      and tolerant of non-integer gain up to rounding.
    *
    * Products are bounded by `16·1024·16·1024·32767 < 2⁶³`. An
    * all-silent (or empty) stream hashes to 0.
    */
  def audioHash64(samples: Column, silenceThr: Int = 8): Column = {
    val kFlat: Seq[Long] = for (x <- 0 until 16; u <- 1 to 8)
      yield math.round(math.cos((2 * x + 1) * u * math.Pi / 32) * 1024.0)
    val kArr = array(kFlat.map(lit): _*)
    val pw = array(((0 until 63).map(c => lit(1L << c)) :+ lit(Long.MinValue)): _*)
    def idiv(a: Column, b: Column): Column = (a / b).cast("long")
    graft.Canonical.bindOnce(samples) { s =>
      graft.Canonical.bindOnce(size(s).cast("long")) { n =>
        when(n > 0L, graft.Canonical.bindOnce(
          aggregate(sequence(lit(0L), n - 1L), lit(-1L), (acc, i) =>
            when(abs(element_at(s, (i + 1L).cast("int")).cast("long")) > silenceThr,
              greatest(acc, i)).otherwise(acc))) { hi =>
          when(hi >= 0L, graft.Canonical.bindOnce(
            aggregate(sequence(lit(0L), n - 1L), n, (acc, i) =>
              when(abs(element_at(s, (i + 1L).cast("int")).cast("long")) > silenceThr,
                least(acc, i)).otherwise(acc))) { lo =>
            graft.Canonical.bindOnce(
              transform(sequence(lit(0L), lit(255L)), i =>
                element_at(s,
                  (lo + idiv(i * (hi - lo + 1L), lit(256L)) + 1L).cast("int"))
                  .cast("long"))) { ls =>
              graft.Canonical.bindOnce(kArr) { k =>
                // row pass: R(y,u) = Σ_x g(y·16+x)·K(x,u), flat ru = y·8+u
                val rowPass = transform(sequence(lit(0L), lit(127L)), ru =>
                  aggregate(sequence(lit(0L), lit(15L)), lit(0L), (acc, x) =>
                    acc + element_at(ls, (idiv(ru, lit(8L)) * 16L + x + 1L).cast("int")) *
                      element_at(k, (x * 8L + ru % 8L + 1L).cast("int"))))
                graft.Canonical.bindOnce(rowPass) { rs =>
                  // column pass: coef(u,v) = Σ_y K(y,v)·R(y,u), flat uv = u·8+v
                  val coefs = transform(sequence(lit(0L), lit(63L)), uv =>
                    aggregate(sequence(lit(0L), lit(15L)), lit(0L), (acc, y) =>
                      acc + element_at(k, (y * 8L + uv % 8L + 1L).cast("int")) *
                        element_at(rs, (y * 8L + idiv(uv, lit(8L)) + 1L).cast("int"))))
                  graft.Canonical.bindOnce(coefs) { cs =>
                    graft.Canonical.bindOnce(element_at(array_sort(cs), 32)) { med =>
                      aggregate(sequence(lit(0L), lit(63L)), lit(0L), (acc, c) =>
                        acc.bitwiseOR(
                          when(element_at(cs, (c + 1L).cast("int")) > med,
                            element_at(pw, (c + 1L).cast("int"))).otherwise(lit(0L))))
                    }
                  }
                }
              }
            }
          }).otherwise(lit(0L)) // all-silent
        }).otherwise(lit(0L))   // empty stream
      }
    }
  }

  /** Audio near-dup pairs within Hamming distance `maxDist` over
    * [[audioHash64]] fingerprints — the same hash-agnostic chunk-bucketed
    * candidate machinery as the image family (pigeonhole-exact
    * candidates, hot buckets star-degrade, no all-pairs comparison ever
    * materializes).
    */
  def audioNearDupPairs(df: DataFrame, idCol: String, samples: Column,
      maxDist: Int, silenceThr: Int = 8,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.simhashPairs(
      df.select(col(idCol), audioHash64(samples, silenceThr).as("simhash")),
      idCol, maxDist, maxBucket)

  /** Cheap coarse pre-key for [[audioNearDupPairsGated]] — ~1/8 the
    * integer ops of the full [[audioHash64]] kernel (trim + 128 strided
    * reads + a 32-element sort vs trim + the 256-cell grid, 4k-multiply
    * DCT and 64-element sort), built to share the kernel's EXACT
    * invariances so pad/scale twins can never land in different buckets:
    *
    *   - high bits: ⌊log2(trimmed length)⌋ — silence padding strips
    *     exactly (the trim is the kernel's own), and integer volume
    *     scaling cannot move trim bounds for the same reason it cannot
    *     move the kernel's (silence is below-threshold on both sides of
    *     the scale or it is not silence);
    *   - low 32 bits: per-band energy signs — 32 bands × 4 strided |s|
    *     reads over the trimmed span, each band sum compared against the
    *     lower median of the 32 sums (the [[audioHash64]] median trick:
    *     volume scaling scales every sum and the median together, so the
    *     comparisons — and the bits — are exactly invariant). 32 sign
    *     bits, not 16: the key space must keep MILLIONS of crawl streams
    *     mostly-singleton, or the gate admits everything.
    *
    * Empty / all-silent streams key to 0 (and hash to 0), matching the
    * kernel's own convention.
    */
  def audioCoarseKey64(samples: Column, silenceThr: Int = 8): Column = {
    def idiv(a: Column, b: Column): Column = (a / b).cast("long")
    graft.Canonical.bindOnce(samples) { s =>
      graft.Canonical.bindOnce(size(s).cast("long")) { n =>
        when(n > 0L, graft.Canonical.bindOnce(
          aggregate(sequence(lit(0L), n - 1L), lit(-1L), (acc, i) =>
            when(abs(element_at(s, (i + 1L).cast("int")).cast("long")) > silenceThr,
              greatest(acc, i)).otherwise(acc))) { hi =>
          when(hi >= 0L, graft.Canonical.bindOnce(
            aggregate(sequence(lit(0L), n - 1L), n, (acc, i) =>
              when(abs(element_at(s, (i + 1L).cast("int")).cast("long")) > silenceThr,
                least(acc, i)).otherwise(acc))) { lo =>
            graft.Canonical.bindOnce(hi - lo + 1L) { len =>
              graft.Canonical.bindOnce(
                transform(sequence(lit(0L), lit(31L)), b =>
                  aggregate(sequence(lit(0L), lit(3L)), lit(0L), (acc, t) =>
                    acc + abs(element_at(s,
                      (lo + idiv((b * 4L + t) * len, lit(128L)) + 1L).cast("int"))
                      .cast("long"))))) { bs =>
                graft.Canonical.bindOnce(element_at(array_sort(bs), 16)) { med =>
                  // ⌊log2(len)⌋ as an exact integer (length of the binary
                  // form − 1): double log2 rounds wrong on exact powers
                  ((length(bin(len)) - 1).cast("long") * lit(4294967296L)) +
                    (0 until 32).map(b =>
                      when(element_at(bs, b + 1) > med, lit(1L << b))
                        .otherwise(lit(0L))).reduce(_ + _)
                }
              }
            }
          }).otherwise(lit(0L)) // all-silent
        }).otherwise(lit(0L))   // empty stream
      }
    }
  }

  /** [[audioNearDupPairs]] with a sketch-gates-exact pre-filter (the
    * [[graft.ops.Frequency.heavyHitters]] pattern): every stream pays
    * only the cheap [[audioCoarseKey64]]; the full [[audioHash64]] kernel
    * runs ONLY on streams whose coarse bucket has ≥ 2 members. At crawl
    * scale the population is overwhelmingly singleton buckets, so the
    * dominant per-stream cost drops ~8× — the fix for the kernel-IS-the-
    * job profile the 32× pilot measured (23.1× wall on fixed cores).
    *
    * Recall contract (the [[Dedup.lshCandidates]] shape), EXACT in both
    * directions: a pair is reported iff both members share a coarse key
    * AND their full hashes are within `maxDist` (cross-key pairs are
    * filtered even when both streams happened to need hashing) — so the
    * operator is deterministic in the key structure, not in which other
    * buckets were multi-member. Pad/scale twins ALWAYS share a key (it
    * inherits the kernel's exact invariances); arbitrary waveform-
    * different near-dups that straddle a key boundary are missed — use
    * the ungated operator when that recall matters more than the kernel
    * cost. The multi-member key list joins back as a semi-join (AQE
    * broadcasts it when candidates are rare — the crawl case — so the
    * PCM column never shuffles).
    */
  def audioNearDupPairsGated(df: DataFrame, idCol: String, samples: Column,
      maxDist: Int, silenceThr: Int = 8,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // pinned: feeds the multi-member election AND the pair-side key filter
    val keys = df.select(col(idCol), audioCoarseKey64(samples, silenceThr).as("__ck"))
      .localCheckpoint()
    val multi = keys.groupBy(col("__ck")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2L).select(col("__ck"))
    val hashed = df
      .select(col(idCol), samples.as("__pcm"),
        audioCoarseKey64(samples, silenceThr).as("__ck"))
      .join(multi, Seq("__ck"), "left_semi")
      .select(col(idCol), audioHash64(col("__pcm"), silenceThr).as("simhash"))
    Dedup.simhashPairs(hashed, idCol, maxDist, maxBucket)
      .join(keys.toDF("id_a", "__cka"), Seq("id_a"))
      .join(keys.toDF("id_b", "__ckb"), Seq("id_b"))
      .filter(col("__cka") === col("__ckb"))
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Image near-dup pairs within Hamming distance `maxDist` over aHash
    * signatures — [[Dedup.simhashPairs]]' chunk-bucket machinery
    * (pigeonhole-exact candidates, hot buckets star-degrade) applied to
    * the perceptual hash, so image dedup scales exactly like text
    * SimHash: no all-pairs comparison ever materializes.
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, pixels: Column,
      w: Int, h: Int, maxDist: Int,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.simhashPairs(
      df.select(col(idCol), aHash64(pixels, w, h).as("simhash")),
      idCol, maxDist, maxBucket)

  /** [[imageNearDupPairs]] over [[dHash64]] signatures — the pair
    * machinery is hash-agnostic, so the gradient hash rides the same
    * chunk-bucketed candidate generation (no all-pairs).
    */
  def imageNearDupPairsDHash(df: DataFrame, idCol: String, pixels: Column,
      w: Int, h: Int, maxDist: Int,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.simhashPairs(
      df.select(col(idCol), dHash64(pixels, w, h).as("simhash")),
      idCol, maxDist, maxBucket)

  /** [[imageNearDupPairs]] over [[pHash64]] signatures — same
    * hash-agnostic chunk-bucketed candidate generation.
    *
    * Caveat for the chunk machinery: pHash bit 63 rides `Long.MinValue`
    * (coefficient 63's flag), so signatures can be negative — the chunk
    * split masks unsigned bit ranges and is sign-agnostic, like SimHash's
    * own 63-bit convention, but Hamming verification via
    * `bit_count(a XOR b)` is exact regardless.
    */
  def imageNearDupPairsPHash(df: DataFrame, idCol: String, pixels: Column,
      w: Int, h: Int, maxDist: Int,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.simhashPairs(
      df.select(col(idCol), pHash64(pixels, w, h).as("simhash")),
      idCol, maxDist, maxBucket)

  /** Video near-duplicate pairs over opaque media byte streams — the
    * first-line video dedup shape (frame-signature set overlap): sample
    * frames ([[sampleFrames]]), digest each frame (md5 — engine-portable,
    * so the whole operator value-oracles), and score each video PAIR by
    * exact Jaccard over its frame-digest SET through the text dedup
    * machinery ([[Dedup.ngramJaccardPairsFromShingles]]: shared-digest
    * candidate generation, hot-digest df cap with star degradation,
    * exact verify over full sets — a frame digest is just a shingle).
    *
    * Set semantics give clip/re-order/duplicate-frame robustness at the
    * VIDEO level while the frame digest stays byte-exact (the honest
    * contract for opaque binaries — when a real decoder is wired, a
    * perceptual per-frame hash ([[pHash64]] over decoded rasters) slots
    * into the digest column and the pair machinery is unchanged).
    *
    * 100-TB shape: the explode is frames-per-video bounded, candidates
    * are a digest-bucketed equi self-join (never all-pairs), and the
    * same df cap that guards stop-phrase shingles guards stop-frames
    * (black frames, silence cards) — the signal-free frames shared by
    * half the corpus.
    */
  def videoNearDupPairs(spark: SparkSession, media: DataFrame, frameBytes: Int,
      everyN: Int, threshold: Double,
      maxDf: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // distinct: SET semantics (a looped/duplicated frame counts once);
    // localCheckpoint: feeds sizes + both sides of the candidate join
    val sh = sampleFrames(spark, media, frameBytes, everyN).toDF()
      .select(col("media_id").as("id"), md5(col("frame_bytes")).as("shingle"))
      .distinct()
      .localCheckpoint()
    Dedup.ngramJaccardPairsFromShingles(sh, threshold, maxDf)
  }
}
