package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads travel as
  * opaque BINARY columns next to a typed metadata struct, and
  * decode/feature steps run batch-wise inside `mapPartitions` so a
  * real decoder (JNI/ffmpeg/JPEG lib) can be slotted in without
  * changing the plan shape.
  *
  * The model-feature decode is STUBBED — this container has no ML
  * image/audio libraries — with a deterministic fake (byte histogram
  * + parsed header fields) so the Spark-side plumbing (schema,
  * batching, partitioning, column pruning of the heavy binary column)
  * is real and testable. Every stub is marked `STUB:`. The PERCEPTUAL
  * HASH tier is real: [[decodedSignatures]] decodes PNG/JPEG through
  * the JDK's `javax.imageio` (zero external dependencies) into the
  * 8×8 luma dHash; the character-sampling tier remains as the
  * DuckDB-replayable oracle path.
  *
  * Scale notes: binary payloads dominate bytes at 100 TB — the media
  * table keeps them in their own parquet column so queries that touch
  * only metadata never read payload pages (columnar pruning), and
  * feature extraction streams batch iterators (no per-row JNI
  * round-trips, no driver collect).
  */
object Multimodal {

  final case class MediaMeta(mime: String, width: Int, height: Int, duration_ms: Long)
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(media_id: Long, feature_dim: Int,
      features: Array[Float], checksum: Long)

  /** Build a media table from the documents fixture: each doc's text
    * bytes stand in for an encoded image payload. Deterministic. */
  def mediaFromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        (col("n_chars") * 10).cast("long").as("duration_ms")).as("meta"))

  /** STUB: "decode" a payload into a fixed-dim feature vector — a
    * 16-bin byte histogram, L1-normalized. A real implementation
    * replaces `decodeOne` with an image decoder + model forward pass;
    * the batched mapPartitions shape stays identical. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // Per-partition (not per-row) setup: a real decoder would
        // initialize its native context here, once.
        batch.map { case (id, payload) => decodeOne(id, payload) }
      }
  }

  /** STUB: deterministic fake decode (byte histogram). */
  private def decodeOne(id: Long, payload: Array[Byte]): MediaFeatures = {
    val bins = new Array[Float](16)
    var i = 0
    while (i < payload.length) {
      bins((payload(i) & 0xff) >> 4) += 1f
      i += 1
    }
    val total = math.max(1f, payload.length.toFloat)
    var c = 0L
    var j = 0
    // Bounded rolling hash: mask to 31 bits each step so downstream
    // sums over billions of rows stay far from Long range (Spark 4
    // ANSI mode makes sum() overflow a hard error, not a wrap).
    while (j < payload.length) {
      c = (c * 31 + (payload(j) & 0xff)) & 0x7fffffffL
      j += 1
    }
    MediaFeatures(id, 16, bins.map(_ / total), c)
  }

  /** STUB: frame sampling for video payloads — emits every `everyMs`
    * offset within meta.duration_ms. A real implementation would seek
    * the container; the explode-shaped plan is the real one. */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media.where(col("kind") === "video")
      .select(col("media_id"),
        posexplode(sequence(lit(0L), col("meta.duration_ms"), lit(everyMs))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "offset_ms")

  /** STUB: batched resize for image payloads — emits a new media row
    * with scaled metadata and a deterministic "resized" payload (every
    * `stride`-th byte, stride = ceil of the area ratio; a real
    * implementation swaps in a pixel resampler — the batched
    * mapPartitions shape, the metadata rewrite, and the payload
    * shrink-in-flight are the real parts). Non-image rows pass through
    * untouched, so the operator composes in a mixed-media pipeline. */
  def resize(media: DataFrame, maxWidth: Int, maxHeight: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"),
      col("meta.mime"), col("meta.width"), col("meta.height"),
      col("meta.duration_ms"))
      .as[(Long, String, Array[Byte], String, Int, Int, Long)]
      .mapPartitions { batch =>
        batch.map { case (id, kind, payload, mime, w, h, dur) =>
          if (kind != "image" || (w <= maxWidth && h <= maxHeight))
            MediaRow(id, kind, payload, MediaMeta(mime, w, h, dur))
          else {
            val scale = math.min(
              maxWidth.toDouble / math.max(1, w),
              maxHeight.toDouble / math.max(1, h))
            val nw = math.max(1, math.floor(w * scale).toInt)
            val nh = math.max(1, math.floor(h * scale).toInt)
            // STUB: real code resamples pixels; the fake keeps every
            // stride-th byte so payload bytes shrink with the area.
            val stride = math.max(1, math.ceil(
              (w.toLong * h).toDouble / math.max(1L, nw.toLong * nh)).toInt)
            val out = Array.ofDim[Byte]((payload.length + stride - 1) / stride)
            var i = 0
            while (i < out.length) { out(i) = payload(i * stride); i += 1 }
            MediaRow(id, kind, out, MediaMeta(mime, nw, nh, dur))
          }
        }
      }
  }

  /** Metadata-only projection: never touches the payload column (the
    * parquet reader prunes it — assert via ReadSchema in explain). */
  def metadataStats(media: DataFrame): DataFrame =
    media.groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("meta.duration_ms")).as("total_duration_ms"),
        max(col("meta.width")).as("max_width"))

  /** 63-bit perceptual difference-hash (dHash) over a media payload's
    * decoded rendering: resample 64 points at positions
    * floor(i·(n−1)/63)+1 of the stream (STUB: character codes of the
    * text rendering — a real decoder resamples an 8×8 luma thumbnail;
    * everything downstream of the sampling is the real thing), bit i
    * = point_i > point_{i+1}. Near-identical payloads — a re-encode,
    * a corner watermark, one changed byte — move few sample points,
    * so their signatures sit within a small Hamming distance, which
    * exact-hash dedup ([[mediaFromDocuments]] + md5) can never see.
    * 63 bits, not 64: the sign bit stays clear so every downstream
    * shift/mask is nonnegative in any engine (DuckDB errors on
    * 1<<63). The input must be a materialized ATTRIBUTE (substr in
    * the lambda re-scans to the offset, but never re-evaluates an
    * upstream expression per element). */
  /** The 64 resampled points as an array column. */
  def perceptualCells(textCol: Column): Column = {
    val n = length(textCol)
    // i·(n−1) in LONG (the Int product wraps past ~34M-char payloads
    // while the oracle computes in BIGINT); floor via exact double
    // division — 63·n stays far below 2^52, and Column./ on integers
    // is double division anyway.
    transform(sequence(lit(0), lit(63)), i =>
      ascii(textCol.substr(
        (floor((i.cast("long") * (n.cast("long") - lit(1L)))
          .cast("double") / lit(63.0)) + lit(1))
          .cast("int"),
        lit(1))))
  }

  /** The difference-bit signature from a MATERIALIZED cells column —
    * `cellsAttr` must be an attribute, not an expression: element_at
    * inside the fold re-evaluates an expression operand per element
    * (the O(n²) trap; staged through a select it is one O(1) lookup
    * per bit). */
  def dhashFromCells(cellsAttr: Column): Column =
    aggregate(sequence(lit(0), lit(62)), lit(0L), (acc, i) =>
      acc + when(element_at(cellsAttr, i + lit(1)) >
          element_at(cellsAttr, i + lit(2)),
        call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))

  /** Banded Hamming near-dup join over perceptual hashes — the
    * multimodal twin of SimHash pigeonhole dedup: 4 chunks of 16
    * bits; a pair within Hamming distance ≤ 3 leaves at least one
    * chunk untouched (pigeonhole over 4 chunks), so chunk-equality
    * equi-joins find every such pair with NO cross join. Each pair
    * emits from its FIRST agreeing chunk via the signature-arithmetic
    * filter (never a distinct over candidates — the LSH rule), then
    * verifies bit_count(xor) ≤ threshold. Returns (media_a, media_b,
    * hamming).
    *
    * Scale knob: expected ORGANIC chunk collisions grow as
    * N²/2^chunkBits, so 16-bit chunks are sized for ~10⁶-scale media
    * sets (same regime as the SimHash pigeonhole text path). At 10⁹
    * payloads the signature widens (128-bit pHash → 4×32-bit chunks,
    * same pigeonhole at ham ≤ 3) rather than the bands multiplying —
    * more, narrower bands would loosen the Hamming guarantee. */
  def perceptualNearDups(media: DataFrame, textCol: String,
      idCol: String, threshold: Int = 3): DataFrame = {
    val sigs = media
      .where(length(col(textCol)) >= 1)
      .select(col(idCol).as("media_id"),
        perceptualCells(col(textCol)).as("g"))
      .select(col("media_id"), dhashFromCells(col("g")).as("sig"))
    hammingNearDups(sigs, threshold)
  }

  /** The banded Hamming self-join over any (media_id, sig) signature
    * frame — shared by the stub/oracle tier ([[perceptualNearDups]])
    * and the JDK-decoder tier ([[perceptualNearDupsDecoded]]); the
    * banding math is documented on [[perceptualNearDups]]. */
  def hammingNearDups(sigs: DataFrame, threshold: Int = 3): DataFrame = {
    require(threshold < 4, s"4x16-bit bands guarantee ham<=3: $threshold")
    def chunk(sig: Column, c: Int): Column =
      shiftright(sig, 16 * c).bitwiseAND(lit(65535L))
    val chunks = sigs
      .select(col("media_id"), col("sig"), explode(array(
        (0 until 4).map(c => struct(lit(c).as("c"),
          chunk(col("sig"), c).as("cv"))): _*)).as("ch"))
      .select(col("media_id"), col("sig"), col("ch.c"), col("ch.cv"))
      .localCheckpoint(true) // self-join legs: compute-once sharing
    val priorsDiffer = (0 until 3).foldLeft(lit(true)) { (acc, cp) =>
      acc && (col("a.c") <= lit(cp) ||
        chunk(col("a.sig"), cp) =!= chunk(col("b.sig"), cp))
    }
    val ham = call_function("bit_count",
      col("a.sig").bitwiseXOR(col("b.sig")))
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
          col("a.media_id") < col("b.media_id"))
      .where(priorsDiffer && ham <= lit(threshold.toLong))
      .select(col("a.media_id").as("media_a"),
        col("b.media_id").as("media_b"),
        ham.cast("long").as("hamming"))
  }

  /** REAL image decode — the JDK's `javax.imageio` reads PNG/JPEG
    * headless with zero external dependencies — to the documented 8×8
    * integer luma thumbnail: cell (cx,cy) covers pixel box
    * [cx·w/8, (cx+1)·w/8) × [cy·h/8, (cy+1)·h/8) and holds the
    * truncating integer mean of BT.601 luma
    * `(299r + 587g + 114b)/1000` — all-integer arithmetic, so the
    * thumbnail is deterministic across JVMs (no Graphics2D resampler,
    * whose interpolation is implementation-defined). Returns None for
    * payloads no installed reader accepts (the mixed-media pass-drop
    * contract of [[decodedSignatures]]). */
  private[multimodal] def luma8x8(payload: Array[Byte]): Option[Array[Int]] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || img.getWidth < 1 || img.getHeight < 1) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val out = new Array[Int](64)
      var cy = 0
      while (cy < 8) {
        val y0 = cy * h / 8
        val y1 = math.min(h, math.max(y0 + 1, (cy + 1) * h / 8))
        var cx = 0
        while (cx < 8) {
          val x0 = cx * w / 8
          val x1 = math.min(w, math.max(x0 + 1, (cx + 1) * w / 8))
          var sum = 0L
          var n = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += (299L * ((rgb >> 16) & 0xff) +
                587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
              n += 1
              x += 1
            }
            y += 1
          }
          out(cy * 8 + cx) = if (n == 0) 0 else (sum / n).toInt
          cx += 1
        }
        cy += 1
      }
      Some(out)
    }
  }

  /** 63-bit dHash from the 64 luma cells (row-major) — the same bit
    * rule as the stub tier (`bit i = cell_i > cell_{i+1}`, sign bit
    * clear), so both tiers feed the same banding join. */
  private[multimodal] def dhashOfLuma(cells: Array[Int]): Long = {
    var sig = 0L
    var i = 0
    while (i < 63) {
      if (cells(i) > cells(i + 1)) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** Decoder-tier signatures: one batched `mapPartitions` pass decodes
    * each binary payload (JDK ImageIO — per-partition reader reuse is
    * the slot where a native decoder would init its context once) and
    * emits (media_id, sig). Payloads no reader accepts are DROPPED —
    * a mixed-media frame flows through without poisoning the join;
    * count the frame before/after to audit decode coverage. */
  def decodedSignatures(media: DataFrame, payloadCol: String,
      idCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, p) =>
          luma8x8(p).map(cells => (id, dhashOfLuma(cells)))
        }
      }.toDF("media_id", "sig")
  }

  /** Perceptual near-dup over REAL image bytes: JDK decode → 8×8 luma
    * dHash → the same 4×16-bit banded Hamming join as the stub tier
    * (pigeonhole guarantee at ham ≤ 3). The stub tier stays the
    * DuckDB-replayable oracle path (q_media_neardup); this tier is the
    * production path for actual PNG/JPEG payloads — and it is ALSO
    * oracle-checkable end to end when the payloads are synthesized
    * 8×8 gray PNGs ([[mediaFromEmbeddings]] + q_media_neardup_decoded):
    * PNG is lossless and gray-pixel BT.601 luma is the pixel value
    * itself, so DuckDB replays the whole encode→decode→hash→band
    * chain from the source vectors without touching a codec — any
    * lossy step in the JDK roundtrip would hash-mismatch. */
  def perceptualNearDupsDecoded(media: DataFrame, payloadCol: String,
      idCol: String, threshold: Int = 3): DataFrame =
    hammingNearDups(decodedSignatures(media, payloadCol, idCol), threshold)

  /** One 8×8 grayscale PNG from a vector's leading 64 dims, row-major:
    * pixel (x, y) = clamp(floor(v[8y+x]·128) + 128, 0, 255). Real
    * ImageIO encoding — the bytes are a genuine PNG any decoder reads —
    * and exactly invertible: PNG is lossless and the luma of a gray
    * pixel is the pixel value, so [[luma8x8]] of this payload returns
    * the clamped integers themselves. */
  private[multimodal] def renderGray8x8(vec: Array[Double]): Array[Byte] = {
    require(vec.length >= 64, s"need >= 64 dims, got ${vec.length}")
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < 64) {
      val v = math.min(255, math.max(0, math.floor(vec(i) * 128.0).toInt + 128))
      img.setRGB(i % 8, i / 8, (v << 16) | (v << 8) | v)
      i += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Embeddings → a real PNG media table (media_id, payload), one
    * batched mapPartitions encode pass — the synthesized-image twin of
    * [[mediaFromDocuments]] that exercises the actual codec. */
  def mediaFromEmbeddings(emb: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) => (id, renderGray8x8(v)) })
      .toDF("media_id", "payload")
  }
}
