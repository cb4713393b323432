package graft.operators

import graft.Engine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column pipeline (SURVEY §7.5): media as opaque `binary`
  * payloads with a typed metadata struct, processed by batch-shaped
  * `mapPartitions` stages.
  *
  * Container HEADERS are parsed for real (pure JVM: PNG IHDR, JPEG
  * SOF0/SOF2, RIFF/WAVE fmt — see `sniffHeader`), so recognized payloads carry true
  * width/height (image) or sample-rate/channels (audio). The PIXEL/SAMPLE
  * decode kernel remains a DETERMINISTIC STUB — this sandbox has no
  * image/audio codecs, so `decodeBytes` fakes the content decode from the
  * payload bytes (byte-histogram "features"). Swap the stub body for
  * JNI/FFmpeg/libvips calls and nothing else changes: the schema
  * contract, per-partition batching, and partitioning strategy are the
  * real, tested plumbing.
  *
  * Scale notes (100 TB of media):
  *  - payloads never pass through a shuffle: every stage is map-only over
  *    the scan partitioning; metadata-only queries prune the payload
  *    column at the parquet reader (columnar projection);
  *  - `mapPartitions` amortizes decoder init (model load, codec context)
  *    across a partition — the same reason the PySpark world uses
  *    mapInPandas batches;
  *  - frame sampling explodes rows but NOT bytes (each pseudo-frame
  *    references a slice), keeping the explode factor's memory bounded.
  */
object Multimodal {

  /** Metadata struct carried beside every payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("modality", StringType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", IntegerType)))

  val featureDim = 16

  /** Documents table → multimodal frame: payload binary + metadata.
    * (Text bytes stand in for media bytes; `source` drives the modality.)
    */
  def payloads(s: SparkSession, dir: String): DataFrame = {
    val payload = col("text").cast(BinaryType)
    Engine.table(s, dir, "documents").select(
      col("doc_id"),
      payload.as("payload"),
      struct(
        when(col("source") === "web", "image").otherwise("audio").as("modality"),
        when(col("source") === "web", "image/png").otherwise("audio/wav").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        octet_length(payload).as("n_bytes")).as("meta"))
  }

  // === container header parsing (pure JVM, header-only) ====================
  // The decode stub graduated one notch (r12 verdict #8): payloads whose
  // bytes ARE a real container get their dimensions from a real header
  // parse — PNG IHDR (big-endian, spec §11.2.2), JPEG SOF0/SOF2 marker
  // scan (ITU T.81 §B.2.2), and RIFF/WAVE fmt chunk (little-endian) —
  // no external codecs involved, and header-only so the
  // kernel never materializes pixels/samples (the 100 TB-safe probe
  // shape: O(1) bytes inspected per payload). PIXEL/SAMPLE decode remains
  // the deterministic stub below.

  /** Parsed container header. Dimension semantics are per-container:
    * image → (width px, height px); audio → (sample_rate Hz, channels).
    */
  private[operators] final case class MediaHeader(
      container: String, dimA: Int, dimB: Int, bitDepth: Int)

  private def beInt(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xFF) << 24) | ((p(i + 1) & 0xFF) << 16) | ((p(i + 2) & 0xFF) << 8) | (p(i + 3) & 0xFF)
  private def leInt(p: Array[Byte], i: Int): Int =
    (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8) | ((p(i + 2) & 0xFF) << 16) | ((p(i + 3) & 0xFF) << 24)
  private def leShort(p: Array[Byte], i: Int): Int =
    (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8)
  private def ascii(p: Array[Byte], i: Int, s: String): Boolean =
    p.length >= i + s.length && s.indices.forall(j => (p(i + j) & 0xFF) == s.charAt(j))

  /** PNG: 8-byte signature, then the IHDR chunk (must be first): length,
    * "IHDR", width(4 BE), height(4 BE), bit depth, color type.
    */
  private[operators] def parsePngHeader(p: Array[Byte]): Option[MediaHeader] = {
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    if (p.length < 29 || !sig.indices.forall(i => (p(i) & 0xFF) == sig(i))) return None
    if (!ascii(p, 12, "IHDR")) return None
    val w = beInt(p, 16); val h = beInt(p, 20)
    if (w <= 0 || h <= 0) None
    else Some(MediaHeader("png", w, h, p(24) & 0xFF))
  }

  /** WAV: "RIFF" + size + "WAVE", then a chunk scan for "fmt " —
    * audio format, channels(2 LE), sample rate(4 LE), …, bits/sample.
    * Strict sanity bounds keep text bytes from ever sniffing as audio.
    */
  private[operators] def parseWavHeader(p: Array[Byte]): Option[MediaHeader] = {
    if (p.length < 44 || !ascii(p, 0, "RIFF") || !ascii(p, 8, "WAVE")) return None
    // LONG cursor: a malformed chunk size near Int.MaxValue would wrap
    // an Int cursor negative and index out of bounds instead of falling
    // off the end — this parser must safely sniff arbitrary bytes
    var i = 12L
    while (i + 8 <= p.length) {
      val at = i.toInt // safe: i < p.length <= Int.MaxValue here
      val size = leInt(p, at + 4)
      if (ascii(p, at, "fmt ") && size >= 16 && i + 8 + 16 <= p.length) {
        val fmt = leShort(p, at + 8)
        val channels = leShort(p, at + 10)
        val rate = leInt(p, at + 12)
        val bits = leShort(p, at + 22)
        return if ((fmt == 1 || fmt == 3) && channels >= 1 && channels <= 64 &&
          rate >= 8000 && rate <= 384000 && Set(8, 16, 24, 32, 64)(bits))
          Some(MediaHeader("wav", rate, channels, bits))
        else None
      }
      if (size < 0) return None
      i += 8L + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  /** JPEG: SOI, then a marker-segment scan for SOF0/SOF2 (baseline /
    * progressive frame headers, ITU T.81 §B.2.2): precision(1),
    * height(2 BE), width(2 BE). Standalone markers (TEM, RSTn, SOI)
    * carry no length; fill 0xFF bytes may pad any marker; the scan
    * stops at SOS/EOI — a frame header always precedes entropy data.
    * Long cursor for the same reason as the WAV scanner: a crafted
    * segment length must fall off the end, never wrap an Int index.
    */
  private[operators] def parseJpegHeader(p: Array[Byte]): Option[MediaHeader] = {
    if (p.length < 4 || (p(0) & 0xFF) != 0xFF || (p(1) & 0xFF) != 0xD8) return None
    var i = 2L
    while (i + 2 <= p.length) {
      if ((p(i.toInt) & 0xFF) != 0xFF) return None // desynced: not at a marker
      var m = i.toInt + 1
      while (m < p.length && (p(m) & 0xFF) == 0xFF) m += 1 // fill bytes
      if (m >= p.length) return None
      val marker = p(m) & 0xFF
      if (marker == 0xD8 || marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        i = m + 1L // standalone marker, no segment body
      } else if (marker == 0xD9 || marker == 0xDA) {
        return None // EOI / start-of-scan without a SOF0/SOF2 frame header
      } else {
        if (m + 3 > p.length) return None
        val len = ((p(m + 1) & 0xFF) << 8) | (p(m + 2) & 0xFF)
        if (len < 2) return None
        if (marker == 0xC0 || marker == 0xC2) {
          if (len < 8 || m + 8 > p.length) return None
          val precision = p(m + 3) & 0xFF
          val h = ((p(m + 4) & 0xFF) << 8) | (p(m + 5) & 0xFF)
          val w = ((p(m + 6) & 0xFF) << 8) | (p(m + 7) & 0xFF)
          return if (w >= 1 && h >= 1 && Set(8, 12, 16)(precision))
            Some(MediaHeader("jpeg", w, h, precision))
          else None
        }
        i = m + 1L + len
      }
    }
    None
  }

  private[operators] def sniffHeader(p: Array[Byte]): Option[MediaHeader] =
    parsePngHeader(p).orElse(parseJpegHeader(p)).orElse(parseWavHeader(p))

  /** Decode kernel: container dimensions from a REAL header parse when
    * the payload is a recognized container (see [[sniffHeader]]);
    * deterministic fallback dims for raw payloads (the testdata corpus,
    * whose text stand-ins are never valid containers — so the mm2
    * oracle's nb%1920 arithmetic holds there). Features = 16-bin byte
    * histogram (bin = high nibble) normalized to [0,1]; a real PIXEL
    * decode would replace the histogram loop only. Returns the raw
    * integer counts too — the digest is computed over them so the
    * DuckDB oracle can reproduce it without float-bit introspection.
    */
  private def decodeBytes(payload: Array[Byte]): (Int, Int, Array[Int], Array[Float]) = {
    val counts = new Array[Int](featureDim)
    payload.foreach(b => counts((b & 0xFF) / featureDim) += 1)
    val n = math.max(payload.length, 1).toFloat
    val (w, h) = sniffHeader(payload) match {
      case Some(mh) => (mh.dimA, mh.dimB)
      case None     => (payload.length % 1920, payload.length % 1080)
    }
    (w, h, counts, counts.map(_ / n))
  }

  private val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("modality", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", IntegerType),
    StructField("feat_md5", StringType),
    StructField("feat_min", DoubleType),
    StructField("feat_max", DoubleType),
    StructField("feat_mean", DoubleType)))

  /** Decode + feature-extract stage: batch-shaped mapPartitions so the
    * (stubbed) decoder context is initialized once per partition.
    *
    * The feature VECTOR stays internal to the stage; the query output is
    * its digest (md5 over the comma-joined integer histogram counts)
    * plus scalar stats — downstream-comparable columns instead of a raw
    * array<float> (which the driver's pandas compare cannot sort on).
    */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame =
    decodeFeaturesOf(payloads(s, dir))

  /** The decode stage over ANY payload frame with (doc_id, payload,
    * meta) columns — the spec entry for synthetic REAL container
    * payloads (the documents-table text stand-ins can't round-trip
    * binary through a string column).
    */
  def decodeFeaturesOf(in: DataFrame): DataFrame = {
    val out = in.select(col("doc_id"), col("payload"), col("meta.modality"), col("meta.n_bytes"))
      .mapPartitions { rows =>
        // decoder init happens HERE, once per partition (stub: nothing)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val (w, h, counts, feats) = decodeBytes(payload)
          md.reset()
          val digest = md.digest(counts.mkString(",").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          var min = Double.MaxValue; var max = Double.MinValue; var sum = 0.0
          feats.foreach { f => val d = f.toDouble; if (d < min) min = d; if (d > max) max = d; sum += d }
          Row(r.getAs[Long]("doc_id"), r.getAs[String]("modality"), w, h,
            r.getAs[Int]("n_bytes"), digest, min, max, sum / math.max(feats.length, 1))
        }
      }(RowEncoder.encoderFor(decodedSchema))
    out.orderBy(col("doc_id"))
  }

  /** Frame sampling for video-class payloads: every k-th byte-slice
    * becomes a pseudo-frame row (slice plumbing real, decode stubbed).
    */
  def sampleFrames(s: SparkSession, dir: String, everyN: Int = 64, maxFrames: Int = 8): DataFrame = {
    payloads(s, dir)
      .withColumn("frame_idx",
        explode(sequence(lit(0), least(lit(maxFrames - 1), (col("meta.n_bytes") / everyN).cast(IntegerType)))))
      .select(
        col("doc_id"), col("frame_idx"),
        (col("frame_idx") * everyN).as("frame_offset"),
        substring(col("payload"), col("frame_idx") * everyN + 1, lit(everyN)).as("frame_bytes"))
      // digest the hex rendering of the byte slice: hex is byte-aligned,
      // so hex(substring(bytes)) == substring(hex(bytes)) and the DuckDB
      // oracle (no BLOB substring) can mirror the digest exactly; the
      // Spark-side slice plumbing stays genuinely binary
      .withColumn("frame_md5", md5(hex(col("frame_bytes"))))
      .drop("frame_bytes")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Metadata-only stats — must never touch the payload column (verified
    * by plan inspection in MultimodalSpec: payload is pruned at the scan).
    */
  def metaStats(s: SparkSession, dir: String): DataFrame =
    payloads(s, dir)
      .groupBy(col("meta.modality").as("modality"))
      .agg(count(lit(1)).as("n"),
        sum(col("meta.n_bytes")).as("total_bytes"),
        max(col("meta.n_bytes")).cast(LongType).as("max_bytes"))
      .orderBy(col("modality"))

  val metaStatsSql: String =
    """SELECT CASE WHEN source = 'web' THEN 'image' ELSE 'audio' END AS modality,
      | COUNT(*) AS n,
      | CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      | CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** mm5: exact payload dedup map — every group of byte-identical media
    * payloads keyed by md5 digest, with its copy count and the lowest
    * doc_id as group representative (the media twin of dd1: the first
    * dedup pass any multimodal corpus runs, since byte-identical assets
    * are the dominant duplicate class in web crawls; a keep-list is a
    * semi join of this map back to the corpus). The digest is computed
    * AT THE SCAN (map-only); only the 32-hex digest and two longs
    * shuffle — payload bytes never cross the wire, the same
    * no-payload-shuffle invariant mm4 pins. The oracle hashes the text
    * form directly (DuckDB's md5 is VARCHAR-only) — identical UTF-8
    * bytes, identical digest.
    */
  def payloadDedup(s: SparkSession, dir: String): DataFrame =
    payloads(s, dir)
      .select(col("doc_id"), md5(col("payload")).as("payload_md5"),
        col("meta.n_bytes").as("n_bytes"))
      .groupBy(col("payload_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"),
        max(col("n_bytes")).cast(LongType).as("n_bytes"))
      .select(col("payload_md5"), col("n_copies").cast(LongType).as("n_copies"),
        col("keep_doc_id"), col("n_bytes"))
      .orderBy(col("payload_md5"))

  val payloadDedupSql: String =
    """SELECT md5(text) AS payload_md5,
      | CAST(COUNT(*) AS BIGINT) AS n_copies,
      | MIN(doc_id) AS keep_doc_id,
      | CAST(MAX(octet_length(encode(text))) AS BIGINT) AS n_bytes
      |FROM documents GROUP BY 1
      |ORDER BY payload_md5""".stripMargin

  // === mm6: aligned-block near-dup (CDC-lite) ==============================
  /** Near-duplicate payload pairs by shared aligned 64-byte block
    * digests — the content-defined-chunking dedup a media lake runs,
    * simplified to fixed alignment (a real CDC swaps the splitter, the
    * join is identical). Candidates come from an inverted-index join
    * on block digests (the dd2 shape applied to binary): from the
    * digest step on, only (digest, doc_id, n_blocks) ever shuffles.
    * The payload-bytes-stay-at-the-scan invariant (mm4/mm5's) holds at
    * deployment scale, where the scan has ≥ shuffle-width splits and
    * Par.fanOut is the identity; on a SINGLE-split bench file fanOut
    * deliberately pays one payload exchange to buy width-way digest
    * parallelism — the one scale where that exchange is cheap.
    * Containment = shared blocks over the smaller payload's block
    * count, the asymmetric score that catches embedded copies.
    */
  def blockNearDup(s: SparkSession, dir: String, blockSize: Int = 64): DataFrame = {
    val base = payloads(s, dir).filter(col("meta.n_bytes") > 0)
      .select(col("doc_id"), col("payload"), col("meta.n_bytes").as("nb"))
    val blocks = graft.operators.Par.fanOut(base)
      .withColumn("b", explode(sequence(lit(0), ((col("nb") - 1) / blockSize).cast(IntegerType))))
      .select(col("doc_id"),
        ((col("nb") + (blockSize - 1)) / blockSize).cast(LongType).as("n_blocks"),
        // hex is byte-aligned: hex(substring(bytes)) == substring(hex(bytes)),
        // so the DuckDB oracle mirrors the digest without BLOB substring
        md5(hex(substring(col("payload"), col("b") * blockSize + 1, lit(blockSize))))
          .as("digest"))
      .distinct()
    val pinned = blocks // pinned exchange: the digest join fans out
      .repartition(graft.operators.Par.shuffleWidth(base), col("digest"))
    val aSide = pinned.select(col("doc_id").as("doc_a"), col("n_blocks").as("nb_a"), col("digest"))
    val bSide = pinned.select(col("doc_id").as("doc_b"), col("n_blocks").as("nb_b"), col("digest"))
    aSide.join(bSide, "digest")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("nb_a")).as("nb_a"), max(col("nb_b")).as("nb_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast(DoubleType) /
          least(col("nb_a"), col("nb_b")).cast(DoubleType)).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val blockNearDupSql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS hp, octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |blocks AS (
      |  SELECT DISTINCT doc_id, CAST((nb + 63) // 64 AS BIGINT) AS n_blocks,
      |    md5(substring(hp, CAST(bi * 128 + 1 AS INTEGER), 128)) AS digest
      |  FROM (SELECT doc_id, hp, nb, UNNEST(generate_series(0, (nb - 1) // 64)) AS bi
      |        FROM b)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
      |    a.n_blocks AS nb_a, bb.n_blocks AS nb_b
      |  FROM blocks a JOIN blocks bb ON a.digest = bb.digest AND a.doc_id < bb.doc_id)
      |SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(LEAST(MAX(nb_a), MAX(nb_b)) AS DOUBLE) AS containment
      |FROM pairs GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin

  /** mm3 oracle: the frame-sampling slice plumbing is pure byte
    * arithmetic, so DuckDB mirrors it exactly over encode(text) blobs.
    */
  val sampleFramesSql: String =
    """SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
      | CAST(f * 64 AS INTEGER) AS frame_offset,
      | md5(substring(hex_payload, CAST(f * 128 + 1 AS INTEGER), 128)) AS frame_md5
      |FROM (
      |  SELECT doc_id, hex_payload, nb,
      |         UNNEST(generate_series(0, least(7, nb // 64))) AS f
      |  FROM (SELECT doc_id, hex(encode(text)) AS hex_payload,
      |               octet_length(encode(text)) AS nb FROM documents) b) t
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** mm2 oracle: the stub decode is pure byte arithmetic — the 16-bin
    * histogram bin of a byte is its HIGH NIBBLE, i.e. the first hex char
    * of each hex(payload) pair, so DuckDB rebuilds the counts by
    * exploding byte positions and the normalized features as
    * REAL-division (IEEE float32, same op as the Scala Float divide).
    * The digest hashes the comma-joined integer counts on both engines.
    */
  val decodeFeaturesSql: String = {
    val fi = (i: Int) => s"CAST(CAST(cs[$i] AS REAL) / CAST(greatest(nb, 1) AS REAL) AS DOUBLE)"
    val sum16 = (1 to featureDim).map(fi).mkString(" + ")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CASE WHEN source = 'web' THEN 'image' ELSE 'audio' END AS modality,
       |    hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS nb
       |  FROM documents),
       |by_pos AS (SELECT doc_id, UNNEST(generate_series(1, nb)) AS i FROM b),
       |nib AS (
       |  SELECT by_pos.doc_id,
       |    strpos('0123456789ABCDEF', substring(b.hx, 2 * by_pos.i - 1, 1)) - 1 AS h
       |  FROM by_pos JOIN b USING (doc_id)),
       |cnt AS (SELECT doc_id, h, COUNT(*) AS c FROM nib GROUP BY 1, 2),
       |grid AS (SELECT b.doc_id, g.h
       |         FROM b, (SELECT UNNEST(generate_series(0, ${featureDim - 1})) AS h) g),
       |feats AS (
       |  SELECT grid.doc_id, list(CAST(COALESCE(cnt.c, 0) AS BIGINT) ORDER BY grid.h) AS cs
       |  FROM grid LEFT JOIN cnt ON cnt.doc_id = grid.doc_id AND cnt.h = grid.h
       |  GROUP BY 1)
       |SELECT b.doc_id, b.modality,
       |  CAST(b.nb % 1920 AS INTEGER) AS width,
       |  CAST(b.nb % 1080 AS INTEGER) AS height,
       |  CAST(b.nb AS INTEGER) AS n_bytes,
       |  md5(array_to_string(cs, ',')) AS feat_md5,
       |  CAST(list_min(list_transform(cs, x ->
       |    CAST(x AS REAL) / CAST(greatest(nb, 1) AS REAL))) AS DOUBLE) AS feat_min,
       |  CAST(list_max(list_transform(cs, x ->
       |    CAST(x AS REAL) / CAST(greatest(nb, 1) AS REAL))) AS DOUBLE) AS feat_max,
       |  ($sum16) / $featureDim AS feat_mean
       |FROM b JOIN feats USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("mm2_decode_features", decodeFeatures _, decodeFeaturesSql),
    Op("mm3_frame_sample", sampleFrames(_, _), sampleFramesSql),
    Op("mm5_payload_dedup", payloadDedup _, payloadDedupSql),
    Op("mm6_block_neardup", blockNearDup(_, _), blockNearDupSql),
    Op("mm4_meta_stats", metaStats _, metaStatsSql))
}
