package graft.llmops

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Multimodal (image/audio/video) columns as opaque `binary` payloads
  * with typed metadata — the Spark-side plumbing a 100 TB training-data
  * pipeline needs. Real codecs are NOT available in this environment,
  * so content uses a deterministic fake container ("GRFT v1", below)
  * and [[MediaCodec.Fake]] stands where a JNI/FFI decoder would plug
  * in; everything around it — schema, header parsing as codegen'd
  * binary expressions, per-frame explode, partition-parallel decode
  * via mapPartitions — is real and oracle-checked.
  *
  * GRFT v1 container layout (bytes, 1-based):
  *   1-4   magic "GRFT"
  *   5     kind: 1=image 2=audio 3=video
  *   6-7   width  (big-endian u16; sample-rate/100 for audio)
  *   8-9   height (big-endian u16; channels for audio)
  *   10-11 n_frames (big-endian u16; 1 for images)
  *   12-   payload: n_frames × FrameSize bytes (md5-chain derived)
  *
  * Scale posture: header parsing and frame sampling are pure column
  * expressions over the binary (no decode, columnar-pruned — reading
  * metadata never touches payload bytes beyond the scan itself);
  * decode is per-row, embarrassingly parallel, and batched per
  * partition. Fixture lives at [[MediaPath]] (committed, seed-derived).
  */
object MultimodalOps {

  /** Resolved via the shared configurable fixture root (see
    * [[graft.sources.GenFixtures.FixturesRoot]]). */
  val MediaPath = s"${graft.sources.GenFixtures.FixturesRoot}/media.parquet"
  val FrameSize = 64
  val HeaderLen = 11

  private val mediaSql = s"read_parquet('$MediaPath')"

  // ------------------------------------------------------ fixture build

  /** Big-endian u16 as 4 hex chars. */
  private def hex4(c: Column): Column = lpad(hex(c.cast("int")), 4, "0")

  /** Deterministic media table: kinds cycle image/audio/video, sizes
    * derive from media_id, payload bytes are a chained-md5 stream —
    * generated fully distributed (spark.range + column exprs). */
  def generate(s: SparkSession, n: Long, seed: Long): DataFrame = {
    val kind = (pmod(col("media_id"), lit(3L)) + 1).cast("int")
    val width = (lit(16) + pmod(col("media_id") * 7, lit(624))).cast("int")
    val height = (lit(16) + pmod(col("media_id") * 13, lit(464))).cast("int")
    val nFrames = when(col("kind") === 1, lit(1))
      .when(col("kind") === 2, (pmod(col("media_id"), lit(50)) + 10).cast("int"))
      .otherwise((pmod(col("media_id"), lit(24)) + 8).cast("int"))
    val payloadLen = col("n_frames") * FrameSize
    val nBlocks = floor((payloadLen + 15) / 16).cast("int") // 16 payload bytes per md5 block
    val payloadHex = array_join(transform(sequence(lit(0), nBlocks - 1),
      j => md5(concat_ws("-", lit(seed), col("media_id"), j))), "")
    val headerHex = concat(
      lit("47524654"), // "GRFT"
      lpad(hex(col("kind")), 2, "0"),
      hex4(col("width")), hex4(col("height")), hex4(col("n_frames")))
    s.range(1, n + 1).toDF("media_id")
      .withColumn("kind", kind)
      .withColumn("width", width)
      .withColumn("height", height)
      .withColumn("n_frames", nFrames)
      .withColumn("content",
        unhex(concat(headerHex, substring(payloadHex, lit(1), payloadLen * 2))))
      // metadata struct travels WITH the row; content stays opaque
      .select(col("media_id"),
        when(col("kind") === 1, "image").when(col("kind") === 2, "audio")
          .otherwise("video").as("media_type"),
        struct(col("width"), col("height"), col("n_frames"),
          (col("n_frames") * FrameSize + HeaderLen).cast("long").as("n_bytes")).as("meta"),
        col("content"))
  }

  // ----------------------------------------------- q45 header metadata

  /** TRUE iff the binary is a parseable GRFT container: the full
    * [[HeaderLen]]-byte header is present and the magic matches.
    * Foreign/truncated blobs fail the gate and are EXCLUDED — the
    * production quarantine rule, pinned identically in both engines
    * (unguarded, Spark computes garbage header fields from short
    * binaries and DuckDB errors casting the empty hex slice). */
  private def validHeader(bin: Column): Column =
    (octet_length(bin) >= HeaderLen) && (substring(hex(bin), 1, 8) === "47524654")
  private val validHeaderSql =
    s"octet_length(content) >= $HeaderLen AND substring(hex(content), 1, 8) = '47524654'"

  /** COMPLETE frames/windows actually present in the payload (valid
    * header assumed). Declared n_frames is capped to this everywhere a
    * frame is sliced, so a truncated file degrades to its intact
    * prefix instead of slicing garbage bytes. */
  private def fullFrames(bin: Column): Column =
    floor((octet_length(bin).cast("long") - HeaderLen) / lit(FrameSize)).cast("long")
  private val fullFramesSql =
    s"(octet_length(content) - $HeaderLen) // $FrameSize"

  /** Big-endian u16 at 1-based byte offset `off` of a binary column. */
  private def beU16(bin: Column, off: Int): Column =
    conv(hex(substring(bin, off, 2)), 16, 10).cast("long")
  /** DuckDB cannot substring a BLOB; hex the blob once and slice the
    * hex string (byte k, 1-based → hex chars 2k-1..2k). */
  private def beU16Sql(off: Int): String =
    s"CAST(('0x' || substring(hex(content), ${2 * off - 1}, 4))::INT AS BIGINT)"

  /** q45: metadata profile per media type, parsed FROM THE BINARY
    * header (not the meta struct) — the "decode metadata without
    * decoding payload" path. Integer sums + final division only. */
  def q45MediaMeta(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, MediaPath)
      .filter(validHeader(col("content")))
      .select(col("media_type"),
        beU16(col("content"), 6).as("w"),
        beU16(col("content"), 8).as("h"),
        beU16(col("content"), 10).as("f"),
        octet_length(col("content")).cast("long").as("bytes"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n"),
        sum("bytes").as("total_bytes"),
        (sum("w").cast("double") / count(lit(1))).as("media_largura"),
        (sum("h").cast("double") / count(lit(1))).as("media_altura"),
        sum("f").as("total_frames"))
      .orderBy("media_type")

  val q45Sql: String =
    s"""SELECT media_type, count(*) AS n,
       |  CAST(sum(octet_length(content)) AS BIGINT) AS total_bytes,
       |  CAST(sum(${beU16Sql(6)}) AS DOUBLE) / count(*) AS media_largura,
       |  CAST(sum(${beU16Sql(8)}) AS DOUBLE) / count(*) AS media_altura,
       |  CAST(sum(${beU16Sql(10)}) AS BIGINT) AS total_frames
       |FROM $mediaSql WHERE $validHeaderSql
       |GROUP BY media_type ORDER BY media_type""".stripMargin

  // ----------------------------------------------- q46 frame sampling

  val SampleEvery = 4

  /** q46: video frame sampling — every 4th frame, sliced straight out
    * of the binary (substring, zero decode), with a per-frame
    * first/last byte fingerprint. The explode multiplies rows, never
    * bytes-per-row; at scale this is the map-side prep for a frame
    * feature-extraction stage. */
  def q46FrameSample(s: SparkSession, dir: String): DataFrame = {
    val ef = least(beU16(col("content"), 10), fullFrames(col("content")))
    Tables.read(s, MediaPath).filter(col("media_type") === "video" && validHeader(col("content")))
      .filter(ef > 0)
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), ((ef - 1) / SampleEvery).cast("int"))).as("s_i"))
      .select(col("media_id"), (col("s_i") * SampleEvery).as("frame_no"),
        expr(s"substring(content, ${HeaderLen + 1} + s_i * $SampleEvery * $FrameSize, " +
          s"$FrameSize)").as("frame"))
      .select(col("media_id"), col("frame_no"),
        octet_length(col("frame")).cast("long").as("frame_bytes"),
        conv(hex(substring(col("frame"), 1, 1)), 16, 10).cast("long").as("first_byte"),
        conv(hex(substring(col("frame"), FrameSize, 1)), 16, 10).cast("long").as("last_byte"))
      .orderBy("media_id", "frame_no")
  }

  val q46Sql: String =
    s"""WITH v AS (
       |  SELECT media_id, hex(content) AS hx,
       |    least(${beU16Sql(10)}, $fullFramesSql) AS ef
       |  FROM $mediaSql WHERE media_type = 'video' AND $validHeaderSql
       |), idx AS (
       |  SELECT media_id, hx, unnest(range(0, (ef - 1) // $SampleEvery + 1)) AS s_i
       |  FROM v WHERE ef > 0
       |), fr AS (
       |  SELECT media_id, s_i * $SampleEvery AS frame_no,
       |    substring(hx, CAST(${2 * HeaderLen} + s_i * $SampleEvery * ${2 * FrameSize} + 1 AS INT),
       |      ${2 * FrameSize}) AS fhx
       |  FROM idx
       |)
       |SELECT media_id, frame_no,
       |  CAST(length(fhx) / 2 AS BIGINT) AS frame_bytes,
       |  CAST(('0x' || substring(fhx, 1, 2))::INT AS BIGINT) AS first_byte,
       |  CAST(('0x' || substring(fhx, ${2 * FrameSize - 1}, 2))::INT AS BIGINT) AS last_byte
       |FROM fr ORDER BY media_id, frame_no""".stripMargin

  // ---------------------------------------------- q54 frame features

  /** q54: per-frame FEATURE EXTRACTION without a codec — byte-level
    * statistics (mean/min/max) of every sampled frame, computed as
    * pure column expressions (explode over byte positions + integer
    * aggregation; one final division). This is the map-side prep shape
    * a real feature extractor consumes: rows multiply per sampled
    * frame and byte, bytes-per-row never do, and the whole pipeline
    * stays inside whole-stage codegen. */
  def q54FrameFeatures(s: SparkSession, dir: String): DataFrame = {
    val ef = least(beU16(col("content"), 10), fullFrames(col("content")))
    Tables.read(s, MediaPath).filter(col("media_type") === "video" && validHeader(col("content")))
      .filter(ef > 0)
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), ((ef - 1) / SampleEvery).cast("int"))).as("s_i"))
      .select(col("media_id"), (col("s_i") * SampleEvery).as("frame_no"),
        expr(s"substring(content, ${HeaderLen + 1} + s_i * $SampleEvery * $FrameSize, " +
          s"$FrameSize)").as("frame"))
      .select(col("media_id"), col("frame_no"), col("frame"),
        explode(sequence(lit(1), lit(FrameSize))).as("i"))
      .withColumn("b", conv(hex(expr("substring(frame, i, 1)")), 16, 10).cast("long"))
      .groupBy("media_id", "frame_no")
      .agg((sum("b").cast("double") / FrameSize).as("mean_byte"),
        min("b").as("min_byte"), max("b").as("max_byte"))
      .orderBy("media_id", "frame_no")
  }

  val q54Sql: String =
    s"""WITH v AS (
       |  SELECT media_id, hex(content) AS hx,
       |    least(${beU16Sql(10)}, $fullFramesSql) AS ef
       |  FROM $mediaSql WHERE media_type = 'video' AND $validHeaderSql
       |), idx AS (
       |  SELECT media_id, hx, unnest(range(0, (ef - 1) // $SampleEvery + 1)) AS s_i
       |  FROM v WHERE ef > 0
       |), fr AS (
       |  SELECT media_id, s_i * $SampleEvery AS frame_no,
       |    substring(hx, CAST(${2 * HeaderLen} + s_i * $SampleEvery * ${2 * FrameSize} + 1 AS INT),
       |      ${2 * FrameSize}) AS fhx
       |  FROM idx
       |), bytes AS (
       |  SELECT media_id, frame_no,
       |    unnest([('0x' || substring(fhx, 2 * i + 1, 2))::INT for i in range(0, $FrameSize)]) AS b
       |  FROM fr
       |)
       |SELECT media_id, frame_no,
       |  CAST(sum(b) AS DOUBLE) / $FrameSize AS mean_byte,
       |  CAST(min(b) AS BIGINT) AS min_byte,
       |  CAST(max(b) AS BIGINT) AS max_byte
       |FROM bytes GROUP BY media_id, frame_no ORDER BY media_id, frame_no""".stripMargin

  // ------------------------------------------------ q66 scene cuts

  /** Byte-sum delta between adjacent frames that flags a scene cut. */
  val CutDelta = 800L

  /** q66: scene-change detection per video — adjacent-frame byte-sum
    * deltas (the cheap luminance-delta heuristic of a real
    * frame-sampling pipeline, over EVERY frame, not the q46 sample),
    * flagged against a fixed threshold and summarized per video. The
    * temporal member of the multimodal family: q45 reads headers, q46
    * samples, q54 extracts per-frame features, this one compares
    * frames ALONG TIME.
    *
    * Scale shape: frames explode per video (rows multiply, bytes per
    * row never do), the per-frame byte sum is an integer aggregation,
    * and the lag window partitions by media_id — a video's frame count
    * is bounded by its duration, so no partition degenerates. All
    * comparisons are on exact integer sums: engine-identical. */
  def q66SceneCuts(s: SparkSession, dir: String): DataFrame = {
    val ef = least(beU16(col("content"), 10), fullFrames(col("content")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_no")
    Tables.read(s, MediaPath).filter(col("media_type") === "video" && validHeader(col("content")))
      .filter(ef > 0)
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), (ef - 1).cast("int"))).as("frame_no"))
      .select(col("media_id"), col("frame_no"),
        expr(s"substring(content, ${HeaderLen + 1} + frame_no * $FrameSize, $FrameSize)")
          .as("frame"))
      .select(col("media_id"), col("frame_no"), col("frame"),
        explode(sequence(lit(1), lit(FrameSize))).as("i"))
      .withColumn("b", conv(hex(expr("substring(frame, i, 1)")), 16, 10).cast("long"))
      .groupBy("media_id", "frame_no").agg(sum("b").as("bsum"))
      .withColumn("delta", abs(col("bsum") - lag("bsum", 1).over(w)))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("delta") >= CutDelta, 1L).otherwise(0L)).as("n_cuts"),
        coalesce(max("delta"), lit(0L)).as("max_delta"))
      .orderBy("media_id")
  }

  val q66Sql: String =
    s"""WITH v AS (
       |  SELECT media_id, hex(content) AS hx,
       |    least(${beU16Sql(10)}, $fullFramesSql) AS ef
       |  FROM $mediaSql WHERE media_type = 'video' AND $validHeaderSql
       |), fr AS (
       |  SELECT media_id, unnest(range(0, ef)) AS frame_no, hx FROM v
       |), sums AS (
       |  SELECT media_id, frame_no,
       |    list_sum([('0x' || substring(hx,
       |        CAST(${2 * HeaderLen} + frame_no * ${2 * FrameSize} + 2 * i + 1 AS INT),
       |        2))::INT
       |      for i in range(0, $FrameSize)]) AS bsum
       |  FROM fr
       |), deltas AS (
       |  SELECT media_id, frame_no, bsum,
       |    abs(bsum - lag(bsum) OVER (PARTITION BY media_id ORDER BY frame_no)) AS delta
       |  FROM sums
       |)
       |SELECT media_id, count(*) AS n_frames,
       |  CAST(sum(CASE WHEN delta >= $CutDelta THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       |  CAST(coalesce(max(delta), 0) AS BIGINT) AS max_delta
       |FROM deltas GROUP BY media_id ORDER BY media_id""".stripMargin

  // ------------------------------------------- decode (stub boundary)

  /** Decoded-media features (what a real codec would yield). */
  final case class MediaFeatures(
      mediaId: Long, mediaType: String, width: Int, height: Int,
      nFrames: Int, payloadBytes: Long, meanByte: Double)

  /** The codec seam. A production deployment binds a real
    * image/audio/video library here (per-partition init, batch decode);
    * this container only ships [[Fake]], which parses the GRFT header
    * and computes payload statistics — deterministic and cheap, but
    * with the exact call shape a real decoder needs. */
  trait MediaCodec extends Serializable {
    def decode(mediaId: Long, content: Array[Byte]): MediaFeatures
  }

  object MediaCodec {
    /** Deterministic stand-in for the real decoder (see trait doc). */
    object Fake extends MediaCodec {
      private def u16(b: Array[Byte], off0: Int): Int =
        ((b(off0) & 0xff) << 8) | (b(off0 + 1) & 0xff)
      def decode(mediaId: Long, content: Array[Byte]): MediaFeatures = {
        require(content.length >= HeaderLen &&
          new String(content.take(4), "US-ASCII") == "GRFT", s"bad magic for $mediaId")
        val kind = content(4) & 0xff
        val payload = content.drop(HeaderLen)
        MediaFeatures(
          mediaId,
          kind match { case 1 => "image"; case 2 => "audio"; case _ => "video" },
          u16(content, 5), u16(content, 7), u16(content, 9),
          payload.length.toLong,
          if (payload.isEmpty) 0.0
          else payload.map(b => (b & 0xff).toLong).sum.toDouble / payload.length)
      }
    }
  }

  /** Distributed decode: one codec instance per partition (the real-
    * codec init cost amortizes over the partition's rows), rows decoded
    * in a streaming iterator — never materialized per-partition. */
  def decodeAll(media: DataFrame, codec: MediaCodec = MediaCodec.Fake): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows => rows.map { case (id, bytes) => codec.decode(id, bytes) } }
      .toDF()
  }

  // ----------------------------------------- q85 audio energy / VAD

  /** Analysis-window size in samples (one container frame) and the
    * voiced-energy cut. The fixture's pseudorandom bytes give
    * per-window Σ(b−128)² ≈ 349 600 ± 39 000 (uniform-byte moments),
    * so the threshold at the mean splits windows into both classes at
    * every SF — the segmentation logic is exercised, not
    * degenerate. */
  val AudioWin: Int = FrameSize
  val VadThreshold = 350000L

  /** q85: audio energy profile + VAD-style segmentation — the audio
    * sibling of q54/q66 (the third modality's per-window feature op):
    * per analysis window of [[AudioWin]] samples, energy = Σ(b−128)²
    * (integer-exact in both engines); a window is "voiced" above
    * [[VadThreshold]]; contiguous voiced runs are segments (the
    * lag-based run-start count, q22's discipline on window index
    * instead of time). Emits per-file window/voiced/segment counts and
    * total energy — what a speech-data curation pass keeps per clip.
    *
    * Scale shape: window energy is a codegen'd [[graft.functions
    * .ByteWindowEnergy]] slice loop — ONE row per 64-byte window
    * straight off the frame explode (the TokenPolyHash move; round-5
    * verdict #2 — the prior per-byte explode multiplied window rows
    * ×64 through an extra (media_id, w_i) aggregation exchange, the
    * bit-identical twin [[audioEnergyExplodeOf]] keeps that shape
    * spec-checkable). One media_id exchange total: the run-length
    * window provides it and the final aggregation reuses it; the
    * window sorts ≤65 535 window rows per file. The frame explode is
    * gated on nf > 0 — `sequence` DESCENDS when start > stop, so a
    * corrupt/foreign container declaring n_frames = 0 would otherwise
    * yield phantom [0, −1] windows; with the gate it degrades to zero
    * rows exactly like the oracle's empty `range(0, nf)`. */
  def q85AudioEnergy(s: SparkSession, dir: String): DataFrame =
    audioEnergyOf(Tables.read(s, MediaPath).filter(col("media_type") === "audio"))

  /** The per-window energy/voiced/run-start frame both q85 and q249
    * consume — the Spark twin of [[audioSegSqlCte]]: gate on a valid
    * header with ≥ 1 full window, one row per (media_id, w_i) with
    * the codegen'd window energy, the VAD verdict, and the run-start
    * flag (voiced with a non-voiced predecessor). */
  private def voicedWindowsOf(audio: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ef = least(beU16(col("content"), 10), fullFrames(col("content")))
    val wE = Window.partitionBy("media_id").orderBy("w_i")
    audio
      .filter(validHeader(col("content")) && ef > 0)
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), (ef - 1).cast("int"))).as("w_0"))
      .select(col("media_id"), col("w_0").cast("long").as("w_i"),
        graft.functions.MediaExprs.winEnergy(col("content"),
          lit(HeaderLen) + col("w_0") * AudioWin, lit(AudioWin)).as("e"))
      .withColumn("voiced", col("e") > VadThreshold)
      .withColumn("newseg", col("voiced") &&
        !coalesce(lag(col("voiced"), 1).over(wE), lit(false)))
  }

  /** q85's core over any (media_id, content) audio frame, factored so
    * specs can feed crafted containers (nf = 0, truncated payloads). */
  def audioEnergyOf(audio: DataFrame): DataFrame =
    voicedWindowsOf(audio)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(col("voiced").cast("long")).as("n_voiced"),
        sum(col("newseg").cast("long")).as("n_segments"),
        sum("e").as("energy_total"))
      .orderBy("media_id")

  /** The replaced per-byte explode formulation — kept as q85's
    * certification twin (bit-identity with [[audioEnergyOf]] is
    * spec-asserted; it also carries the original 64-rows-per-window
    * shape the Scaladoc above contrasts against). */
  def audioEnergyExplodeOf(audio: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ef = least(beU16(col("content"), 10), fullFrames(col("content")))
    val wE = Window.partitionBy("media_id").orderBy("w_i")
    audio
      .filter(validHeader(col("content")) && ef > 0)
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), (ef - 1).cast("int"))).as("w_i"))
      .select(col("media_id"), col("w_i"),
        expr(s"substring(content, ${HeaderLen + 1} + w_i * $AudioWin, $AudioWin)")
          .as("win"))
      .select(col("media_id"), col("w_i"), col("win"),
        explode(sequence(lit(1), lit(AudioWin))).as("i"))
      .withColumn("d",
        conv(hex(expr("substring(win, i, 1)")), 16, 10).cast("long") - 128)
      .groupBy("media_id", "w_i")
      .agg(sum(col("d") * col("d")).as("e"))
      .withColumn("voiced", col("e") > VadThreshold)
      .withColumn("newseg", col("voiced") &&
        !coalesce(lag(col("voiced"), 1).over(wE), lit(false)))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(col("voiced").cast("long")).as("n_voiced"),
        sum(col("newseg").cast("long")).as("n_segments"),
        sum("e").as("energy_total"))
      .orderBy("media_id")
  }

  /** The q85 per-window energy/voiced/newseg CTE chain (ends at
    * `seg`), shared with q249's per-segment extraction. */
  private val audioSegSqlCte: String =
    s"""a AS (
       |  SELECT media_id, hex(content) AS hx,
       |    least(${beU16Sql(10)}, $fullFramesSql) AS ef
       |  FROM $mediaSql WHERE media_type = 'audio' AND $validHeaderSql
       |), w AS (
       |  SELECT media_id, CAST(unnest(range(0, ef)) AS BIGINT) AS w_i, hx FROM a
       |), b AS (
       |  SELECT media_id, w_i,
       |    unnest([('0x' || substring(hx,
       |        CAST(${2 * HeaderLen} + w_i * ${2 * AudioWin} + 2 * i + 1 AS INT),
       |        2))::INT - 128
       |      for i in range(0, $AudioWin)]) AS d
       |  FROM w
       |), e AS (
       |  SELECT media_id, w_i, CAST(sum(d * d) AS BIGINT) AS e
       |  FROM b GROUP BY media_id, w_i
       |), seg AS (
       |  SELECT media_id, w_i, e, e > $VadThreshold AS voiced,
       |    (e > $VadThreshold AND NOT coalesce(
       |       lag(e > $VadThreshold) OVER (PARTITION BY media_id ORDER BY w_i),
       |       false)) AS newseg
       |  FROM e
       |)""".stripMargin

  val q85Sql: String =
    s"""WITH $audioSegSqlCte
       |SELECT media_id, count(*) AS n_windows,
       |  CAST(count(*) FILTER (voiced) AS BIGINT) AS n_voiced,
       |  CAST(count(*) FILTER (newseg) AS BIGINT) AS n_segments,
       |  CAST(sum(e) AS BIGINT) AS energy_total
       |FROM seg GROUP BY media_id ORDER BY media_id""".stripMargin

  // ---------------------------------------- q249 audio segment table

  /** Minimum voiced run length (windows) for an emitted segment. */
  val MinSegWin = 2

  /** q249: VOICED-SEGMENT EXTRACTION — q85 counts segments per clip;
    * this EMITS them: one row per maximal voiced run (the
    * gaps-and-islands read over the per-window energy), with start/
    * end window, width, and integer-exact energy mass, dropping
    * blips shorter than [[MinSegWin]] windows. This is the audio
    * half of a speech-data pipeline's clip→utterance splitter: the
    * segment table is what a downstream ASR/embedding stage consumes,
    * where q85's counts only monitor.
    *
    * The island id is the classic running sum of run-start flags
    * (newseg) over the per-clip window order — a per-clip window
    * function whose partition width is bounded by frames-per-clip
    * (≤ 2¹⁶ by the container header), NOT by corpus size, so the
    * window never concentrates; the groupBy behind it partial-
    * aggregates. Energy stays BIGINT end to end (the q85 integer
    * discipline), so segment masses are bit-equal cross-engine. */
  def q249AudioSegments(s: SparkSession, dir: String): DataFrame =
    audioSegmentsOf(Tables.read(s, MediaPath).filter(col("media_type") === "audio"))

  /** q249's core over any (media_id, content) audio frame — factored
    * so specs can feed crafted containers (all-silent, single-window
    * blips, truncated payloads). */
  private[graft] def audioSegmentsOf(audio: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wE = Window.partitionBy("media_id").orderBy("w_i")
    voicedWindowsOf(audio)
      .withColumn("seg_idx", sum(col("newseg").cast("long")).over(
        wE.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("voiced"))
      .groupBy("media_id", "seg_idx")
      .agg(min("w_i").as("start_w"), max("w_i").as("end_w"),
        count(lit(1)).as("n_windows"), sum("e").as("energy"))
      .filter(col("n_windows") >= MinSegWin)
      .orderBy("media_id", "seg_idx")
  }

  val q249Sql: String =
    s"""WITH $audioSegSqlCte,
       |s2 AS (
       |  SELECT media_id, w_i, e, voiced,
       |    CAST(sum(CASE WHEN newseg THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY media_id ORDER BY w_i) AS BIGINT) AS seg_idx
       |  FROM seg
       |)
       |SELECT media_id, seg_idx, min(w_i) AS start_w, max(w_i) AS end_w,
       |  count(*) AS n_windows, CAST(sum(e) AS BIGINT) AS energy
       |FROM s2 WHERE voiced
       |GROUP BY 1, 2 HAVING count(*) >= $MinSegWin
       |ORDER BY media_id, seg_idx""".stripMargin

  // ------------------------------------------- q86 image resize

  /** Image-grid geometry: the image payload is [[FrameSize]] bytes
    * viewed as an ImgSide×ImgSide grayscale grid; resize is a 2×2
    * box-filter downsample to ThumbSide×ThumbSide (floor-average —
    * integer-exact in both engines). */
  val ImgSide = 8
  val ThumbSide = 4

  /** q86: image resize (thumbnail) — the remaining named multimodal
    * op (decode / feature-extract / RESIZE / frame-sample): a 2×2
    * box-filter downsample over the decoded pixel grid, emitted as
    * (media_id, ty, tx, v) thumbnail pixels. The kernel reads each
    * source pixel EXACTLY ONCE via four offset substrings per target
    * pixel — a pure per-row map (explode ×16), no shuffle but the
    * output ordering; the shape a `mapInPandas`/codec resize would
    * fill with a real image library, run here as codegen'd column
    * arithmetic so the oracle can pin every output pixel. */
  def q86Thumbnail(s: SparkSession, dir: String): DataFrame =
    thumbnailOf(Tables.read(s, MediaPath)).orderBy("media_id", "ty", "tx")

  /** The 2×2 box-filter thumbnail over any (media_id, media_type,
    * content) frame — factored so q105's perceptual hash composes on
    * it and specs can feed crafted grids. */
  private[graft] def thumbnailOf(m: DataFrame): DataFrame = {
    def px(dy: Int, dx: Int) =
      conv(hex(expr(s"substring(content, ${HeaderLen + 1} + " +
        s"(2 * ty + $dy) * $ImgSide + (2 * tx + $dx), 1)")), 16, 10).cast("long")
    // the 8×8 grid is one FrameSize payload: gate on it being present
    m.filter(col("media_type") === "image" &&
        validHeader(col("content")) && fullFrames(col("content")) >= 1)
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), lit(ThumbSide * ThumbSide - 1))).as("p"))
      .withColumn("ty", (col("p") / ThumbSide).cast("int"))
      .withColumn("tx", pmod(col("p"), lit(ThumbSide)).cast("int"))
      .select(col("media_id"), col("ty"), col("tx"),
        floor((px(0, 0) + px(0, 1) + px(1, 0) + px(1, 1)) / 4).cast("long").as("v"))
  }

  /** The thumbnail pixels as a reusable CTE chain (ends at `thumb`),
    * shared by the q86 and q105 oracles. */
  private val thumbSqlCte: String = {
    def b(dy: Int, dx: Int) =
      s"""('0x' || substring(hx,
         |  CAST(2 * (${HeaderLen} + (2 * ty + $dy) * $ImgSide + (2 * tx + $dx)) + 1 AS INT),
         |  2))::INT""".stripMargin
    s"""i AS (
       |  SELECT media_id, hex(content) AS hx FROM $mediaSql
       |  WHERE media_type = 'image' AND $validHeaderSql
       |    AND $fullFramesSql >= 1
       |), t AS (
       |  SELECT media_id, CAST(p // $ThumbSide AS INT) AS ty,
       |    CAST(p % $ThumbSide AS INT) AS tx, hx
       |  FROM (SELECT media_id, hx,
       |          unnest(range(0, ${ThumbSide * ThumbSide})) AS p FROM i)
       |), thumb AS (
       |  SELECT media_id, ty, tx,
       |    CAST(floor((${b(0, 0)} + ${b(0, 1)} + ${b(1, 0)} + ${b(1, 1)}) / 4)
       |      AS BIGINT) AS v
       |  FROM t
       |)""".stripMargin
  }

  val q86Sql: String =
    s"""WITH $thumbSqlCte
       |SELECT media_id, ty, tx, v FROM thumb
       |ORDER BY media_id, ty, tx""".stripMargin

  // ----------------------------------------- q105 perceptual image hash

  /** aHash width: one bit per thumbnail pixel. */
  val PhashBits: Int = ThumbSide * ThumbSide

  /** q105: PERCEPTUAL IMAGE HASH (average hash) — the image-dedup
    * index key: downsample (the certified q86 box filter), then one
    * bit per thumbnail pixel, set iff the pixel sits strictly above
    * the thumbnail mean. The defining property — BRIGHTNESS
    * INVARIANCE: adding a constant to every source pixel shifts both
    * side of the comparison equally, so the hash is unchanged
    * (spec-asserted on crafted grids; exact, because the comparison
    * is the integer cross-multiplication v·bits > Σv, never a float
    * mean). Near-dup image pairs then join on banded hash chunks
    * exactly like q53 does for SimHash — the hash IS the index key,
    * and this fixture's pseudorandom images correctly produce no
    * near-equal pairs. Emits (media_id, phash, bits_set, v_total).
    *
    * Scale shape: pure composition on the per-row thumbnail map —
    * one media_id window for the total, one aggregation; no joins. */
  def q105ImagePhash(s: SparkSession, dir: String): DataFrame =
    imagePhashOf(thumbnailOf(Tables.read(s, MediaPath)))

  /** The aHash core over any (media_id, ty, tx, v) thumbnail frame. */
  private[graft] def imagePhashOf(thumb: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("media_id")
    thumb
      .withColumn("p", (col("ty") * ThumbSide + col("tx")).cast("int"))
      .withColumn("tot", sum("v").over(w))
      // strict > : a flat image hashes to all-zero bits, not all-one
      .withColumn("bit",
        (col("v") * lit(PhashBits.toLong) > col("tot")).cast("long"))
      .groupBy("media_id")
      .agg(sum(expr("shiftleft(bit, p)")).as("phash"),
        sum(col("bit")).as("bits_set"),
        max(col("tot")).as("v_total"))
      .select(col("media_id"), col("phash").cast("long").as("phash"),
        col("bits_set").cast("long").as("bits_set"),
        col("v_total").cast("long").as("v_total"))
      .orderBy("media_id")
  }

  val q105Sql: String =
    s"""WITH $thumbSqlCte, px AS (
       |  SELECT media_id, ty * $ThumbSide + tx AS p, v FROM thumb
       |), tt AS (
       |  SELECT media_id, sum(v) AS tot FROM px GROUP BY media_id
       |)
       |SELECT media_id,
       |  CAST(sum(CASE WHEN v * $PhashBits > tot THEN (1::BIGINT << p)
       |                ELSE 0 END) AS BIGINT) AS phash,
       |  CAST(sum(CASE WHEN v * $PhashBits > tot THEN 1 ELSE 0 END) AS BIGINT)
       |    AS bits_set,
       |  CAST(tot AS BIGINT) AS v_total
       |FROM px JOIN tt USING (media_id)
       |GROUP BY media_id, tot ORDER BY media_id""".stripMargin

  // ------------------------------- q232 pHash near-dup candidate audit

  /** Near-dup cut on the 64-bit aHash; 4 × 16-bit bands make the
    * bucket join EXACT for pairs within Hamming 3 (pigeonhole — the
    * q53 band argument on the image hash). */
  final val PhashNeardupMax = 3

  /** Bucket cap before the self-join (the q218/q39 df-cap
    * discipline): a (band, value) bucket larger than this is excluded
    * and REPORTED per image in `n_capped_bands`. */
  final val PhashMaxBucket = 1024

  /** q232: IMAGE NEAR-DUP CANDIDATE AUDIT — completes the image-dedup
    * path q105's scaladoc promises: the 64-bit perceptual hash cut
    * into 4 disjoint 16-bit bands, candidates via the (band, value)
    * equi-join (never all-pairs), per image: candidate-partner count,
    * min Hamming distance over candidates (NULL when no band
    * collides), and the EXACT near-dup flag at Hamming ≤
    * [[PhashNeardupMax]] (pigeonhole: a ≤3-bit-different pair differs
    * in at most 3 of 4 bands, so at least one band matches — nothing
    * within the cut is missed, except through the declared bucket
    * cap, which each affected image self-reports). This fixture's
    * pseudorandom images correctly produce no near-equal pairs — the
    * crafted-duplicate behavior is spec-pinned through
    * [[q232Core]].
    *
    * Scale shape: Σ bucket² bounded by [[PhashMaxBucket]] before the
    * self-join (the q218 discipline); everything else is per-image
    * map work + one groupBy at image cardinality. */
  def q232PhashNeardup(s: SparkSession, dir: String): DataFrame =
    q232Core(imagePhashOf(thumbnailOf(Tables.read(s, MediaPath)))
      .select(col("media_id"), col("phash")))

  /** The audit over any (media_id, phash) frame — package-visible so
    * the spec can feed crafted hash sets (planted near-dups, an
    * over-cap bucket). */
  private[graft] def q232Core(ph: DataFrame): DataFrame = {
    val banded = ph.select(col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(phash, band * 16) & 65535"))
    val bsz = banded.groupBy("band", "bv").agg(count(lit(1)).as("bn"))
    val kept = banded.join(
      bsz.filter(col("bn") <= PhashMaxBucket).select("band", "bv"),
      Seq("band", "bv"), "left_semi")
    val cands = kept.select(col("band"), col("bv"),
        col("media_id").as("ma"), col("phash").as("pa"))
      .join(kept.select(col("band"), col("bv"),
        col("media_id").as("mb"), col("phash").as("pb")), Seq("band", "bv"))
      .filter(col("ma") =!= col("mb"))
      .groupBy("ma", "mb")
      .agg(min(expr("bit_count(pa ^ pb)")).cast("int").as("hamming"))
    val agg = cands.groupBy(col("ma").as("media_id"))
      .agg(count(lit(1)).as("n_band_candidates"),
        min("hamming").as("min_hamming"))
    val capped = banded.join(
        bsz.filter(col("bn") > PhashMaxBucket).select("band", "bv"),
        Seq("band", "bv"), "left_semi")
      .groupBy("media_id").agg(count(lit(1)).as("n_capped_bands"))
    ph.select("media_id")
      .join(agg, Seq("media_id"), "left")
      .join(capped, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("n_band_candidates"), lit(0L)).as("n_band_candidates"),
        col("min_hamming"),
        coalesce(col("min_hamming") <= PhashNeardupMax, lit(false))
          .as("neardup"),
        coalesce(col("n_capped_bands"), lit(0L)).as("n_capped_bands"))
      .orderBy("media_id")
  }

  /** Oracle: the q105 hash chain, the same banded self-join with the
    * same cap, min-Hamming per partner. */
  val q232Sql: String =
    s"""WITH $thumbSqlCte, px AS (
       |  SELECT media_id, ty * $ThumbSide + tx AS p, v FROM thumb
       |), tt AS (
       |  SELECT media_id, sum(v) AS tot FROM px GROUP BY media_id
       |), ph AS (
       |  SELECT media_id,
       |    CAST(sum(CASE WHEN v * $PhashBits > tot THEN (1::BIGINT << p)
       |                  ELSE 0 END) AS BIGINT) AS phash
       |  FROM px JOIN tt USING (media_id) GROUP BY media_id, tot
       |), bd AS (
       |  SELECT media_id, phash, band, (phash >> (band * 16)) & 65535 AS bv
       |  FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
       |), bsz AS (
       |  SELECT band, bv, count(*) AS bn FROM bd GROUP BY 1, 2
       |), kept AS (
       |  SELECT bd.media_id, bd.phash, bd.band, bd.bv
       |  FROM bd JOIN bsz USING (band, bv) WHERE bsz.bn <= $PhashMaxBucket
       |), cand AS (
       |  SELECT a.media_id AS ma, b.media_id AS mb,
       |    CAST(min(bit_count(xor(a.phash, b.phash))) AS INT) AS hamming
       |  FROM kept a JOIN kept b ON a.band = b.band AND a.bv = b.bv
       |    AND a.media_id <> b.media_id
       |  GROUP BY 1, 2
       |), agg AS (
       |  SELECT ma AS media_id, count(*) AS n_band_candidates,
       |    min(hamming) AS min_hamming
       |  FROM cand GROUP BY 1
       |), capd AS (
       |  SELECT bd.media_id, count(*) AS n_capped_bands
       |  FROM bd JOIN bsz USING (band, bv) WHERE bsz.bn > $PhashMaxBucket
       |  GROUP BY 1
       |)
       |SELECT ph.media_id,
       |  coalesce(agg.n_band_candidates, 0) AS n_band_candidates,
       |  agg.min_hamming,
       |  coalesce(agg.min_hamming <= $PhashNeardupMax, false) AS neardup,
       |  coalesce(capd.n_capped_bands, 0) AS n_capped_bands
       |FROM ph LEFT JOIN agg USING (media_id) LEFT JOIN capd USING (media_id)
       |ORDER BY ph.media_id""".stripMargin

  // --------------------------------------------------------- registry

  // ------------------------------------------- q167 chunk manifest

  /** Chunk size in payload bytes (8 frames × 64 B). */
  val ChunkBytes = 512

  /** q167: CONTENT-ADDRESSED CHUNK MANIFEST — the storage-layout
    * step for lazy multimodal fetch: each container's payload splits
    * into fixed [[ChunkBytes]] byte ranges, each chunk addressed by
    * (media_id, offset, length) + a content hash — the manifest a
    * byte-range reader (or a CAS/dedup store) consumes instead of
    * whole blobs; corrupt containers quarantine out at the same
    * validHeader gate every media op uses. The chunk hash rides the
    * hex-window idiom (md5 over the hex substring — bit-identical in
    * both engines, the q45 byte-access discipline).
    *
    * Scale shape: pure per-row fan-out (sequence + explode — no
    * shuffle at all); manifest volume = payload/512 rows of ~90 B.
    * At 100 TB the manifest is what makes partial fetch possible:
    * a frame-sample reads its chunks, never the blob. */
  def q167ChunkManifest(s: SparkSession, dir: String): DataFrame =
    chunkManifestOf(Tables.read(s, MediaPath))

  /** The manifest over any media frame (`graft.Scale` times a
    * generated 10^i× table through the same composition at rung i). */
  private[graft] def chunkManifestOf(m: DataFrame): DataFrame = {
    val payloadLen = octet_length(col("content")) - HeaderLen
    m
      .filter(validHeader(col("content")))
      .select(col("media_id"), col("media_type"),
        col("content"), payloadLen.as("plen"))
      .filter(col("plen") > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          ((col("plen") + ChunkBytes - 1) / ChunkBytes).cast("int") - 1)))
      .select(col("media_id"), col("media_type"), col("chunk_idx"),
        (lit(HeaderLen) + col("chunk_idx") * ChunkBytes).as("off"),
        least(lit(ChunkBytes),
          col("plen") - col("chunk_idx") * ChunkBytes).as("n_bytes"),
        md5(substring(hex(col("content")),
          lit(2 * HeaderLen) + col("chunk_idx") * (2 * ChunkBytes) + 1,
          least(lit(2 * ChunkBytes),
            (col("plen") - col("chunk_idx") * ChunkBytes) * 2))).as("chunk_hash"))
      .orderBy("media_id", "chunk_idx")
  }

  val q167Sql: String =
    s"""SELECT media_id, media_type, chunk_idx,
       |  $HeaderLen + chunk_idx * $ChunkBytes AS off,
       |  least($ChunkBytes, plen - chunk_idx * $ChunkBytes) AS n_bytes,
       |  md5(substring(hex(content),
       |    ${2 * HeaderLen} + chunk_idx * ${2 * ChunkBytes} + 1,
       |    least(${2 * ChunkBytes}, (plen - chunk_idx * $ChunkBytes) * 2)))
       |    AS chunk_hash
       |FROM (
       |  SELECT media_id, media_type, content,
       |    octet_length(content) - $HeaderLen AS plen,
       |    unnest(range(0, CAST((octet_length(content) - $HeaderLen
       |      + ${ChunkBytes - 1}) // $ChunkBytes AS BIGINT))) AS chunk_idx
       |  FROM $mediaSql WHERE $validHeaderSql
       |    AND octet_length(content) > $HeaderLen
       |)
       |ORDER BY media_id, chunk_idx""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q167_chunk_manifest", q167ChunkManifest, q167Sql),
    QueryDef("q45_media_meta", q45MediaMeta, q45Sql),
    QueryDef("q46_frame_sample", q46FrameSample, q46Sql),
    QueryDef("q54_frame_features", q54FrameFeatures, q54Sql),
    QueryDef("q66_scene_cuts", q66SceneCuts, q66Sql),
    QueryDef("q85_audio_energy", q85AudioEnergy, q85Sql),
    QueryDef("q249_audio_segments", q249AudioSegments, q249Sql),
    QueryDef("q86_thumbnail", q86Thumbnail, q86Sql),
    QueryDef("q105_image_phash", q105ImagePhash, q105Sql),
    QueryDef("q232_phash_neardup", q232PhashNeardup, q232Sql)
  )
}
