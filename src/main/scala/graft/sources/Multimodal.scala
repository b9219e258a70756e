package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus a partition-batched decode/feature stage.
  *
  * Decoders are REAL where the JDK ships one:
  *   - image: PNG encode (synthesis) + decode via `javax.imageio` —
  *     width/height/format come from actually parsing the payload bytes;
  *   - audio: WAV (RIFF/PCM16) encode + decode via `javax.sound.sampled` —
  *     sample rate and frame count come from the parsed header;
  *   - video: MP4/QuickTime CONTAINER parse ([[Mp4]]) — the JDK has no
  *     video codec, so frame pixels stay opaque, but the container boxes
  *     (`ftyp` brand, `moov`/`mvhd` timescale+duration, `trak`/`tkhd`
  *     16.16-fixed track dims, `mdat` sample bytes) are synthesized and
  *     re-parsed as real big-endian byte arithmetic — the part of video
  *     ingest (metadata extraction, sample-range location) a 100 TB
  *     pipeline runs *before* any codec touches the stream.
  *
  * Scale shape (what a 100 TB multimodal pipeline needs and what this
  * module keeps real regardless of codec):
  *   - schema: payload as `BinaryType` + typed metadata structs; never
  *     decode at scan time — Parquet stores the blob column-chunked and
  *     the metadata prunes independently;
  *   - decode runs in `mapPartitions`, so codec/model initialization
  *     happens once per partition, not per row (the batch shape
  *     `mapInPandas` gives Python pipelines);
  *   - decoded fields and features land as ordinary columns, so downstream
  *     dedup/KNN/aggregation compose unchanged.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true)
    )), nullable = true)
  ))

  /** Deterministic image dims/audio params from the id — the synthesis
    * arithmetic doubles as the DuckDB oracle for the decode stage: if
    * encode or decode drifts, decoded values stop matching the closed form.
    */
  private[graft] def imgWidth(id: Long): Int = 16 + (id % 8).toInt
  private[graft] def imgHeight(id: Long): Int = 8 + (id % 4).toInt
  private[graft] def wavRate(id: Long): Int = 8000 + (id % 5).toInt * 1000
  private[graft] def wavFrames(id: Long): Int = 50 + (id % 100).toInt
  private[graft] def vidWidth(id: Long): Int = 320 + (id % 8).toInt * 4
  private[graft] def vidHeight(id: Long): Int = 180 + (id % 6).toInt * 4
  private[graft] def vidTimescale(id: Long): Int = 600 + (id % 5).toInt * 300
  private[graft] def vidDurTicks(id: Long): Long = 3000L + (id % 100) * 60
  private[graft] def mdatLen(id: Long): Int = 64 + (id % 64).toInt
  private[graft] def mdatByte(id: Long, i: Int): Int = ((id * 13 + i * 17) % 251).toInt

  /** Minimal spec-conformant PNG encoder: 8-bit truecolor, filter 0 on
    * every scanline, one stored (uncompressed) zlib/deflate block stream.
    * Round-18 fixture-synthesis optimization: `ImageIO.write` cost 421 µs
    * per tiny image (round 18) and synthesis dominated every mm query
    * stage; this writer is ~10 µs and decodes — via the SAME `javax.imageio`
    * read path the operators under test use — to pixel-identical RGB
    * (pinned against an `ImageIO.write` round-trip by MultiFormatSourceSpec).
    * Only the fixture's ENCODER changed; decode stays the real JDK codec,
    * and no query or oracle observes encoded-byte properties (length/md5).
    */
  private[graft] def pngEncode(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val raw = new Array[Byte](h * (1 + w * 3)) // filter byte 0 + RGB per row
    var o = 0
    var y = 0
    while (y < h) {
      raw(o) = 0; o += 1
      var x = 0
      while (x < w) {
        val p = rgb(x, y)
        raw(o) = ((p >> 16) & 0xff).toByte
        raw(o + 1) = ((p >> 8) & 0xff).toByte
        raw(o + 2) = (p & 0xff).toByte
        o += 3; x += 1
      }
      y += 1
    }
    // zlib stream: 0x78 0x01 header, stored deflate blocks, Adler-32 tail
    val nBlocks = math.max(1, (raw.length + 65534) / 65535)
    val idat = new Array[Byte](2 + nBlocks * 5 + raw.length + 4)
    idat(0) = 0x78; idat(1) = 0x01
    var ib = 2; var ro = 0
    while (ro < raw.length || (raw.length == 0 && ro == 0)) {
      val len = math.min(65535, raw.length - ro)
      val fin = if (ro + len >= raw.length) 1 else 0
      idat(ib) = fin.toByte
      idat(ib + 1) = (len & 0xff).toByte; idat(ib + 2) = ((len >> 8) & 0xff).toByte
      idat(ib + 3) = (~len & 0xff).toByte; idat(ib + 4) = ((~len >> 8) & 0xff).toByte
      System.arraycopy(raw, ro, idat, ib + 5, len)
      ib += 5 + len; ro += len
      if (len == 0) ro = raw.length + 1 // degenerate 0x0: one empty final block
    }
    val adler = new java.util.zip.Adler32(); adler.update(raw)
    val av = adler.getValue
    idat(ib) = ((av >> 24) & 0xff).toByte; idat(ib + 1) = ((av >> 16) & 0xff).toByte
    idat(ib + 2) = ((av >> 8) & 0xff).toByte; idat(ib + 3) = (av & 0xff).toByte
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h).put(8.toByte).put(2.toByte) // depth 8, truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(tag.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(bb.array(), 4, 4 + data.length)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    sig ++ chunk("IHDR", ihdr.array()) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Real PNG bytes: id-derived pixels through [[pngEncode]] (decoded by
    * the real JDK reader; see pngEncode's note on why not ImageIO.write).
    */
  private[graft] def pngBytes(id: Long): Array[Byte] =
    pngEncode(imgWidth(id), imgHeight(id),
      (x, y) => ((id * 31 + x * 7 + y * 13) % 0xffffff).toInt)

  /** Real WAV bytes: 44-byte RIFF/PCM header + mono 16-bit samples. */
  private[graft] def wavBytes(id: Long): Array[Byte] = {
    val rate = wavRate(id); val n = wavFrames(id)
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(rate); bb.putInt(rate * 2); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    var i = 0
    while (i < n) {
      bb.putShort((((id * 7 + i * 11) % 65536) - 32768).toShort)
      i += 1
    }
    bb.array()
  }

  /** Real MP4/QuickTime container bytes (ISO/IEC 14496-12 box layout):
    * `ftyp` (major brand), `moov` [ `mvhd` v0 (timescale, duration) +
    * `trak`/`tkhd` v0 (track dims as 16.16 fixed-point) ], `mdat` with
    * id-derived sample bytes. No codec involved — the container structure
    * IS the format; [[Mp4.parse]] re-reads it from the bytes alone.
    */
  private[graft] def mp4Bytes(id: Long): Array[Byte] = {
    val nb = mdatLen(id)
    val bb = java.nio.ByteBuffer.allocate(16 + 216 + 8 + nb) // big-endian
    def tag(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    bb.putInt(16); tag("ftyp"); tag("isom"); bb.putInt(0x200)
    bb.putInt(216); tag("moov")
    bb.putInt(108); tag("mvhd")
    bb.putInt(0)                   // version 0 + flags
    bb.putInt(0); bb.putInt(0)     // creation/modification time
    bb.putInt(vidTimescale(id))
    bb.putInt(vidDurTicks(id).toInt)
    bb.putInt(0x00010000); bb.putShort(0x0100.toShort) // rate 1.0, volume 1.0
    bb.position(bb.position() + 10 + 36 + 24)          // reserved+matrix+predefined
    bb.putInt(2)                   // next track id
    bb.putInt(100); tag("trak")
    bb.putInt(92); tag("tkhd")
    bb.putInt(0)                   // version 0 + flags
    bb.putInt(0); bb.putInt(0)     // creation/modification time
    bb.putInt(1)                   // track id
    bb.putInt(0)                   // reserved
    bb.putInt(vidDurTicks(id).toInt)
    bb.position(bb.position() + 8 + 2 + 2 + 2 + 2 + 36) // reserved..matrix
    bb.putInt(vidWidth(id) << 16)  // 16.16 fixed-point
    bb.putInt(vidHeight(id) << 16)
    bb.putInt(8 + nb); tag("mdat")
    var i = 0
    while (i < nb) { bb.put(mdatByte(id, i).toByte); i += 1 }
    bb.array()
  }

  /** Parsed MP4 container metadata + the mdat sample range. Round 10 adds
    * the sample-table fields a frame extractor needs: the `stsd` codec
    * fourcc, `stsz` per-sample byte sizes, and the first `stco` chunk
    * offset (samples lay out contiguously from it in the single-chunk
    * shape `stsc` declares).
    */
  private[graft] final case class Mp4Info(
      brand: String, timescale: Int, durationTicks: Long,
      width: Int, height: Int, mdatOff: Int, mdatLen: Int,
      codec: String = null, sampleSizes: Array[Long] = null,
      chunkOff: Long = -1L)

  /** Minimal ISO-BMFF box walker: big-endian size+fourcc headers, 64-bit
    * `largesize` (size==1) and to-end-of-file (size==0) forms — the two
    * shapes real >4 GB media hits — and recursive descent into `moov`/
    * `trak` for `mvhd`/`tkhd` (version 0 and 1 field offsets). Pure byte
    * arithmetic, no library; returns None on any malformed/truncated box,
    * never throws on garbage input.
    */
  private[graft] object Mp4 {
    private def u32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def u64(b: Array[Byte], o: Int): Long =
      (u32(b, o) << 32) | u32(b, o + 4)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "US-ASCII")

    def parse(b: Array[Byte]): Option[Mp4Info] = {
      if (b == null || b.length < 8) return None
      var brand: String = null
      var timescale = -1; var duration = -1L
      var width = -1; var height = -1
      var mdatOff = -1; var mdatB = -1
      var codec: String = null
      var sampleSizes: Array[Long] = null
      var chunkOff = -1L
      // (start, end) box ranges still to walk; children are pushed so the
      // walk is iterative — no recursion depth to blow on adversarial input
      var stack = List((0, b.length))
      var guard = 0
      while (stack.nonEmpty && guard < 10000) {
        guard += 1
        val (start, end) = stack.head
        stack = stack.tail
        var off = start
        while (off + 8 <= end) {
          val rawSize = u32(b, off)
          val typ = fourcc(b, off + 4)
          val (hdr, size) =
            if (rawSize == 1L) {
              if (off + 16 > end) return None
              (16, u64(b, off + 8))
            } else if (rawSize == 0L) (8, (end - off).toLong)
            else (8, rawSize)
          if (size < hdr || off + size > end) return None
          val p = off + hdr // payload start
          typ match {
            case "ftyp" if size >= hdr + 4 => brand = fourcc(b, p)
            case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
              stack = (p, (off + size).toInt) :: stack
            case "mvhd" if size >= hdr + 8 =>
              val v = b(p) & 0xff
              if (v == 1 && size >= hdr + 32) {
                timescale = u32(b, p + 20).toInt; duration = u64(b, p + 24)
              } else if (v == 0 && size >= hdr + 20) {
                timescale = u32(b, p + 12).toInt; duration = u32(b, p + 16)
              }
            case "tkhd" =>
              val v = b(p) & 0xff
              val wOff = if (v == 1) p + 88 else p + 76
              if (off + hdr + (wOff - p) + 8 <= off + size) {
                width = (u32(b, wOff) >> 16).toInt
                height = (u32(b, wOff + 4) >> 16).toInt
              }
            case "mdat" => mdatOff = p; mdatB = (size - hdr).toInt
            case "stsd" if size >= hdr + 16 =>
              // ver/flags(4) + entry_count(4), then the first sample entry's
              // own box header carries the codec fourcc ('png ', 'jpeg',
              // 'avc1', ...)
              if (u32(b, p + 4) >= 1 && off + hdr + 16 <= off + size)
                codec = fourcc(b, p + 12)
            case "stsz" if size >= hdr + 12 =>
              val fixed = u32(b, p + 4)
              val n = u32(b, p + 8)
              if (n >= 0 && n < 1000000) {
                sampleSizes =
                  if (fixed != 0) Array.fill(n.toInt)(fixed)
                  else if (hdr + 12 + n * 4 <= size)
                    Array.tabulate(n.toInt)(i => u32(b, p + 12 + i * 4))
                  else null
              }
            case "stco" if size >= hdr + 12 =>
              if (u32(b, p + 4) >= 1) chunkOff = u32(b, p + 8)
            case _ => ()
          }
          off += size.toInt
        }
      }
      if (brand == null || timescale < 0) None
      else Some(Mp4Info(brand, timescale, duration, width, height, mdatOff,
        mdatB, codec, sampleSizes, chunkOff))
    }
  }

  // ------------------------------------------------ framed video (round 10)

  // closed form for the frame-decode oracle: gray value of pixel (x, y) in
  // frame k of video `id` — PNG is lossless, so the DECODED channel value
  // equals this exactly and DuckDB can rebuild per-frame sums from it
  private[graft] def vidNFrames(id: Long): Int = 2 + (id % 3).toInt
  private[graft] def frameW(id: Long): Int = 8 + (id % 4).toInt * 2
  private[graft] def frameH(id: Long): Int = 6 + (id % 3).toInt * 2
  private[graft] def framePix(id: Long, k: Int, x: Int, y: Int): Int =
    ((id * 7 + k * 13 + x * 3 + y * 5) % 251).toInt

  /** One encoded frame: gray PNG (exact round-trip) or JPEG (lossy — used
    * only to prove the extractor handles a second codec; pixel values are
    * then codec-defined, not closed-form).
    */
  private[graft] def frameBytes(id: Long, k: Int, jpeg: Boolean): Array[Byte] = {
    val w = frameW(id); val h = frameH(id)
    if (!jpeg)
      // lossless path: the fast stored-deflate writer (see pngEncode) —
      // decoded grays identical to the ImageIO.write round-trip
      pngEncode(w, h, (x, y) => {
        val g = framePix(id, k, x, y); (g << 16) | (g << 8) | g
      })
    else {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = framePix(id, k, x, y)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
  }

  /** A REAL MP4 with a full sample table: `moov/trak/mdia/minf/stbl` with
    * `stsd` (a proper VisualSampleEntry carrying the codec fourcc and
    * frame dims), `stts`, `stsc` (one chunk), `stsz` (per-frame byte
    * sizes), `stco` (absolute offset of frame 0) — and an `mdat` holding
    * the concatenated encoded frames. This is the QuickTime/ISO-BMFF
    * "PNG video" / MJPEG shape: every frame is independently decodable by
    * an image codec, which is exactly what `javax.imageio` provides — so
    * the multimodal family gets real pixel decode for video, not just
    * container metadata.
    */
  private[graft] def framedMp4Bytes(id: Long, jpeg: Boolean = false): Array[Byte] =
    framedMp4BytesCodec(id, if (jpeg) "jpeg" else "png ")

  /** [[framedMp4Bytes]] generalized over the sample codec: "png "/"jpeg"
    * (imageio-encoded image frames) or "h264" (round 11: self-contained
    * Annex-B access units of I_PCM intra macroblocks — the classic
    * raw-H.264-in-MP4 shape carried under the 'h264' fourcc). PCM is
    * lossless, so the h264 path keeps the same closed-form pixel oracle
    * the PNG path has.
    */
  private[graft] def framedMp4BytesCodec(id: Long, codec: String,
      residual: Boolean = false): Array[Byte] = {
    val frames = (0 until vidNFrames(id)).map { k =>
      if (codec == "h264" && residual) residualAu(id, k)
      else if (codec == "h264")
        H264.encodeIdrPcm(frameW(id), frameH(id), framePix(id, k, _, _),
          idrPicId = k)
      else frameBytes(id, k, codec == "jpeg")
    }
    val mdatPayload = frames.map(_.length).sum
    val nf = frames.length
    // fixed box sizes (bottom-up)
    val stsdSz = 8 + 8 + 86 // hdr + ver/flags/count + VisualSampleEntry(86)
    val sttsSz = 8 + 8 + 8
    val stscSz = 8 + 8 + 12
    val stszSz = 8 + 12 + nf * 4
    val stcoSz = 8 + 8 + 4
    val stblSz = 8 + stsdSz + sttsSz + stscSz + stszSz + stcoSz
    val minfSz = 8 + stblSz
    val hdlrSz = 8 + 25
    val mdhdSz = 8 + 24
    val mdiaSz = 8 + mdhdSz + hdlrSz + minfSz
    val tkhdSz = 92
    val trakSz = 8 + tkhdSz + mdiaSz
    val mvhdSz = 108
    val moovSz = 8 + mvhdSz + trakSz
    val ftypSz = 16
    val mdatOff = ftypSz + moovSz + 8 // payload offset of frame 0
    val total = ftypSz + moovSz + 8 + mdatPayload
    val bb = java.nio.ByteBuffer.allocate(total) // big-endian
    def tag(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    bb.putInt(ftypSz); tag("ftyp"); tag("isom"); bb.putInt(0x200)
    bb.putInt(moovSz); tag("moov")
    bb.putInt(mvhdSz); tag("mvhd")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(vidTimescale(id)); bb.putInt(vidDurTicks(id).toInt)
    bb.putInt(0x00010000); bb.putShort(0x0100.toShort)
    bb.position(bb.position() + 10 + 36 + 24)
    bb.putInt(2)
    bb.putInt(trakSz); tag("trak")
    bb.putInt(tkhdSz); tag("tkhd")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1); bb.putInt(0)
    bb.putInt(vidDurTicks(id).toInt)
    bb.position(bb.position() + 8 + 2 + 2 + 2 + 2 + 36)
    bb.putInt(frameW(id) << 16); bb.putInt(frameH(id) << 16)
    bb.putInt(mdiaSz); tag("mdia")
    bb.putInt(mdhdSz); tag("mdhd")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(vidTimescale(id)); bb.putInt(vidDurTicks(id).toInt)
    bb.putShort(0x55C4.toShort); bb.putShort(0) // language "und", pre_defined
    bb.putInt(hdlrSz); tag("hdlr")
    bb.putInt(0); bb.putInt(0); tag("vide")
    bb.putInt(0); bb.putInt(0); bb.putInt(0) // reserved
    bb.put(0.toByte) // empty null-terminated handler name
    bb.putInt(minfSz); tag("minf")
    bb.putInt(stblSz); tag("stbl")
    bb.putInt(stsdSz); tag("stsd")
    bb.putInt(0); bb.putInt(1) // ver/flags, entry_count
    bb.putInt(86); tag(codec) // VisualSampleEntry fourcc
    bb.putInt(0); bb.putShort(0) // reserved(6)
    bb.putShort(1) // data_reference_index
    bb.putShort(0); bb.putShort(0) // pre_defined, reserved
    bb.putInt(0); bb.putInt(0); bb.putInt(0) // pre_defined[3]
    bb.putShort(frameW(id).toShort); bb.putShort(frameH(id).toShort)
    bb.putInt(0x00480000); bb.putInt(0x00480000) // 72 dpi
    bb.putInt(0) // reserved
    bb.putShort(1) // frame_count per sample
    bb.position(bb.position() + 32) // compressorname
    bb.putShort(24); bb.putShort(0xFFFF.toShort) // depth, pre_defined -1
    bb.putInt(sttsSz); tag("stts")
    bb.putInt(0); bb.putInt(1); bb.putInt(nf); bb.putInt(1) // nf samples, delta 1
    bb.putInt(stscSz); tag("stsc")
    bb.putInt(0); bb.putInt(1); bb.putInt(1); bb.putInt(nf); bb.putInt(1)
    bb.putInt(stszSz); tag("stsz")
    bb.putInt(0); bb.putInt(0); bb.putInt(nf)
    frames.foreach(fr => bb.putInt(fr.length))
    bb.putInt(stcoSz); tag("stco")
    bb.putInt(0); bb.putInt(1); bb.putInt(mdatOff)
    bb.putInt(8 + mdatPayload); tag("mdat")
    frames.foreach(bb.put)
    bb.array()
  }

  private val makeFramedPayload = udf { (id: Long) => framedMp4Bytes(id) }

  /** The framed-video fixture: every video-kind doc (doc_id % 3 == 2, the
    * [[fromDocuments]] cycle) becomes a PNG-codec MP4 with a real sample
    * table.
    */
  def framedFromDocuments(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"), lit("video").as("kind"))
      .withColumn("payload", makeFramedPayload(col("media_id")))

  private val makeH264Payload = udf { (id: Long) => framedMp4BytesCodec(id, "h264") }

  /** The H.264 fixture (round 11): the same video-kind docs, but every
    * sample is a self-contained Annex-B access unit (SPS+PPS+IDR) of
    * I_PCM intra macroblocks under the 'h264' fourcc — a REAL temporal
    * codec's syntax stack (NAL framing, emulation prevention, Exp-Golomb
    * headers, macroblock layer, frame cropping) on the decode path, with
    * the lossless-PCM property keeping the pixel oracle closed-form.
    */
  def h264FromDocuments(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"), lit("video").as("kind"))
      .withColumn("payload", makeH264Payload(col("media_id")))

  private val frameRowSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pix", LongType, nullable = true),
    StructField("sum_lum", LongType, nullable = true)))

  // ---- transform-coded H.264 fixtures (round 14, mm9) ----------------------

  /** mm9's I_4x4 coefficient patterns: scan-index -> level. Positions are
    * restricted to raster rows/cols >= 1 so every residual row/col sums in
    * [-2, 1] post-rounding — the invariant that pins every DC prediction
    * in a single-MB frame at exactly 128 and keeps the oracle closed-form
    * (derivation + machine check: tools/h264_residual_ref.py; the oracle's
    * residual constants come from that INDEPENDENT python implementation
    * of dequant+IDCT, not from the Scala decoder under test).
    */
  private[graft] val residualPatterns: Array[Map[Int, Int]] = Array(
    Map(4 -> 2),
    Map(4 -> -2, 7 -> 1),
    Map(7 -> -3, 13 -> 1),
    Map(4 -> 4, 10 -> -2, 13 -> -1, 15 -> 1))

  /** One transform-coded Annex-B access unit for frame `k` of media `id`
    * (single 16x16 macroblock, cropped to frameW x frameH). Frame kinds
    * cycle I_4x4-patterns / I_16x16-flat / I_PCM; QP alternates 28/31;
    * chroma DC always coded and chroma AC on even frames (parse-gated:
    * a chroma bit slip corrupts all later luma and breaks the oracle).
    */
  private[graft] def residualAu(id: Long, k: Int): Array[Byte] = {
    import H264Coded._
    val w = frameW(id); val h = frameH(id)
    val qp = if ((id + k) % 2 == 0) 28 else 31
    val mb: MbSpec = ((id + k) % 3).toInt match {
      case 0 =>
        val coeffs = Array.tabulate(16) { b =>
          val scan = new Array[Int](16)
          residualPatterns(((id * 5 + k * 3 + b) % 4).toInt)
            .foreach { case (i, v) => scan(i) = v }
          scan
        }
        // round 15 (chroma reconstruction): DC levels sized so the DC-only
        // blocks dequantize to NONZERO residuals at both qps (the old
        // 2/-2/1 levels all rounded to zero through the >>5 and the IDCT's
        // >>6 — invisible to a chroma-sum oracle), and per-(comp, blk)
        // distinct AC patterns so a swapped or misplaced chroma block
        // cannot hide in the position-weighted sums. Constants mirrored in
        // tools/h264_residual_ref.py (CHROMA_DC_I4 / chroma_ac_i4).
        val chromaDc = Array(Array(8, 0, 0, 0), Array(-8, 4, 0, 0))
        val chromaAc =
          if ((id + k) % 2 == 0)
            Array.tabulate(2, 4) { (c, b) =>
              val a = new Array[Int](15)
              a(0) = 2 + c + b
              a(2) = -(1 + ((c + b) % 2))
              a
            }
          else null
        I4x4Mb(Array.fill(16)(2), coeffs, chromaDc, chromaAc)
      case 1 =>
        val dc = new Array[Int](16)
        dc(0) = 40 * (1 + ((id + k) % 5).toInt)
        I16x16Mb(predMode = 2, dcScan = dc, acCoeff = null,
          chromaDc = Array(Array(5, 0, 0, 0), Array(-5, 0, 0, 0)), chromaAc = null)
      case _ => PcmMb((x, y) => framePix(id, k, x, y))
    }
    H264Coded.encodeIdrCoded(w, h, qp, Seq(mb), idrPicId = k)
  }

  private val makeH264ResidualPayload =
    udf { (id: Long) => framedMp4BytesCodec(id, "h264", residual = true) }

  /** The transform-coded H.264 fixture (round 14): MP4-wrapped Annex-B
    * samples mixing Intra_4x4 (CAVLC residuals, DC prediction), Intra_16x16
    * (DC Hadamard path) and I_PCM macroblocks. Uses the doc_id % 4 == 1
    * rows so it is independent of the mm7/mm8 fleets.
    */
  def h264ResidualFromDocuments(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id").as("media_id"), lit("video").as("kind"))
      .withColumn("payload", makeH264ResidualPayload(col("media_id")))

  private val residualFrameRowSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_pix", LongType, nullable = true),
    StructField("sum_lum", LongType, nullable = true),
    StructField("sum_wlum", LongType, nullable = true),
    StructField("sum_cb", LongType, nullable = true),
    StructField("sum_cr", LongType, nullable = true),
    StructField("sum_wcb", LongType, nullable = true),
    StructField("sum_wcr", LongType, nullable = true)))

  /** Per-frame fold for the transform-coded fixture: the mm7/mm8 stat
    * shape plus a POSITION-WEIGHTED luma sum (weight 1 + x + 2y) so a
    * transposed, mirrored or mis-placed residual cannot hide inside an
    * order-insensitive sum. Decode path is the native H264 intra decoder;
    * per-frame quarantine as everywhere in the media family.
    */
  def h264ResidualFrames(media: DataFrame): DataFrame = {
    val enc = Encoders.row(residualFrameRowSchema)
    media.select("media_id", "payload").mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.get(1).asInstanceOf[Array[Byte]]
        try {
          Mp4.parse(payload) match {
            case Some(info) if info.sampleSizes != null && info.chunkOff >= 0 &&
                info.codec == "h264" =>
              var off = info.chunkOff
              info.sampleSizes.iterator.zipWithIndex.flatMap { case (sz, k) =>
                val res = try {
                  if (sz <= 0 || off < 0 || off + sz > payload.length) None
                  else H264.decodeIdr(java.util.Arrays.copyOfRange(
                    payload, off.toInt, (off + sz).toInt)).map { f =>
                    var sum = 0L; var wsum = 0L
                    var y = 0
                    while (y < f.height) {
                      var x = 0
                      while (x < f.width) {
                        val v = f.y(y * f.width + x) & 0xff
                        sum += v
                        wsum += v.toLong * (1 + x + 2 * y)
                        x += 1
                      }
                      y += 1
                    }
                    // round 15: the chroma planes, position-weighted the
                    // same way (over CHROMA coordinates)
                    var scb = 0L; var scr = 0L; var wcb = 0L; var wcr = 0L
                    val cw = f.chromaWidth
                    var cy = 0
                    while (cy < f.chromaHeight) {
                      var cx = 0
                      while (cx < cw) {
                        val b = f.cb(cy * cw + cx) & 0xff
                        val r2 = f.cr(cy * cw + cx) & 0xff
                        scb += b; scr += r2
                        wcb += b.toLong * (1 + cx + 2 * cy)
                        wcr += r2.toLong * (1 + cx + 2 * cy)
                        cx += 1
                      }
                      cy += 1
                    }
                    Row(id, k.toLong, f.width.toLong, f.height.toLong,
                      f.width.toLong * f.height, sum, wsum, scb, scr, wcb, wcr)
                  }
                } catch { case scala.util.control.NonFatal(_) => None }
                off += sz
                res
              }.toSeq
            case _ => Seq.empty[Row]
          }
        } catch {
          case scala.util.control.NonFatal(_) => Seq.empty[Row]
        }
      }
    }(enc)
  }

  /** REAL video frame decode: locate each sample's byte range from the
    * parsed `stsz`/`stco` table, decode it with `javax.imageio` (PNG or
    * MJPEG frames — the image-codec video shapes the JDK can decode), and
    * fold per-frame integer pixel sums. Runs in `mapPartitions` with one
    * decoded frame in flight — memory O(frame), the property that must
    * hold when frames are 4K. Samples with a codec `imageio` can't sniff,
    * or hostile frame bytes, skip per-row (the decodeFeatures quarantine
    * contract).
    */
  def videoFrames(media: DataFrame): DataFrame = {
    val enc = Encoders.row(frameRowSchema)
    media.select("media_id", "kind", "payload").mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.get(2).asInstanceOf[Array[Byte]]
        try {
          Mp4.parse(payload) match {
            case Some(info) if info.sampleSizes != null && info.chunkOff >= 0 =>
              var off = info.chunkOff
              info.sampleSizes.iterator.zipWithIndex.flatMap { case (sz, k) =>
                // per-FRAME quarantine: a hostile frame payload (imageio
                // throws or yields null) skips that frame only — the rest
                // of the video still decodes
                val res = try {
                  if (sz <= 0 || off < 0 || off + sz > payload.length) None
                  else if (info.codec == "h264") {
                    // round 11: route H.264 samples through the native
                    // intra decoder (imageio cannot sniff raw Annex-B)
                    H264.decodeIdrPcm(java.util.Arrays.copyOfRange(
                        payload, off.toInt, (off + sz).toInt)).map { f =>
                      var sum = 0L
                      var i = 0
                      while (i < f.y.length) { sum += f.y(i) & 0xff; i += 1 }
                      Row(id, k.toLong, f.width.toLong, f.height.toLong,
                        f.width.toLong * f.height, sum)
                    }
                  } else {
                    // registry-free sniff+decode (see readImage): same
                    // null-when-unrecognised contract as ImageIO.read
                    val img = readImage(payload, off.toInt, sz.toInt)._2
                    if (img == null) None
                    else {
                      val w = img.getWidth; val h = img.getHeight
                      val px = img.getRGB(0, 0, w, h, null, 0, w) // bulk fold
                      var sum = 0L
                      var i = 0
                      while (i < px.length) { sum += px(i) & 0xff; i += 1 }
                      Some(Row(id, k.toLong, w.toLong, h.toLong,
                        (w.toLong * h), sum))
                    }
                  }
                } catch { case scala.util.control.NonFatal(_) => None }
                off += sz
                res
              }.toSeq
            case _ => Seq.empty[Row]
          }
        } catch {
          case scala.util.control.NonFatal(_) => Seq.empty[Row]
        }
      }
    }(enc)
  }

  private val makePayload = udf { (id: Long, kind: String) =>
    kind match {
      case "image" => pngBytes(id)
      case "audio" => wavBytes(id)
      case _ => mp4Bytes(id) // real ISO-BMFF container (no codec payload)
    }
  }

  /** Deterministic media fixture derived from the documents table: real
    * encoded PNG/WAV/MP4-container payloads; kind cycles image/audio/video
    * by id.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("n_chars"))
      .withColumn("payload", makePayload(col("media_id"), col("kind")))
      .select(
        col("media_id"), col("kind"), col("payload"),
        struct(
          (col("n_chars") % 640).cast("int").as("width"),
          (col("n_chars") % 480).cast("int").as("height"),
          lit(16000).as("sample_rate"),
          (col("n_chars") * 10).cast("long").as("duration_ms")).as("meta"))

  /** The JDK's `AudioFileReader` SPI set, WAV-family readers first — a
    * drop-in for `AudioSystem.getAudioInputStream` that scales. The
    * AudioSystem entry point tries Aiff/Au/SoftMidi readers before Wave,
    * and their rejection path serializes on a shared lock: 32 concurrent
    * decode tasks ran SLOWER than one thread (round 18: 0.47 s/8k
    * rows at 1 thread, 0.57 s at 32; wave-first 0.004 s and scaling).
    * Same providers, same accept-or-UnsupportedAudioFileException
    * semantics, loaded once per JVM.
    */
  @transient private lazy val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val all = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader]).asScala.toArray
    all.filter(_.getClass.getSimpleName.startsWith("Wave")) ++
      all.filterNot(_.getClass.getSimpleName.startsWith("Wave"))
  }

  private[graft] def openAudio(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    var i = 0
    while (i < audioReaders.length) {
      try return audioReaders(i).getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no SPI reader accepts this stream")
  }

  /** The JDK's `ImageReaderSpi` set with PNG promoted to front (our media
    * fixture's lossless format — one `canDecodeInput` sniff instead of
    * three). Cached for the same reason as [[audioReaders]]: per-row
    * `ImageIO.createImageInputStream`/`getImageReaders` consult the global
    * IIORegistry, and bypassing it read 12 µs/image vs 29 with linear
    * 32-thread scaling (round 18). The sniff loop is exactly what
    * `ImageIO.getImageReaders` runs — same SPIs, same `canDecodeInput`
    * contract (each provider mark/resets the stream).
    */
  @transient private lazy val imageSpis: Array[javax.imageio.spi.ImageReaderSpi] = {
    val it = javax.imageio.spi.IIORegistry.getDefaultInstance
      .getServiceProviders(classOf[javax.imageio.spi.ImageReaderSpi], true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[javax.imageio.spi.ImageReaderSpi]
    while (it.hasNext) buf += it.next()
    val (png, rest) = buf.toArray.partition(_.getClass.getSimpleName.startsWith("PNG"))
    png ++ rest
  }

  /** Sniff + decode one encoded image without touching the IIORegistry.
    * `ImageIO.read` semantics: null when no reader recognises the bytes;
    * decode failures after recognition propagate (the callers' per-row
    * quarantine catches them). Returns (formatName, image); formatName is
    * non-null whenever some reader accepted the stream.
    */
  private[graft] def readImage(bytes: Array[Byte], off: Int, len: Int):
      (String, java.awt.image.BufferedImage) = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes, off, len))
    // One finally covers every exit — including a provider whose
    // canDecodeInput throws on corrupt bytes (the sniff loop would
    // otherwise leak the stream); double-close is a no-op.
    try {
      var i = 0
      while (i < imageSpis.length) {
        if (imageSpis(i).canDecodeInput(iis)) {
          val reader = imageSpis(i).createReaderInstance()
          val fmt = reader.getFormatName.toLowerCase
          val img = try { reader.setInput(iis); reader.read(0) }
            finally reader.dispose()
          return (fmt, img)
        }
        i += 1
      }
      (null, null)
    } finally iis.close()
  }

  private val decodedSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = true),
    StructField("decoded", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("format", StringType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true)
    )), nullable = true),
    StructField("features", ArrayType(FloatType), nullable = true)))

  /** Partition-batched decode: REAL `javax.imageio` / `javax.sound.sampled`
    * parsing of the payload bytes. Codec setup (`ImageIO.setUseCache`)
    * happens once per partition — the init-amortizing shape a model-based
    * featurizer plugs into. Features are fixed-dim folds of the DECODED
    * content (pixels / PCM samples), not of the encoded bytes.
    */
  def decodeFeatures(media: DataFrame, featureDim: Int = 8): DataFrame = {
    val enc = Encoders.row(decodedSchema)
    media.select("media_id", "kind", "payload").mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      it.map { r =>
        val id = r.getLong(0); val kind = r.getString(1)
        val payload = r.get(2).asInstanceOf[Array[Byte]]
        val nBytes = if (payload == null) null else java.lang.Long.valueOf(payload.length.toLong)
        // Per-row quarantine: a corrupt payload must yield the null-decoded
        // row (the same shape as an unknown kind), never a thrown decoder
        // exception — javax.imageio throws on hostile PNGs,
        // getAudioInputStream throws UnsupportedAudioFileException, and a
        // truncated WAV (<44 B) would IndexOutOfBounds on the sample fold.
        // One poison blob must not kill a million-file scan (same contract
        // as NetCdf tolerant reads; count rows with null decode to audit).
        val (decoded, features) = try kind match {
          case "image" if payload != null && payload.nonEmpty =>
            // ONE registry-free sniff + ONE parse via readImage (the former
            // shape consulted the IIORegistry twice per row — once to sniff
            // the format, then ImageIO.read re-scanned it and re-parsed the
            // stream: 220 µs/image vs 12, round 18). Bulk
            // getRGB replaces the per-pixel call (29 → 7 µs): identical
            // sRGB values, one color-model pass. A throwing decode
            // propagates to the outer quarantine (all-null row, as before).
            val (fmt, img) = readImage(payload, 0, payload.length)
            if (img == null) (Row(null, null, fmt, null, null), null)
            else {
              val w = img.getWidth; val h = img.getHeight
              val px = img.getRGB(0, 0, w, h, null, 0, w)
              val acc = new Array[Float](featureDim)
              var i = 0
              while (i < px.length) {
                acc(i % featureDim) += (px(i) & 0xff) / 255.0f
                i += 1
              }
              (Row(w, h, fmt, null, null), acc)
            }
          case "audio" if payload != null && payload.nonEmpty =>
            val ais = openAudio(payload)
            val f = ais.getFormat
            val nFrames = ais.getFrameLength
            val acc = new Array[Float](featureDim)
            val bb = java.nio.ByteBuffer.wrap(payload, 44, payload.length - 44)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var i = 0
            while (bb.remaining() >= 2) {
              acc(i % featureDim) += math.abs(bb.getShort.toInt) / 32768.0f
              i += 1
            }
            (Row(null, null, null, f.getSampleRate.toInt, nFrames), acc)
          case "video" if payload != null && payload.nonEmpty =>
            // Container parse (no codec): brand → format, mvhd timescale →
            // sample_rate (time units/sec), mvhd duration ticks → n_frames,
            // tkhd 16.16 dims → width/height. Features fold the mdat
            // sample bytes — the codec-independent part of the stream.
            Mp4.parse(payload) match {
              case Some(info) =>
                val acc = new Array[Float](featureDim)
                var i = 0
                while (i < info.mdatLen) {
                  acc(i % featureDim) += (payload(info.mdatOff + i) & 0xff) / 255.0f
                  i += 1
                }
                (Row(info.width, info.height, info.brand, info.timescale,
                  info.durationTicks), acc)
              case None => (Row(null, null, null, null, null), null)
            }
          case _ =>
            // empty/unknown payload: decode yields nulls
            (Row(null, null, null, null, null), null)
        } catch {
          case scala.util.control.NonFatal(_) =>
            (Row(null, null, null, null, null), null)
        }
        Row(id, kind, nBytes, decoded, if (features == null) null else features.toSeq)
      }
    }(enc)
  }

  private val pooledSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("cell_x", LongType, nullable = false),
    StructField("cell_y", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("sum_v", LongType, nullable = false)))

  /** Decode + spatial/temporal pooling — the resize / frame-sample stage of
    * a multimodal training pipeline, over REAL codec output:
    *   - image: `javax.imageio` decode, then average-pool the blue channel
    *     onto a `tw`x`th` thumbnail grid (cell of pixel (x,y) is
    *     ((x*tw)/w, (y*th)/h) — the arithmetic of a box-filter resize);
    *   - audio: PCM16 parse, then `audioWindows` temporal windows of
    *     summed |amplitude| (frame-sampling for feature extraction);
    *   - video: ISO-BMFF container parse locates the `mdat` sample range,
    *     then the same temporal windowing over the sample bytes (the
    *     codec-free analogue of frame sampling).
    * Emits exact integer sums (n, sum_v) per cell so the oracle compare is
    * FP-free; downstream means are one division away. Runs in
    * `mapPartitions` like [[decodeFeatures]]: codec init per partition,
    * one decoded frame in flight per row — memory is O(frame), not
    * O(partition), the property that holds on 100 MB video frames too.
    */
  def poolFeatures(media: DataFrame, tw: Int = 4, th: Int = 2,
      audioWindows: Int = 4): DataFrame = {
    val enc = Encoders.row(pooledSchema)
    media.select("media_id", "kind", "payload").mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        val id = r.getLong(0); val kind = r.getString(1)
        val payload = r.get(2).asInstanceOf[Array[Byte]]
        // per-row quarantine (see decodeFeatures): a hostile payload skips
        // its own row, never kills the scan
        try kind match {
          case "image" if payload != null && payload.nonEmpty =>
            // registry-free sniff+decode (see readImage)
            val img = readImage(payload, 0, payload.length)._2
            if (img == null) Iterator.empty
            else {
              val w = img.getWidth; val h = img.getHeight
              val px = img.getRGB(0, 0, w, h, null, 0, w) // bulk: one color-model pass
              val n = Array.ofDim[Long](th, tw)
              val sum = Array.ofDim[Long](th, tw)
              var y = 0
              while (y < h) {
                val cy = y * th / h
                var x = 0
                while (x < w) {
                  val cx = x * tw / w
                  n(cy)(cx) += 1
                  sum(cy)(cx) += (px(y * w + x) & 0xff).toLong
                  x += 1
                }
                y += 1
              }
              for (cy <- 0 until th; cx <- 0 until tw if n(cy)(cx) > 0)
                yield Row(id, kind, cx.toLong, cy.toLong, n(cy)(cx), sum(cy)(cx))
            }
          case "audio" if payload != null && payload.length > 44 =>
            // Windowed inner loops instead of a per-sample `i*W/total`
            // division (round 19, §4.2 hot-path): sample i belongs to
            // window w ⟺ w*total <= i*W < (w+1)*total, so window w covers
            // the contiguous range [ceil(w*total/W), ceil((w+1)*total/W)).
            // Identical integer sums (windowing is exact, sums are order-
            // free longs), no division on the per-sample path, samples read
            // straight from the array (the ByteBuffer per-call overhead
            // goes too) — and the boundary math runs in Long, fixing the
            // latent Int overflow of i*audioWindows at >2^31/W samples
            // (a 100 TB-scale clip; unreachable on the fixture, where the
            // old and new folds are value-identical).
            val total = (payload.length - 44) / 2
            val n = new Array[Long](audioWindows)
            val sum = new Array[Long](audioWindows)
            var wi = 0
            var lo = 0
            while (wi < audioWindows) {
              val hi = (((wi + 1).toLong * total + audioWindows - 1) / audioWindows).toInt
              var i = lo
              var s = 0L
              while (i < hi) {
                val o = 44 + 2 * i // little-endian PCM16
                val v = ((payload(o + 1) << 8) | (payload(o) & 0xff)).toShort
                s += math.abs(v.toInt).toLong
                i += 1
              }
              n(wi) = (hi - lo).toLong
              sum(wi) = s
              lo = hi
              wi += 1
            }
            for (wi <- 0 until audioWindows if n(wi) > 0)
              yield Row(id, kind, wi.toLong, 0L, n(wi), sum(wi))
          case "video" if payload != null && payload.nonEmpty =>
            // Frame-sample analogue without a codec: locate the mdat sample
            // range from the container boxes and window the sample bytes
            // temporally, like the audio path windows PCM frames.
            Mp4.parse(payload) match {
              case Some(info) if info.mdatLen > 0 =>
                // same windowed-range rewrite as the audio arm above
                val total = info.mdatLen
                val n = new Array[Long](audioWindows)
                val sum = new Array[Long](audioWindows)
                var wi = 0
                var lo = 0
                while (wi < audioWindows) {
                  val hi = (((wi + 1).toLong * total + audioWindows - 1) / audioWindows).toInt
                  var i = lo
                  var s = 0L
                  while (i < hi) {
                    s += (payload(info.mdatOff + i) & 0xff).toLong
                    i += 1
                  }
                  n(wi) = (hi - lo).toLong
                  sum(wi) = s
                  lo = hi
                  wi += 1
                }
                for (wi <- 0 until audioWindows if n(wi) > 0)
                  yield Row(id, kind, wi.toLong, 0L, n(wi), sum(wi))
              case _ => Iterator.empty
            }
          case _ => Iterator.empty // empty/unknown payload
        } catch {
          case scala.util.control.NonFatal(_) => Iterator.empty
        }
      }
    }(enc)
  }

  /** Legacy stub-based feature stage kept for the opaque-payload path
    * (content hash + byte length are codec-independent).
    */
  def extractFeatures(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("content_md5", md5(col("payload")))
}
