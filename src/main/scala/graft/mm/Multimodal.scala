package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables

/** Multimodal columns: media as opaque `binary` payloads with typed
  * metadata alongside. IMAGE decode is REAL: `decodeImage` reads
  * PNG/JPEG/GIF/BMP headers via the JDK's `javax.imageio` (ships with
  * the JRE — no external libs), and VIDEO frame decode is real for
  * MJPEG-in-AVI ([[Multimodal.aviFrameAHash]] — every frame an
  * independent baseline JPEG, the one mainstream video codec the JDK
  * decodes). Payloads no installed reader recognizes (H.264/AAC and
  * friends — those codecs are not in this container) fall back to
  * `decodeStub`, a deterministic fake; the Spark-side plumbing —
  * schema, per-partition batch processing, partition sizing — is real
  * and tested either way.
  *
  * At 100 TB the shape matters: payloads stay columnar-binary in
  * parquet, decode runs per-partition (one library context per task,
  * not per row), and derived features are small typed columns that
  * downstream filters/joins push down on, so the wide binary column is
  * pruned away unless actually needed.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed ImageInputStream cache per
  // read/write; every payload here is an in-memory byte array, so the
  // temp-file round trip is pure /tmp I/O contention (it showed up as
  // 2x bench jitter on the decode-heavy queries). Memory-cached
  // streams are strictly better for byte-array media at any scale.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeature(media_id: Long, kind: String, n_bytes: Int,
                                width: Int, height: Int, sig: Long)

  /** Real image header decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP
    * readers ship with the JRE). Reads only the header
    * (`ImageReader.getWidth/getHeight`), never the pixel raster, so the
    * per-payload cost is O(header) not O(pixels) — the bound that
    * matters when this loop runs over 100 TB of media. Returns None
    * when no installed reader recognizes the bytes (non-image kinds).
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int)] = {
    import javax.imageio.ImageIO
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          Some((r.getWidth(0), r.getHeight(0)))
        } catch { case _: java.io.IOException => None }
        finally r.dispose()
      }
    } finally iis.close()
  }

  /** Parsed WAV/RIFF header metadata: PCM format tag, channel count,
    * sample rate, bits per sample, data-chunk byte count, and the
    * exact integer duration in microseconds
    * (`data_bytes * 1e6 div byte_rate`). */
  final case class WavMeta(audioFormat: Int, channels: Int, sampleRate: Int,
                           bits: Int, dataBytes: Long, durationUs: Long,
                           dataOffset: Int)

  /** REAL RIFF/WAVE header parse — audio needs no codec, just the
    * container walk (the r14 verdict's one remaining mm gap): verify
    * the RIFF/WAVE magic, then walk the chunk list (4-byte id,
    * little-endian u32 size, payload, odd sizes padded to even per the
    * RIFF spec) until both the `fmt ` chunk (format tag, channels,
    * sample rate, bits) and the `data` chunk size have been seen.
    * A genuine chunk walker, not offset-44 arithmetic: files carrying
    * extra chunks (LIST/INFO metadata, cue points) parse identically —
    * MultimodalSpec pins that with a golden file. Returns None for
    * payloads that aren't WAV (wrong magic, truncated, or missing
    * chunks), letting callers fall through to other decoders.
    *
    * Duration is exact integer arithmetic so the mm_audio_meta oracle
    * can reproduce it: `dataBytes * 1_000_000 / byteRate` with
    * byteRate = rate·channels·bits/8, Long division (all positive ⇒
    * truncation == DuckDB's floor `//`).
    */
  def parseWav(p: Array[Byte]): Option[WavMeta] = {
    def u16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
      ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(p, o, 4, "US-ASCII")
    if (p.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // format, channels, rate, bits
    var dataBytes: Option[Long] = None
    var dataAt = -1 // data-chunk BODY offset, for sample-level readers
    while (off + 8 <= p.length && (fmt.isEmpty || dataBytes.isEmpty)) {
      val id = tag(off)
      val size = u32(off + 4)
      val body = off + 8
      id match {
        case "fmt " if body + 16 <= p.length =>
          fmt = Some((u16(body), u16(body + 2), u32(body + 4).toInt, u16(body + 14)))
        case "data" =>
          dataBytes = Some(size); dataAt = body
        case _ => // skip unknown chunks (LIST, cue, fact, ...)
      }
      off = body + size.toInt + (size.toInt & 1) // RIFF pads odd chunks
    }
    for ((f, ch, rate, bits) <- fmt; db <- dataBytes) yield {
      val byteRate = rate.toLong * ch * (bits / 8)
      WavMeta(f, ch, rate, bits, db,
        if (byteRate > 0) db * 1000000L / byteRate else 0L, dataAt)
    }
  }

  /** Builds a VALID little-endian PCM WAV container around raw data
    * bytes — any audio tool can open the result. Used by
    * [[wavFromDocuments]] to synthesize test media (the container has
    * no real recordings) and by MultimodalSpec's goldens.
    */
  def buildWav(sampleRate: Int, channels: Int, bits: Int,
               data: Array[Byte]): Array[Byte] = {
    val pad = data.length & 1
    val out = new java.io.ByteArrayOutputStream(44 + data.length + pad)
    def s(x: String): Unit = out.write(x.getBytes("US-ASCII"))
    def w16(x: Int): Unit = { out.write(x & 0xff); out.write((x >> 8) & 0xff) }
    def w32(x: Long): Unit = { var i = 0; while (i < 4) { out.write(((x >> (8 * i)) & 0xff).toInt); i += 1 } }
    val byteRate = sampleRate.toLong * channels * (bits / 8)
    s("RIFF"); w32(4 + 24 + 8 + data.length + pad); s("WAVE")
    s("fmt "); w32(16); w16(1); w16(channels); w32(sampleRate)
    w32(byteRate); w16(channels * (bits / 8)); w16(bits)
    s("data"); w32(data.length); out.write(data)
    if (pad == 1) out.write(0) // RIFF: odd chunk payloads pad to even
    out.toByteArray
  }

  /** Synthesized WAV media table: each document's text bytes wrapped
    * as the data chunk of a valid PCM WAV whose format parameters
    * derive deterministically from doc_id — the same
    * fake-content/real-plumbing trade as [[mediaFromDocuments]], except
    * here the CONTAINER is real (parseable by any audio tool), only
    * the samples are text.
    */
  def wavFromDocuments(t: Tables): Dataset[MediaRow] = {
    import t.spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[MediaRow] =
      Encoders.product[MediaRow]
    // widen BEFORE the per-row synth/parse maps: the single-split
    // testdata scan otherwise serializes the whole audio family
    // (mm_audio_meta / mm_audio_fp / dedup_audio_fp ran tasks=1
    // end-to-end — the r21 stage audit) on one core
    t.widen(t.documents)
      .select($"doc_id", $"text".cast(BinaryType).as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, data) =>
        MediaRow(id, "audio", buildWav(wavRate(id), wavChannels(id), wavBits(id), data))
      }
  }

  // doc_id -> synth WAV format params, mirrored by mm_audio_meta's oracle
  private[graft] def wavRate(id: Long): Int =
    (id % 4) match { case 0 => 8000; case 1 => 16000; case 2 => 22050; case _ => 44100 }
  private[graft] def wavChannels(id: Long): Int = (id % 2).toInt + 1
  private[graft] def wavBits(id: Long): Int = if (id % 3 == 0) 8 else 16

  /** Audio metadata extraction over the WAV media table: synthesize
    * (real container), then parse with the REAL [[parseWav]] chunk
    * walker per partition — the full round trip a production audio
    * pipeline runs, minus only real recordings. Oracle: the format
    * params re-derive from doc_id arithmetic and the data chunk is the
    * text bytes, so DuckDB reproduces every column — including the
    * integer-microsecond duration — without parsing anything
    * (mm_binary_meta's byte-arithmetic pattern).
    */
  def audioMeta(t: Tables): DataFrame = {
    import t.spark.implicits._ // Tuple6 encoder via newProductEncoder
    wavFromDocuments(t).mapPartitions { rows =>
      rows.map { r =>
        val m = parseWav(r.payload).getOrElse(
          sys.error(s"media ${r.media_id}: synthesized WAV failed to parse"))
        (r.media_id, m.sampleRate.toLong, m.channels.toLong, m.bits.toLong,
          m.dataBytes, m.durationUs)
      }
    }.toDF("media_id", "sample_rate", "channels", "bits", "n_data_bytes", "duration_us")
  }

  val audioMetaSql: String =
    """SELECT doc_id AS media_id,
      | CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |      WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
      | CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
      | CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS BIGINT) AS bits,
      | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_data_bytes,
      | (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 1000000) //
      |  ((CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |     WHEN 2 THEN 22050 ELSE 44100 END) * (doc_id % 2 + 1) *
      |   (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END)) AS duration_us
      |FROM documents""".stripMargin.replace("\n", " ")

  /** Parsed MP4/ISO-BMFF container metadata: movie timescale
    * (units/sec), duration in those units, the exact integer duration
    * in milliseconds (`duration * 1000 div timescale`), track
    * width/height (from tkhd's 16.16 fixed-point fields), and the
    * mdat payload byte count. */
  final case class Mp4Meta(timescale: Long, duration: Long, durationMs: Long,
                           width: Int, height: Int, mdatBytes: Long)

  /** REAL MP4/ISO-BMFF box walk — like WAV/RIFF ([[parseWav]]), the
    * CONTAINER needs no codec, only sample decode does: verify an
    * `ftyp` box leads the file, then walk sibling boxes (u32
    * big-endian size + 4cc type; size==1 → 64-bit largesize follows
    * per the spec), descending into `moov` → `mvhd` (version 0:
    * timescale/duration at fixed offsets after the 4-byte
    * version+flags word; version 1: 64-bit times) and `trak`→`tkhd`
    * (width/height as 16.16 fixed point at the box tail), and
    * recording `mdat`'s payload size. Unknown boxes (`free`, `udta`,
    * codec-specific sample tables) are skipped by size — offset
    * arithmetic would misread any real-world file, a box walker
    * doesn't. Returns None for non-MP4 payloads (no leading ftyp,
    * truncated, or missing moov/mvhd).
    *
    * Kept metadata is what a 100 TB video-corpus pipeline filters on
    * BEFORE paying for a decoder: duration, resolution, payload size.
    * Pixel/sample decode for the codecs this container lacks
    * (H.264 etc.) remains [[decodeStub]]; MJPEG-in-AVI frame decode
    * is REAL ([[aviFrameAHash]], r18).
    */
  def parseMp4(p: Array[Byte]): Option[Mp4Meta] = {
    def u32(o: Int): Long = ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
      ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def tag(o: Int): String = new String(p, o, 4, "US-ASCII")
    if (p.length < 8 || tag(4) != "ftyp") return None
    var timescale = -1L; var duration = -1L
    var width = -1; var height = -1; var mdat = -1L
    // walk a box run in [off, end); descend into moov/trak containers
    def walk(off0: Int, end: Int): Unit = {
      var off = off0
      while (off + 8 <= end) {
        val size0 = u32(off)
        val typ = tag(off + 4)
        val (size, hdr) =
          if (size0 == 1 && off + 16 <= end) (u64(off + 8), 16)
          else if (size0 == 0) ((end - off).toLong, 8) // box extends to end
          else (size0, 8)
        if (size < hdr || off + size > end) return // malformed: stop loudly-empty
        val body = off + hdr
        typ match {
          case "moov" => walk(body, off + size.toInt)
          case "trak" => walk(body, off + size.toInt)
          case "mvhd" if body + 4 <= end =>
            val ver = p(body) & 0xff
            if (ver == 1 && body + 28 <= end) {
              timescale = u32(body + 20); duration = u64(body + 24)
            } else if (body + 20 <= end) {
              timescale = u32(body + 12); duration = u32(body + 16)
            }
          case "tkhd" =>
            // width/height are the LAST two 16.16 fields of the box
            val tail = off + size.toInt
            if (tail - 8 >= body) {
              width = (u32(tail - 8) >> 16).toInt
              height = (u32(tail - 4) >> 16).toInt
            }
          case "mdat" => mdat = size - hdr
          case _ => // free/udta/skip/codec boxes: skip by size
        }
        off += size.toInt
      }
    }
    walk(0, p.length)
    if (timescale > 0 && duration >= 0 && mdat >= 0)
      Some(Mp4Meta(timescale, duration, duration * 1000L / timescale,
        width, height, mdat))
    else None
  }

  /** Builds a VALID minimal ISO-BMFF container: ftyp(isom), moov
    * [mvhd(v0) + trak[tkhd(v0)] + a `free` box so parsers must
    * actually skip], mdat(data). Big-endian throughout per the spec.
    */
  def buildMp4(timescale: Long, duration: Long, width: Int, height: Int,
               data: Array[Byte]): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + body.length)
      out.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      out.array()
    }
    val ftyp = box("ftyp", "isomiso2".getBytes("US-ASCII"))
    val mvhd = {
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0)                      // version 0 + flags
      b.putInt(0).putInt(0)            // creation/modification
      b.putInt(timescale.toInt).putInt(duration.toInt)
      b.putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate/volume
      // reserved + identity matrix + predefined + next_track_id
      b.position(b.position() + 8)
      for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) b.putInt(v)
      b.position(b.position() + 24)
      b.putInt(2)
      box("mvhd", b.array())
    }
    val tkhd = {
      val b = java.nio.ByteBuffer.allocate(84)
      b.putInt(0x00000007)             // version 0 + enabled flags
      b.putInt(0).putInt(0).putInt(1).putInt(0) // times, track id, reserved
      b.putInt(duration.toInt)
      b.position(b.position() + 8)     // reserved
      b.putShort(0).putShort(0).putShort(0).putShort(0) // layer/group/volume/reserved
      for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) b.putInt(v)
      b.putInt(width << 16).putInt(height << 16) // 16.16 fixed point
      box("tkhd", b.array())
    }
    val trak = box("trak", tkhd)
    val free = box("free", "skip-me".getBytes("US-ASCII")) // forces a real walk
    val moov = box("moov", mvhd ++ free ++ trak)
    val mdat = box("mdat", data)
    ftyp ++ moov ++ mdat
  }

  // doc_id -> synth MP4 params, mirrored by mm_video_meta's oracle
  private[graft] def mp4Timescale(id: Long): Long =
    (id % 4) match { case 0 => 600L; case 1 => 1000L; case 2 => 30000L; case _ => 90000L }
  private[graft] def mp4Width(id: Long): Int =
    (id % 3) match { case 0 => 640; case 1 => 1280; case _ => 1920 }
  private[graft] def mp4Height(id: Long): Int =
    (id % 3) match { case 0 => 360; case 1 => 720; case _ => 1080 }

  /** Video container metadata extraction: synthesize a VALID ISO-BMFF
    * skeleton per document (format params from doc_id, duration units
    * = octet_length(text), mdat = the text bytes), parse with the REAL
    * [[parseMp4]] box walker per partition, emit the filterable
    * metadata columns. Oracle: every column re-derives from
    * doc_id/text byte arithmetic ([[audioMeta]]'s pattern).
    */
  def videoMeta(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .select($"doc_id", $"text".cast(BinaryType).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val wav = buildMp4(mp4Timescale(id), data.length.toLong,
            mp4Width(id), mp4Height(id), data)
          val m = parseMp4(wav).getOrElse(
            sys.error(s"media $id: synthesized MP4 failed to parse"))
          (id, m.timescale, m.duration, m.durationMs,
            m.width.toLong, m.height.toLong, m.mdatBytes)
        }
      }.toDF("media_id", "timescale", "duration_units", "duration_ms",
        "width", "height", "n_data_bytes")
  }

  val videoMetaSql: String =
    """SELECT doc_id AS media_id,
      | CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |      WHEN 2 THEN 30000 ELSE 90000 END AS BIGINT) AS timescale,
      | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS duration_units,
      | (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 1000) //
      |  (CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |   WHEN 2 THEN 30000 ELSE 90000 END) AS duration_ms,
      | CAST(CASE doc_id % 3 WHEN 0 THEN 640 WHEN 1 THEN 1280
      |      ELSE 1920 END AS BIGINT) AS width,
      | CAST(CASE doc_id % 3 WHEN 0 THEN 360 WHEN 1 THEN 720
      |      ELSE 1080 END AS BIGINT) AS height,
      | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_data_bytes
      |FROM documents""".stripMargin.replace("\n", " ")

  /** STUB: stands in for the video SAMPLE decoders this container
    * lacks (image headers decode for real via [[decodeImage]], WAV
    * audio via [[parseWav]], MP4 container metadata via [[parseMp4]] —
    * only pixel/sample decode still needs a codec).
    * Deterministic in the payload bytes so tests are stable. A real
    * deployment swaps this for a codec call with the same signature.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int) = {
    var h = 1125899906842597L // FNV-ish fold, deterministic
    var i = 0
    while (i < payload.length) { h = 31 * h + (payload(i) & 0xff); i += 1 }
    val w = (math.floorMod(h, 1920) + 1).toInt
    val ht = (math.floorMod(h >> 21, 1080) + 1).toInt
    (w, ht)
  }

  /** Feature extraction over binary payloads: mapPartitions so decoder
    * state is per-task (the Scala analog of a batched pandas UDF —
    * one batch of rows per invocation, vectorizable decode inside).
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeature] = {
    implicit val enc: org.apache.spark.sql.Encoder[MediaFeature] =
      Encoders.product[MediaFeature]
    media.mapPartitions { rows =>
      // per-partition decoder context: one ImageIO registry scan per
      // task, not per row
      rows.map { r =>
        val (w, h) = decodeImage(r.payload).getOrElse(decodeStub(r.payload))
        var sig = 0L
        val n = math.min(r.payload.length, 64)
        var i = 0
        while (i < n) { sig = sig * 131 + (r.payload(i) & 0xff); i += 1 }
        MediaFeature(r.media_id, r.kind, r.payload.length, w, h, sig)
      }
    }
  }

  /** STUB resize: stands in for an image resize. Deterministic byte-
    * stride downsample to the target byte budget — shape and size
    * behavior of a real resize (output smaller, derived from input),
    * content fake. Swap for a real scaler with the same signature.
    */
  def resizeStub(payload: Array[Byte], targetBytes: Int): Array[Byte] = {
    if (payload.length <= targetBytes) payload
    else {
      val out = new Array[Byte](targetBytes)
      val stride = payload.length.toDouble / targetBytes
      var i = 0
      while (i < targetBytes) {
        out(i) = payload((i * stride).toInt)
        i += 1
      }
      out
    }
  }

  /** Resize pass over a media table: per-partition batch processing,
    * payloads replaced by their resized form plus the size metadata a
    * downstream pipeline filters on.
    */
  def resizeAll(media: Dataset[MediaRow], targetBytes: Int): Dataset[MediaRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[MediaRow] =
      Encoders.product[MediaRow]
    media.mapPartitions { rows =>
      rows.map(r => r.copy(payload = resizeStub(r.payload, targetBytes)))
    }
  }

  /** Synthesizes a media table from documents (text bytes as payload) —
    * the container has no real media, but the pipeline is the real one.
    */
  def mediaFromDocuments(t: Tables): Dataset[MediaRow] = {
    import t.spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[MediaRow] =
      Encoders.product[MediaRow]
    // widen for the same reason as wavFromDocuments: consumers run
    // per-row payload maps (resizeMeta's byte stride) off this scan
    t.widen(t.documents)
      .select($"doc_id".as("media_id"), $"source".as("kind"),
        $"text".cast(BinaryType).as("payload"))
      .as[MediaRow]
  }

  /** Oracle-checkable slice of the plumbing: typed metadata computed
    * from the binary payload with engine-portable functions (octet
    * length, content digest, header hex prefix).
    */
  def binaryMeta(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.select(
      $"doc_id",
      octet_length($"text").as("n_bytes"),
      md5($"text".cast(BinaryType)).as("payload_md5"),
      substring(hex($"text".cast(BinaryType)), 1, 16).as("header_hex"))
  }

  /** Frame-sampling plumbing (the video-style access pattern): the
    * payload is cut into fixed 64-byte frames and every 4th frame is
    * kept, one output row per sampled frame with a content digest.
    * Frame count is capped at 8192 (512 KB of payload), matching the
    * oracle's range(0, 8192) — a per-row work bound.
    * Runs on the hex projection so the same expression is exact in
    * DuckDB (which can't substring BLOBs).
    */
  def frameSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    val frameHex = 128 // 64 bytes
    t.widen(t.documents)
      .select($"doc_id", hex($"text".cast(BinaryType)).as("hx"))
      .select($"doc_id", explode(expr(
        // frame count by integer arithmetic: (len + frameHex-1) div frameHex.
        // Empty payloads must yield an empty array — sequence(0, -1)
        // auto-reverses to [0, -1] in Spark and would emit a phantom frame.
        s"if(length(hx) = 0, array(), " +
          s"transform(sequence(0, int(least((length(hx) + ${frameHex - 1}) div $frameHex, 8192)) - 1), " +
          s"i -> named_struct('frame_idx', i, 'frame', substring(hx, i * $frameHex + 1, $frameHex))))"
      )).as("f"))
      .select($"doc_id", $"f.frame_idx".as("frame_idx"),
        md5($"f.frame".cast(BinaryType)).as("frame_md5"))
      .filter($"frame_idx" % 4 === 0)
  }

  /** The one target-size constant shared by `resizeMeta`'s Scala
    * default AND `resizeMetaSql` (interpolated below) — the two sides
    * cannot silently diverge on the budget.
    */
  val ResizeTargetBytes: Int = 64

  /** Oracle-checkable resize pass: the REAL `resizeStub` byte-stride
    * downsample (the one `resizeAll` applies) run per-partition over
    * the media table, emitting size metadata plus a digest of the
    * resized payload. The DuckDB oracle reconstructs the exact same
    * stride selection with substr/string_agg and must match md5 for
    * md5: this pins the resize CODE PATH, not just its metadata.
    *
    * ASCII ASSUMPTION: the oracle indexes by CHARACTER (substr) while
    * resizeStub strides over BYTES. The two agree only because the
    * synthesized payloads are ASCII document text (byte i == char
    * i+1 — the same equivalence frameSample's hex projection relies
    * on). Non-ASCII payloads would diverge; the oracle comparison is
    * only valid against `mediaFromDocuments` on the ASCII testdata.
    * `resizeMetaSql` is generated for targetBytes == ResizeTargetBytes
    * only — call sites passing another value get no oracle.
    */
  def resizeMeta(t: Tables, targetBytes: Int = ResizeTargetBytes): DataFrame = {
    import t.spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Long, Long, Array[Byte])] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.BINARY)
    val media = mediaFromDocuments(t)
    media.mapPartitions { rows =>
      rows.map { r =>
        val out = resizeStub(r.payload, targetBytes)
        (r.media_id, r.payload.length.toLong, out.length.toLong, out)
      }
    }.toDF("media_id", "n_bytes_in", "n_bytes_out", "resized")
      .select($"media_id", $"n_bytes_in", $"n_bytes_out",
        md5($"resized").as("resized_md5"))
  }

  val resizeMetaSql: String = {
    val tb = ResizeTargetBytes // single source of truth with resizeMeta's default
    s"""WITH d AS (SELECT doc_id AS media_id, text,
       | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n FROM documents),
       |small AS (SELECT media_id, n, n AS n_out, md5(text) AS resized_md5
       | FROM d WHERE n <= $tb),
       |big AS (
       | SELECT media_id, n, CAST($tb AS BIGINT) AS n_out,
       |  md5(string_agg(substr(text,
       |   CAST(trunc(i.range * (CAST(n AS DOUBLE) / $tb)) AS INT) + 1, 1),
       |   '' ORDER BY i.range)) AS resized_md5
       | FROM d JOIN range(0, $tb) i ON n > $tb GROUP BY media_id, n)
       |SELECT media_id, n AS n_bytes_in, n_out AS n_bytes_out, resized_md5 FROM small
       |UNION ALL
       |SELECT media_id, n, n_out, resized_md5 FROM big""".stripMargin.replace("\n", " ")
  }

  val frameSampleSql: String =
    """SELECT doc_id, frame_idx, md5(substr(hx, frame_idx * 128 + 1, 128)) AS frame_md5
      |FROM (
      | SELECT doc_id, hex(CAST(text AS BLOB)) AS hx, CAST(r.range AS INT) AS frame_idx
      | FROM (SELECT doc_id, text FROM documents) d
      | JOIN range(0, 8192) r ON r.range < (length(hex(CAST(d.text AS BLOB))) + 127) // 128)
      |WHERE frame_idx % 4 = 0""".stripMargin.replace("\n", " ")

  val binaryMetaSql: String =
    """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
      | md5(text) AS payload_md5,
      | substr(hex(CAST(text AS BLOB)), 1, 16) AS header_hex
      |FROM documents""".stripMargin.replace("\n", " ")

  // ------------------------------------------ image perceptual hash

  /** Builds a VALID 24-bit uncompressed BMP (BITMAPINFOHEADER,
    * bottom-up rows, 4-byte row padding) with grayscale pixel value
    * `pix(x, y)` at each position — any image tool opens the result.
    * Used by [[bmpFromDocuments]] to synthesize DECODABLE test images:
    * unlike the header-only formats, an uncompressed raster means the
    * aHash oracle can re-derive every decoded pixel by integer
    * arithmetic alone.
    */
  def buildBmp(width: Int, height: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val rowSize = (width * 3 + 3) / 4 * 4
    val imageSize = rowSize * height
    val out = new java.io.ByteArrayOutputStream(54 + imageSize)
    def w16(x: Int): Unit = { out.write(x & 0xff); out.write((x >> 8) & 0xff) }
    def w32(x: Int): Unit = { var i = 0; while (i < 4) { out.write((x >> (8 * i)) & 0xff); i += 1 } }
    out.write('B'); out.write('M'); w32(54 + imageSize); w16(0); w16(0); w32(54)
    w32(40); w32(width); w32(height); w16(1); w16(24)
    w32(0); w32(imageSize); w32(2835); w32(2835); w32(0); w32(0)
    var y = height - 1 // bottom-up row order per the BMP spec
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val v = pix(x, y) & 0xff
        out.write(v); out.write(v); out.write(v) // B, G, R
        x += 1
      }
      var p = width * 3
      while (p < rowSize) { out.write(0); p += 1 }
      y -= 1
    }
    out.toByteArray
  }

  /** Synthesized grayscale pixel at (x, y) for media `id` — mirrored
    * verbatim by the aHash oracle's CASE arithmetic. Design: docs in
    * the same id-div-16 batch share a base pattern (a mod-251
    * multiplicative scramble of the 2x2-block index, so distinct
    * batches get unrelated patterns with no mod-8 collapse) while the
    * top-left 2x2 corner carries per-doc noise — batch-mates are
    * near-identical images differing in ~1 aHash bit, exactly the
    * near-dup structure [[imageNearDup]] must find.
    */
  private[graft] def imagePixel(id: Long, x: Int, y: Int): Int =
    if (x < 2 && y < 2) ((id * 37) % 256).toInt
    else (32 + 24 * (((x / 2 + 8 * (y / 2) + 1) * ((id / 16) % 251 + 1)) % 251 % 8)).toInt

  /** Synthesized image media table: one valid 16x16 BMP per document.
    * Content is fake (deterministic in doc_id), the container and the
    * decode that reads it back are real.
    */
  def bmpFromDocuments(t: Tables): Dataset[MediaRow] = {
    import t.spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[MediaRow] =
      Encoders.product[MediaRow]
    t.widen(t.documents).select($"doc_id").as[Long].map { id =>
      MediaRow(id, "image", buildBmp(16, 16, (x, y) => imagePixel(id, x, y)))
    }
  }

  /** PNG-encode the synthesized raster — ImageIO's real encoder (zlib
    * deflate inside IDAT), the compressed container actual corpora
    * carry. [[pngRoundTrip]] pins the deflate→inflate cycle lossless
    * byte-for-byte, which is exactly what lets PNG payloads share the
    * BMP path's formula-derived oracles. */
  def buildPng(width: Int, height: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, (pix(x, y) & 0xff) * 0x010101); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** MIXED-container image media table (r16): even doc_ids carry the
    * raw BMP, odd ones the SAME raster PNG-encoded — a corpus whose
    * payload bytes differ per container but whose decoded pixels are
    * identical, the shape real image dedup faces (re-encodes of one
    * image across formats must collide). ImageIO's reader dispatches
    * on magic bytes, so the consumer is container-agnostic.
    */
  def imagesFromDocuments(t: Tables): Dataset[MediaRow] = {
    import t.spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[MediaRow] =
      Encoders.product[MediaRow]
    t.widen(t.documents).select($"doc_id").as[Long].map { id =>
      if (id % 2 == 0)
        MediaRow(id, "bmp", buildBmp(16, 16, (x, y) => imagePixel(id, x, y)))
      else
        MediaRow(id, "png", buildPng(16, 16, (x, y) => imagePixel(id, x, y)))
    }
  }

  /** Perceptual average-hash over REAL decoded pixels from the MIXED
    * BMP/PNG media table ([[imagesFromDocuments]]): decode each payload
    * with the JDK's ImageIO (raw raster for BMP, inflate + unfilter for
    * PNG — reader chosen by magic bytes), then compute the classic
    * aHash: 2x2 block means vs the global mean, one bit per 8x8 grid
    * cell, packed into a BIGINT. The mean comparison is
    * cross-multiplied (`block_sum * 64 > total`) so every step is
    * exact integer arithmetic, and because the PNG round trip is
    * pixel-lossless ([[pngRoundTrip]]'s oracle pins this), ONE
    * formula-derived oracle covers BOTH containers — the `container`
    * column is part of the hash-checked output, so the oracle also
    * proves the PNG half really went through the compressed path.
    *
    * At 100 TB this is the image twin of [[graft.dedup.Dedup.simhash]]:
    * decode runs per-partition (one ImageIO context per task), the
    * output is 8 bytes + metadata per image — the resident set for
    * corpus-scale image dedup — and the binary column never shuffles.
    */
  def imageAHash(t: Tables): DataFrame = {
    import t.spark.implicits._ // Tuple6 encoder
    imagesFromDocuments(t).mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (img == null) sys.error(s"media ${r.media_id}: synthesized ${r.kind} failed to decode")
        val word = rasterAHash(img.getWidth, img.getHeight, (x, y) => img.getRGB(x, y) & 0xff)
        (r.media_id, r.kind, img.getWidth.toLong, img.getHeight.toLong, word,
          java.lang.Long.bitCount(word).toLong)
      }
    }.toDF("media_id", "container", "width", "height", "ahash", "nbits")
  }

  /** The aHash word from any pixel accessor: 2x2 block sums vs the
    * cross-multiplied global mean, one bit per 8x8 grid cell. Shared by
    * the decoded-raster paths ([[imageAHash]], [[jpegAHash]]) and the
    * formula path, so "same hash function" is true by construction.
    */
  private def rasterAHash(w: Int, h: Int, px: (Int, Int) => Int): Long = {
    var total = 0L
    val blk = new Array[Long](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (px(x, y) & 0xff).toLong
        total += v; blk((y / 2) * 8 + x / 2) += v; x += 1
      }
      y += 1
    }
    var word = 0L; var i = 0
    while (i < 64) { if (blk(i) * 64 > total) word |= (1L << i); i += 1 }
    word
  }

  /** Shared oracle CTE ending in `ah(doc_id, ahash)`: pixels from the
    * [[imagePixel]] formula via two range tables, block sums pivoted
    * to 64 columns, the hash packed as 64 disjoint-bit OR terms
    * (bit 63's literal round-trips through HUGEINT like
    * Similarity's signWordSql).
    */
  /** The [[imagePixel]] formula as a SQL table of (doc_id, x, y, v) —
    * the ONE place the formula lives on the oracle side; every image
    * oracle (aHash, PNG round trip, downscale) builds on this CTE body
    * so a formula change is a two-site edit (Scala + here), not four.
    */
  private val pxCteBody: String =
    """ SELECT doc_id, x.range AS x, y.range AS y,
      |  CASE WHEN x.range < 2 AND y.range < 2 THEN (doc_id * 37) % 256
      |   ELSE 32 + 24 * (((x.range//2 + 8*(y.range//2) + 1) * ((doc_id//16) % 251 + 1)) % 251 % 8) END AS v
      | FROM documents, range(0, 16) x, range(0, 16) y""".stripMargin

  private val ahashCte: String = {
    val blkCols = (0 until 64).map(b =>
      s"sum(CASE WHEN (y//2)*8 + (x//2) = $b THEN v ELSE 0 END) AS b$b").mkString(", ")
    val word = (0 until 64).map(i =>
      s"(CASE WHEN b$i*64 > total THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" | ")
    s"""WITH px AS (
       |$pxCteBody),
       |agg AS (SELECT doc_id, sum(v) AS total, $blkCols FROM px GROUP BY doc_id),
       |ah AS (SELECT doc_id, $word AS ahash FROM agg)""".stripMargin
  }

  val imageAHashSql: String =
    s"""$ahashCte
       |SELECT doc_id AS media_id,
       | CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS container,
       | CAST(16 AS BIGINT) AS width,
       | CAST(16 AS BIGINT) AS height, ahash,
       | CAST(bit_count(ahash) AS BIGINT) AS nbits
       |FROM ah""".stripMargin.replace("\n", " ")

  /** Image near-duplicate pairs by aHash Hamming distance <= 7, with
    * the same pigeonhole blocking as Dedup.simhashHamming scaled to
    * the 64-bit word: 8 exact 8-bit block keys per image, so any pair
    * within distance 7 shares at least one key (8 blocks, <= 7
    * differing bits) — candidate generation is bucket-bounded
    * (Σ|bucket|² over block-value buckets), never all-pairs, and the
    * blocking is provably lossless at this threshold. Exact distance
    * then filters candidates. MultimodalSpec pins losslessness against
    * a brute-force all-pairs join and that batch-mate images (same
    * id-div-16 base pattern) are found.
    */
  def imageNearDup(t: Tables): DataFrame =
    graft.dedup.Dedup.blockedHammingPairs(
      imageAHash(t), "media_id", "ahash", nBlocks = 8, maxHam = 7)

  val imageNearDupSql: String =
    s"""$ahashCte,
       |b AS (SELECT doc_id, ahash, CAST(r.range AS INT) AS blk,
       |  (ahash >> (CAST(r.range AS INT) * 8)) & 255 AS key
       | FROM ah CROSS JOIN range(0, 8) r),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  a.ahash AS fa, c.ahash AS fb
       | FROM b a JOIN b c ON a.blk = c.blk AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= 7""".stripMargin.replace("\n", " ")

  // ----------------------------------------- JPEG perceptual hash

  /** Fixed JPEG quality for [[jpegAHash]] — high enough that the DCT
    * quantization error stays within a few gray levels per pixel, low
    * enough that the payload actually goes through lossy compression
    * (DCT quantization at 0.9 is real — ~2% of the sf0.01 hashes flip
    * one bit; at tiny 16x16 rasters the byte size is header-dominated,
    * so size is not the evidence of lossiness, the hash flips are).
    */
  val JpegQuality: Float = 0.9f

  /** JPEG-encode the synthesized raster at [[JpegQuality]] through the
    * JDK's ImageIO JPEG writer — the lossy container real crawls are
    * dominated by. Unlike [[buildPng]], the round trip is NOT
    * pixel-exact (RGB→YCbCr, 8x8 DCT, quantization), and JPEG decode
    * output is not specified bit-exactly across decoder
    * implementations — so the JPEG path can never share the
    * formula-derived hash oracle. [[jpegAHash]] instead emits the
    * lossy-decode hash NEXT TO the exact-formula hash and is banded on
    * their Hamming gap (tools/check.py), the honest gate for a
    * perceptual hash whose whole job is surviving lossy re-encodes.
    */
  def buildJpeg(width: Int, height: Int, pix: (Int, Int) => Int,
      quality: Float = JpegQuality): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, (pix(x, y) & 0xff) * 0x010101); x += 1 }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Perceptual hash through a REAL lossy JPEG round trip: synthesize
    * the same [[imagePixel]] raster, encode it as a quality-0.9 JPEG,
    * decode the lossy bytes back with ImageIO, and aHash the decoded
    * raster — next to the exact-formula aHash of the same image and
    * the Hamming distance between the two. Rows-only by necessity
    * (JPEG decode is not bit-portable across decoder implementations,
    * so no SQL oracle can re-derive the lossy pixels); gated instead by
    * a tools/check.py band: `ahash_exact` must equal the hash-checked
    * mm_image_ahash word per media_id (pinning the formula side to the
    * oracle-backed query), and the `hamming` gap must stay within the
    * re-encode budget — which is exactly the property
    * [[imageNearDup]]'s Hamming-<=7 pairing relies on when one copy of
    * an image arrives JPEG-compressed.
    *
    * 100 TB shape: identical to [[imageAHash]] — per-partition encoder
    * and decoder contexts, one 8-byte hash (plus the diagnostic
    * columns) per image out, binary payloads never shuffle. The
    * encode step stands in for the crawl's stored JPEG bytes; in
    * production only the decode+hash half runs.
    */
  def jpegAHash(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.widen(t.documents).select($"doc_id").as[Long].mapPartitions { ids =>
      ids.map { id =>
        val payload = buildJpeg(16, 16, (x, y) => imagePixel(id, x, y))
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        if (img == null) sys.error(s"media $id: synthesized JPEG failed to decode")
        val jpegWord = rasterAHash(img.getWidth, img.getHeight,
          (x, y) => img.getRGB(x, y) & 0xff)
        val exactWord = rasterAHash(16, 16, (x, y) => imagePixel(id, x, y))
        (id, payload.length.toLong, jpegWord, exactWord,
          java.lang.Long.bitCount(jpegWord ^ exactWord).toLong)
      }
    }.toDF("media_id", "jpeg_bytes", "ahash_jpeg", "ahash_exact", "hamming")
  }

  // ----------------------------------- MJPEG-in-AVI video frame decode

  /** Parsed AVI main-header metadata ([[parseAvi]]). */
  final case class AviMeta(width: Int, height: Int, nFrames: Int,
                           usPerFrame: Long)

  /** One RIFF chunk as bytes: 4cc id, u32-LE size, body, odd-size pad
    * (the WAV/[[buildWav]] little-endian discipline, factored out for
    * the nested AVI structure). */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length + 9)
    out.write(id.getBytes("US-ASCII"))
    var i = 0
    while (i < 4) { out.write(((body.length >> (8 * i)) & 0xff)); i += 1 }
    out.write(body)
    if ((body.length & 1) == 1) out.write(0) // RIFF pads odd chunks
    out.toByteArray
  }

  /** `LIST(listType, children...)` as bytes. */
  private def riffList(listType: String, children: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", children.foldLeft(listType.getBytes("US-ASCII"))(_ ++ _))

  /** Values packed as little-endian u32s (4cc strings pass through). */
  private def u32s(xs: Any*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(xs.length * 4)
    xs.foreach {
      case s: String => out.write(s.getBytes("US-ASCII"))
      case n: Long => var i = 0; while (i < 4) { out.write(((n >> (8 * i)) & 0xff).toInt); i += 1 }
      case n: Int => var i = 0; while (i < 4) { out.write((n >> (8 * i)) & 0xff); i += 1 }
      case x => sys.error(s"u32s: $x")
    }
    out.toByteArray
  }

  /** Builds a VALID RIFF/AVI container holding an MJPEG video stream —
    * each frame a complete JPEG in its own `00dc` movi chunk, the
    * layout every AVI tool and FFmpeg's MJPEG demuxer reads:
    * `RIFF('AVI ' LIST(hdrl avih LIST(strl strh strf)) LIST(movi
    * 00dc...))`. MJPEG is the one mainstream VIDEO codec the JDK can
    * decode (every frame is an independent baseline JPEG — ImageIO's
    * reader applies), which is what lets frame sampling run a REAL
    * container walk + REAL pixel decode with zero native codec deps.
    * Structure per the public AVI RIFF form (msdn AVIMAINHEADER /
    * AVISTREAMHEADER / BITMAPINFOHEADER): all integers little-endian,
    * strh carries 'vids'/'MJPG' with rate/scale = 1e6/usPerFrame fps,
    * strf is a BITMAPINFOHEADER with biCompression 'MJPG'. No idx1
    * index — optional per spec, and the parser walks chunks, not
    * offsets.
    */
  def buildAvi(width: Int, height: Int, usPerFrame: Long,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val maxFrame = frames.foldLeft(0)((m, f) => math.max(m, f.length))
    val avih = riffChunk("avih", u32s(
      usPerFrame, 0, 0, 0, frames.length, 0, 1, maxFrame, width, height,
      0, 0, 0, 0))
    val strh = riffChunk("strh", u32s(
      "vids", "MJPG", 0, 0 /* prio+lang u16s */, 0,
      usPerFrame /* scale */, 1000000 /* rate */, 0, frames.length,
      maxFrame, -1 /* default quality */, 0,
      0 /* rcFrame l,t */, (height << 16) | (width & 0xffff) /* r,b */))
    val strf = riffChunk("strf", u32s(
      40, width, height, (24 << 16) | 1 /* planes 1, bitcount 24 */,
      "MJPG", width * height * 3, 0, 0, 0, 0))
    val movi = riffList("movi", frames.map(riffChunk("00dc", _)): _*)
    val body = riffList("hdrl", avih, riffList("strl", strh, strf)) ++ movi
    riffChunk("RIFF", "AVI ".getBytes("US-ASCII") ++ body)
  }

  /** REAL RIFF/AVI walk — the video twin of [[parseWav]]: verify the
    * `RIFF`/`AVI ` magic, then walk the chunk list, descending into
    * `LIST(hdrl)` for the `avih` main header (frame duration, frame
    * count, dimensions) and `LIST(movi)` for the frame chunks (`00dc`
    * compressed / `00db` uncompressed video of stream 0), skipping
    * everything else by size (idx1, INFO, JUNK — offset arithmetic
    * would misread any real-world file, a chunk walker doesn't).
    * Returns the header metadata plus each frame's payload bytes —
    * for MJPEG streams every payload is a standalone JPEG.
    */
  def parseAvi(p: Array[Byte]): Option[(AviMeta, Vector[Array[Byte]])] = {
    def u32(o: Int): Long = (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
      ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(p, o, 4, "US-ASCII")
    if (p.length < 12 || tag(0) != "RIFF" || tag(8) != "AVI ") return None
    var meta: Option[AviMeta] = None
    val frames = Vector.newBuilder[Array[Byte]]
    def walk(off0: Int, end: Int): Unit = {
      var off = off0
      while (off + 8 <= end) {
        val id = tag(off)
        val size = u32(off + 4).toInt
        val body = off + 8
        if (body + size > p.length) return // truncated chunk: stop
        id match {
          case "LIST" if size >= 4 =>
            val lt = tag(body)
            if (lt == "hdrl" || lt == "movi") walk(body + 4, body + size)
          case "avih" if size >= 40 =>
            meta = Some(AviMeta(u32(body + 32).toInt, u32(body + 36).toInt,
              u32(body + 16).toInt, u32(body)))
          case "00dc" | "00db" =>
            frames += java.util.Arrays.copyOfRange(p, body, body + size)
          case _ => // strl internals reached only via hdrl; idx1/JUNK skip
        }
        off = body + size + (size & 1)
      }
    }
    walk(12, p.length)
    meta.map((_, frames.result()))
  }

  /** Synthesized MJPEG-in-AVI media table: doc `id` becomes an AVI of
    * 4–12 frames (`4 + (id mod 5)·2` — varying counts exercise the
    * header/walk agreement), where frame `f` is the JPEG-encoded
    * raster of corpus image `(id + f) mod nDocs`. Sourcing frames from
    * OTHER docs' rasters is what makes the decode verifiable with zero
    * formula duplication: every sampled frame's exact-raster hash must
    * equal the oracle-backed mm_image_ahash word of its source row.
    */
  def aviFromDocuments(t: Tables): Dataset[MediaRow] = {
    import t.spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[MediaRow] =
      Encoders.product[MediaRow]
    val nDocs = t.documents.count()
    t.widen(t.documents).select($"doc_id").as[Long].map { id =>
      val nf = 4 + (id % 5).toInt * 2
      val frames = (0 until nf).map { f =>
        buildJpeg(16, 16, (x, y) => imagePixel((id + f) % nDocs, x, y))
      }
      MediaRow(id, "avi", buildAvi(16, 16, 33333L, frames))
    }
  }

  /** Sampled REAL video-frame decode (closes the module's last decode
    * stub — codec-bearing video frame extraction): walk each AVI
    * ([[parseAvi]]), keep every 2nd frame (the frame-sampling access
    * pattern [[frameSample]] models on raw bytes), JPEG-decode the
    * sampled `00dc` payloads with ImageIO, and aHash the decoded
    * raster next to the exact-formula aHash of the frame's SOURCE
    * image. Rows-only (JPEG decode is not bit-portable); gated by a
    * tools/check.py band exactly like [[jpegAHash]]: `ahash_exact`
    * must bitwise-match the hash-checked mm_image_ahash word of
    * `src_media_id`, the lossy `hamming` gap stays within the
    * re-encode budget, and the sampled frame structure (indices
    * 0,2,4,…; `n_frames = 4 + (id mod 5)·2`) must hold per media row.
    *
    * 100 TB shape: identical to [[jpegAHash]] — per-partition
    * demux+decoder contexts, a few typed columns per sampled frame
    * out, the video payload bytes never shuffle. The synth step
    * stands in for stored crawl bytes; production runs only
    * walk+decode+hash.
    */
  def aviFrameAHash(t: Tables): DataFrame = {
    import t.spark.implicits._
    val nDocs = t.documents.count()
    aviFromDocuments(t).mapPartitions { rows =>
      rows.flatMap { r =>
        val (meta, frames) = parseAvi(r.payload).getOrElse(
          sys.error(s"media ${r.media_id}: synthesized AVI failed to parse"))
        if (meta.nFrames != frames.length)
          sys.error(s"media ${r.media_id}: avih says ${meta.nFrames} " +
            s"frames, movi has ${frames.length}")
        frames.zipWithIndex.collect { case (jpeg, f) if f % 2 == 0 =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(jpeg))
          if (img == null)
            sys.error(s"media ${r.media_id} frame $f: JPEG failed to decode")
          val jpegWord = rasterAHash(img.getWidth, img.getHeight,
            (x, y) => img.getRGB(x, y) & 0xff)
          val src = (r.media_id + f) % nDocs
          val exactWord = rasterAHash(16, 16, (x, y) => imagePixel(src, x, y))
          (r.media_id, f.toLong, src, meta.nFrames.toLong,
            jpeg.length.toLong, jpegWord, exactWord,
            java.lang.Long.bitCount(jpegWord ^ exactWord).toLong)
        }
      }
    }.toDF("media_id", "frame_idx", "src_media_id", "n_frames",
      "frame_bytes", "ahash_jpeg", "ahash_exact", "hamming")
  }

  // ----------------------------------------- real raster downscale

  /** REAL image downscale — the feature-extract/resize step run on
    * actual pixels (the byte-arithmetic [[resizeMeta]] stays as the
    * payload-accounting twin): decode the synthesized 16x16 BMP with
    * ImageIO, box-filter it 2x2 → 8x8 with exact integer means
    * (sum div 4 — no float filter kernels, so the raster re-derives
    * in SQL), and emit small typed columns: dims, pixel total, and an
    * md5-derived fingerprint of the row-major downscaled raster. The
    * oracle rebuilds the same 8x8 raster from the [[imagePixel]]
    * formula and hashes the same comma-joined string — a full hash
    * oracle over a real decode→resize path, the mm step every
    * multimodal training pipeline runs before batching images.
    *
    * 100 TB shape: per-partition decode context, output is O(1) typed
    * columns per image (the downscaled raster itself would go to a
    * binary column in production — the fingerprint stands in as its
    * checkable digest), binary payloads never shuffle.
    */
  def imageDownscale(t: Tables): DataFrame = {
    import t.spark.implicits._
    val raw = bmpFromDocuments(t).mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (img == null) sys.error(s"media ${r.media_id}: synthesized BMP failed to decode")
        val out = new Array[Long](64)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            out((y / 2) * 8 + x / 2) += (img.getRGB(x, y) & 0xff).toLong
            x += 1
          }
          y += 1
        }
        var total = 0L; var i = 0
        val sb = new StringBuilder
        while (i < 64) {
          val m = out(i) / 4 // exact: sums of 4 non-negative ints
          total += m
          if (i > 0) sb.append(',')
          sb.append(m); i += 1
        }
        (r.media_id, 8L, 8L, total, sb.toString)
      }
    }.toDF("media_id", "out_w", "out_h", "px_total", "ds")
    raw.select($"media_id", $"out_w", $"out_h", $"px_total",
      graft.dedup.Dedup.h32($"ds").as("ds_hash"))
  }

  val imageDownscaleSql: String = {
    val h32 = "('0x'||substr(md5(ds),1,8))::BIGINT"
    s"""WITH px AS (
       |$pxCteBody),
       |blk AS (SELECT doc_id, (y//2)*8 + (x//2) AS b, sum(v) // 4 AS m
       | FROM px GROUP BY 1, 2),
       |ds AS (SELECT doc_id, sum(m) AS px_total,
       |  string_agg(m, ',' ORDER BY b) AS ds
       | FROM blk GROUP BY doc_id)
       |SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS out_w,
       | CAST(8 AS BIGINT) AS out_h, CAST(px_total AS BIGINT) AS px_total,
       | $h32 AS ds_hash
       |FROM ds""".stripMargin.replace("\n", " ")
  }

  // ------------------------------------------- PNG codec round trip

  /** Compressed-codec round trip: synthesize each document's 16x16
    * grayscale raster (the [[imagePixel]] formula), ENCODE it as a
    * real PNG (ImageIO's encoder — zlib deflate inside IDAT, the first
    * compressed container in the module; BMP above is raw), then
    * DECODE the compressed bytes back and recompute the aHash word and
    * pixel total from what actually came out of the inflater. The
    * oracle derives the same numbers from the pixel formula alone, so
    * a hash match proves the deflate→inflate round trip is lossless
    * byte-for-byte — the integrity check a media pipeline wants before
    * trusting transcoded assets. (Encoded size is NOT in the output:
    * deflate byte counts are encoder-version-specific, the one
    * non-portable number here — MultimodalSpec pins the compression
    * ratio locally instead.)
    *
    * Same 100 TB shape as [[imageAHash]]: per-partition codec context,
    * 8-byte hash + dims as the resident set, binary never shuffles.
    */
  def pngRoundTrip(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.widen(t.documents).select($"doc_id").as[Long].mapPartitions { ids =>
      ids.map { id =>
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val v = imagePixel(id, x, y) & 0xff
            img.setRGB(x, y, v * 0x010101); x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        if (back == null) sys.error(s"media $id: encoded PNG failed to decode")
        val w = back.getWidth; val h = back.getHeight
        var total = 0L
        val blk = new Array[Long](64)
        var yy = 0
        while (yy < h) {
          var xx = 0
          while (xx < w) {
            val p = (back.getRGB(xx, yy) & 0xff).toLong
            total += p; blk((yy / 2) * 8 + xx / 2) += p; xx += 1
          }
          yy += 1
        }
        var word = 0L; var i = 0
        while (i < 64) { if (blk(i) * 64 > total) word |= (1L << i); i += 1 }
        (id, w.toLong, h.toLong, total, word)
      }
    }.toDF("media_id", "width", "height", "total", "ahash")
  }

  val pngRoundTripSql: String =
    s"""$ahashCte
       |SELECT ah.doc_id AS media_id, CAST(16 AS BIGINT) AS width,
       | CAST(16 AS BIGINT) AS height, CAST(agg.total AS BIGINT) AS total,
       | ah.ahash AS ahash
       |FROM ah JOIN agg ON ah.doc_id = agg.doc_id""".stripMargin.replace("\n", " ")

  // ---------------------------------------- audio energy fingerprint

  /** Fingerprint framing: 8-byte energy frames, capped at 65 (so the
    * delta contour fills at most 64 bits) — mirrored by the oracle's
    * range(0, 520) position table. */
  private val FpFrameBytes = 8
  private val FpMaxFrames = 65

  /** Audio energy-contour fingerprint — the audio twin of
    * [[imageAHash]] and the landmark idea behind audio matchers
    * (Shazam-style) reduced to its integer-exact core: parse the WAV
    * container for real (the [[parseWav]] chunk walk now reports the
    * data-chunk offset), frame the sample bytes into 8-byte energy
    * windows, and set bit i iff the energy RISES from frame i to
    * i+1. The up/down contour is amplitude-scale-robust in real audio
    * and is pure integer arithmetic here, so the 64-bit fingerprint
    * re-derives in SQL from the text bytes (the synthesized data
    * chunk) — a FULL hash oracle over a real container round trip.
    * Same 100 TB shape as the image hash: per-partition decode, 8
    * bytes of fingerprint + frame count as the resident set.
    */
  def audioFingerprint(t: Tables): DataFrame = {
    import t.spark.implicits._ // Tuple4 encoder
    wavFromDocuments(t).mapPartitions { rows =>
      rows.map { r =>
        val m = parseWav(r.payload).getOrElse(
          sys.error(s"media ${r.media_id}: synthesized WAV failed to parse"))
        val start = m.dataOffset
        val nData = math.min(m.dataBytes, (FpMaxFrames * FpFrameBytes).toLong).toInt
        val nFrames = (nData + FpFrameBytes - 1) / FpFrameBytes
        val e = new Array[Long](math.max(nFrames, 1))
        var i = 0
        while (i < nData) {
          e(i / FpFrameBytes) += (r.payload(start + i) & 0xff).toLong
          i += 1
        }
        var word = 0L
        var f = 0
        while (f < nFrames - 1 && f < 64) {
          if (e(f + 1) > e(f)) word |= (1L << f)
          f += 1
        }
        (r.media_id, nFrames.toLong, word, java.lang.Long.bitCount(word).toLong)
      }
    }.toDF("media_id", "n_frames", "fp", "nbits")
  }

  /** Shared oracle CTE ending in `fpt(doc_id, n_frames, fp)`: frame
    * energies from the text bytes (ASCII ⇒ byte i == unicode of char
    * i+1, the same equivalence frameSample/resizeMeta rely on), delta
    * bits OR'd via a 64-branch literal-weight CASE (DuckDB refuses
    * `1::BIGINT << 63`; the bit-63 literal round-trips via HUGEINT).
    * Docs too short for any delta keep fp = 0 through the LEFT join.
    */
  private val audioFpCte: String = {
    val wcase = (0 until 64).map(i =>
      s"WHEN $i THEN CAST(${1L << i} AS BIGINT)").mkString(" ")
    s"""WITH ch AS (
       | SELECT doc_id, p.range AS pos,
       |  CAST(unicode(substr(text, CAST(p.range + 1 AS INT), 1)) AS BIGINT) AS b
       | FROM documents
       | JOIN range(0, ${FpMaxFrames * FpFrameBytes}) p
       |  ON p.range < least(length(text), ${FpMaxFrames * FpFrameBytes})),
       |fe AS (SELECT doc_id, pos // $FpFrameBytes AS fi, sum(b) AS e
       | FROM ch GROUP BY doc_id, pos // $FpFrameBytes),
       |d AS (SELECT a.doc_id AS doc_id, a.fi AS fi,
       |  CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS up
       | FROM fe a JOIN fe b ON a.doc_id = b.doc_id AND b.fi = a.fi + 1),
       |w AS (SELECT doc_id,
       |  bit_or(CASE WHEN up = 0 THEN 0 ELSE CASE fi $wcase END END) AS fp
       | FROM d GROUP BY doc_id),
       |fpt AS (SELECT dd.doc_id AS doc_id,
       |  CAST(least((length(dd.text) + ${FpFrameBytes - 1}) // $FpFrameBytes, $FpMaxFrames) AS BIGINT) AS n_frames,
       |  coalesce(w.fp, 0) AS fp
       | FROM documents dd LEFT JOIN w ON dd.doc_id = w.doc_id)""".stripMargin
  }

  val audioFingerprintSql: String =
    s"""$audioFpCte
       |SELECT doc_id AS media_id, n_frames, fp,
       | CAST(bit_count(fp) AS BIGINT) AS nbits
       |FROM fpt""".stripMargin.replace("\n", " ")

  /** Audio near-dup pairs: Hamming <= 7 on the energy contour, same
    * provably-lossless pigeonhole 8-bit-block bucketing as the image
    * pairs (Dedup.blockedHammingPairs). Short clips are excluded on
    * BOTH sides (n_frames >= 17, i.e. >= 16 meaningful contour bits):
    * a near-empty contour word is mostly zero bits, so two unrelated
    * short clips would otherwise pair spuriously — the gate is the
    * fingerprint-confidence floor a real audio matcher applies before
    * trusting a match.
    */
  def audioNearDup(t: Tables): DataFrame =
    graft.dedup.Dedup.blockedHammingPairs(
      audioFingerprint(t).filter(col("n_frames") >= 17),
      "media_id", "fp", nBlocks = 8, maxHam = 7)

  val audioNearDupSql: String =
    s"""$audioFpCte,
       |b AS (SELECT doc_id, fp, CAST(r.range AS INT) AS blk,
       |  (fp >> (CAST(r.range AS INT) * 8)) & 255 AS key
       | FROM fpt CROSS JOIN range(0, 8) r WHERE n_frames >= 17),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  a.fp AS fa, c.fp AS fb
       | FROM b a JOIN b c ON a.blk = c.blk AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= 7""".stripMargin.replace("\n", " ")
}
