package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal-column plumbing: treat media (image/audio/video) as opaque
  * `binary` columns and run the decode / feature-extraction step as a
  * per-partition batch job — the Scala analogue of a `mapInPandas` decode
  * stage.
  *
  * Decode depth, honestly stated per modality:
  *   - PNG/JPEG/BMP/GIF: REAL pixel decode via the JDK's `javax.imageio`
  *     (no external codec jar needed) — [[decodePixels]] emits true
  *     dimensions and channel means, the standard image-dedup features.
  *   - WAV/PCM-16: REAL sample decode by RIFF chunk walk —
  *     [[decodeAudio]] emits sample counts and RMS amplitude.
  *   - Video containers: REAL structure parsing without any codec —
  *     MJPEG-in-AVI frame sampling ([[sampleFrames]]) and mp4/ISO-BMFF
  *     metadata by atom walk ([[probeMp4]]: mvhd duration, tkhd dims).
  *   - Compressed audio (mp3) and raw codec streams: no codec exists in
  *     the JDK; [[extractFeatures]] is the byte-level fallback for such
  *     blobs and is the only remaining stub-grade path.
  *
  * At 100 TB the decode stage is a narrow per-partition pass: no shuffle,
  * parallelism = input splits, and partition size is controlled by
  * `spark.sql.files.maxPartitionBytes` so a batch of blobs fits executor
  * memory alongside the decoder's working set.
  */
object MultimodalOps {

  /** True pixel statistics for JDK-decodable images. `channels` is the
    * color model's component count; undecodable bytes yield format
    * "undecodable" with zeroed fields (a pipeline filters those out). */
  final case class ImagePixels(
      doc_id: Long, format: String, width: Int, height: Int, channels: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** ImageIO.read that never throws: null for unrecognized bytes (what
    * ImageIO itself does) AND for recognized-then-corrupt payloads, where
    * ImageIO throws instead (e.g. a JPEG SOI marker with no scan data —
    * found by the seeded fuzz). Both are the same "undecodable" to a
    * pipeline; neither may kill a Spark task mid-corpus. NonFatal, not
    * just IOException: crafted headers can surface runtime exceptions
    * from decoder internals. */
  private def readImageOrNull(bytes: Array[Byte], off: Int = 0, len: Int = -1): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      bytes, off, if (len < 0) bytes.length else len))
    catch { case scala.util.control.NonFatal(_) => null }

  def decodePixels(id: Long, bytes: Array[Byte]): ImagePixels = {
    val img = readImageOrNull(bytes)
    if (img == null) ImagePixels(id, "undecodable", 0, 0, 0, 0.0, 0.0, 0.0)
    else {
      val w = img.getWidth
      val h = img.getHeight
      var r = 0L; var g = 0L; var b = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      ImagePixels(id, imageFormatLabel(bytes), w, h,
        img.getColorModel.getNumComponents,
        r.toDouble / n, g.toDouble / n, b.toDouble / n)
    }
  }

  /** df(doc_id, blob) -> decoded pixel features, one ImageIO decoder
    * context per partition (ImageIO's disk cache off: blobs are already
    * in memory, per-partition batches must not hit local disk). */
  def decodeImages(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Byte])].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (id, bytes) => decodePixels(id, bytes) }
    }.toDF()
  }

  /** True sample statistics for PCM-16 WAV: RIFF chunk walk to the fmt
    * and data chunks, then 16-bit little-endian samples. */
  final case class AudioSamples(
      doc_id: Long, sample_rate: Int, channels: Int, n_samples: Long,
      rms: Double)

  def decodeAudio(id: Long, b: Array[Byte]): AudioSamples = {
    def u16le(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32le(i: Int): Long = (u16le(i) | (u16le(i + 2).toLong << 16)) & 0xffffffffL
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return AudioSamples(id, 0, 0, 0L, 0.0)
    // chunk offsets in Long: a hostile/corrupt 32-bit size field must not
    // wrap Int arithmetic into a zero or backwards advance (infinite loop
    // inside a Spark task) — the cursor is strictly increasing by >= 8
    var i = 12L
    var rate = 0; var ch = 0; var bits = 0
    var sumSq = 0.0; var n = 0L
    while (i + 8 <= b.length) {
      val at = i.toInt
      val name = new String(b, at, 4, "US-ASCII")
      val len = u32le(at + 4)
      // truncated chunks (fmt fields or samples past EOF) degrade to
      // zeroed/partial stats, like every other malformed-media path here
      if (name == "fmt " && i + 24 <= b.length) {
        ch = u16le(at + 10); rate = u32le(at + 12).toInt; bits = u16le(at + 22)
      } else if (name == "data" && bits == 16) {
        var j = at + 8
        val end = math.min(i + 8 + len, b.length.toLong).toInt // exclusive
        while (j + 1 < end) {
          val s = u16le(j).toShort.toDouble
          sumSq += s * s; n += 1; j += 2
        }
      }
      i += 8 + len + (len & 1L) // chunks are word-aligned
    }
    AudioSamples(id, rate, ch, n, if (n == 0) 0.0 else math.sqrt(sumSq / n))
  }

  /** PCM-16 mono RIFF/WAVE bytes with sample(t) = ((seed*37 + t*13 +
    * delta) % 4001) - 2000 — the construction half of the q125
    * round-trip contract (the audio sibling of [[mkMp4]]/[[mkGrayPng]]).
    * All-integer samples so the oracle can replay them exactly. */
  def mkWav16(seed: Long, delta: Int, nSamples: Int): Array[Byte] = {
    val data = nSamples * 2
    val b = java.nio.ByteBuffer.allocate(44 + data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")); b.putInt(36 + data)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")); b.putInt(16)
    b.putShort(1); b.putShort(1) // PCM, mono
    b.putInt(16000); b.putInt(32000); b.putShort(2); b.putShort(16)
    b.put("data".getBytes("US-ASCII")); b.putInt(data)
    var t = 0
    while (t < nSamples) {
      b.putShort((((seed * 37 + t * 13 + delta) % 4001) - 2000).toShort)
      t += 1
    }
    b.array
  }

  /** Robust audio fingerprint: RIFF-walk to the PCM-16 data chunk (the
    * same hostile-size-hardened cursor as [[decodeAudio]]), sum squared
    * samples over 64-sample frames, and emit one bit per frame boundary
    * — '1' iff the energy ROSE (the classic sign-of-delta acoustic
    * fingerprint). All-integer energies, so the threshold can never
    * drift between engines; returned as a '0'/'1' string like [[aHash]].
    * Non-WAV/empty audio fingerprints to "". */
  def audioFingerprint(b: Array[Byte], frame: Int = 64): String = {
    def u16le(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32le(i: Int): Long = (u16le(i) | (u16le(i + 2).toLong << 16)) & 0xffffffffL
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return ""
    // Array, not Seq (List) — the bit-emission loop below indexes by
    // position, and List's linear apply made it O(n_frames²): a 50 MB
    // WAV (~410k frames) hung the task for hours (r14 review)
    val energies = Array.newBuilder[Long]
    var i = 12L
    var bits = 0
    while (i + 8 <= b.length) {
      val at = i.toInt
      val name = new String(b, at, 4, "US-ASCII")
      val len = u32le(at + 4)
      if (name == "fmt " && i + 24 <= b.length) bits = u16le(at + 22)
      else if (name == "data" && bits == 16) {
        var j = at + 8
        val end = math.min(i + 8 + len, b.length.toLong).toInt
        var e = 0L
        var n = 0
        while (j + 1 < end) {
          val s = u16le(j).toShort.toLong
          e += s * s
          n += 1
          if (n == frame) { energies += e; e = 0L; n = 0 }
          j += 2
        }
      }
      i += 8 + len + (len & 1L)
    }
    val es = energies.result()
    val sb = new java.lang.StringBuilder(math.max(es.length - 1, 0))
    var f = 1
    while (f < es.length) {
      sb.append(if (es(f) > es(f - 1)) '1' else '0')
      f += 1
    }
    sb.toString
  }

  /** df(doc_id, blob) -> decoded audio features, per-partition batches. */
  def decodeAudioBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeAudio(id, bytes) })
      .toDF()
  }

  /** Byte-derived pseudo-features; deterministic pure function of bytes. */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Long, head_bytes: String,
      fake_width: Long, fake_channels: Int)

  /** Byte-level FALLBACK for blobs with no parseable container (??? for
    * mp3 and raw codec streams: no codec in the JDK, by design no
    * external jars): derives metadata from the raw bytes only. For
    * PNG/JPEG/WAV use the real decoders above; for AVI frames
    * [[sampleFrames]]; for mp4 container metadata [[probeMp4]]. */
  private def decode(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val head = bytes.take(8).map(b => (b & 0xff).toString).mkString(",")
    MediaFeatures(id, bytes.length.toLong, head, bytes.length.toLong % 640, 3)
  }

  /** df(doc_id: long, blob: binary) -> per-partition batch "decode". */
  def extractFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] = df.as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      // One iterator pass per partition: the decoder (or its native
      // context) initializes once here, then streams the batch.
      it.map { case (id, bytes) => decode(id, bytes) }
    }.toDF()
  }

  /** Sniff-only container label for decoded pixels (r14 review):
    * [[probe]] covers png/jpeg/wav/mp4 only, so a decodable BMP/GIF
    * was labeled "unknown" despite real pixels — and every image paid
    * probe's full JPEG-segment/atom walk just for the string. Magic
    * bytes only; ImageIO already proved decodability. */
  private def imageFormatLabel(b: Array[Byte]): String =
    if (b.length >= 4 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') "gif"
    else "unknown"

  final case class MediaProbe(
      doc_id: Long, format: String, width: Int, height: Int, channels: Int,
      n_bytes: Long)

  /** Container metadata extracted by REAL header parsing (no codec libs
    * needed — these are byte-layout reads of the container formats, the
    * part of "decode" that never required a native library):
    *
    *   - PNG: width/height from the IHDR chunk (big-endian u32 at offsets
    *     16/20 after the 8-byte signature), channels from the color type
    *   - JPEG: baseline/progressive SOF segment walk (skip APPn/DQT/...
    *     by their big-endian lengths until a C0-CF frame marker, excluding
    *     C4/C8/CC), height/width/components from the frame header
    *   - WAV: RIFF/WAVE fmt fields, little-endian (channels, sample rate)
    *
    * Only pixel/sample decoding remains stubbed in [[extractFeatures]].
    */
  def probe(id: Long, b: Array[Byte]): MediaProbe = {
    def u8(i: Int): Int = b(i) & 0xff
    def u16be(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32be(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32le(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)

    if (b.length >= 26 && u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') {
      val channels = u8(25) match { // PNG color type -> sample channels
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => 0
      }
      MediaProbe(id, "png", u32be(16), u32be(20), channels, b.length.toLong)
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      var out: MediaProbe = MediaProbe(id, "jpeg", 0, 0, 0, b.length.toLong)
      var done = false
      while (!done && i + 9 < b.length && u8(i) == 0xff) {
        val m = u8(i + 1)
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          out = MediaProbe(id, "jpeg", u16be(i + 7), u16be(i + 5), u8(i + 9),
            b.length.toLong)
          done = true
        } else i += 2 + u16be(i + 2) // segment length includes its own bytes
      }
      out
    } else if (b.length >= 28 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      // chunk-walk to 'fmt ' (r14 review): a JUNK/LIST chunk before it
      // is legal RIFF, and the former hardcoded 22/24 offsets read that
      // chunk's payload as rate/channels — deterministic garbage
      // instead of the documented zeroed degrade. Long cursor, same
      // hostile-size discipline as decodeAudio; unfound fmt -> zeros.
      // "width" carries the sample rate for audio; height meaningless.
      var i = 12L; var rate = 0; var ch = 0; var found = false
      while (i + 8 <= b.length && !found) {
        val at = i.toInt
        val name = new String(b, at, 4, "US-ASCII")
        val len = u32le(at + 4).toLong & 0xffffffffL
        // the chunk's own declared length must cover a canonical fmt
        // body (16 bytes) too, not just the buffer bound — a
        // legal-but-short fmt chunk would otherwise read the NEXT
        // chunk's header bytes as rate/channels (r14 ADVICE); short
        // fmt falls through to the zeroed degrade like unfound fmt
        if (name == "fmt " && len >= 16 && i + 16 <= b.length) {
          ch = u16le(at + 10); rate = u32le(at + 12); found = true
        }
        i += 8 + len + (len & 1L)
      }
      MediaProbe(id, "wav", rate, 0, ch, b.length.toLong)
    } else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' &&
        b(6) == 'y' && b(7) == 'p') {
      // ISO-BMFF: real dims via the atom walk; moov-less bytes still
      // sniff as mp4 by the ftyp brand (fields zeroed)
      val m = probeMp4(id, b)
      MediaProbe(id, "mp4", m.width, m.height, 0, b.length.toLong)
    } else MediaProbe(id, "unknown", 0, 0, 0, b.length.toLong)
  }

  /** df(doc_id: long, blob: binary) -> real container metadata, same
    * per-partition batch shape as [[extractFeatures]]. */
  def probeMedia(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => probe(id, bytes) })
      .toDF()
  }

  /** Container metadata for ISO-BMFF (mp4/mov) video: parsed by a REAL
    * box walk — no codec needed, the moov metadata tree is plain
    * byte-layout. `duration_ms` is mvhd duration scaled by its timescale;
    * width/height come from the first non-zero tkhd (16.16 fixed-point).
    * Undecodable bytes yield format "undecodable" with zeroed fields. */
  final case class VideoMeta(
      doc_id: Long, format: String, width: Int, height: Int,
      duration_ms: Long, n_tracks: Int, n_bytes: Long)

  /** ISO-BMFF atom walk (the mp4 sibling of the RIFF walk above): boxes
    * are (u32be size)(4cc type)[u64be largesize if size==1], containers
    * (moov/trak/mdia...) nest child boxes directly. The walk descends
    * moov -> mvhd (timescale, duration) and moov -> trak -> tkhd
    * (width/height), the exact fields a corpus pipeline filters on
    * before paying for any frame decode. Same hostile-input rules as
    * [[decodeAudio]]/[[sampleFrames]]: Long cursor arithmetic (a corrupt
    * size cannot wrap backwards), an explicit heap stack for nesting
    * (no JVM recursion), and strictly-increasing advance (size < 8 and
    * size == 0 terminate the enclosing range instead of looping). */
  def probeMp4(id: Long, b: Array[Byte]): VideoMeta = {
    def u8(i: Int): Long = (b(i) & 0xff).toLong
    def u32be(i: Int): Long =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def u64be(i: Int): Long = (u32be(i) << 32) | u32be(i + 4)
    val bad = VideoMeta(id, "undecodable", 0, 0, 0L, 0, b.length.toLong)
    if (b.length < 12 || !(b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'))
      return bad
    var timescale = 0L; var duration = -1L
    var width = 0; var height = 0; var tracks = 0
    var stack = List((0L, b.length.toLong)) // (cursor, rangeEnd)
    val containers = Set("moov", "trak", "mdia", "minf", "stbl", "edts")
    while (stack.nonEmpty) {
      var (i, to) = stack.head
      stack = stack.tail
      var descended = false
      while (!descended && i + 8 <= to) {
        val at = i.toInt
        val size0 = u32be(at)
        val name = new String(b, at + 4, 4, "US-ASCII")
        // size==1: 64-bit largesize follows the type; size==0: box runs
        // to the end of the enclosing range
        val (hdr, size0d) =
          if (size0 == 1L && i + 16 <= to) (16L, u64be(at + 8))
          else if (size0 == 0L) (8L, to - i)
          else (8L, size0)
        // clamp BEFORE i + size: a crafted 64-bit largesize near
        // Long.MaxValue would overflow i + size negative and turn the
        // cursor into an out-of-bounds index
        val size = math.min(size0d, to - i)
        if (size < hdr) { i = to } // corrupt: terminate this range
        else {
          val end = i + size
          if (containers(name) && end > i + hdr) {
            stack ::= ((end, to))
            stack ::= ((i + hdr, end))
            if (name == "trak") tracks += 1
            descended = true
          } else {
            if (name == "mvhd" && i + hdr + 4 <= end) {
              val v = at + hdr.toInt
              val ver = u8(v).toInt
              // v1 guard covers the full u64 duration read (bytes
              // hdr+24..hdr+31): a crafted v1 mvhd truncated between
              // hdr+28 and hdr+31 must not walk off the buffer
              if (ver == 1 && i + hdr + 32 <= end) {
                timescale = u32be(v + 20); duration = u64be(v + 24)
              } else if (ver == 0 && i + hdr + 24 <= end) {
                timescale = u32be(v + 12); duration = u32be(v + 16)
              }
            } else if (name == "tkhd" && width == 0 && i + hdr + 4 <= end) {
              val v = at + hdr.toInt
              val ver = u8(v).toInt
              // width/height are the last two u32 (16.16 fixed) of tkhd:
              // v0 body is 84 bytes, v1 is 96
              val off = if (ver == 1) 96 - 8 else 84 - 8
              if (i + hdr + off + 8 <= end) {
                width = (u32be(v + off) >> 16).toInt
                height = (u32be(v + off + 4) >> 16).toInt
              }
            }
            i += size
          }
        }
      }
    }
    if (timescale <= 0L || duration < 0L) bad
    else VideoMeta(id, "mp4", width, height,
      duration * 1000L / timescale, tracks, b.length.toLong)
  }

  /** Minimal valid ISO-BMFF fixture: ftyp + moov(mvhd v0, trak(tkhd v0)).
    * The construction half of the q115 round-trip contract — the engine
    * builds real container bytes from row values, [[probeMp4]] walks them
    * back, and the DuckDB oracle recomputes the expected fields
    * arithmetically, so the box walk is verified field-for-field. */
  def mkMp4(timescale: Long, durationTicks: Long, width: Int, height: Int): Array[Byte] = {
    // a v0 mvhd stores timescale/duration as u32: values past 2^32-1
    // would silently wrap in `.toInt` and diverge from the 64-bit
    // oracle arithmetic, so refuse loudly instead (a v1 box would be
    // the fix if a caller ever needs longer durations)
    require(timescale > 0L && timescale <= 0xFFFFFFFFL,
      s"mvhd v0 timescale out of u32 range: $timescale")
    require(durationTicks >= 0L && durationTicks <= 0xFFFFFFFFL,
      s"mvhd v0 duration out of u32 range: $durationTicks")
    // tkhd stores dims as 16.16 fixed point: the integer part is u16,
    // so width/height past 65535 (or negative) would silently wrap in
    // `<< 16` — same refuse-loudly contract as the u32 fields above
    // (r14 review)
    require(width >= 0 && width <= 0xFFFF,
      s"tkhd 16.16 width out of u16 range: $width")
    require(height >= 0 && height <= 0xFFFF,
      s"tkhd 16.16 height out of u16 range: $height")
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 8 + 92)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(16).put("ftypisom".getBytes("US-ASCII")).putInt(0)
    bb.putInt(8 + 108 + 8 + 92).put("moov".getBytes("US-ASCII"))
    // mvhd v0: ver/flags, ctime, mtime, timescale, duration, then the
    // fixed tail (rate, volume, reserved, matrix, predefined, next track)
    bb.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(0)
      .putInt(timescale.toInt).putInt(durationTicks.toInt)
      .putInt(0x00010000).putShort(0x0100.toShort).put(new Array[Byte](10))
      .putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .put(new Array[Byte](24)).putInt(2)
    // trak(tkhd v0): width/height are the trailing 16.16 fixed u32 pair
    bb.putInt(8 + 92).put("trak".getBytes("US-ASCII"))
    bb.putInt(92).put("tkhd".getBytes("US-ASCII"))
      .putInt(0x00000007).putInt(0).putInt(0).putInt(1).putInt(0)
      .putInt(durationTicks.toInt).put(new Array[Byte](8))
      .putShort(0).putShort(0).putShort(0).putShort(0)
      .putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .putInt(width << 16).putInt(height << 16)
    bb.array()
  }

  /** df(doc_id, blob) -> ISO-BMFF container metadata, per-partition. */
  def probeVideoBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => probeMp4(id, bytes) })
      .toDF()
  }

  /** One sampled, decoded video frame: true dimensions + mean luminance
    * (the standard frame-dedup / shot-boundary feature). */
  final case class VideoFrame(
      doc_id: Long, frame_idx: Long, n_frames: Long,
      width: Int, height: Int, mean_luma: Double)

  /** REAL video frame sampling for RIFF/AVI containers with
    * JDK-decodable frame payloads (MJPEG — each '..dc' chunk is a whole
    * JPEG/PNG image, which `javax.imageio` decodes without any external
    * codec). The RIFF walk recurses LIST chunks to the 'movi' payload,
    * counts every video frame chunk, and DECODES only every `everyK`-th —
    * at 100 TB that sampling ratio, not the corpus size, sets the decode
    * bill. Same hostile-size hardening as [[decodeAudio]]: the cursor
    * advances through Long arithmetic, so a corrupt 32-bit chunk size
    * cannot wrap into a backwards seek inside a task. Non-AVI bytes or
    * undecodable frames yield zero rows (a pipeline filters those out);
    * truly opaque codecs (H.264 in mp4) stay with the documented
    * byte-level fallback in [[extractFeatures]].
    */
  def sampleFrames(id: Long, b: Array[Byte], everyK: Int): Seq[VideoFrame] = {
    require(everyK > 0, "everyK must be positive")
    def u16le(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32le(i: Int): Long = (u16le(i) | (u16le(i + 2).toLong << 16)) & 0xffffffffL
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'A' || b(9) != 'V' || b(10) != 'I')
      return Seq.empty
    val frames = Seq.newBuilder[(Int, Int)] // (offset, length) of frame payloads
    // iterative in-order LIST descent (explicit continuation stack): a
    // crafted blob that nests LIST headers thousands deep must cost a
    // heap entry per level, not a JVM stack frame — StackOverflowError
    // is fatal to the task. On LIST: push the remainder of the current
    // range, then the LIST body, so frames still emit in document order.
    var stack = List((12L, b.length.toLong))
    while (stack.nonEmpty) {
      var (i, to) = stack.head
      stack = stack.tail
      var descended = false
      while (!descended && i + 8 <= to) {
        val at = i.toInt
        val name = new String(b, at, 4, "US-ASCII")
        val len = u32le(at + 4)
        val end = math.min(i + 8 + len, to)
        val next = i + 8 + len + (len & 1L)
        if (name == "LIST" && i + 12 <= to) {
          stack ::= ((next, to))
          stack ::= ((i + 12, end))
          descended = true
        } else {
          if ((name.endsWith("dc") || name.endsWith("db")) && end > i + 8)
            frames += ((at + 8, (end - i - 8).toInt))
          i = next
        }
      }
    }
    val all = frames.result()
    val nFrames = all.size.toLong // hoisted: .size on the built Seq is
                                  // O(n), and it was read per frame
    all.zipWithIndex.collect { case ((off, len), idx) if idx % everyK == 0 =>
      // ImageIO.read returns null for unrecognized bytes but THROWS for
      // recognized-then-corrupt payloads (truncated JPEG scan) — both are
      // the same "undecodable frame" to a pipeline, neither may kill a task
      val img = readImageOrNull(b, off, len)
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        var luma = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            // ITU-R BT.601 integer-free luma
            luma += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
              0.114 * (p & 0xff)
            x += 1
          }
          y += 1
        }
        Some(VideoFrame(id, idx.toLong, nFrames, w, h,
          luma / (w.toLong * h)))
      }
    }.flatten
  }

  /** df(doc_id, blob) -> one row per sampled decoded frame; decoder
    * context initialized once per partition, flatMap keeps the output
    * row-per-frame (the exploded shape downstream dedup/joins want). */
  def sampleFrameBatch(df: DataFrame, everyK: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Byte])].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { case (id, bytes) => sampleFrames(id, bytes, everyK) }
    }.toDF()
  }

  /** 16x16 8-bit grayscale PNG with pixel(x,y) = (seed*31 + x*7 + y*13)
    * % 256 — the construction half of the q123 round-trip contract
    * (same shape as [[mkMp4]]/q115). Samples go through the RASTER, not
    * setRGB: TYPE_BYTE_GRAY's getRGB/setRGB route through a linear-gray
    * to sRGB color-space conversion that silently rewrites values, while
    * raster samples PNG-encode losslessly and round-trip bit-exact. */
  def mkGrayPng(seed: Long, delta0: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        // delta0 perturbs ONLY pixel (0,0): the q124 near-duplicate
        // planting knob — a one-pixel edit that flips at most a few
        // average-hash bits, never the whole signature
        val d = if (x == 0 && y == 0) delta0 else 0
        r.setSample(x, y, 0, ((seed * 31 + x * 7 + y * 13 + d) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Box-filter (area-average) resize of a 16x16 grayscale image to
    * n x n: real ImageIO decode, each output pixel the INTEGER-division
    * mean of its (16/n)² source block — the arithmetic stays integral
    * end-to-end so a SQL oracle can replicate it bit-for-bit (the same
    * trick aHash uses for its threshold compare). Returns the n² pixels
    * row-major; empty for undecodable or wrong-sized inputs. Box
    * averaging IS the standard thumbnail/downsample step of an image
    * ingestion pipeline (and the pooling core of aHash, exposed here as
    * the actual resized pixels rather than threshold bits). */
  def resizeBox(bytes: Array[Byte], n: Int): Array[Int] = {
    // caller-parameter guard (r14 review): n > 16 made block = 0 and
    // the mean divide threw /0 — a task-killing exception this file's
    // never-kill-a-task discipline forbids; n must divide 16 or the
    // last source rows/columns silently vanish from the pool
    require(n > 0 && 16 % n == 0,
      s"resize grid $n must be a positive divisor of 16")
    val img = readImageOrNull(bytes)
    if (img == null || img.getWidth != 16 || img.getHeight != 16) return Array.empty
    val r = img.getRaster
    val block = 16 / n
    val out = new Array[Int](n * n)
    var by = 0
    while (by < n) {
      var bx = 0
      while (bx < n) {
        var s = 0
        var dy = 0
        while (dy < block) {
          var dx = 0
          while (dx < block) {
            s += r.getSample(bx * block + dx, by * block + dy, 0)
            dx += 1
          }
          dy += 1
        }
        out(by * n + bx) = s / (block * block)
        bx += 1
      }
      by += 1
    }
    out
  }

  /** 64-bit average-hash (aHash) of a 16x16 grayscale image: real
    * ImageIO decode, 2x2 average-pool to 8x8, bit j (= row*8 + col) set
    * iff pool_j > image mean. All compares are exact integer arithmetic
    * (pool_sum * 64 > total) so thresholds cannot drift between engines,
    * and the hash is returned as a 64-char '0'/'1' string — groupable,
    * readable, and free of the BIGINT sign-bit trap a packed j=63 shift
    * would hit. Undecodable or wrong-sized bytes hash to "" (a pipeline
    * filters those out). */
  def aHash(bytes: Array[Byte]): String = {
    val img = readImageOrNull(bytes)
    if (img == null || img.getWidth != 16 || img.getHeight != 16) return ""
    val r = img.getRaster
    val pools = new Array[Long](64)
    var total = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var s = 0L
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            s += r.getSample(bx * 2 + dx, by * 2 + dy, 0)
            dx += 1
          }
          dy += 1
        }
        pools(by * 8 + bx) = s
        total += s
        bx += 1
      }
      by += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j < 64) {
      sb.append(if (pools(j) * 64 > total) '1' else '0')
      j += 1
    }
    sb.toString
  }
}
