package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for training-data pipelines.
  *
  * Model: media travels as an opaque `binary` payload column plus typed
  * metadata columns; decode/transform stages run per partition in bounded
  * batches (the JVM analogue of Arrow-batched `mapInPandas`: one codec
  * context per partition, bounded memory per batch, no driver round-trip).
  *
  * Codec bindings: [[JvmCodecs]] is REAL — images via javax.imageio
  * (BMP/PNG/GIF/JPEG, pure JVM, byte-exact-tested against a hand-built
  * BMP fixture) and audio via a RIFF/WAVE PCM parser (byte-exact-tested
  * against a hand-built WAV fixture). [[StubCodecs]] remains for media the
  * container cannot decode (video): a clearly-marked deterministic
  * fake — byte-math only, stable across runs, same interface. The
  * Spark-side plumbing — schema, encoders, partitioning, batch shape,
  * null-safety — is identical either way; binding a codec changes no
  * plan shape (MultimodalSpec runs the same pipeline on both).
  */
object Multimodal {

  /** Decoded-image record: fixed schema regardless of codec. */
  final case class DecodedImage(
      doc_id: Long, width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** Sampled video frame. */
  final case class Frame(doc_id: Long, frame_ix: Int, payload: Array[Byte])

  /** Decoded audio clip: 16-bit sample values kept as exact ints (8-bit
    * input is centered to signed), so downstream statistics are
    * integer-exact and cross-engine checkable.
    */
  final case class DecodedAudio(
      doc_id: Long, sample_rate: Int, channels: Int, samples: Array[Int])

  /** The codec seam. A production build binds real decoders here. */
  trait Codecs extends Serializable {
    def decodeImage(docId: Long, payload: Array[Byte]): Option[DecodedImage]
    def sampleFrames(docId: Long, payload: Array[Byte], n: Int): Seq[Frame]
    /** Audio decode; only real codec bindings implement it. */
    def decodeAudio(docId: Long, payload: Array[Byte]): Option[DecodedAudio] = None
  }

  /** Deterministic FAKE codec (see STUB NOTICE above): dimensions derive
    * from payload length, pixels from a rolling byte mix. Deliberately
    * SQL-reproducible so the driver's DuckDB oracle can check the
    * distributed plumbing end-to-end.
    */
  object StubCodecs extends Codecs {
    def decodeImage(docId: Long, payload: Array[Byte]): Option[DecodedImage] = {
      if (payload == null || payload.length < 4) None
      else {
        val w = 16 + (payload.length % 32)
        val h = 16 + (payload.length % 24)
        val c = 3
        // pixels: payload tiled to w*h*c, each byte mixed with its index
        val px = new Array[Byte]((w * h * c) min 4096)
        var i = 0
        while (i < px.length) {
          px(i) = (payload(i % payload.length) + i).toByte
          i += 1
        }
        Some(DecodedImage(docId, w, h, c, px))
      }
    }
    def sampleFrames(docId: Long, payload: Array[Byte], n: Int): Seq[Frame] = {
      if (payload == null || payload.length == 0) Nil
      else (0 until n).map { ix =>
        val start = (payload.length.toLong * ix / n).toInt
        val end = (payload.length.toLong * (ix + 1) / n).toInt
        Frame(docId, ix, java.util.Arrays.copyOfRange(payload, start, end max (start + 1)))
      }
    }
  }

  /** REAL pure-JVM codec binding, no native libs. Images decode through
    * `javax.imageio` (the JDK's standard plugins: BMP, PNG, GIF, JPEG)
    * to 3-channel row-major RGB (alpha/palette/grayscale normalized
    * through `getRGB`), so downstream stages ([[resize]], [[meanPixel]])
    * are codec-agnostic; audio decodes through a hand-rolled RIFF/WAVE
    * PCM chunk walker. Frame sampling demuxes ANIMATED GIF for real
    * (multi-image `javax.imageio` read + disposal-method compositing;
    * each sampled frame is re-emitted as a standalone PNG so
    * `sampleFrames` → [[decodeImages]] composes), MJPEG for real (JPEG
    * segment walking), and MP4 for real (ISO-BMFF box walking — sample
    * tables + `stss` keyframe extraction need no codec at all) and
    * WebM/Matroska for real (EBML walking to keyframe-flagged blocks);
    * other payloads fall back to [[StubCodecs]]' deterministic slices —
    * the [[Codecs]] seam exists precisely so each method can be bound
    * independently.
    * Unreadable payloads → None/Nil, like a production decode stage
    * dropping corrupt media.
    */
  object JvmCodecs extends Codecs {
    // decode in-memory: ImageIO's default stream cache writes temp FILES
    // per decode, which an executor decoding millions of images must not
    private lazy val init: Unit = javax.imageio.ImageIO.setUseCache(false)

    def decodeImage(docId: Long, payload: Array[Byte]): Option[DecodedImage] = {
      init
      if (payload == null || payload.length == 0) return None
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case _: Exception => null }
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight; val c = 3
      val px = new Array[Byte](w * h * c)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val o = (y * w + x) * c
          px(o) = ((rgb >> 16) & 0xFF).toByte
          px(o + 1) = ((rgb >> 8) & 0xFF).toByte
          px(o + 2) = (rgb & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      Some(DecodedImage(docId, w, h, c, px))
    }

    /** Animated-GIF payloads: REAL demux — decode every image in the GIF,
      * composite per the frame's disposal method onto the logical-screen
      * canvas, then emit `n` evenly-spaced frames (`frame k_j = ⌊total·j/n⌋`,
      * repeating when the GIF has fewer than n frames, mirroring the
      * stub's always-n contract), each as a standalone PNG. MJPEG streams
      * (the payload starts with a JPEG SOI — motion-JPEG is concatenated
      * standalone JPEGs) demux for REAL too, by walking the JPEG segment
      * structure (entropy-coded data is scanned for true markers, so a
      * 0xFFD9 byte pair inside compressed data never splits a frame) —
      * sampled frames are the raw per-frame JPEG bytes, zero re-encode.
      * MP4 (ISO-BMFF) demuxes for REAL as well — box-structure walking
      * needs no codec: the sample tables locate every video sample's byte
      * range and `stss` names the keyframes, so the sampled frames are
      * the raw keyframe sample payloads (standalone JPEGs for
      * MJPEG-in-MP4; NAL units for AVC — sliced correctly either way).
      * WebM/Matroska demuxes for REAL too (EBML element walking: Tracks →
      * video track number, Clusters → keyframe-flagged SimpleBlocks).
      * Payloads in none of these containers keep the stub's deterministic
      * slices; corrupt GIFs/JPEGs/MP4s/WebMs → Nil, and an ID3-tagged
      * payload with no walkable audio frame → Nil too (ID3 is a strong
      * magic). Only a payload matching nothing stronger than the 2-byte
      * MPEG sync falls back to the stub when its frames don't parse —
      * 1/512 of random binaries carry those bits, so "sync but
      * unparseable" means unknown format, not corrupt audio.
      */
    override def sampleFrames(docId: Long, payload: Array[Byte], n: Int): Seq[Frame] = {
      init
      if (payload == null || payload.length == 0 || n <= 0) return Nil
      val isGif = payload.length >= 6 &&
        payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F'
      val isJpeg = payload.length >= 3 && (payload(0) & 0xFF) == 0xFF &&
        (payload(1) & 0xFF) == 0xD8 && (payload(2) & 0xFF) == 0xFF
      val isMp4 = payload.length >= 8 &&
        payload(4) == 'f' && payload(5) == 't' && payload(6) == 'y' && payload(7) == 'p'
      val isEbml = payload.length >= 4 && (payload(0) & 0xFF) == 0x1A &&
        (payload(1) & 0xFF) == 0x45 && (payload(2) & 0xFF) == 0xDF &&
        (payload(3) & 0xFF) == 0xA3
      // audio elementary streams: MPEG 0xFFE sync (a JPEG SOI second byte
      // 0xD8 fails the 0xE0 mask, so FF D8 never lands here), or an ID3v2
      // tag (how real MP3 files actually start) in front of one
      val isAudioSync = payload.length >= 4 && ((payload(0) & 0xFF) == 0xFF &&
        (payload(1) & 0xE0) == 0xE0 ||
        (payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3'))
      if (isGif) {
        val frames = try gifComposited(payload, n) catch { case _: Exception => IndexedSeq.empty }
        frames.zipWithIndex.map { case (bytes, j) => Frame(docId, j, bytes) }
      } else if (isJpeg) {
        val frames = mjpegFrames(payload)
        if (frames.isEmpty) Nil
        else (0 until n).map { j =>
          val (s, e) = frames((frames.length.toLong * j / n).toInt)
          Frame(docId, j, java.util.Arrays.copyOfRange(payload, s, e))
        }
      } else if (isMp4 || isEbml || isAudioSync) {
        val kf =
          try {
            if (isMp4) mp4KeyframeRanges(payload)
            else if (isEbml) webmKeyframeRanges(payload)
            else audioFrameRanges(payload)
          } catch { case _: Exception => IndexedSeq.empty }
        if (kf.isEmpty) {
          // ftyp/EBML/ID3 are strong magics — an unwalkable payload is a
          // corrupt container → Nil. The bare 2-byte MPEG sync is NOT
          // (1/512 of random binaries match): an unparseable "audio"
          // payload is just an unknown format, which keeps the stub
          // contract
          val weakSyncOnly = isAudioSync && !isMp4 && !isEbml &&
            !(payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3')
          if (weakSyncOnly) StubCodecs.sampleFrames(docId, payload, n)
          else Nil
        } else (0 until n).map { j =>
          val (s, e) = kf((kf.length.toLong * j / n).toInt)
          Frame(docId, j, java.util.Arrays.copyOfRange(payload, s, e))
        }
      } else StubCodecs.sampleFrames(docId, payload, n)
    }

    /** REAL audio elementary-stream framing — ADTS-AAC and MP3 are
      * self-delimiting concatenated frames, so slicing needs header math
      * only (the MJPEG treatment applied to audio):
      *
      *  - ADTS (0xFFF sync, layer 00): 13-bit frame_length straddling
      *    header bytes 3–5 already includes the 7/9-byte header;
      *  - MP3 (0xFFF sync, layer III): frame length from the
      *    version/bitrate/samplerate tables (MPEG-1: 144·br/sr + pad;
      *    MPEG-2/2.5: 72·br/sr + pad).
      *
      * Each returned range is one complete frame (header included —
      * frames stay standalone-decodable, like the MJPEG slices). A
      * malformed header or truncated tail ends the walk at the valid
      * prefix; free/bad bitrate or reserved fields reject the frame.
      */
    private def audioFrameRanges(b: Array[Byte]): IndexedSeq[(Int, Int)] = {
      def u(i: Int): Int = b(i) & 0xFF
      val out = IndexedSeq.newBuilder[(Int, Int)]
      // skip a leading ID3v2 tag (10-byte header; 28-bit syncsafe size,
      // footer flag 0x10 adds another 10 bytes) — the frames follow it
      var o =
        if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
          val size = ((u(6) & 0x7F) << 21) | ((u(7) & 0x7F) << 14) |
            ((u(8) & 0x7F) << 7) | (u(9) & 0x7F)
          10 + size + (if ((u(5) & 0x10) != 0) 10 else 0)
        } else 0
      if (o < 0 || o >= b.length) return IndexedSeq.empty
      var ok = true
      var any = false
      while (ok && o + 4 <= b.length) {
        if (u(o) != 0xFF || (u(o + 1) & 0xE0) != 0xE0) ok = false
        else {
          val layerBits = (u(o + 1) >> 1) & 0x03
          val len: Int =
            if (layerBits == 0) {
              // ADTS: layer must be 00; frame_length bits 30..42
              if (o + 6 >= b.length) -1
              else ((u(o + 3) & 0x03) << 11) | (u(o + 4) << 3) | (u(o + 5) >> 5)
            } else if (layerBits == 1) {
              // MPEG Layer III: version from bits, then the public tables
              val version = (u(o + 1) >> 3) & 0x03 // 0=2.5, 2=MPEG2, 3=MPEG1
              val brIx = (u(o + 2) >> 4) & 0x0F
              val srIx = (u(o + 2) >> 2) & 0x03
              val pad = (u(o + 2) >> 1) & 0x01
              if (version == 1 || brIx == 0 || brIx == 15 || srIx == 3) -1
              else {
                val br = (if (version == 3)
                  Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
                else
                  Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
                )(brIx) * 1000
                val sr = (version match {
                  case 3 => Array(44100, 48000, 32000)
                  case 2 => Array(22050, 24000, 16000)
                  case _ => Array(11025, 12000, 8000)
                })(srIx)
                (if (version == 3) 144 else 72) * br / sr + pad
              }
            } else -1 // layers I/II not supported: reject, don't guess
          // a frame shorter than its own header is corrupt: ADTS headers
          // are 7 bytes (9 with CRC — frame_length includes them), MP3
          // headers 4
          val minLen = if (layerBits == 0) 7 else 4
          if (len < minLen || o > b.length - len) ok = false
          else { out += ((o, o + len)); o += len; any = true }
        }
      }
      // trailing garbage after at least one valid frame is tolerated (a
      // truncated tail); a stream with no valid first frame is corrupt
      if (any) out.result() else IndexedSeq.empty
    }

    /** REAL ISO-BMFF (MP4) keyframe demux — pure box walking, no codec,
      * BOTH container flavors:
      *
      *  - progressive (`moov` sample tables): expand `stsz`/`stsc`/
      *    `stco`|`co64` into per-sample [start, end) ranges and keep the
      *    sync samples `stss` names (absent `stss` = every sample is a
      *    keyframe, per the spec);
      *  - fragmented (DASH/CMAF: `moof` + `mdat` pairs): match each
      *    fragment's `traf` to the video track, walk its `trun` sample
      *    runs (explicit or `tfhd`/`trex`-inherited sizes and flags,
      *    base-data-offset / default-base-is-moof addressing, running
      *    cursor across runs), and keep samples whose flags clear the
      *    `sample_is_non_sync_sample` bit.
      *
      * Ranges are validated overflow-safely against the payload bounds —
      * a truncated `mdat` truncates the keyframe list to its valid prefix
      * rather than emitting frames that point past the buffer. 64-bit
      * offsets are honored up to 2 GiB (an in-memory payload's hard
      * bound — the same guard the WARC reader applies).
      */
    private def mp4KeyframeRanges(b: Array[Byte]): IndexedSeq[(Int, Int)] = {
      val top = bmffChildren(b, 0, b.length)
      def box(cs: List[(String, Int, Int, Int)], t: String): Option[(Int, Int)] =
        cs.find(_._1 == t).map(c => (c._3, c._4))
      val moov = box(top, "moov").getOrElse(return IndexedSeq.empty)
      val moovKids = bmffChildren(b, moov._1, moov._2)
      // the first trak whose mdia/hdlr handler is 'vide'
      val videoTrak = moovKids.filter(_._1 == "trak").iterator
        .map(trak => bmffChildren(b, trak._3, trak._4))
        .find { kids =>
          box(kids, "mdia").map(m => bmffChildren(b, m._1, m._2))
            .flatMap(mk => box(mk, "hdlr")).exists { case (hs, he) =>
              hs + 12 <= he && new String(b, hs + 8, 4, "ISO-8859-1") == "vide"
            }
        }.getOrElse(return IndexedSeq.empty)
      val progressive = box(videoTrak, "mdia")
        .map(m => bmffChildren(b, m._1, m._2))
        .flatMap(mk => box(mk, "minf"))
        .map(mi => bmffChildren(b, mi._1, mi._2))
        .flatMap(mik => box(mik, "stbl"))
        .map(st => mp4StblKeyframes(b, bmffChildren(b, st._1, st._2)))
        .getOrElse(IndexedSeq.empty)
      val fragmented =
        if (!top.exists(_._1 == "moof")) IndexedSeq.empty[(Int, Int)]
        else {
          // the video track's id (tkhd) + its trex defaults, both needed
          // to match and default the fragments
          val vid = box(videoTrak, "tkhd").flatMap { case (s, e) =>
            if (s + 4 > e) None
            else {
              val off = if ((b(s) & 0xFF) == 1) s + 20 else s + 12
              if (off + 4 > e) None else Some(bmffU32(b, off))
            }
          }
          vid.map { id =>
            val trex = box(moovKids, "mvex")
              .map(mv => bmffChildren(b, mv._1, mv._2)).toList
              .flatMap(_.filter(_._1 == "trex"))
              .find(t => t._4 - t._3 >= 24 && bmffU32(b, t._3 + 4) == id)
            val defSize = trex.map(t => bmffU32(b, t._3 + 16)).getOrElse(-1L)
            val defFlags = trex.map(t => bmffU32(b, t._3 + 20)).getOrElse(0L)
            mp4FragmentKeyframes(b, top, id, defSize, defFlags)
          }.getOrElse(IndexedSeq.empty)
        }
      progressive ++ fragmented
    }

    /** Progressive sample tables → keyframe ranges (see
      * [[mp4KeyframeRanges]]); empty when the tables are absent or declare
      * zero samples (the normal fMP4 shape).
      */
    private def mp4StblKeyframes(b: Array[Byte],
        stbl: List[(String, Int, Int, Int)]): IndexedSeq[(Int, Int)] = {
      def box(t: String): Option[(Int, Int)] =
        stbl.find(_._1 == t).map(c => (c._3, c._4))
      val stsz = box("stsz").getOrElse(return IndexedSeq.empty)
      val stsc = box("stsc").getOrElse(return IndexedSeq.empty)
      val ((stco, co64)) = box("stco").map((_, false))
        .orElse(box("co64").map((_, true))).getOrElse(return IndexedSeq.empty)
      // stsz: verflags(4) uniform_size(4) count(4) [+ per-sample sizes]
      if (stsz._1 + 12 > stsz._2) return IndexedSeq.empty
      val uniform = bmffU32(b, stsz._1 + 4)
      val nSamples0 = bmffU32(b, stsz._1 + 8)
      if (nSamples0 <= 0 || nSamples0 > Int.MaxValue) return IndexedSeq.empty
      val nSamples = nSamples0.toInt
      def sizeOf(s: Int): Long =
        if (uniform != 0) uniform
        else { val o = stsz._1 + 12 + 4 * s; if (o + 4 > stsz._2) -1 else bmffU32(b, o) }
      // stsc: verflags(4) entry_count(4) then (first_chunk, per_chunk, desc)×
      if (stsc._1 + 8 > stsc._2) return IndexedSeq.empty
      val nRuns = bmffU32(b, stsc._1 + 4).toInt
      if (nRuns <= 0 || stsc._1 + 8 + 12L * nRuns > stsc._2) return IndexedSeq.empty
      val runs = IndexedSeq.tabulate(nRuns) { i =>
        val o = stsc._1 + 8 + 12 * i
        (bmffU32(b, o), bmffU32(b, o + 4)) // (first_chunk 1-based, samples_per_chunk)
      }
      // stco/co64: verflags(4) count(4) then offsets
      if (stco._1 + 8 > stco._2) return IndexedSeq.empty
      val nChunks = bmffU32(b, stco._1 + 4).toInt
      val offW = if (co64) 8 else 4
      if (nChunks <= 0 || stco._1 + 8 + offW.toLong * nChunks > stco._2)
        return IndexedSeq.empty
      def chunkOff(c: Int): Long = {
        val o = stco._1 + 8 + offW * c
        if (co64) bmffU64(b, o) else bmffU32(b, o)
      }
      // expand to per-sample ranges, stopping at the first range that
      // falls outside the buffer (truncated mdat → valid prefix)
      val ranges = IndexedSeq.newBuilder[(Int, Int)]
      var sample = 0
      var chunk = 0
      var run = 0
      var valid = true
      while (valid && chunk < nChunks && sample < nSamples) {
        while (run + 1 < runs.length && runs(run + 1)._1 <= chunk + 1) run += 1
        val perChunk = runs(run)._2
        var off = chunkOff(chunk)
        var j = 0L
        while (valid && j < perChunk && sample < nSamples) {
          val sz = sizeOf(sample)
          // overflow-safe bounds: `off + sz` can wrap for crafted co64
          // offsets near Long.Max, so compare against b.length - sz instead
          if (sz < 0 || sz > b.length || off < 0 || off > b.length - sz) valid = false
          else {
            ranges += ((off.toInt, (off + sz).toInt))
            off += sz; j += 1; sample += 1
          }
        }
        chunk += 1
      }
      val all = ranges.result()
      if (all.isEmpty) return IndexedSeq.empty
      // stss names the sync samples (1-based); absent stss = all sync
      box("stss") match {
        case None => all
        case Some((ss, se)) =>
          if (ss + 8 > se) return IndexedSeq.empty
          val nSync = bmffU32(b, ss + 4).toInt
          if (nSync < 0 || ss + 8 + 4L * nSync > se) return IndexedSeq.empty
          (0 until nSync).flatMap { i =>
            val s = bmffU32(b, ss + 8 + 4 * i)
            if (s >= 1 && s <= all.length) Some(all(s.toInt - 1)) else None
          }
      }
    }

    /** Fragment (`moof`/`traf`/`trun`) sample runs → keyframe ranges for
      * the video track. Addressing: explicit `tfhd` base-data-offset wins;
      * otherwise the moof's own first byte (the `default-base-is-moof`
      * behavior, which is also the only self-consistent default for an
      * in-memory payload); a `trun` without its own data offset continues
      * where the previous run's samples ended. Sample size/flags resolve
      * per-sample → `trun` first-sample-flags → `tfhd` default → `trex`
      * default; a sample is a keyframe when `sample_is_non_sync_sample`
      * (bit 16) is clear. Missing sizes or out-of-bounds ranges stop the
      * walk at the valid prefix, like the progressive path.
      */
    private def mp4FragmentKeyframes(b: Array[Byte],
        top: List[(String, Int, Int, Int)], videoId: Long,
        trexSize: Long, trexFlags: Long): IndexedSeq[(Int, Int)] = {
      val out = IndexedSeq.newBuilder[(Int, Int)]
      for (moof <- top.filter(_._1 == "moof")) {
        val moofStart = moof._2
        val trafs = bmffChildren(b, moof._3, moof._4).filter(_._1 == "traf")
        for (traf <- trafs) {
          val kids = bmffChildren(b, traf._3, traf._4)
          kids.find(_._1 == "tfhd").foreach { tfhd =>
            val (s, e) = (tfhd._3, tfhd._4)
            if (s + 8 <= e && bmffU32(b, s + 4) == videoId) {
              val tfFlags = bmffU32(b, s) & 0xFFFFFF
              var o = s + 8
              var base: Long = moofStart.toLong
              if ((tfFlags & 0x01) != 0 && o + 8 <= e) { base = bmffU64(b, o); o += 8 }
              if ((tfFlags & 0x02) != 0) o += 4 // sample-description-index
              if ((tfFlags & 0x08) != 0) o += 4 // default-sample-duration
              val defSize =
                if ((tfFlags & 0x10) != 0 && o + 4 <= e) { val v = bmffU32(b, o); o += 4; v }
                else trexSize
              val defFlags =
                if ((tfFlags & 0x20) != 0 && o + 4 <= e) { val v = bmffU32(b, o); o += 4; v }
                else trexFlags
              var cursor: Long = -1L
              var valid = true
              for (trun <- kids.filter(_._1 == "trun") if valid) {
                val (ts, te) = (trun._3, trun._4)
                if (ts + 8 > te) valid = false
                else {
                  val trFlags = bmffU32(b, ts) & 0xFFFFFF
                  val n = bmffU32(b, ts + 4)
                  var p = ts + 8
                  if ((trFlags & 0x01) != 0 && p + 4 <= te) {
                    // data_offset is SIGNED, relative to the base
                    cursor = base + bmffU32(b, p).toInt; p += 4
                  } else if (cursor < 0) cursor = base
                  var firstFlags = -1L
                  if ((trFlags & 0x04) != 0 && p + 4 <= te) {
                    firstFlags = bmffU32(b, p); p += 4
                  }
                  // bound the DECLARED count before looping (a crafted
                  // 0xFFFFFFFF sample_count must not spin ~4.3B
                  // iterations): per-sample fields must fit inside the
                  // trun box itself; a field-less run's samples consume
                  // payload bytes, so its count cannot exceed them
                  val perSampleBytes = 4 *
                    Seq(0x100, 0x200, 0x400, 0x800).count(f => (trFlags & f) != 0)
                  if (perSampleBytes > 0) {
                    if (n > (te - p).toLong / perSampleBytes) valid = false
                  } else if (n > b.length) valid = false
                  var i = 0L
                  while (valid && i < n) {
                    if ((trFlags & 0x100) != 0) p += 4 // duration
                    val sz =
                      if ((trFlags & 0x200) != 0) {
                        if (p + 4 > te) { valid = false; -1L }
                        else { val v = bmffU32(b, p); p += 4; v }
                      } else defSize
                    val fl =
                      if ((trFlags & 0x400) != 0) {
                        if (p + 4 > te) { valid = false; 0L }
                        else { val v = bmffU32(b, p); p += 4; v }
                      } else if (i == 0 && firstFlags >= 0) firstFlags
                      else defFlags
                    if ((trFlags & 0x800) != 0) p += 4 // composition offset
                    if (valid) {
                      if (sz < 0 || sz > b.length || cursor < 0 ||
                        cursor > b.length - sz) valid = false
                      else {
                        if ((fl & 0x10000L) == 0)
                          out += ((cursor.toInt, (cursor + sz).toInt))
                        cursor += sz
                      }
                    }
                    i += 1
                  }
                }
              }
            }
          }
        }
      }
      out.result()
    }

    private def bmffU32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

    private def bmffU64(b: Array[Byte], o: Int): Long =
      (bmffU32(b, o) << 32) | bmffU32(b, o + 4)

    /** Children of a box span as (type, boxStart, contentStart,
      * contentEnd) — boxStart is needed by the fragment path (base data
      * offsets are moof-relative). Malformed headers end the walk at the
      * valid prefix.
      */
    private def bmffChildren(b: Array[Byte], start: Int,
        end: Int): List[(String, Int, Int, Int)] = {
      val out = scala.collection.mutable.ListBuffer.empty[(String, Int, Int, Int)]
      var o = start
      var ok = true
      while (ok && o + 8 <= end) {
        val sz = bmffU32(b, o)
        val typ = new String(b, o + 4, 4, "ISO-8859-1")
        val (cs, boxEnd: Long) =
          if (sz == 1 && o + 16 <= end) (o + 16, o + bmffU64(b, o + 8))
          else if (sz == 0) (o + 8, end.toLong)
          else (o + 8, o + sz)
        if (sz == 1 && o + 16 > end) ok = false
        else if (boxEnd > end || boxEnd <= o || cs > boxEnd) ok = false
        else { out += ((typ, o, cs, boxEnd.toInt)); o = boxEnd.toInt }
      }
      out.toList
    }

    /** REAL WebM/Matroska keyframe demux — EBML element walking, no
      * codec: find the Segment, read the Tracks element for the first
      * video track's number, then walk the Clusters collecting the video
      * SimpleBlocks whose keyframe flag is set (and BlockGroup Blocks
      * with no ReferenceBlock — the spec's other way to spell "I-frame").
      * Each range is the block's raw frame bytes (VP8/VP9/AV1 bitstream
      * payload — sliced correctly whatever the codec). Unknown-size
      * Segments (streamed/live muxes) extend to end-of-buffer; laced
      * blocks are skipped (video keyframes are not laced in practice);
      * malformed structure truncates to the valid prefix, like the MP4
      * walker.
      */
    private def webmKeyframeRanges(b: Array[Byte]): IndexedSeq[(Int, Int)] = {
      // EBML varints: the count of leading zero bits (plus one) in the
      // first byte is the width; IDs keep the marker bit, sizes clear it,
      // and an all-ones size payload means "unknown extent"
      def vintWidth(first: Int): Int = {
        var mask = 0x80; var w = 1
        while (w <= 8 && (first & mask) == 0) { mask >>= 1; w += 1 }
        w
      }
      // (value, width); width 0 = malformed/truncated
      def readId(o: Int): (Long, Int) = {
        if (o >= b.length) return (0L, 0)
        val w = vintWidth(b(o) & 0xFF)
        if (w > 4 || o + w > b.length) return (0L, 0)
        var v = 0L
        var i = 0
        while (i < w) { v = (v << 8) | (b(o + i) & 0xFF); i += 1 }
        (v, w)
      }
      // (value, width); value -1 = unknown size
      def readSize(o: Int): (Long, Int) = {
        if (o >= b.length) return (0L, 0)
        val first = b(o) & 0xFF
        val w = vintWidth(first)
        if (w > 8 || o + w > b.length) return (0L, 0)
        val maskTop = 0xFF >>> w
        var v = (first & maskTop).toLong
        var allOnes = (first & maskTop) == maskTop
        var i = 1
        while (i < w) {
          val x = b(o + i) & 0xFF
          v = (v << 8) | x
          allOnes &&= x == 0xFF
          i += 1
        }
        (if (allOnes) -1L else v, w)
      }
      // end of an UNKNOWN-size Cluster (streamed muxes size every Cluster
      // as 0xFF, not just the Segment): per EBML, such an element ends at
      // the first ID that is not one of its children — walk the sized
      // cluster-level elements (Timestamp/SimpleBlock/BlockGroup/Position/
      // PrevSize/SilentTracks/CRC/Void) until a foreign ID (the next
      // Cluster, typically) or the parent end
      val clusterChildIds: Set[Long] =
        Set(0xE7L, 0xA3L, 0xA0L, 0xA7L, 0xABL, 0x5854L, 0xBFL, 0xECL)
      def clusterEnd(start: Int, end: Int): Int = {
        var o = start
        var done = false
        while (!done && o < end) {
          val (id, iw) = readId(o)
          if (iw == 0 || !clusterChildIds.contains(id)) done = true
          else {
            val (sz, sw) = readSize(o + iw)
            if (sw == 0 || sz < 0) done = true
            else {
              val ce = o.toLong + iw + sw + sz
              if (ce > end || ce <= o) done = true else o = ce.toInt
            }
          }
        }
        o
      }
      // children of [start, end): (id, contentStart, contentEnd); an
      // unknown-size Cluster ends at its first foreign child ID, any other
      // unknown-size child extends to the parent's end; malformed headers
      // end the walk at the valid prefix
      def children(start: Int, end: Int): List[(Long, Int, Int)] = {
        val out = scala.collection.mutable.ListBuffer.empty[(Long, Int, Int)]
        var o = start
        var ok = true
        while (ok && o < end) {
          val (id, iw) = readId(o)
          if (iw == 0) ok = false
          else {
            val (sz, sw) = readSize(o + iw)
            if (sw == 0) ok = false
            else {
              val cs = o + iw + sw
              val ce =
                if (sz < 0) {
                  if (id == 0x1F43B675L) clusterEnd(cs min end, end).toLong
                  else end.toLong
                } else cs + sz
              if (cs > end || ce > end) ok = false
              else { out += ((id, cs, ce.toInt)); o = ce.toInt }
            }
          }
        }
        out.toList
      }
      def uint(cs: Int, ce: Int): Long = {
        var v = 0L; var o = cs
        while (o < ce) { v = (v << 8) | (b(o) & 0xFF); o += 1 }
        v
      }
      val top = children(0, b.length)
      val seg = top.find(_._1 == 0x18538067L).getOrElse(return IndexedSeq.empty)
      val segKids = children(seg._2, seg._3)
      // Tracks → first TrackEntry with TrackType 1 (video) → TrackNumber
      val videoTrack = segKids.filter(_._1 == 0x1654AE6BL).iterator
        .flatMap(t => children(t._2, t._3))
        .filter(_._1 == 0xAEL)
        .map(te => children(te._2, te._3))
        .collectFirst {
          case kids if kids.exists(k => k._1 == 0x83L && uint(k._2, k._3) == 1L) =>
            kids.find(_._1 == 0xD7L).map(k => uint(k._2, k._3))
        }.flatten.getOrElse(return IndexedSeq.empty)
      // a block's frame bytes start after its track varint (size-style
      // read), 2-byte relative timestamp, and 1 flags byte
      def blockRange(cs: Int, ce: Int): Option[(Long, Int, Int, Int)] = {
        val (track, tw) = readSize(cs)
        if (tw == 0 || track < 0) return None
        val fo = cs + tw + 2
        if (fo >= ce) return None
        Some((track, b(fo) & 0xFF, fo + 1, ce))
      }
      val out = IndexedSeq.newBuilder[(Int, Int)]
      for (cluster <- segKids.filter(_._1 == 0x1F43B675L);
           kid <- children(cluster._2, cluster._3)) {
        if (kid._1 == 0xA3L) { // SimpleBlock: flags bit 0x80 = keyframe
          blockRange(kid._2, kid._3).foreach { case (track, flags, fs, fe) =>
            if (track == videoTrack && (flags & 0x80) != 0 && (flags & 0x06) == 0)
              out += ((fs, fe))
          }
        } else if (kid._1 == 0xA0L) { // BlockGroup: keyframe iff no ReferenceBlock
          val kids = children(kid._2, kid._3)
          if (!kids.exists(_._1 == 0xFBL)) {
            kids.find(_._1 == 0xA1L).flatMap(blk => blockRange(blk._2, blk._3))
              .foreach { case (track, flags, fs, fe) =>
                if (track == videoTrack && (flags & 0x06) == 0) out += ((fs, fe))
              }
          }
        }
      }
      out.result()
    }

    /** Split an MJPEG stream into its standalone JPEG frames as
      * [start, end) byte ranges. Each frame is walked segment by segment:
      * marker segments advance by their 16-bit big-endian length;
      * entropy-coded data after SOS is scanned for the next REAL marker
      * (0xFF followed by anything but 0x00 byte-stuffing or an RST
      * 0xD0–0xD7), which progressive multi-scan images re-enter the
      * segment loop on; EOI closes the frame. Trailing bytes that are not
      * another SOI (padding, truncated tail) are ignored; a corrupt first
      * frame yields Nil (the caller drops the payload like any other
      * undecodable media).
      */
    private def mjpegFrames(b: Array[Byte]): IndexedSeq[(Int, Int)] = {
      def u(i: Int): Int = b(i) & 0xFF
      // returns the index AFTER this frame's EOI, or -1 if corrupt
      def frameEnd(start: Int): Int = {
        if (start + 2 > b.length || u(start) != 0xFF || u(start + 1) != 0xD8) return -1
        var i = start + 2
        while (i + 2 <= b.length) {
          if (u(i) != 0xFF) return -1
          val m = u(i + 1)
          if (m == 0xD9) return i + 2                    // EOI
          else if (m == 0xFF) i += 1                      // fill byte
          else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i += 2 // standalone
          else {
            if (i + 4 > b.length) return -1
            val len = (u(i + 2) << 8) | u(i + 3)
            if (len < 2) return -1
            i += 2 + len
            if (m == 0xDA) {                              // SOS → entropy data
              var done = false
              while (!done && i + 1 < b.length) {
                if (u(i) == 0xFF && u(i + 1) != 0x00 &&
                    !(u(i + 1) >= 0xD0 && u(i + 1) <= 0xD7)) done = true
                else i += 1
              }
              if (!done) return -1
            }
          }
        }
        -1
      }
      val out = IndexedSeq.newBuilder[(Int, Int)]
      var pos = 0
      var ok = true
      while (ok && pos + 2 <= b.length && u(pos) == 0xFF && u(pos + 1) == 0xD8) {
        val e = frameEnd(pos)
        if (e < 0) ok = false
        else { out += ((pos, e)); pos = e }
      }
      val res = out.result()
      // a corrupt FIRST frame means an undecodable payload; a corrupt later
      // frame truncates the stream to its valid prefix
      res
    }

    /** Demux + composite an animated GIF to standalone per-frame PNGs.
      * GIF frames are often partial rectangles over the logical screen
      * (inter-frame optimization): each is drawn at its descriptor offset
      * onto a persistent canvas, then the canvas state is advanced per the
      * frame's disposal method — `none`/`doNotDispose` keep it,
      * `restoreToBackgroundColor` clears the frame's rectangle (normalized
      * to black), `restoreToPrevious` reverts the draw.
      *
      * Compositing must WALK every frame (disposal state is sequential),
      * but only the `n` uniformly-sampled frames are PNG-encoded — the
      * encode is the dominant cost, and a 300-frame GIF sampled at n=4
      * must not pay 300 encodes. Returns the n sampled frames in order
      * (repeats when n > frame count, like the pre-demux sampler).
      */
    private def gifComposited(payload: Array[Byte], n: Int): IndexedSeq[Array[Byte]] = {
      import javax.imageio.ImageIO
      val iis = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return IndexedSeq.empty
        val reader = readers.next()
        reader.setInput(iis)
        try {
          val total = reader.getNumImages(true)
          if (total <= 0) return IndexedSeq.empty
          def streamAttr(name: String): Option[Int] = {
            val md = reader.getStreamMetadata
            if (md == null) None
            else {
              val nodes = md.getAsTree("javax_imageio_gif_stream_1.0")
                .asInstanceOf[org.w3c.dom.Element]
                .getElementsByTagName("LogicalScreenDescriptor")
              if (nodes.getLength == 0) None
              else Option(nodes.item(0).getAttributes.getNamedItem(name))
                .map(_.getNodeValue.toInt).filter(_ > 0)
            }
          }
          def frameAttr(k: Int, tag: String, name: String, dflt: String): String = {
            val nodes = reader.getImageMetadata(k).getAsTree("javax_imageio_gif_image_1.0")
              .asInstanceOf[org.w3c.dom.Element].getElementsByTagName(tag)
            if (nodes.getLength == 0) dflt
            else Option(nodes.item(0).getAttributes.getNamedItem(name))
              .map(_.getNodeValue).getOrElse(dflt)
          }
          val first = reader.read(0)
          val w = streamAttr("logicalScreenWidth").getOrElse(first.getWidth)
          val h = streamAttr("logicalScreenHeight").getOrElse(first.getHeight)
          val sampledIdx = IndexedSeq.tabulate(n)(j => (total.toLong * j / n).toInt)
          val wanted = sampledIdx.toSet
          val canvas = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = canvas.createGraphics()
          val encoded = scala.collection.mutable.Map.empty[Int, Array[Byte]]
          try {
            for (k <- 0 until total) {
              val frame = if (k == 0) first else reader.read(k)
              val x = frameAttr(k, "ImageDescriptor", "imageLeftPosition", "0").toInt
              val y = frameAttr(k, "ImageDescriptor", "imageTopPosition", "0").toInt
              val disposal = frameAttr(k, "GraphicControlExtension", "disposalMethod", "none")
              val prev =
                if (disposal == "restoreToPrevious") {
                  val cp = new java.awt.image.BufferedImage(
                    w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                  cp.createGraphics().drawImage(canvas, 0, 0, null)
                  cp
                } else null
              g.drawImage(frame, x, y, null)
              if (wanted(k)) {
                val baos = new java.io.ByteArrayOutputStream()
                ImageIO.write(canvas, "png", baos)
                encoded(k) = baos.toByteArray
              }
              disposal match {
                case "restoreToBackgroundColor" =>
                  g.setColor(java.awt.Color.BLACK)
                  g.fillRect(x, y, frame.getWidth, frame.getHeight)
                case "restoreToPrevious" => g.drawImage(prev, 0, 0, null)
                case _ => ()
              }
            }
            sampledIdx.map(encoded)
          } finally g.dispose()
        } finally reader.dispose()
      } finally iis.close()
    }

    /** REAL RIFF/WAVE PCM parser — plain byte walking, no libs: accepts
      * format-1 (linear PCM) mono/stereo at 8 or 16 bits, walks the chunk
      * list for `fmt ` and `data` (tolerating extra chunks like LIST),
      * and rejects anything truncated or non-PCM with None.
      */
    override def decodeAudio(docId: Long, payload: Array[Byte]): Option[DecodedAudio] = {
      def le16(o: Int): Int = (payload(o) & 0xFF) | ((payload(o + 1) & 0xFF) << 8)
      def le32(o: Int): Int = le16(o) | (le16(o + 2) << 16)
      def tag(o: Int): String = new String(payload, o, 4, "US-ASCII")
      if (payload == null || payload.length < 44) return None
      if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
      var data: Option[(Int, Int)] = None     // (offset, size)
      var o = 12
      while (o + 8 <= payload.length && (fmt.isEmpty || data.isEmpty)) {
        val id = tag(o); val size = le32(o + 4)
        if (size < 0 || o + 8 + size > payload.length) return None
        if (id == "fmt " && size >= 16) {
          if (le16(o + 8) != 1) return None // PCM only
          fmt = Some((le16(o + 10), le32(o + 12), le16(o + 22)))
        } else if (id == "data") data = Some((o + 8, size))
        o += 8 + size + (size & 1) // chunks are word-aligned
      }
      (fmt, data) match {
        case (Some((ch, rate, bits)), Some((off, size)))
            if ch >= 1 && rate > 0 && (bits == 8 || bits == 16) =>
          val n = size / (bits / 8)
          val samples = new Array[Int](n)
          var i = 0
          while (i < n) {
            samples(i) =
              if (bits == 8) (payload(off + i) & 0xFF) - 128
              else le16(off + 2 * i).toShort.toInt
            i += 1
          }
          Some(DecodedAudio(docId, rate, ch, samples))
        case _ => None
      }
    }
  }

  /** Decode a binary payload column to [[DecodedImage]]s, partition-batched.
    *
    * @param batchSize rows decoded per in-memory batch (Arrow-batch shape:
    *                  bounds peak memory to batchSize × max payload)
    */
  def decodeImages(df: DataFrame, idCol: String, payloadCol: String,
      codecs: Codecs = StubCodecs, batchSize: Int = 64): Dataset[DecodedImage] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // grouped(batchSize) mirrors mapInPandas batch iteration: the codec
        // sees bounded slices, not the whole partition
        it.grouped(batchSize).flatMap { batch =>
          batch.flatMap { case (id, payload) => codecs.decodeImage(id, payload) }
        }
      }
  }

  /** Nearest-neighbor resize of decoded images — real arithmetic, runs
    * unchanged on real pixel data.
    */
  def resize(ds: Dataset[DecodedImage], newW: Int, newH: Int): Dataset[DecodedImage] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { img =>
      val out = new Array[Byte](newW * newH * img.channels)
      var y = 0
      while (y < newH) {
        val sy = y * img.height / newH
        var x = 0
        while (x < newW) {
          val sx = x * img.width / newW
          var ch = 0
          while (ch < img.channels) {
            val src = (sy * img.width + sx) * img.channels + ch
            out((y * newW + x) * img.channels + ch) =
              if (src < img.pixels.length) img.pixels(src) else 0
            ch += 1
          }
          x += 1
        }
        y += 1
      }
      img.copy(width = newW, height = newH, pixels = out)
    }
  }

  /** Sample n frames per video payload (explodes to one row per frame). */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String, n: Int,
      codecs: Codecs = StubCodecs, batchSize: Int = 16): Dataset[Frame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap(_.flatMap { case (id, p) =>
        codecs.sampleFrames(id, p, n)
      }))
  }

  /** Decode audio payloads (see [[JvmCodecs]].decodeAudio: real WAV
    * PCM parsing), partition-batched like [[decodeImages]]; undecodable
    * payloads drop.
    */
  def decodeAudio(df: DataFrame, idCol: String, payloadCol: String,
      codecs: Codecs = JvmCodecs, batchSize: Int = 64): Dataset[DecodedAudio] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap(_.flatMap { case (id, p) =>
        codecs.decodeAudio(id, p)
      }))
  }

  /** Mean pixel value ("luminance" on the stub) per image. Pixels are a
    * BINARY column (higher-order functions need ARRAY), so this runs in
    * the typed partition path like the decode itself.
    */
  def meanPixel(ds: Dataset[DecodedImage]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { img =>
      var sum = 0L
      var i = 0
      while (i < img.pixels.length) { sum += img.pixels(i) + 128; i += 1 }
      (img.doc_id, img.width, img.height,
        if (img.pixels.isEmpty) 0.0 else sum.toDouble / img.pixels.length)
    }.toDF("doc_id", "width", "height", "mean_pixel")
  }

  /** 64-bit average hash (aHash) per decoded image — the standard cheap
    * PERCEPTUAL fingerprint for image-level near-dup dedup: grayscale the
    * 8×8 nearest-neighbor downsample, threshold each cell against the
    * integer mean, pack bits row-major (bit 63 = cell (0,0)). Identical
    * hashes mark near-certain duplicates ACROSS RESOLUTIONS (a clean 2×
    * upscale downsamples back to the same 64 cells); small Hamming
    * distance marks near-dup candidates — `graft_hamming` and the banded
    * machinery apply downstream exactly as for SimHash. All arithmetic is
    * integer (sum, floor division, compare), so an external engine can
    * restate the hash from raw pixel bytes.
    */
  def aHash(ds: Dataset[DecodedImage]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    resize(ds, 8, 8).map { img =>
      val ch = img.channels
      val g = new Array[Int](64)
      var sum = 0
      var i = 0
      while (i < 64) {
        var s = 0
        var c = 0
        while (c < ch) { s += img.pixels(i * ch + c) & 0xFF; c += 1 }
        g(i) = s / ch
        sum += g(i)
        i += 1
      }
      val mean = sum / 64
      var bits = 0L
      i = 0
      while (i < 64) { if (g(i) > mean) bits |= 1L << (63 - i); i += 1 }
      (img.doc_id, bits)
    }.toDF("doc_id", "ahash")
  }

  /** Grayscale grid of a decoded image: per cell, the integer mean of its
    * channels (the shared first step of every perceptual hash here).
    */
  private def grayGrid(img: DecodedImage): Array[Int] = {
    val ch = img.channels
    val n = img.width * img.height
    val g = new Array[Int](n)
    var i = 0
    while (i < n) {
      var s = 0
      var c = 0
      while (c < ch) { s += img.pixels(i * ch + c) & 0xFF; c += 1 }
      g(i) = s / ch
      i += 1
    }
    g
  }

  /** 64-bit difference hash (dHash) per decoded image — the gradient
    * sibling of [[aHash]] and the workhorse of production image dedup:
    * grayscale the 9×8 nearest-neighbor downsample and set bit
    * 63 − (y·8+x) when cell (x, y) is brighter than its right neighbor
    * (x+1, y). Comparing ADJACENT cells instead of a global mean makes
    * the hash robust where aHash is fragile — any monotone per-image
    * brightness curve (gamma, contrast stretch) preserves every local
    * comparison, while a single bright region can drag aHash's global
    * mean across half the cells. All arithmetic is integer (channel
    * mean, floor-division resize, compare), so an external engine can
    * restate the bits from raw pixel bytes. Hamming machinery downstream
    * is shared with [[aHash]]/SimHash.
    */
  def dHash(ds: Dataset[DecodedImage]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    resize(ds, 9, 8).map { img =>
      val g = grayGrid(img)
      var bits = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (g(y * 9 + x) > g(y * 9 + x + 1)) bits |= 1L << (63 - (y * 8 + x))
          x += 1
        }
        y += 1
      }
      (img.doc_id, bits)
    }.toDF("doc_id", "dhash")
  }

  /** Fixed-point DCT-II cosine table shared by [[pHash]] and its oracle:
    * `PhashCos(k)(n) = round(cos(π·(2n+1)·k / 64) · 2¹⁴)` — only the 8
    * low frequencies are ever read, so the table is 8×32. Integer
    * weights make the whole transform EXACT (sums of products of
    * bounded integers, |coef| < 2⁴⁶), so the hash is restatable
    * bit-for-bit by an external SQL engine with the same 256 literals;
    * a floating DCT would hang the bit decisions on cross-engine cosine
    * ULPs right at the median threshold.
    */
  val PhashCos: Array[Array[Long]] = Array.tabulate(8, 32)((k, n) =>
    math.round(math.cos(math.Pi * (2 * n + 1) * k / 64.0) * 16384.0))

  /** 64-bit DCT perceptual hash (pHash) per decoded image — the public
    * standard for image near-dup dedup (ImageHash/pHash lineage):
    * grayscale the 32×32 nearest-neighbor downsample, take the 2-D
    * DCT-II's 8×8 low-frequency block (computed separably under the
    * fixed-point [[PhashCos]] table: row pass then column pass, all
    * integer), and set bit 63 − (v·8+u) when coefficient (u, v) exceeds
    * the MEDIAN of the 63 non-DC coefficients (the 32nd smallest; the
    * DC bit is always 0 — it carries only global brightness). Surviving
    * gamma/contrast curves AND small local edits is what the frequency
    * domain buys over [[aHash]]/[[dHash]]'s spatial comparisons.
    */
  def pHash(ds: Dataset[DecodedImage]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cos = PhashCos
    resize(ds, 32, 32).map { img =>
      val g = grayGrid(img)
      // row pass: rp(v)(x) = Σ_y g(y, x) · cos(v)(y)
      val rp = Array.ofDim[Long](8, 32)
      var v = 0
      while (v < 8) {
        var x = 0
        while (x < 32) {
          var s = 0L
          var y = 0
          while (y < 32) { s += g(y * 32 + x) * cos(v)(y); y += 1 }
          rp(v)(x) = s
          x += 1
        }
        v += 1
      }
      // column pass: coef(v·8+u) = Σ_x rp(v)(x) · cos(u)(x)
      val coef = new Array[Long](64)
      v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          var s = 0L
          var x = 0
          while (x < 32) { s += rp(v)(x) * cos(u)(x); x += 1 }
          coef(v * 8 + u) = s
          u += 1
        }
        v += 1
      }
      val nonDc = java.util.Arrays.copyOfRange(coef, 1, 64)
      java.util.Arrays.sort(nonDc)
      val med = nonDc(31)
      var bits = 0L
      var i = 1
      while (i < 64) { if (coef(i) > med) bits |= 1L << (63 - i); i += 1 }
      (img.doc_id, bits)
    }.toDF("doc_id", "phash")
  }

  /** 64-bit spectral-band energy fingerprint per decoded audio clip —
    * the chromaprint-style GEOMETRY (band energies over time frames,
    * bits from energy deltas) in integer-exact arithmetic, for
    * audio-level near-dup dedup on the banded Hamming machinery the
    * image hashes already ride:
    *
    *   1. resample the PCM to a fixed 1024-point grid (32 frames × 32
    *      points, nearest-neighbor floor arithmetic) — DURATION- and
    *      sample-rate-invariant by construction, the audio analogue of
    *      the 8×8 image downsample;
    *   2. per frame, two coarse "band energies": |fixed-point DCT bins
    *      1 and 2| under the shared [[PhashCos]] integer table (a crude
    *      low/mid spectral split — enough structure for near-dup
    *      candidates; this is a fingerprint, not a codec);
    *   3. bit 63 − (f·2+k) set when band k's energy DROPS from frame f
    *      to frame (f+1) mod 32 (e(f) > e(f+1)) — delta signs survive
    *      any positive gain (energies scale linearly), the chromaprint
    *      trick.
    *
    * All arithmetic is integer (floor resample, integer cosine weights,
    * |Σ| ≤ 32·32767·2¹⁴ < 2⁴⁴, compare), so an external engine restates
    * every bit from raw sample values.
    */
  def audioFingerprint(ds: Dataset[DecodedAudio]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cos = PhashCos
    ds.map { a =>
      val total = a.samples.length
      val e = Array.ofDim[Long](2, 32)
      var f = 0
      while (f < 32) {
        var k = 0
        while (k < 2) {
          var s = 0L
          var n = 0
          while (n < 32) {
            val v = if (total == 0) 0L
              else a.samples(((f * 32 + n).toLong * total / 1024).toInt).toLong
            s += v * cos(k + 1)(n)
            n += 1
          }
          e(k)(f) = math.abs(s)
          k += 1
        }
        f += 1
      }
      var bits = 0L
      f = 0
      while (f < 32) {
        var k = 0
        while (k < 2) {
          if (e(k)(f) > e(k)((f + 1) % 32)) bits |= 1L << (63 - (f * 2 + k))
          k += 1
        }
        f += 1
      }
      (a.doc_id, bits)
    }.toDF("doc_id", "afp")
  }

  /** Image dimensions from the HEADER BYTES alone — the decode-free
    * resolution filter every image-crawl pipeline runs before paying for
    * pixel decode ("drop < 256×256" over billions of payloads). Pure
    * column algebra (byte plucks via substring/hex/conv), so it stays
    * inside whole-stage codegen in the scan stage, pushes down with
    * projections, and an external SQL engine can restate it verbatim.
    *
    * Formats with fixed-offset dimensions: PNG (IHDR big-endian at 17/21),
    * GIF (logical screen little-endian at 7/9), BMP (BITMAPINFOHEADER
    * little-endian at 19/23, signed height for top-down bitmaps → abs,
    * gated on DIB header size ≥ 40 — a 12-byte OS/2 BITMAPCOREHEADER
    * stores 16-bit dims at different offsets, so it reports null dims
    * rather than a garbage 32-bit read; V4/V5 headers keep the same
    * width/height offsets and pass the gate).
    * JPEG dimensions live in an SOF segment at a VARIABLE offset behind a
    * chain of length-prefixed header segments — not a fixed pluck, so
    * they come from [[graft.functions.JpegDims]], a native codegen'd
    * bounded segment walk over the pre-scan header region (the one
    * departure from pure column algebra here; still one expression in the
    * same scan stage). Unknown formats, too-short payloads, and JPEGs
    * whose header yields no dims (corrupt chain, DNL-deferred height)
    * report null dims, never garbage.
    */
  def payloadDims(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val p = col(payloadCol).cast("binary")
    def u8(off: Int): Column = conv(hex(substring(p, off, 1)), 16, 10).cast("long")
    def be32(off: Int): Column = conv(hex(substring(p, off, 4)), 16, 10).cast("long")
    def le16(off: Int): Column = u8(off) + u8(off + 1) * 256
    def le32(off: Int): Column =
      u8(off) + u8(off + 1) * 256 + u8(off + 2) * 65536 + u8(off + 3) * 16777216
    val head = hex(substring(p, 1, 8))
    val nullDim = lit(null).cast("long")
    // BMP height is SIGNED (negative = top-down row order) — report |h|
    val bmpH = le32(23)
    val bmpAbsH = when(bmpH >= 2147483648L, lit(4294967296L) - bmpH).otherwise(bmpH)
    // JPEG: one packed walk result, unpacked by bit algebra (null walks
    // propagate to null dims)
    val jpegPacked = graft.functions.JpegDims(p)
    def le24(off: Int): Column = u8(off) + u8(off + 1) * 256 + u8(off + 2) * 65536
    val isWebp = head.startsWith("52494646") && hex(substring(p, 9, 4)) === "57454250"
    val webpFour = hex(substring(p, 13, 4))
    val sniff =
      when(head.startsWith("89504E470D0A1A0A") && length(p) >= 24,
        struct(lit("png").as("f"), be32(17).as("w"), be32(21).as("h")))
      .when(head.startsWith("474946") && length(p) >= 10,
        struct(lit("gif").as("f"), le16(7).as("w"), le16(9).as("h")))
      .when(head.startsWith("424D") && length(p) >= 26 && le32(15) >= 40,
        struct(lit("bmp").as("f"), le32(19).as("w"), bmpAbsH.as("h")))
      .when(head.startsWith("424D"),
        struct(lit("bmp").as("f"), nullDim.as("w"), nullDim.as("h")))
      .when(head.startsWith("FFD8"),
        struct(lit("jpeg").as("f"), shiftright(jpegPacked, 16).as("w"),
          jpegPacked.bitwiseAND(65535L).as("h")))
      // WebP (RIFF + 'WEBP'): all three container flavors are fixed-offset
      // plucks — VP8X carries the canvas as 24-bit LE minus-one fields;
      // lossy VP8 a 14-bit LE pair behind the 9D 01 2A start code; VP8L a
      // 14+14-bit pack behind the 0x2F signature. Unrecognized/corrupt
      // sub-chunks report null dims, never garbage.
      .when(isWebp && webpFour === "56503858" && length(p) >= 30, // VP8X
        struct(lit("webp").as("f"), (le24(25) + 1).as("w"), (le24(28) + 1).as("h")))
      .when(isWebp && webpFour === "56503820" && length(p) >= 30 && // 'VP8 '
          hex(substring(p, 24, 3)) === "9D012A",
        struct(lit("webp").as("f"), le16(27).bitwiseAND(lit(16383L)).as("w"),
          le16(29).bitwiseAND(lit(16383L)).as("h")))
      .when(isWebp && webpFour === "5650384C" && length(p) >= 25 && // VP8L
          u8(21) === 0x2F,
        struct(lit("webp").as("f"),
          (le32(22).bitwiseAND(lit(16383L)) + 1).as("w"),
          (shiftright(le32(22), 14).bitwiseAND(lit(16383L)) + 1).as("h")))
      .when(isWebp,
        struct(lit("webp").as("f"), nullDim.as("w"), nullDim.as("h")))
      .otherwise(struct(lit("unknown").as("f"), nullDim.as("w"), nullDim.as("h")))
    df.select(col(idCol), sniff.getField("f").as("format"),
      sniff.getField("w").as("width"), sniff.getField("h").as("height"))
  }
}
