package graft

import org.apache.spark.sql.functions._

import graft.llm.Multimodal

class MultimodalSpec extends SparkSpec {

  private def media = {
    import spark.implicits._
    Seq(
      (1L, Array.tabulate[Byte](100)(_.toByte)),
      (2L, Array[Byte](0xFF.toByte, 0xD8.toByte, 1, 2, 3)), // jpeg magic
      (3L, Array.emptyByteArray),                           // undecodable
      (4L, null.asInstanceOf[Array[Byte]]),                 // null payload
    ).toDF("doc_id", "payload")
  }

  test("decodeImages: stable schema, batched decode, nulls/empties skipped") {
    val decoded = Multimodal.decodeImages(media, "doc_id", "payload", batchSize = 2)
    val rows = decoded.collect().map(d => d.doc_id -> d).toMap
    assert(rows.keySet == Set(1L, 2L))
    val d1 = rows(1L)
    assert(d1.width == 16 + 100 % 32 && d1.height == 16 + 100 % 24 && d1.channels == 3)
    assert(d1.pixels.length == math.min(d1.width * d1.height * 3, 4096))
    // deterministic: same input, same pixels
    val again = Multimodal.decodeImages(media, "doc_id", "payload").collect()
      .find(_.doc_id == 1L).get
    assert(java.util.Arrays.equals(again.pixels, d1.pixels))
  }

  test("resize: nearest-neighbor to exact target dims") {
    val out = Multimodal.resize(
      Multimodal.decodeImages(media, "doc_id", "payload"), 8, 8).collect()
    assert(out.nonEmpty)
    assert(out.forall(d => d.width == 8 && d.height == 8 && d.pixels.length == 8 * 8 * 3))
  }

  test("sampleFrames: n frames covering the payload in order") {
    val frames = Multimodal.sampleFrames(media.filter(col("doc_id") === 1), "doc_id",
      "payload", n = 4).collect().sortBy(_.frame_ix)
    assert(frames.map(_.frame_ix).toSeq == Seq(0, 1, 2, 3))
    assert(frames.map(_.payload.length).sum == 100)
    assert(frames.head.payload.head == 0.toByte)
  }

  test("meanPixel feature over the decoded dataset") {
    val df = Multimodal.meanPixel(Multimodal.decodeImages(media, "doc_id", "payload"))
    val rows = df.collect()
    assert(rows.forall { r =>
      val m = r.getAs[Double]("mean_pixel"); m >= 0 && m <= 256
    })
  }

  /** A real 2×2 24-bit BMP, built BYTE BY BYTE from the spec (14-byte file
    * header + 40-byte info header + bottom-up BGR rows padded to 4):
    * top-down pixels are red, green / blue, white.
    */
  private def bmpFixture: Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val header = Array[Byte]('B', 'M') ++ le32(70) ++ le16(0) ++ le16(0) ++ le32(54)
    val info = le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(16) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0)
    // bottom row first (y=1): blue, white; then y=0: red, green — BGR order
    val rows = Array[Byte](
      -1, 0, 0, /*blue BGR*/ -1, -1, -1, /*white*/ 0, 0, /*pad*/
      0, 0, -1, /*red BGR*/ 0, -1, 0, /*green*/ 0, 0)
    header ++ info ++ rows
  }

  test("JvmCodecs decodes a real BMP fixture byte-exactly, through " +
      "the same distributed pipeline as the stub") {
    import spark.implicits._
    // driver-side: byte-exact decode of the hand-built file
    val img = Multimodal.JvmCodecs.decodeImage(7L, bmpFixture).get
    assert((img.width, img.height, img.channels) == ((2, 2, 3)))
    assert(img.pixels.toSeq == Seq[Byte](
      -1, 0, 0, /*red RGB*/ 0, -1, 0, /*green*/
      0, 0, -1, /*blue*/ -1, -1, -1 /*white*/))
    // corrupt payloads drop, like the stub's short-payload path
    assert(Multimodal.JvmCodecs.decodeImage(8L, Array[Byte](1, 2, 3)).isEmpty)
    // distributed: same decodeImages/resize plumbing, real codec bound in
    val df = Seq((7L, bmpFixture), (8L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    val decoded = Multimodal.decodeImages(df, "doc_id", "payload",
      codecs = Multimodal.JvmCodecs).collect()
    assert(decoded.map(_.doc_id).toSeq == Seq(7L)) // corrupt row dropped
    assert(decoded.head.pixels.toSeq == img.pixels.toSeq)
    val up = Multimodal.resize(Multimodal.decodeImages(df, "doc_id", "payload",
      codecs = Multimodal.JvmCodecs), 4, 4).collect().head
    // nearest-neighbor 2× upscale: each source pixel becomes a 2×2 block
    assert((up.width, up.height) == ((4, 4)))
    assert(up.pixels.slice(0, 6).toSeq == Seq[Byte](-1, 0, 0, -1, 0, 0))
  }

  /** A real 8 kHz mono 16-bit WAV, built byte by byte: RIFF header, a
    * LIST chunk the walker must skip, `fmt `, then 4 samples.
    */
  private def wavFixture: Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val samples = Seq(1000, -2000, 32767, -32768)
    val data = samples.flatMap(le16(_)).toArray
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val list = "LIST".getBytes ++ le32(4) ++ "INFO".getBytes
    val body = "WAVE".getBytes ++ list ++ fmt ++ "data".getBytes ++ le32(data.length) ++ data
    "RIFF".getBytes ++ le32(body.length) ++ body
  }

  test("JvmCodecs decodes a real WAV fixture byte-exactly (PCM chunk walk)") {
    import spark.implicits._
    val clip = Multimodal.JvmCodecs.decodeAudio(9L, wavFixture).get
    assert((clip.sample_rate, clip.channels) == ((8000, 1)))
    assert(clip.samples.toSeq == Seq(1000, -2000, 32767, -32768))
    // truncation and non-PCM reject with None
    assert(Multimodal.JvmCodecs.decodeAudio(9L, wavFixture.dropRight(3)).isEmpty)
    val nonPcm = wavFixture.clone
    nonPcm(32) = 3 // audioFormat field inside fmt (after RIFF+LIST headers)
    assert(Multimodal.JvmCodecs.decodeAudio(9L, nonPcm).isEmpty)
    // distributed path drops the corrupt row
    val df = Seq((9L, wavFixture), (10L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    val decoded = Multimodal.decodeAudio(df, "doc_id", "payload").collect()
    assert(decoded.map(_.doc_id).toSeq == Seq(9L))
    assert(decoded.head.samples.toSeq == clip.samples.toSeq)
  }

  /** A real 3-frame animated GIF89a, built byte by byte: 4×3 logical
    * screen, 4-color global palette (red/green/blue/black), image data in
    * "uncompressed" LZW (a clear code before every literal keeps the code
    * width at 3 bits — valid LZW, trivially hand-packable). The frames
    * exercise the compositing rules a real demuxer must honor:
    *   0: full 4×3 red, disposal none
    *   1: partial 2×2 blue at offset (1,1), disposal doNotDispose
    *   2: 1×1 green at (0,0), disposal restoreToBackgroundColor
    */
  private def gifFixture: Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    def le16(v: Int): Unit = { out += v.toByte; out += (v >> 8).toByte }
    out ++= "GIF89a".getBytes("US-ASCII")
    le16(4); le16(3)
    out += 0xF1.toByte // GCT present, 2^(1+1)=4 entries
    out += 0; out += 0 // bg index, aspect
    out ++= Array[Byte](-1, 0, 0, /*red*/ 0, -1, 0, /*green*/ 0, 0, -1, /*blue*/ 0, 0, 0)
    def gce(disposal: Int): Unit = {
      out += 0x21; out += 0xF9.toByte; out += 4
      out += (disposal << 2).toByte; le16(0); out += 0; out += 0
    }
    def frame(left: Int, top: Int, w: Int, h: Int, pixels: Seq[Int]): Unit = {
      out += 0x2C
      le16(left); le16(top); le16(w); le16(h); out += 0 // no local palette
      out += 2 // LZW minimum code size → clear=4, eoi=5, 3-bit codes
      var bits = 0L; var nbits = 0
      val data = scala.collection.mutable.ArrayBuffer[Byte]()
      def emit(code: Int): Unit = {
        bits |= code.toLong << nbits; nbits += 3
        while (nbits >= 8) { data += (bits & 0xFF).toByte; bits >>= 8; nbits -= 8 }
      }
      pixels.foreach { p => emit(4); emit(p) }
      emit(5)
      if (nbits > 0) data += (bits & 0xFF).toByte
      out += data.length.toByte; out ++= data; out += 0
    }
    gce(0); frame(0, 0, 4, 3, Seq.fill(12)(0))
    gce(1); frame(1, 1, 2, 2, Seq.fill(4)(2))
    gce(2); frame(0, 0, 1, 1, Seq(1))
    out += 0x3B.toByte
    out.toArray
  }

  test("JvmCodecs demuxes a real animated GIF: offsets, disposal, standalone frames") {
    import spark.implicits._
    val red = Seq[Byte](-1, 0, 0); val green = Seq[Byte](0, -1, 0)
    val blue = Seq[Byte](0, 0, -1)
    def px(img: Multimodal.DecodedImage, x: Int, y: Int): Seq[Byte] =
      img.pixels.slice((y * img.width + x) * 3, (y * img.width + x) * 3 + 3).toSeq
    val frames = Multimodal.JvmCodecs.sampleFrames(3L, gifFixture, n = 3)
    assert(frames.map(_.frame_ix) == Seq(0, 1, 2))
    // every sampled frame is a standalone decodable image at screen size
    val decoded = frames.map(f => Multimodal.JvmCodecs.decodeImage(3L, f.payload).get)
    assert(decoded.forall(d => d.width == 4 && d.height == 3))
    assert(decoded(0).pixels.grouped(3).forall(_.sameElements(red)))
    // frame 1 drew a 2×2 blue block at (1,1) over the persisted red canvas
    assert(px(decoded(1), 0, 0) == red && px(decoded(1), 3, 2) == red)
    assert(px(decoded(1), 1, 1) == blue && px(decoded(1), 2, 2) == blue)
    // frame 2: green at (0,0), blue block still composited underneath
    assert(px(decoded(2), 0, 0) == green && px(decoded(2), 1, 1) == blue)
    // sampling more frames than the GIF has repeats evenly (⌊total·j/n⌋)
    val six = Multimodal.JvmCodecs.sampleFrames(3L, gifFixture, n = 6)
    assert(six.map(_.frame_ix) == Seq(0, 1, 2, 3, 4, 5))
    assert(six.map(_.payload.toSeq).distinct.length == 3)
    // non-GIF payloads keep the stub's deterministic slices; corrupt GIFs drop
    val plain = Array.tabulate[Byte](40)(_.toByte)
    val (viaJvm, viaStub) = (Multimodal.JvmCodecs.sampleFrames(4L, plain, 4),
      Multimodal.StubCodecs.sampleFrames(4L, plain, 4))
    assert(viaJvm.map(f => (f.doc_id, f.frame_ix, f.payload.toSeq)) ==
      viaStub.map(f => (f.doc_id, f.frame_ix, f.payload.toSeq)))
    assert(Multimodal.JvmCodecs.sampleFrames(5L, "GIF89a-corrupt".getBytes, 4).isEmpty)
    // distributed: same sampleFrames plumbing, real codec bound in
    val df = Seq((3L, gifFixture), (5L, "GIF89a!!".getBytes)).toDF("doc_id", "payload")
    val dist = Multimodal.sampleFrames(df, "doc_id", "payload", n = 2,
      codecs = Multimodal.JvmCodecs).collect()
    assert(dist.map(_.doc_id).distinct.toSeq == Seq(3L))
    assert(dist.length == 2)
  }

  private def jpegBytes(rgb: Int, w: Int = 5, h: Int = 4): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("JvmCodecs demuxes an MJPEG stream: marker walk, raw-JPEG frames, no re-encode") {
    val parts = Seq(jpegBytes(0xFF0000), jpegBytes(0x00FF00), jpegBytes(0x0000FF))
    val mjpeg = parts.reduce(_ ++ _)
    val frames = Multimodal.JvmCodecs.sampleFrames(7L, mjpeg, n = 3)
    assert(frames.map(_.frame_ix) == Seq(0, 1, 2))
    // demux is byte-exact: each sampled frame IS the original JPEG
    assert(frames.map(_.payload.toSeq) == parts.map(_.toSeq))
    // and each decodes standalone to the right dominant color
    val decoded = frames.map(f => Multimodal.JvmCodecs.decodeImage(7L, f.payload).get)
    assert(decoded.forall(d => d.width == 5 && d.height == 4))
    def dominant(px: Array[Byte]): Int =
      px.grouped(3).map(g => Seq(g(0) & 0xFF, g(1) & 0xFF, g(2) & 0xFF).zipWithIndex.maxBy(_._1)._2)
        .toSeq.groupBy(identity).maxBy(_._2.size)._1
    assert(decoded.map(d => dominant(d.pixels)) == Seq(0, 1, 2))
    // over-sampling repeats evenly like the GIF path
    val six = Multimodal.JvmCodecs.sampleFrames(7L, mjpeg, n = 6)
    assert(six.map(_.payload.toSeq).distinct.length == 3)
    // a single JPEG is a 1-frame stream, not a stub slice
    val one = Multimodal.JvmCodecs.sampleFrames(8L, parts.head, n = 2)
    assert(one.length == 2 && one.forall(_.payload.toSeq == parts.head.toSeq))
    // trailing garbage after the last complete frame is ignored
    val padded = mjpeg ++ Array[Byte](0, 1, 2)
    assert(Multimodal.JvmCodecs.sampleFrames(9L, padded, n = 3)
      .map(_.payload.toSeq) == parts.map(_.toSeq))
    // corrupt stream (SOI then junk) → Nil
    val corrupt = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0x00, 0x00)
    assert(Multimodal.JvmCodecs.sampleFrames(10L, corrupt, n = 2).isEmpty)
  }

  // --- ISO-BMFF (MP4) fixtures: hand-built box trees (shared byte
  // primitives live in MediaFixtures) ---

  private def be32(v: Int): Array[Byte] = MediaFixtures.be32(v)

  private def bmffBox(typ: String, content: Array[Byte]*): Array[Byte] =
    MediaFixtures.bmffBox(typ, content: _*)

  /** One video track, samples in one chunk; stss marks `sync` (1-based)
    * as keyframes (empty = omit stss = all sync). `mdatLast` moves the
    * media data after the moov ("fast-start" layout), so tail truncation
    * genuinely truncates mdat.
    */
  private def mp4Fixture(samples: Seq[Array[Byte]], sync: Seq[Int],
      handler: String = "vide", co64: Boolean = false,
      mdatLast: Boolean = false): Array[Byte] = {
    val ftyp = bmffBox("ftyp", "isom".getBytes, be32(0))
    val data = samples.flatten.toArray
    val mdat = bmffBox("mdat", data)
    def moovFor(mdatContentOff: Int): Array[Byte] = {
      val hdlr = bmffBox("hdlr", be32(0), be32(0), handler.getBytes)
      val stsz = bmffBox("stsz", be32(0), be32(0), be32(samples.length),
        samples.toArray.flatMap(s => be32(s.length)))
      val stsc = bmffBox("stsc", be32(0), be32(1), be32(1), be32(samples.length), be32(1))
      val stco =
        if (co64) bmffBox("co64", be32(0), be32(1), be32(0), be32(mdatContentOff))
        else bmffBox("stco", be32(0), be32(1), be32(mdatContentOff))
      val stss =
        if (sync.isEmpty) Array.empty[Byte]
        else bmffBox("stss", be32(0), be32(sync.length), sync.toArray.flatMap(be32))
      val stbl = bmffBox("stbl", stsz, stsc, stco, stss)
      bmffBox("moov", bmffBox("trak", bmffBox("mdia", hdlr, bmffBox("minf", stbl))))
    }
    if (mdatLast) {
      // moov length does not depend on the offset value (fixed 4/8-byte
      // fields), so compute it once with a placeholder
      val moovLen = moovFor(0).length
      ftyp ++ moovFor(ftyp.length + moovLen + 8) ++ mdat
    } else ftyp ++ mdat ++ moovFor(ftyp.length + 8)
  }

  test("JvmCodecs demuxes MP4 keyframes: box walk, stss selection, byte-exact slices") {
    val samples = Seq("AAAAAAAA", "BBBBB", "CCCCCCCCCC", "DD").map(_.getBytes)
    // keyframes are samples 1 and 3 (1-based) — variable sizes via stsz table
    val mp4 = mp4Fixture(samples, sync = Seq(1, 3))
    val frames = Multimodal.JvmCodecs.sampleFrames(1L, mp4, n = 2)
    assert(frames.map(_.frame_ix) == Seq(0, 1))
    assert(frames.map(f => new String(f.payload)) == Seq("AAAAAAAA", "CCCCCCCCCC"))
    // no stss → every sample is sync, all 4 sampled in order
    val all = Multimodal.JvmCodecs.sampleFrames(1L, mp4Fixture(samples, Nil), n = 4)
    assert(all.map(f => new String(f.payload)) ==
      Seq("AAAAAAAA", "BBBBB", "CCCCCCCCCC", "DD"))
    // co64 offsets resolve the same ranges
    val c64 = Multimodal.JvmCodecs.sampleFrames(1L, mp4Fixture(samples, Seq(2), co64 = true), n = 1)
    assert(c64.map(f => new String(f.payload)) == Seq("BBBBB"))
    // a sound-only track is not a video source → Nil (not stub slices)
    assert(Multimodal.JvmCodecs.sampleFrames(1L,
      mp4Fixture(samples, Seq(1), handler = "soun"), n = 2).isEmpty)
    // ftyp magic without a moov (or truncated moov) → Nil, not garbage
    val noMoov = mp4.take(mp4.length - samples.flatten.length - 120)
    assert(Multimodal.JvmCodecs.sampleFrames(1L, noMoov, n = 2).isEmpty)
  }

  test("MP4 demux: moov-first layout; a truncated mdat → valid-prefix keyframes") {
    val samples = Seq("AAAAAAAA", "BBBBBBBB", "CCCCCCCC").map(_.getBytes)
    val full = mp4Fixture(samples, Nil, mdatLast = true)
    assert(Multimodal.JvmCodecs.sampleFrames(1L, full, n = 3)
      .map(f => new String(f.payload)) == Seq("AAAAAAAA", "BBBBBBBB", "CCCCCCCC"))
    // cut the last 8 bytes: sample 3's range now points past the buffer —
    // the keyframe list truncates to its valid prefix instead of emitting
    // a frame that reads out of bounds
    val truncated = full.take(full.length - 8)
    assert(Multimodal.JvmCodecs.sampleFrames(1L, truncated, n = 2)
      .map(f => new String(f.payload)) == Seq("AAAAAAAA", "BBBBBBBB"))
  }

  private def fmp4Fixture(
      frags: Seq[Seq[Seq[(Array[Byte], Option[Int])]]],
      firstSampleFlags: Option[Int] = None): Array[Byte] =
    MediaFixtures.fmp4Fixture(frags, firstSampleFlags)

  test("fragmented MP4 (moof/trun): keyframes across fragments and runs") {
    val key = Some(0)            // sync-sample flags
    val nonKey = Some(0x10000)   // sample_is_non_sync_sample
    val fmp4 = fmp4Fixture(Seq(
      // fragment 1: one trun, per-sample flags
      Seq(Seq(("F1AAAAAA".getBytes, key), ("F1B".getBytes, nonKey),
        ("F1CCCC".getBytes, key))),
      // fragment 2: trun 1 has no per-sample flags (trex default = non-sync,
      // overridden for its first sample by first-sample-flags = sync);
      // trun 2 omits its data offset and must continue at the cursor
      Seq(Seq(("F2A".getBytes, None), ("F2BBB".getBytes, None)),
        Seq(("F2CC".getBytes, key)))),
      firstSampleFlags = Some(0))
    val frames = Multimodal.JvmCodecs.sampleFrames(1L, fmp4, n = 4)
    assert(frames.map(f => new String(f.payload)) ==
      Seq("F1AAAAAA", "F1CCCC", "F2A", "F2CC"))
    // truncating the last mdat drops only the keyframes past the cut
    val truncated = fmp4.take(fmp4.length - 6)
    val got = Multimodal.JvmCodecs.sampleFrames(1L, truncated, n = 3)
    assert(got.map(f => new String(f.payload)) == Seq("F1AAAAAA", "F1CCCC", "F2A"))
  }

  test("fragmented MP4: a crafted 0xFFFFFFFF trun sample_count is rejected, " +
      "not spun over") {
    val fmp4 = fmp4Fixture(Seq(Seq(Seq(("KFDATA__".getBytes, Some(0))))))
    // patch the trun's declared sample_count (content offset +4, after
    // version/flags) to ~4.3 billion — the declared per-sample records
    // cannot fit in the box, so the whole run must be dropped instantly
    val i = fmp4.indexOfSlice("trun".getBytes)
    assert(i >= 0)
    val evil = fmp4.clone()
    for (j <- 0 until 4) evil(i + 8 + j) = 0xFF.toByte
    assert(Multimodal.JvmCodecs.sampleFrames(1L, evil, n = 2).isEmpty)
  }

  // --- WebM/Matroska fixtures: hand-built EBML trees (shared byte
  // primitives live in MediaFixtures) ---

  private def id(bytes: Int*): Array[Byte] = MediaFixtures.ebmlId(bytes: _*)

  private def ebml(eid: Array[Byte], content: Array[Byte]*): Array[Byte] =
    MediaFixtures.ebmlEl(eid, content: _*)

  private def blockBytes(track: Int, flags: Int, data: Array[Byte]): Array[Byte] =
    MediaFixtures.mkvBlockBytes(track, flags, data)

  private def webmFixture(unknownSegmentSize: Boolean = false): Array[Byte] = {
    val header = ebml(id(0x1A, 0x45, 0xDF, 0xA3))
    // audio entry FIRST: the demuxer must pick the video track by type
    val audioEntry = ebml(id(0xAE),
      ebml(id(0xD7), Array(2.toByte)), ebml(id(0x83), Array(2.toByte)))
    val videoEntry = ebml(id(0xAE),
      ebml(id(0xD7), Array(1.toByte)), ebml(id(0x83), Array(1.toByte)))
    val tracks = ebml(id(0x16, 0x54, 0xAE, 0x6B), audioEntry, videoEntry)
    val cluster = ebml(id(0x1F, 0x43, 0xB6, 0x75),
      ebml(id(0xE7), Array(0.toByte)),                          // cluster timestamp
      ebml(id(0xA3), blockBytes(1, 0x80, "KEY1".getBytes)),     // video keyframe
      ebml(id(0xA3), blockBytes(1, 0x00, "DELTA".getBytes)),    // video delta frame
      ebml(id(0xA3), blockBytes(2, 0x80, "AUDIOKEY".getBytes)), // audio track
      ebml(id(0xA0),                                            // BlockGroup keyframe
        ebml(id(0xA1), blockBytes(1, 0x00, "KEY2".getBytes))),  //   (no ReferenceBlock)
      ebml(id(0xA0),                                            // BlockGroup P-frame
        ebml(id(0xA1), blockBytes(1, 0x00, "PFRAME".getBytes)),
        ebml(id(0xFB), Array(0x7F.toByte))))                    //   (ReferenceBlock)
    val segContent = tracks ++ cluster
    val segment =
      if (unknownSegmentSize)
        id(0x18, 0x53, 0x80, 0x67) ++ Array(0xFF.toByte) ++ segContent
      else ebml(id(0x18, 0x53, 0x80, 0x67), segContent)
    header ++ segment
  }

  test("JvmCodecs demuxes WebM keyframes: EBML walk, track + flag selection") {
    val webm = webmFixture()
    val frames = Multimodal.JvmCodecs.sampleFrames(1L, webm, n = 2)
    // only the video keyframes: the delta frame, the audio-track block and
    // the ReferenceBlock'd P-frame are all excluded
    assert(frames.map(f => new String(f.payload)) == Seq("KEY1", "KEY2"))
    // unknown-size Segment (streamed/live mux) parses identically
    val streamed = Multimodal.JvmCodecs.sampleFrames(1L,
      webmFixture(unknownSegmentSize = true), n = 2)
    assert(streamed.map(f => new String(f.payload)) == Seq("KEY1", "KEY2"))
    // EBML magic with a truncated segment → Nil, not stub slices
    assert(Multimodal.JvmCodecs.sampleFrames(1L, webm.take(12), n = 2).isEmpty)
  }

  test("WebM demux: multiple UNKNOWN-size Clusters all contribute keyframes") {
    // streamed muxes (MediaRecorder-style) size every Cluster as 0xFF, not
    // just the Segment: each cluster must end at the next cluster's ID,
    // not swallow the rest of the buffer
    val videoEntry = ebml(id(0xAE),
      ebml(id(0xD7), Array(1.toByte)), ebml(id(0x83), Array(1.toByte)))
    val tracks = ebml(id(0x16, 0x54, 0xAE, 0x6B), videoEntry)
    def cluster(data: String): Array[Byte] =
      id(0x1F, 0x43, 0xB6, 0x75) ++ Array(0xFF.toByte) ++
        ebml(id(0xE7), Array(0.toByte)) ++
        ebml(id(0xA3), blockBytes(1, 0x80, data.getBytes))
    val payload = ebml(id(0x1A, 0x45, 0xDF, 0xA3)) ++
      id(0x18, 0x53, 0x80, 0x67) ++ Array(0xFF.toByte) ++
      tracks ++ cluster("KF_A") ++ cluster("KF_B") ++ cluster("KF_C")
    val frames = Multimodal.JvmCodecs.sampleFrames(1L, payload, n = 3)
    assert(frames.map(f => new String(f.payload)) == Seq("KF_A", "KF_B", "KF_C"))
  }

  test("MP4 demux: overflow-crafted co64 offset drops the payload, no crash") {
    val samples = Seq("AAAAAAAA", "BBBBBBBB").map(_.getBytes)
    val mp4 = mp4Fixture(samples, Nil, co64 = true)
    // the real chunk offset is 24 (= 0x18); find its 8-byte co64 encoding
    // and replace it with a near-Long.Max value whose `off + size` wraps
    val i = mp4.indexOfSlice(Seq[Byte](0, 0, 0, 0, 0, 0, 0, 0x18))
    assert(i >= 0, "co64 offset bytes not found")
    val evil = mp4.clone()
    val big = 0x7FFFFFFFFFFFFFF8L
    for (j <- 0 until 8) evil(i + j) = ((big >> (8 * (7 - j))) & 0xFF).toByte
    assert(Multimodal.JvmCodecs.sampleFrames(1L, evil, n = 2).isEmpty)
  }

  test("audio elementary streams: ADTS and MP3 frame walks") {
    def adtsFrame(data: Array[Byte]): Array[Byte] = {
      val len = 7 + data.length
      Array(0xFF, 0xF1, 0x50, 0x80 | ((len >> 11) & 3), (len >> 3) & 0xFF,
        ((len & 7) << 5) | 0x1F, 0xFC).map(_.toByte) ++ data
    }
    val stream = adtsFrame("AAAAAAAA".getBytes) ++ adtsFrame("BBBB".getBytes)
    val frames = Multimodal.JvmCodecs.sampleFrames(1L, stream, n = 2)
    // each frame keeps its header (standalone-decodable, like MJPEG)
    assert(frames.map(f => new String(f.payload.drop(7))) == Seq("AAAAAAAA", "BBBB"))
    // truncated tail → valid prefix
    assert(Multimodal.JvmCodecs.sampleFrames(1L, stream.take(stream.length - 2), n = 1)
      .map(f => new String(f.payload.drop(7))) == Seq("AAAAAAAA"))
    // MP3 (MPEG-1 Layer III, 128 kbps @ 44.1 kHz): 144*128000/44100 = 417
    val mp3Frame = Array(0xFF, 0xFB, 0x90, 0x00).map(_.toByte) ++
      Array.fill(413)(7.toByte)
    val got = Multimodal.JvmCodecs.sampleFrames(2L, mp3Frame ++ mp3Frame, n = 2)
    assert(got.map(_.payload.length) == Seq(417, 417))
    assert(got(1).payload.take(4).toSeq == mp3Frame.take(4).toSeq)
    // free-bitrate / reserved fields are rejected, never guessed — and
    // since the bare 2-byte sync is a weak magic (1/512 of random
    // binaries), the payload falls back to the STUB slices of an unknown
    // format instead of silently vanishing
    val free = Array(0xFF, 0xFB, 0x00, 0x00).map(_.toByte) ++ Array.fill(100)(0.toByte)
    val fallback = Multimodal.JvmCodecs.sampleFrames(3L, free, n = 2)
    val stub = Multimodal.StubCodecs.sampleFrames(3L, free, n = 2)
    assert(fallback.map(f => (f.doc_id, f.frame_ix, f.payload.toSeq)) ==
      stub.map(f => (f.doc_id, f.frame_ix, f.payload.toSeq)))
    // a leading ID3v2 tag (how real MP3 files start) is skipped: 10-byte
    // header + syncsafe size 20 of tag body, then the ADTS frames
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 20) ++
      Array.fill(20)(9.toByte)
    val tagged = id3 ++ stream
    assert(Multimodal.JvmCodecs.sampleFrames(4L, tagged, n = 2)
      .map(f => new String(f.payload.drop(7))) == Seq("AAAAAAAA", "BBBB"))
    // ID3 with a size pointing past the buffer → corrupt, Nil
    val lying = Array[Byte]('I', 'D', '3', 4, 0, 0, 0x7F, 0x7F, 0x7F, 0x7F)
    assert(Multimodal.JvmCodecs.sampleFrames(5L, lying ++ stream, n = 1).isEmpty)
    // an ADTS header declaring frame_length=4 — shorter than its own
    // 7-byte header — ends the walk at the valid prefix, never emitting
    // the truncated-header junk as a "frame"
    val shortHdr = Array(0xFF, 0xF1, 0x50, 0x80, 0x00, 0x9F, 0xFC).map(_.toByte)
    assert(Multimodal.JvmCodecs.sampleFrames(6L, stream.take(15) ++ shortHdr, n = 1)
      .map(f => new String(f.payload.drop(7))) == Seq("AAAAAAAA"))
  }

  test("payloadDims: header-only dims agree with the real decoder") {
    import spark.implicits._
    // the decode-free sniff must report exactly what a full decode would,
    // on the same REAL fixtures the codec tests use
    val bmp = bmpFixture
    val gif = gifFixture
    val jpeg = jpegBytes(0xFF0000) // SOF at a variable offset -> segment walk
    val rows = Seq((1L, bmp), (2L, gif), (3L, jpeg), (4L, Array[Byte](1, 2)))
      .toDF("doc_id", "payload")
    val got = Multimodal.payloadDims(rows, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    val bmpDec = Multimodal.JvmCodecs.decodeImage(1L, bmp).get
    assert(got(1L) == (("bmp", Some(bmpDec.width.toLong), Some(bmpDec.height.toLong))))
    val gifDec = Multimodal.JvmCodecs.decodeImage(2L, gif).get
    assert(got(2L) == (("gif", Some(gifDec.width.toLong), Some(gifDec.height.toLong))))
    val jpegDec = Multimodal.JvmCodecs.decodeImage(3L, jpeg).get
    assert(got(3L) == (("jpeg", Some(jpegDec.width.toLong), Some(jpegDec.height.toLong))))
    assert(got(4L) == (("unknown", None, None))) // too short for any header
  }

  test("payloadDims: the JPEG segment walk matches the real decoder on " +
      "every encoder fixture, and reports null — never garbage — on " +
      "corrupt, truncated, pre-SOF-terminated, and DNL headers") {
    import spark.implicits._
    // real encoder output across sizes (odd dims, 1×1, wide, tall) — the
    // walk must agree with the full decode bit-for-bit
    val sizes = Seq((5, 4), (1, 1), (640, 3), (3, 480), (257, 129))
    val real = sizes.zipWithIndex.map { case ((w, h), i) =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      (i.toLong, bos.toByteArray)
    }
    val gotReal = Multimodal.payloadDims(real.toDF("doc_id", "payload"),
        "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    real.foreach { case (id, bytes) =>
      val dec = Multimodal.JvmCodecs.decodeImage(id, bytes).get
      assert(gotReal(id) ==
        (("jpeg", Some(dec.width.toLong), Some(dec.height.toLong))),
        s"doc $id: ${gotReal(id)} vs decoder ${dec.width}x${dec.height}")
    }
    // hand-built headers for what no encoder emits
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte,
        ((body.length + 2) >> 8).toByte, ((body.length + 2) & 0xFF).toByte) ++ body
    def sof(marker: Int, w: Int, h: Int): Array[Byte] =
      seg(marker, Array(8.toByte, (h >> 8).toByte, (h & 0xFF).toByte,
        (w >> 8).toByte, (w & 0xFF).toByte, 1.toByte, 0.toByte, 0x11, 0))
    val soi = Array(0xFF, 0xD8).map(_.toByte)
    val bigApp1 = seg(0xE1, new Array[Byte](7000)) // EXIF-sized APP1
    val cases = Seq(
      // progressive (SOF2) behind a large APP1 + fill bytes before the SOF
      10L -> (soi ++ bigApp1 ++ Array(0xFF.toByte) ++ sof(0xC2, 1920, 1080),
        Some((1920L, 1080L))),
      // arithmetic-coded SOF9 works; DHT (C4) must NOT be taken for a SOF
      11L -> (soi ++ seg(0xC4, new Array[Byte](5)) ++ sof(0xC9, 33, 44),
        Some((33L, 44L))),
      // SOS before any SOF: dims unknowable without entropy decode -> null
      12L -> (soi ++ seg(0xDA, Array[Byte](1, 1, 0, 0, 0)), None),
      // truncated mid-segment -> null
      13L -> (soi ++ bigApp1.take(40), None),
      // DNL-deferred height (h=0 in SOF) -> null, not a 0-height "dim"
      14L -> (soi ++ sof(0xC0, 100, 0), None),
      // a non-FF byte where a marker must be -> null
      15L -> (soi ++ Array[Byte](0x12, 0x34), None))
    val gotEdge = Multimodal.payloadDims(
        cases.map { case (id, (b, _)) => (id, b) }.toDF("doc_id", "payload"),
        "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    cases.foreach { case (id, (_, expect)) =>
      val (w, h) = (expect.map(_._1), expect.map(_._2))
      assert(gotEdge(id) == (("jpeg", w, h)), s"doc $id: ${gotEdge(id)}")
    }
  }

  test("payloadDims: an OS/2 BITMAPCOREHEADER BMP reports null dims, " +
      "never a garbage 32-bit read") {
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // biSize=12: 16-bit width/height live at different offsets — the
    // fixed-offset 32-bit pluck would read width||height as one value
    val core = Array[Byte]('B', 'M') ++ le32(40) ++ le16(0) ++ le16(0) ++
      le32(26) ++ le32(12) ++ le16(100) ++ le16(50) ++ le16(1) ++ le16(24)
    val got = Multimodal.payloadDims(Seq((1L, core)).toDF("doc_id", "payload"),
        "doc_id", "payload")
      .collect().map(r => (r.getString(1), Option(r.get(2)), Option(r.get(3)))).head
    assert(got == (("bmp", None, None)))
  }

  test("payloadDims: WebP VP8X/VP8/VP8L plucks; corrupt sub-chunks report null") {
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le24(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def riff(four: String, payload: Array[Byte]) =
      "RIFF".getBytes ++ le32(4 + 8 + payload.length) ++ "WEBP".getBytes ++
        four.getBytes ++ le32(payload.length) ++ payload
    val vp8x = riff("VP8X", new Array[Byte](4) ++ le24(799) ++ le24(449))
    val vp8 = riff("VP8 ", Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A) ++
      le16(320) ++ le16(240))
    val vp8l = riff("VP8L", Array[Byte](0x2F) ++ le32((639) | (359 << 14)))
    val badCode = riff("VP8 ", Array[Byte](0, 0, 0, 0x11, 0x01, 0x2A) ++
      le16(320) ++ le16(240))
    val badSig = riff("VP8L", Array[Byte](0x30) ++ le32(1))
    val unknownChunk = riff("ALPH", new Array[Byte](10))
    val rows = Seq((0L, vp8x), (1L, vp8), (2L, vp8l), (3L, badCode),
      (4L, badSig), (5L, unknownChunk)).toDF("doc_id", "payload")
    val got = Multimodal.payloadDims(rows, "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got(0L) == (("webp", Some(800L), Some(450L))))
    assert(got(1L) == (("webp", Some(320L), Some(240L))))
    assert(got(2L) == (("webp", Some(640L), Some(360L))))
    assert(got(3L) == (("webp", None, None)))
    assert(got(4L) == (("webp", None, None)))
    assert(got(5L) == (("webp", None, None)))
  }

  test("aHash: resolution-invariant for clean upscales; content changes flip bits") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)((32 + rnd.nextInt(90)).toByte) // 8×8 grays
    def img(id: Long, w: Int, h: Int, gray: Int => Byte) =
      graft.llm.Multimodal.DecodedImage(id, w, h, 3,
        Array.tabulate(w * h * 3)(i => gray(i / 3)))
    val small = img(1L, 8, 8, i => base(i))
    // clean 2× nearest-neighbor upscale: cell (x,y) -> 2×2 block
    val big = img(2L, 16, 16, i => { val x = i % 16; val y = i / 16; base((y / 2) * 8 + x / 2) })
    // brightness shifts DON'T change the hash (thresholding against the
    // mean is the point); different content does
    val brighter = img(3L, 8, 8, i => (base(i) + 60).toByte)
    val other = img(4L, 8, 8, i => (32 + (i * 37) % 90).toByte)
    val hashes = graft.llm.Multimodal.aHash(Seq(small, big, brighter, other).toDS())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L), "a clean upscale must hash identically")
    assert(hashes(1L) == hashes(3L), "a uniform brightness shift must hash identically")
    assert(hashes(1L) != hashes(4L))
  }

  test("dHash/pHash: upscale-invariant like aHash; and a cross-variant " +
      "collision aHash can't see, the stronger hashes split") {
    import spark.implicits._
    def img(id: Long, w: Int, h: Int, gray: Int => Byte) =
      graft.llm.Multimodal.DecodedImage(id, w, h, 3,
        Array.tabulate(w * h * 3)(i => gray(i / 3)))
    // two images with IDENTICAL above/below-mean membership per cell
    // (so aHash collides) but different local structure: every row is
    // the same 8-column ramp; B swaps each adjacent pair. Means match
    // (same multiset), above-mean sets match (columns 4..7), but the
    // right-neighbor comparisons differ.
    val rampA = Array[Int](0, 10, 20, 30, 200, 210, 220, 230)
    val rampB = Array[Int](10, 0, 30, 20, 210, 200, 230, 220)
    val a = img(1L, 8, 8, i => rampA(i % 8).toByte)
    val bb = img(2L, 8, 8, i => rampB(i % 8).toByte)
    // clean 4× upscale of A: all three hashes must be invariant
    val big = img(3L, 32, 32, i => {
      val x = i % 32; val y = i / 32; rampA((x / 4) % 8).toByte
    })
    // second cross-variant pair: checkerboard with a diagonal gradient
    // vs its REVERSED gradient — above/below-mean membership identical
    // (aHash collides) and every local comparison dominated by the
    // checker gap (dHash collides too); only the frequency domain sees
    // the reversed low-frequency ramp. pHash splits what BOTH spatial
    // hashes miss.
    val chkA = img(5L, 8, 8, i => {
      val x = i % 8; val y = i / 8
      ((if ((x + y) % 2 == 1) 200 else 40) + x + y).toByte
    })
    val chkB = img(6L, 8, 8, i => {
      val x = i % 8; val y = i / 8
      ((if ((x + y) % 2 == 1) 200 else 40) + (7 - x) + (7 - y)).toByte
    })
    val ds = Seq(a, bb, big, chkA, chkB).toDS()
    val ah = graft.llm.Multimodal.aHash(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dh = graft.llm.Multimodal.dHash(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ph = graft.llm.Multimodal.pHash(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ah(1L) == ah(2L), "constructed aHash collision must collide")
    assert(dh(1L) != dh(2L), "dHash must split the aHash pair-swap collision")
    assert(dh(1L) == dh(3L), "dHash must survive a clean upscale")
    assert(ph(1L) == ph(3L), "pHash must survive a clean upscale")
    assert(ah(5L) == ah(6L), "gradient reversal must collide under aHash")
    assert(dh(5L) == dh(6L), "gradient reversal must collide under dHash too")
    assert(ph(5L) != ph(6L), "pHash must split what both spatial hashes miss")
    // affine brightness curves preserve all comparisons in all three
    val bright = img(4L, 8, 8, i => (rampA(i % 8) / 2 + 10).toByte)
    val dh2 = graft.llm.Multimodal.dHash(Seq(a, bright).toDS()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dh2(1L) == dh2(4L), "dHash must survive an affine brightness curve")
  }

  test("audioFingerprint: invariant under resampling and exact gain; " +
      "content changes flip bits") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(128)(rnd.nextInt(20000) - 10000)
    def clip(id: Long, samples: Array[Int]) =
      graft.llm.Multimodal.DecodedAudio(id, 8000, 1, samples)
    val a = clip(1L, base)
    // 2x "sample-rate" copy: every sample duplicated — the fixed
    // 1024-point grid must read the same values
    val up = clip(2L, base.flatMap(s => Array(s, s)))
    // exact 2x gain: energies scale linearly, delta signs survive
    val loud = clip(3L, base.map(_ * 2))
    val other = clip(4L, base.reverse)
    val fp = graft.llm.Multimodal.audioFingerprint(
        Seq(a, up, loud, other).toDS())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L), "a resampled copy must fingerprint identically")
    assert(fp(1L) == fp(3L), "an exact gain change must fingerprint identically")
    assert(fp(1L) != fp(4L))
  }

}
