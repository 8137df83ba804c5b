package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup

import QueryFixtures._

/** Multimodal queries: PDF text, image/audio/video decode and demux,
  * perceptual hashes and the perceptual dedup stores.
  */
object MultimodalQueries {

  /** q_pdf_text's constant FlateDecode stream, deflated once on the
    * driver. The compressed BYTES may vary across zlib builds; the
    * extracted TEXT (what the oracle checks) never does.
    */
  private lazy val pdfFlateFixture: Array[Byte] = {
    val src = "BT (flate stream text works) Tj ET"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val defl = new java.util.zip.Deflater()
    defl.setInput(src); defl.finish()
    val buf = new Array[Byte](4096)
    val n = defl.deflate(buf)
    defl.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** q_pdf_objstm's constant Flate-compressed /ObjStm container (header
    * "9 0 " → /N 1 /First 4), deflated once on the driver; the oracle
    * checks the extracted TEXT, never the compressed bytes.
    */
  private lazy val pdfObjStmFlateFixture: Array[Byte] = {
    val src = "9 0 BT (objstm flate text) Tj ET"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val defl = new java.util.zip.Deflater()
    defl.setInput(src); defl.finish()
    val buf = new Array[Byte](4096)
    val n = defl.deflate(buf)
    defl.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** q_pdf_objstm's constant /LZWDecode content stream, encoded once on
    * the driver with the literal-code fixture encoder.
    */
  private lazy val pdfLzwFixture: Array[Byte] =
    graft.llm.Pdf.lzwEncodeLiteral("BT (lzw stream text works) Tj ET"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  private def deflateBytes(src: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    defl.setInput(src); defl.finish()
    val buf = new Array[Byte](4096)
    val n = defl.deflate(buf)
    defl.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** q_pdf_chain's constant `[/ASCII85Decode /FlateDecode]` stream:
    * deflate then 85-encode once on the driver; the oracle checks the
    * extracted TEXT, independent of either encoder's byte choices.
    */
  private lazy val pdfChainA85Fixture: Array[Byte] =
    graft.llm.Pdf.ascii85Encode(deflateBytes(
      "BT (a85 flate chain text) Tj ET"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))

  /** q_pdf_chain's constant PNG-predictor'd Flate stream: the 35-byte
    * content Up-filtered at /Columns 7 (5 whole rows), then deflated.
    */
  private lazy val pdfPredictorFixture: Array[Byte] =
    deflateBytes(graft.llm.Pdf.pngPredictUp(
      "BT (png predictor text works) Tj ET"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 7))

  /** q_pdf_chain's constant /RunLengthDecode stream: a literal run, a
    * repeat run ("eee"), a literal tail, EOD.
    */
  private lazy val pdfRleFixture: Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new java.io.ByteArrayOutputStream()
    val head = "BT (rle ".getBytes(ISO_8859_1)
    out.write(head.length - 1); out.write(head)
    out.write(257 - 4); out.write('x') // "xxxx"
    val tail = " text works) Tj ET".getBytes(ISO_8859_1)
    out.write(tail.length - 1); out.write(tail)
    out.write(128)
    out.toByteArray
  }

  /** The [[graft.llm.Multimodal.PhashCos]] fixed-point cosine table as
    * 256 `(k, n, qv)` VALUES literals — the q_multimodal_phash oracle
    * multiplies by EXACTLY the integers the executor does.
    */
  private lazy val phashCosValuesSql: String =
    graft.llm.Multimodal.PhashCos.zipWithIndex.flatMap { case (row, k) =>
      row.zipWithIndex.map { case (qv, n) => s"($k, $n, $qv)" }
    }.mkString(", ")

  /** [[phashCosValuesSql]] regrouped onto the 8×8 TEXT grid: the fixture
    * image is the 8×8 byte grid upsampled 4×4 (nearest neighbor), so the
    * 32-term DCT sums collapse EXACTLY onto 4-column block sums
    * `qs(k, B) = Σ_{n=4B..4B+3} qv(k, n)` — pure integer regrouping,
    * identical output, and the oracle's join shrinks from
    * docs×32×32×8 (≈400 M rows at sf1 — the r18
    * q_dedup_incremental_image DuckDB OOM) to docs×8×8×8.
    */
  private lazy val phashCosBlockValuesSql: String =
    graft.llm.Multimodal.PhashCos.zipWithIndex.flatMap { case (row, k) =>
      (0 until 8).map(b => s"($k, $b, ${row.slice(4 * b, 4 * b + 4).sum})")
    }.mkString(", ")

  /** 24bpp bottom-up BMP header for the aHash fixtures. Row stride must
    * already be 4-aligned (w·3 % 4 == 0 for the planted widths 8 and 16),
    * so the payload is exactly w·3·h gray-triple bytes.
    */
  /** Little-endian fixed-width bytes of an integer column (hex byte
    * swap) — the WAV/BMP/GIF fixture builders' shared primitive.
    */
  private def leBytes(c: org.apache.spark.sql.Column,
      nBytes: Int): org.apache.spark.sql.Column = {
    val h = lpad(hex(c), nBytes * 2, "0")
    unhex(concat((nBytes - 1 to 0 by -1).map(i => substring(h, i * 2 + 1, 2)): _*))
  }

  /** A complete 8 kHz mono 16-bit PCM WAV around `data` of `dataLen`
    * bytes — the audio queries' ONE fixture builder (RIFF/fmt/data
    * headers in column algebra; a header-math fix lands everywhere).
    */
  private def wavFixture(dataLen: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("RIFF".getBytes), leBytes(dataLen + 36, 4), lit("WAVEfmt ".getBytes),
      leBytes(lit(16), 4), leBytes(lit(1), 2), leBytes(lit(1), 2),
      leBytes(lit(8000), 4), leBytes(lit(16000), 4), leBytes(lit(2), 2),
      leBytes(lit(16), 2), lit("data".getBytes), leBytes(dataLen, 4), data)

  // package-visible: the canonical BMP-header builder for every
  // perceptual fixture (queries, ProfTrainScale/ProfVideoCost probes,
  // PerceptualDaemonSpec) — a padding/size change lands everywhere
  private[graft] def bmpHeader(w: Int, h: Int): Array[Byte] = {
    def le32(v: Int) =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    require(w * 3 % 4 == 0, s"bmpHeader: unpadded width only, got $w")
    val size = w * 3 * h
    Array[Byte]('B', 'M') ++ le32(54 + size) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(size) ++ new Array[Byte](16)
  }

  /** Fixed ustar skeleton for q_webdataset: a two-member WebDataset-style
    * archive with CONSTANT names and sizes (`sample.txt`, 64 bytes;
    * `sample.json`, 32 bytes), so every header/padding run is a fixed
    * literal built by the PRODUCTION writer (real octal fields, verified
    * checksums) and the whole shard is column algebra around two text
    * substrings — the container-oracle trick (q_multimodal_mp4) applied
    * to tar. Returns (header1, padding1+header2, padding2+end-of-archive).
    */
  private lazy val tarQueryFixture: (Array[Byte], Array[Byte], Array[Byte]) = {
    def header(name: String, size: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.TarShards.writeEntry(bos, name, new Array[Byte](size))
      bos.toByteArray.take(512)
    }
    (header("sample.txt", 64),
      new Array[Byte](512 - 64) ++ header("sample.json", 32),
      new Array[Byte](512 - 32 + 1024))
  }

  /** Fixed ISO-BMFF skeleton for q_multimodal_mp4: the bytes before and
    * after the 32 media bytes each document supplies. One `mdat` holding
    * four 8-byte video samples in one chunk at offset 24 (uniform `stsz`,
    * no size table), one `vide` track whose `stss` marks samples 1 and 3
    * as keyframes. Every byte here is FIXED, so the whole container is
    * two literals around a substr — column algebra, no UDF.
    */
  private lazy val mp4QueryFixture: (Array[Byte], Array[Byte]) = {
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      be32(c.length + 8) ++ typ.getBytes("ISO-8859-1") ++ c
    }
    val ftyp = box("ftyp", "isom".getBytes, be32(0))
    val mdatHeader = be32(8 + 32) ++ "mdat".getBytes
    val stbl = box("stbl",
      box("stsz", be32(0), be32(8), be32(4)),                   // uniform 8-byte samples
      box("stsc", be32(0), be32(1), be32(1), be32(4), be32(1)), // one chunk of 4
      box("stco", be32(0), be32(1), be32(ftyp.length + 8)),     // mdat content offset
      box("stss", be32(0), be32(2), be32(1), be32(3)))          // keyframes 1 and 3
    val moov = box("moov", box("trak", box("mdia",
      box("hdlr", be32(0), be32(0), "vide".getBytes), box("minf", stbl))))
    (ftyp ++ mdatHeader, moov)
  }

  /** Fixed ISO-BMFF skeleton for q_video_neardup: the mp4QueryFixture
    * geometry sized for TWO 246-byte keyframe samples (8×8 24bpp BMPs —
    * 54-byte header + 192 pixel bytes), both marked sync in `stss`. The
    * documents supply only pixel bytes; every container byte is fixed,
    * so the video is column algebra around two BMP bodies.
    */
  // package-visible for the ProfVideoCost attribution probe
  private[graft] lazy val mp4VideoFixture: (Array[Byte], Array[Byte]) = {
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      be32(c.length + 8) ++ typ.getBytes("ISO-8859-1") ++ c
    }
    val sampleSize = 54 + 8 * 8 * 3 // one 8×8 24bpp BMP keyframe
    val ftyp = box("ftyp", "isom".getBytes, be32(0))
    val mdatHeader = be32(8 + 2 * sampleSize) ++ "mdat".getBytes
    val stbl = box("stbl",
      box("stsz", be32(0), be32(sampleSize), be32(2)),          // uniform BMP samples
      box("stsc", be32(0), be32(1), be32(1), be32(2), be32(1)), // one chunk of 2
      box("stco", be32(0), be32(1), be32(ftyp.length + 8)),     // mdat content offset
      box("stss", be32(0), be32(2), be32(1), be32(2)))          // both are keyframes
    val moov = box("moov", box("trak", box("mdia",
      box("hdlr", be32(0), be32(0), "vide".getBytes), box("minf", stbl))))
    (ftyp ++ mdatHeader, moov)
  }

  /** Fixed EBML skeleton for q_multimodal_webm: (bytes before the first
    * 8-byte keyframe payload, bytes between the two). One video track,
    * one cluster holding two keyframe-flagged SimpleBlocks of 8 data
    * bytes each; Segment and Cluster use the UNKNOWN-size encoding
    * (0xFF — the streamed-mux form), so no enclosing length depends on
    * anything and the whole container is literals around substrings.
    */
  private lazy val webmQueryFixture: (Array[Byte], Array[Byte]) = {
    def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def el(eid: Array[Byte], content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      eid ++ bs(0x40 | (c.length >> 8), c.length & 0xFF) ++ c
    }
    val header = el(bs(0x1A, 0x45, 0xDF, 0xA3))
    val tracks = el(bs(0x16, 0x54, 0xAE, 0x6B),
      el(bs(0xAE), el(bs(0xD7), bs(1)), el(bs(0x83), bs(1))))
    val ts = el(bs(0xE7), bs(0))
    // SimpleBlock of 12 content bytes: track varint, 2-byte timestamp,
    // keyframe flags, then the 8 payload bytes the document supplies
    val sbHdr = bs(0xA3, 0x40, 12, 0x80 | 1, 0, 0, 0x80)
    val pre = header ++ bs(0x18, 0x53, 0x80, 0x67, 0xFF) ++ tracks ++
      bs(0x1F, 0x43, 0xB6, 0x75, 0xFF) ++ ts ++ sbHdr
    (pre, sbHdr)
  }

  /** Fixed FRAGMENTED-MP4 prefix for q_multimodal_fmp4: ftyp + moov (video
    * track 1, mvex/trex defaulting samples to non-sync) + one moof whose
    * trun declares two 8-byte SYNC samples at default-base-is-moof
    * addressing + the mdat header. The 16 media bytes the document
    * supplies are the last bytes of the payload, so the whole container
    * is one literal prefix.
    */
  private lazy val fmp4QueryFixture: Array[Byte] = {
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      be32(c.length + 8) ++ typ.getBytes("ISO-8859-1") ++ c
    }
    val ftyp = box("ftyp", "isom".getBytes, be32(0))
    val moov = box("moov",
      box("trak",
        box("tkhd", be32(0), be32(0), be32(0), be32(1)),
        box("mdia", box("hdlr", be32(0), be32(0), "vide".getBytes))),
      box("mvex", box("trex",
        be32(0), be32(1), be32(1), be32(0), be32(0), be32(0x10000))))
    def moofFor(off: Int): Array[Byte] = box("moof",
      box("mfhd", be32(0), be32(1)),
      box("traf",
        box("tfhd", be32(0x020000), be32(1)),
        // trun: data-offset + per-sample size + per-sample flags (0x601),
        // two 8-byte samples, both sync (flags 0)
        box("trun", be32(0x601), be32(2), be32(off),
          be32(8), be32(0), be32(8), be32(0))))
    val moofLen = moofFor(0).length // length independent of the offset value
    ftyp ++ moov ++ moofFor(moofLen + 8) ++ (be32(8 + 16) ++ "mdat".getBytes)
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_topology_webdataset", ((s, d) => {
      // the multimodal interchange path end to end: documents written as
      // REAL WebDataset shards by the production writer (txt + json
      // member per sample), then a TOML topology ingests them through
      // the WebDataset input (reader-side sample grouping, ext pruning),
      // filters in SQL and projects — a user curates a tar corpus from
      // config alone
      val dir = qTmpDir("wds-q")
      val docs = t(s, d, "documents").filter(length(col("text")) >= 50)
      val members = docs.select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
          lit("txt").as("ext"), col("text").substr(1, 50).cast("binary").as("payload"))
        .unionByName(docs.select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
          lit("json").as("ext"),
          concat(lit("{\"lang\":\""), col("lang"), lit("\"}")).cast("binary").as("payload")))
      graft.sources.TarShards.write(members, dir, samplesPerShard = 100, numTasks = 2)
      val toml =
        s"""[fields]
           |names = ["key", "txt", "json"]
           |[input]
           |name = "WebDataset"
           |  [input.config]
           |  Path = "$dir"
           |[[filter]]
           |name = "SqlWhere"
           |  [filter.config]
           |  Where = "json like '%\"en\"%'"
           |[output]
           |name = "Nop"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected.orderBy("key")
    }),
      // each sample's members restated from the documents the shards were
      // packed from (txt = the 50-byte prefix, json = the lang wrapper,
      // key = the zero-padded id); the SqlWhere like-filter equals
      // lang = 'en' (no other fixture lang value contains quoted "en");
      // same loud ASCII guard as the container oracles
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 50))) > 50 THEN error(
                    'webdataset oracle: non-ASCII in the packed 50-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 50)
         SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
                substr(text, 1, 50) AS txt,
                '{"lang":"' || lang || '"}' AS json
         FROM documents, chk
         WHERE length(text) >= 50 AND lang = 'en' AND chk.ok = 0
         ORDER BY key""", lifecycle = true),

    QueryDef("q_multimodal", ((s, d) =>
      // opaque-binary column plumbing: payload bytes + content digest
      t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).as("payload_bytes"),
          sha2(col("payload"), 256).as("payload_sha"))
        .orderBy("doc_id")),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes,
                sha256(text) AS payload_sha
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_pdf_text", ((s, d) => {
      // PDF text extraction over column-algebra fixtures: each doc's
      // payload is a two-stream PDF — an UNCOMPRESSED content stream
      // carrying the doc's prose plus the escape/hex/TJ corner cases, and
      // a constant FlateDecode stream (deflated once on the driver; the
      // oracle checks the EXTRACTED text, which never depends on the
      // compressor's byte choices). Pdf.extractText walks stream framing,
      // inflates, and collects show-text between BT/ET (PdfSpec pins the
      // parser cases; this row pins the end-to-end distributed path).
      val esc = "(esc \\(a\\) \\\\ \\101) Tj [(ker) -250 (ned)] TJ " +
        "<48492121> Tj ET\nBT (page footer) Tj ET"
      val content1 = concat(
        lit("BT /F1 12 Tf 72 720 Td ("), substring(col("text"), 1, 60),
        lit(") Tj "), lit(esc))
      val payload = concat(
        concat(lit("%PDF-1.4\n1 0 obj\n<< /Length "),
          length(content1).cast("string"), lit(" >>\nstream\n"),
          content1).cast("binary"),
        lit("\nendstream\nendobj\n2 0 obj\n<< /Length " +
          pdfFlateFixture.length +
          " /Filter /FlateDecode >>\nstream\n").cast("binary"),
        lit(pdfFlateFixture),
        lit("\nendstream\nendobj\n%%EOF\n").cast("binary"))
      graft.llm.Pdf.pdfTexts(
          t(s, d, "documents").select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
        .orderBy("doc_id")
    }),
      // the planted PDF's extraction restated: the uncompressed stream's
      // two text objects (doc prose + escape/TJ/hex pieces, then the
      // footer) and the constant flate stream's text — extraction output
      // is independent of the compressor's byte choices, so the oracle
      // needs no zlib
      """SELECT doc_id,
                substr(text, 1, 60) || ' esc (a) \ A kerned HI!!' ||
                chr(10) || 'page footer' || chr(10) ||
                'flate stream text works' AS text
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_pdf_objstm", ((s, d) => {
      // PDF 1.5 object-stream + LZW extraction: each doc's payload packs
      // THREE tiers — an UNCOMPRESSED /ObjStm whose single embedded object
      // carries the doc's prose (header "2 0 " → /N 1 /First 4, pure
      // column algebra), a constant Flate-compressed /ObjStm, and a
      // constant /LZWDecode content stream (both encoded once on the
      // driver; the oracle checks extracted TEXT, independent of the
      // encoders' byte choices). Pins the decodeStream filter routing +
      // objStmBodies split + lzwDecode end-to-end on the distributed path.
      val body = concat(lit("2 0 BT ("), substring(col("text"), 1, 60),
        lit(") Tj ET"))
      val payload = concat(
        concat(lit("%PDF-1.5\n1 0 obj\n<< /Type /ObjStm /N 1 /First 4 /Length "),
          length(body).cast("string"), lit(" >>\nstream\n"),
          body).cast("binary"),
        lit("\nendstream\nendobj\n3 0 obj\n<< /Type /ObjStm /N 1 /First 4 " +
          "/Length " + pdfObjStmFlateFixture.length +
          " /Filter /FlateDecode >>\nstream\n").cast("binary"),
        lit(pdfObjStmFlateFixture),
        lit("\nendstream\nendobj\n4 0 obj\n<< /Length " +
          pdfLzwFixture.length + " /Filter /LZWDecode >>\nstream\n")
          .cast("binary"),
        lit(pdfLzwFixture),
        lit("\nendstream\nendobj\n%%EOF\n").cast("binary"))
      graft.llm.Pdf.pdfTexts(
          t(s, d, "documents").select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
        .orderBy("doc_id")
    }),
      // the three planted tiers restated in document byte order: the
      // uncompressed ObjStm's embedded text object (doc prose), the
      // constant Flate ObjStm, the constant LZW content stream —
      // extraction output is independent of either encoder's byte
      // choices, so the oracle needs neither zlib nor LZW
      """SELECT doc_id,
                substr(text, 1, 60) || chr(10) ||
                'objstm flate text' || chr(10) ||
                'lzw stream text works' AS text
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_pdf_chain", ((s, d) => {
      // filter CHAINS, ASCII byte decoders and PNG predictors end to end
      // (PDF 32000-1 §7.4.2/.3/.4.4/.5): each doc's payload carries FIVE
      // streams — a per-doc /ASCIIHexDecode stream (hex() is pure column
      // algebra, so this one varies per document), a constant
      // [/ASCII85Decode /FlateDecode] chain, a constant /Predictor 12
      // Flate stream (Up-filtered rows un-applied after inflate), a
      // constant /RunLengthDecode stream, and a stream whose /Filter is
      // an INDIRECT reference carrying decoy BT…ET bytes — the advice-r15
      // injection case, which must extract NOTHING. The oracle restates
      // the four decoded texts and, by omission, the decoy's absence.
      val content1 = concat(lit("BT ("), substring(col("text"), 1, 60),
        lit(") Tj ET"))
      val decoy = "BT (indirect filter decoy must not leak) Tj ET"
      val payload = concat(
        concat(lit("%PDF-1.4\n1 0 obj\n<< /Length 0 /Filter /ASCIIHexDecode " +
          ">>\nstream\n"),
          hex(content1.cast("binary")), lit(">")).cast("binary"),
        lit("\nendstream\nendobj\n2 0 obj\n<< /Length " +
          pdfChainA85Fixture.length +
          " /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n").cast("binary"),
        lit(pdfChainA85Fixture),
        lit("\nendstream\nendobj\n3 0 obj\n<< /Length " +
          pdfPredictorFixture.length + " /Filter /FlateDecode /DecodeParms " +
          "<< /Predictor 12 /Columns 7 >> >>\nstream\n").cast("binary"),
        lit(pdfPredictorFixture),
        lit("\nendstream\nendobj\n4 0 obj\n<< /Length " +
          pdfRleFixture.length + " /Filter /RunLengthDecode >>\nstream\n")
          .cast("binary"),
        lit(pdfRleFixture),
        lit(("\nendstream\nendobj\n5 0 obj\n<< /Length " + decoy.length +
          " /Filter 6 0 R >>\nstream\n" + decoy +
          "\nendstream\nendobj\n%%EOF\n")).cast("binary"))
      graft.llm.Pdf.pdfTexts(
          t(s, d, "documents").select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
        .orderBy("doc_id")
    }),
      // the five planted streams restated in document byte order: the
      // per-doc ASCIIHex stream's prose, the constant 85→Flate chain,
      // the constant predictor'd Flate, the constant RunLength — and NO
      // line for the indirect-/Filter decoy (its absence IS the
      // assertion: an unresolvable filter must extract nothing, never
      // walk raw). Extraction output is independent of the encoders'
      // byte choices, so the oracle needs no codec.
      """SELECT doc_id,
                substr(coalesce(text, ''), 1, 60) || chr(10) ||
                'a85 flate chain text' || chr(10) ||
                'png predictor text works' || chr(10) ||
                'rle xxxx text works' AS text
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_multimodal_decode", ((s, d) =>
      // batched partition decode (stub codec, deterministic dims from size)
      graft.llm.Multimodal.decodeImages(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"))
        .orderBy("doc_id")),
      """SELECT doc_id,
                CAST(16 + octet_length(encode(text)) % 32 AS INTEGER) AS width,
                CAST(16 + octet_length(encode(text)) % 24 AS INTEGER) AS height,
                CAST(3 AS INTEGER) AS channels
         FROM documents WHERE octet_length(encode(text)) >= 4 ORDER BY doc_id"""),

    QueryDef("q_multimodal_frames", ((s, d) =>
      // frame sampling: 4 frames per payload, lengths must tile the payload
      graft.llm.Multimodal.sampleFrames(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", n = 4)
        .toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_frames"),
          sum(length(col("payload"))).as("total_bytes"))
        .orderBy("doc_id")),
      """SELECT doc_id, CAST(4 AS INTEGER) AS n_frames,
                CAST(greatest(octet_length(encode(text)), 4) AS BIGINT) AS total_bytes
         FROM documents WHERE octet_length(encode(text)) > 0 ORDER BY doc_id"""),

    QueryDef("q_multimodal_mp4", ((s, d) => {
      // REAL MP4 keyframe demux under the oracle (the WAV trick applied to
      // ISO-BMFF): wrap the first 32 text bytes as an MP4 — ftyp, an mdat
      // holding 4×8-byte video samples, and a moov whose sample tables
      // (stsz/stsc/stco) locate them and whose stss marks samples 1 and 3
      // as keyframes. Everything but the 32 data bytes is ONE fixed byte
      // literal per side of the mdat, so the container is column algebra;
      // the box-walking demuxer then extracts exactly the two keyframes,
      // whose bytes the oracle restates as text substrings.
      val (pre, post) = mp4QueryFixture
      val docs = t(s, d, "documents").filter(length(col("text")) >= 32)
        .withColumn("payload",
          concat(lit(pre), col("text").cast("binary").substr(1, 32), lit(post)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),
      // the two stss keyframes are samples 1 and 3 of the four 8-byte
      // windows the Spark side packed into the mdat, i.e. text bytes
      // [1,8] and [17,24] — restated directly as substrings. The chk CTE
      // makes the byte-vs-char slice equivalence LOUD: the Spark side
      // packs UTF-8 BYTES, this restatement slices CHARACTERS — equal
      // only while the packed prefix is pure ASCII, so a non-ASCII
      // fixture must fail here, not diverge silently
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 32))) > 32 THEN error(
                    'mp4 oracle: non-ASCII in the packed 32-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 32)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 32 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 17, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 32 AND chk.ok = 0
         ORDER BY doc_id, frame_ix"""),

    QueryDef("q_multimodal_webm", ((s, d) => {
      // the EBML sibling of q_multimodal_mp4: wrap text bytes [1,8] and
      // [9,16] as the two keyframe SimpleBlocks of a real WebM (streamed
      // unknown-size Segment/Cluster), demux with the EBML walker, and
      // restate the keyframes as substrings
      val (pre, mid) = webmQueryFixture
      val docs = t(s, d, "documents").filter(length(col("text")) >= 16)
        .withColumn("payload", concat(lit(pre),
          col("text").cast("binary").substr(1, 8), lit(mid),
          col("text").cast("binary").substr(9, 8)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),
      // both SimpleBlocks are keyframes on the video track, so the demux
      // yields exactly text bytes [1,8] and [9,16] (same loud
      // ASCII-equivalence chk as the other container oracles)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 16))) > 16 THEN error(
                    'webm oracle: non-ASCII in the packed 16-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 16)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 9, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         ORDER BY doc_id, frame_ix"""),

    QueryDef("q_multimodal_fmp4", ((s, d) => {
      // the DASH/CMAF flavor: the same 16 text bytes as the two sync
      // samples of a moof/trun fragment — exercises the fragment walker
      // (tfhd defaults, trun sample run) instead of the moov sample tables
      val docs = t(s, d, "documents").filter(length(col("text")) >= 16)
        .withColumn("payload", concat(lit(fmp4QueryFixture),
          col("text").cast("binary").substr(1, 16)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),
      // both trun samples are sync, 8 bytes each, contiguous at the end of
      // the payload — exactly text bytes [1,8] and [9,16] (same loud
      // ASCII-equivalence chk as the other container oracles)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 16))) > 16 THEN error(
                    'fmp4 oracle: non-ASCII in the packed 16-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 16)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 9, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         ORDER BY doc_id, frame_ix"""),

    QueryDef("q_webdataset", ((s, d) => {
      // the WebDataset (tar-shard) member walk under the oracle: wrap each
      // document's first 96 text bytes as a REAL two-member ustar archive
      // (sample.txt = bytes [1,64], sample.json = bytes [65,96]) — names
      // and sizes are constant, so the three header/padding runs are fixed
      // literals from the production writer (verified checksums included)
      // and the shard is column algebra around two substrings; the member
      // walker then parses it back and the oracle restates every field
      val (pre, mid, post) = tarQueryFixture
      val docs = t(s, d, "documents").filter(length(col("text")) >= 96)
        .withColumn("payload", concat(lit(pre),
          col("text").cast("binary").substr(1, 64), lit(mid),
          col("text").cast("binary").substr(65, 32), lit(post)))
      graft.sources.TarShards.members(docs, "doc_id", "payload").toDF()
        .select(col("doc_id"), col("member_ix"), col("name"), col("key"),
          col("ext"), col("size"), col("payload").cast("string").as("member_text"))
        .orderBy("doc_id", "member_ix")
    }),
      // the two tar members carry text bytes [1,64] and [65,96] under the
      // constant names the fixture packed — restated directly, with the
      // same loud ASCII-equivalence chk as the other container oracles
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 96))) > 96 THEN error(
                    'tar oracle: non-ASCII in the packed 96-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 96)
         SELECT doc_id, CAST(0 AS INTEGER) AS member_ix, 'sample.txt' AS name,
                'sample' AS key, 'txt' AS ext, CAST(64 AS BIGINT) AS size,
                substr(text, 1, 64) AS member_text
         FROM documents, chk WHERE length(text) >= 96 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER), 'sample.json', 'sample', 'json',
                CAST(32 AS BIGINT), substr(text, 65, 32)
         FROM documents, chk WHERE length(text) >= 96 AND chk.ok = 0
         ORDER BY doc_id, member_ix"""),

    QueryDef("q_multimodal_dims", ((s, d) => {
      // the decode-free resolution filter, oracle-checked: build a real
      // PNG, GIF and BMP header per document whose dimensions derive from
      // doc fields (BMP planted TOP-DOWN, i.e. negative height, to pin the
      // sign handling), sniff them back via pure byte plucks, and let the
      // oracle recompute the dims from the same fields
      def be(c: org.apache.spark.sql.Column, nBytes: Int) =
        unhex(lpad(hex(c), nBytes * 2, "0"))
      val docs = t(s, d, "documents")
      val w = col("n_chars") % 800 + 1
      val h = col("doc_id") % 600 + 1
      val pngHdr = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
        0, 0, 0, 13) ++ "IHDR".getBytes
      val png = concat(lit(pngHdr), be(w, 4), be(h, 4))
      val gif = concat(lit("GIF89a".getBytes), leBytes(w, 2), leBytes(h, 2))
      // bytes 14-17 carry biSize=40 (BITMAPINFOHEADER) — payloadDims
      // gates on it to reject OS/2 BITMAPCOREHEADER layouts
      val bmp = concat(lit(Array[Byte]('B', 'M') ++ new Array[Byte](12) ++
          Array[Byte](40, 0, 0, 0)),
        leBytes(w, 4), leBytes(lit(4294967296L) - h, 4)) // top-down: height stored negative
      // JPEG has no fixed dims offset — plant the SOF0 behind an APP0
      // whose PADDING LENGTH VARIES PER DOC (doc_id % 8 filler bytes), so
      // the oracle row is only reproducible if the segment walk really
      // walks (a fixed pluck would read filler on 7 of 8 docs)
      val pad = (col("doc_id") % 8).cast("int")
      val jpeg = concat(
        lit(Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)), be(pad + 2, 2),
        lit(new Array[Byte](8)).substr(lit(1), pad),
        lit(Array(0xFF, 0xC0, 0x00, 0x0B, 0x08).map(_.toByte)), // SOF0, len 11
        be(h, 2), be(w, 2), lit(Array[Byte](1, 0, 0x11, 0)))    // 1 component
      // WebP: the FLAVOR varies per doc (VP8X 24-bit canvas / lossy VP8
      // 14-bit pair behind the start code / VP8L 14+14 pack), so the one
      // oracle row per doc is only reproducible if all three pluck paths
      // are right
      def riffHdr(four: String, paySize: Int) =
        "RIFF".getBytes("ISO-8859-1") ++
          Array[Byte]((paySize + 12).toByte, 0, 0, 0) ++
          ("WEBP" + four).getBytes("ISO-8859-1") ++
          Array[Byte](paySize.toByte, 0, 0, 0)
      val webp = when(col("doc_id") % 3 === 0,
          concat(lit(riffHdr("VP8X", 10) ++ new Array[Byte](4)),
            leBytes(w - 1, 3), leBytes(h - 1, 3)))
        .when(col("doc_id") % 3 === 1,
          concat(lit(riffHdr("VP8 ", 10) ++
              Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A)),
            leBytes(w, 2), leBytes(h, 2)))
        .otherwise(concat(lit(riffHdr("VP8L", 5) ++ Array[Byte](0x2F)),
          leBytes((w - 1) + (h - 1) * 16384, 4)))
      def sniff(payload: org.apache.spark.sql.Column) =
        graft.llm.Multimodal.payloadDims(
          docs.withColumn("__p", payload), "doc_id", "__p")
      sniff(png).unionByName(sniff(gif)).unionByName(sniff(bmp))
        .unionByName(sniff(jpeg)).unionByName(sniff(webp))
        .orderBy("doc_id", "format")
    }),
      // the sniffed dims are exactly the planted per-doc values, one row
      // per (doc, format); the BMP's negative stored height reports |h|
      """WITH d AS (SELECT doc_id, CAST(n_chars % 800 + 1 AS BIGINT) AS w,
                           CAST(doc_id % 600 + 1 AS BIGINT) AS h
                    FROM documents)
         SELECT doc_id, 'png' AS format, w AS width, h AS height FROM d
         UNION ALL SELECT doc_id, 'gif', w, h FROM d
         UNION ALL SELECT doc_id, 'bmp', w, h FROM d
         UNION ALL SELECT doc_id, 'jpeg', w, h FROM d
         UNION ALL SELECT doc_id, 'webp', w, h FROM d
         ORDER BY doc_id, format"""),

    QueryDef("q_multimodal_ahash", ((s, d) => {
      // perceptual image hashing under the oracle: an 8×8 24bpp BMP per
      // doc whose 64 gray cells are text bytes (each tripled to rgb), fed
      // through the REAL decode path (ImageIO BMP, bottom-up rows) and
      // aHash; the oracle recomputes the integer mean-threshold bits from
      // the same bytes — stored row r is image row 7−r
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val pixels = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val imgs = docs.withColumn("__img", concat(lit(hdr), pixels))
      val decoded = graft.llm.Multimodal.decodeImages(imgs, "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs)
      graft.llm.Multimodal.aHash(decoded)
        .select(col("doc_id"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"),
          col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"))
        .orderBy("doc_id")
    }),
      // gray cell (x, y) = the text byte at (7−y)·8+x (BMP rows store
      // bottom-up); mean = integer floor; bit 63−i set when cell i beats
      // the mean, reported as two 32-bit halves so no engine needs an
      // unsigned 64-bit literal
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'ahash oracle: non-ASCII in the packed 64-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), cell AS (
           SELECT doc_id, y.y, x.x,
                  ascii(substr(text, (7 - y.y) * 8 + x.x + 1, 1)) AS g
           FROM d, (SELECT unnest(range(0, 8)) AS y) y,
                   (SELECT unnest(range(0, 8)) AS x) x
         ), m AS (
           SELECT doc_id, CAST(sum(g) // 64 AS BIGINT) AS mean
           FROM cell GROUP BY doc_id)
         SELECT c.doc_id,
                CAST(sum(CASE WHEN (c.y * 8 + c.x) < 32 AND c.g > m.mean
                         THEN (CAST(1 AS BIGINT) << (31 - (c.y * 8 + c.x)))
                         ELSE 0 END) AS BIGINT) AS ahash_hi,
                CAST(sum(CASE WHEN (c.y * 8 + c.x) >= 32 AND c.g > m.mean
                         THEN (CAST(1 AS BIGINT) << (63 - (c.y * 8 + c.x)))
                         ELSE 0 END) AS BIGINT) AS ahash_lo
         FROM cell c JOIN m ON m.doc_id = c.doc_id
         GROUP BY c.doc_id ORDER BY c.doc_id"""),

    QueryDef("q_multimodal_dhash", ((s, d) => {
      // difference hash under the oracle: the q_multimodal_ahash fixture
      // (8×8 BMP whose 64 gray cells are text bytes) through the REAL
      // decode + the 9×8 nearest-neighbor resize (dst x reads source
      // column (x·8)//9 — floor division, restatable) + the
      // right-neighbor comparison bits; integer-only end to end
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val pixels = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val imgs = docs.withColumn("__img", concat(lit(hdr), pixels))
      val decoded = graft.llm.Multimodal.decodeImages(imgs, "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs)
      graft.llm.Multimodal.dHash(decoded)
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("dhash_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_lo"))
        .orderBy("doc_id")
    }),
      // the 9×8 resize reads source column (x·8)//9 of the same
      // bottom-up byte grid as the ahash oracle; bit 63−(y·8+x) set when
      // cell (x,y) beats its right neighbor — a self-join on (y, x+1)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'dhash oracle: non-ASCII in the packed 64-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), cell AS (
           SELECT doc_id, y.y AS y, x.x AS x,
                  ascii(substr(text,
                    (7 - y.y) * 8 + ((x.x * 8) // 9) + 1, 1)) AS g
           FROM d, (SELECT unnest(range(0, 8)) AS y) y,
                   (SELECT unnest(range(0, 9)) AS x) x)
         SELECT a.doc_id,
                CAST(sum(CASE WHEN (a.y * 8 + a.x) < 32 AND a.g > b.g
                         THEN (CAST(1 AS BIGINT) << (31 - (a.y * 8 + a.x)))
                         ELSE 0 END) AS BIGINT) AS dhash_hi,
                CAST(sum(CASE WHEN (a.y * 8 + a.x) >= 32 AND a.g > b.g
                         THEN (CAST(1 AS BIGINT) << (63 - (a.y * 8 + a.x)))
                         ELSE 0 END) AS BIGINT) AS dhash_lo
         FROM cell a JOIN cell b
           ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
         WHERE a.x < 8
         GROUP BY a.doc_id ORDER BY a.doc_id"""),

    QueryDef("q_multimodal_phash", ((s, d) => {
      // DCT perceptual hash under the oracle: same fixture, resized
      // 32×32 (dst (x,y) reads source cell (x//4, y//4)), separable
      // fixed-point DCT-II under the shared PhashCos integer table
      // (inlined as 256 VALUES literals in the oracle — the exact table
      // the executor multiplies by), median-of-63-non-DC threshold. The
      // whole transform is integer, so the oracle restates every bit
      // from pixel bytes; no float ever nears the threshold.
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val pixels = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val imgs = docs.withColumn("__img", concat(lit(hdr), pixels))
      val decoded = graft.llm.Multimodal.decodeImages(imgs, "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs)
      graft.llm.Multimodal.pHash(decoded)
        .select(col("doc_id"),
          shiftrightunsigned(col("phash"), 32).as("phash_hi"),
          col("phash").bitwiseAND(lit(0xFFFFFFFFL)).as("phash_lo"))
        .orderBy("doc_id")
    }),
      // the full fixed-point DCT replayed: 32×32 grid reads source cell
      // (x//4, y//4); row pass Σ_y g·Q(v,y), column pass Σ_x rp·Q(u,x)
      // under the SAME 256 integer cosine literals the executor uses;
      // median = 32nd smallest of the 63 non-DC coefficients; DC bit 0
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'phash oracle: non-ASCII in the packed 64-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), cell AS (
           SELECT doc_id, y.y AS y, x.x AS x,
                  ascii(substr(text,
                    (7 - (y.y // 4)) * 8 + (x.x // 4) + 1, 1)) AS g
           FROM d, (SELECT unnest(range(0, 32)) AS y) y,
                   (SELECT unnest(range(0, 32)) AS x) x
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
         ), rp AS (
           SELECT c.doc_id, c.x, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qv) AS s
           FROM cell c JOIN q ON q.n = c.y
           GROUP BY c.doc_id, c.x, q.k
         ), co AS (
           SELECT rp.doc_id, rp.v, q.k AS u, CAST(sum(rp.s * q.qv) AS BIGINT) AS s
           FROM rp JOIN q ON q.n = rp.x
           GROUP BY rp.doc_id, rp.v, q.k
         ), med AS (
           SELECT doc_id, s AS m FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32)
         SELECT co.doc_id,
                CAST(sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                         THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                         ELSE 0 END) AS BIGINT) AS phash_hi,
                CAST(sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                         THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                         ELSE 0 END) AS BIGINT) AS phash_lo
         FROM co JOIN med ON med.doc_id = co.doc_id
         GROUP BY co.doc_id ORDER BY co.doc_id"""),

    QueryDef("q_image_neardup", ((s, d) => {
      // NEAR-duplicate image pairs (not exact-collision dedup): pHash +
      // the generic pigeonhole Hamming banding (Dedup.hammingPairs — the
      // simhash machinery over ANY 64-bit signature). Planted copies of
      // docs 0..19 get ONE corner cell forced to a constant — a small
      // local edit whose pHash lands a few bits away, exactly the case
      // exact-hash dedup misses. The banding is invisible to the result
      // (the pair set is defined by the radius alone), so the oracle is
      // the all-pairs restatement: recompute both hash sets from bytes,
      // bit_count the xor, threshold.
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val px = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val pxT = concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(i, 1))) ++
        Seq.fill(3)(lit(Array[Byte](126))): _*)
      val base = docs.select(col("doc_id"), concat(lit(hdr), px).as("__img"))
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat(lit(hdr), pxT).as("__img"))
      val hashes = graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
        base.unionByName(ups), "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs))
      graft.llm.Dedup.hammingPairs(hashes, "doc_id", col("phash"),
          nBits = 64, maxHamming = 8)
        .orderBy("idA", "idB")
    }),
      // the q_multimodal_phash restatement over base ∪ tweaked images
      // (the tweak forces text cell 64 — image cell (7,0) — to byte 126),
      // then ALL-PAIRS hamming from the (hi, lo) halves and the radius
      // threshold; banding never changes the pair set
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'image-neardup oracle: non-ASCII in the packed 64-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1 FROM d WHERE doc_id < 20
         ), cell AS (
           -- 8×8 text grid + block-summed cosines: the same exact
           -- regrouping as q_dedup_incremental_image's (see
           -- phashCosBlockValuesSql)
           SELECT doc_id, gy.p AS gy, gx.p AS gx,
                  CASE WHEN tweak = 1
                        AND (7 - gy.p) * 8 + gx.p + 1 = 64 THEN 126
                       ELSE ascii(substr(text,
                         (7 - gy.p) * 8 + gx.p + 1, 1)) END AS g
           FROM alld, (SELECT unnest(range(0, 8)) AS p) gy,
                      (SELECT unnest(range(0, 8)) AS p) gx
         ), q AS (
           SELECT * FROM (VALUES $phashCosBlockValuesSql) t(k, b, qs)
         ), rp AS (
           SELECT c.doc_id, c.gx, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qs) AS s
           FROM cell c JOIN q ON q.b = c.gy
           GROUP BY c.doc_id, c.gx, q.k
         ), co AS (
           SELECT rp.doc_id, rp.v, q.k AS u, CAST(sum(rp.s * q.qs) AS BIGINT) AS s
           FROM rp JOIN q ON q.b = rp.gx
           GROUP BY rp.doc_id, rp.v, q.k
         ), med AS (
           SELECT doc_id, s AS m FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS (
           SELECT co.doc_id,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id
           GROUP BY co.doc_id)
         SELECT a.doc_id AS idA, b.doc_id AS idB,
                CAST(bit_count(xor(a.hi, b.hi))
                     + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
         FROM bits a JOIN bits b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8
         ORDER BY idA, idB"""),

    QueryDef("q_dedup_incremental_image", ((s, d) => {
      // the perceptual tier's INCREMENTAL store lifecycle as one
      // checkable row set: batch 0 (even docs) fingerprints into the
      // at-rest signature store via PerceptualDedupStream's idempotent batch
      // function; batch 1 (odd docs + planted one-cell-edited near-dups
      // of even docs < 40) dedups against the store AND itself; the
      // kept corpus is read back. The oracle replays both stages from
      // pixel bytes — batch-0 internal keep, then store-kill + batch-kill
      // for batch 1 — under the same radius.
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val px = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val pxT = concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(i, 1))) ++
        Seq.fill(3)(lit(Array[Byte](126))): _*)
      val base = docs.select(col("doc_id"), concat(lit(hdr), px).as("__img"))
      val planted = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat(lit(hdr), pxT).as("__img"))
      val batch0 = base.filter(col("doc_id") % 2 === 0)
      val batch1 = base.filter(col("doc_id") % 2 =!= 0).unionByName(planted)
      val dir = qTmpDir("imgdedup-q")
      def sigOf(df: org.apache.spark.sql.DataFrame) =
        graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
            df, "doc_id", "__img", codecs = graft.llm.Multimodal.JvmCodecs))
          .select(col("doc_id").as("__id"), col("phash").as("__hsig"))
      val fn = graft.streaming.PerceptualDedupStream.batchFunction("doc_id", sigOf,
        s"$dir/store", s"$dir/corpus", maxHamming = 8)
      fn(batch0, 0L)
      fn(batch1, 1L)
      s.read.parquet(s"$dir/corpus").select("doc_id").orderBy("doc_id")
    }),
      // both lifecycle stages replayed: pHash bits per doc (base formula;
      // planted copies force text cell 64 to byte 126), batch-0 keep =
      // no smaller-id batch-0 doc within radius, batch-1 keep = no
      // batch-0 SURVIVOR within radius (the store) and no smaller-id
      // batch-1 doc within radius
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'incr-image oracle: non-ASCII in the packed 64-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak,
                  CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS bt
           FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1, 1 FROM d
           WHERE doc_id % 2 = 0 AND doc_id < 40
         ), cell AS (
           -- the 8×8 TEXT grid directly: the 32×32 image is this grid
           -- upsampled 4×4, so the DCT restated below regroups the
           -- 32-term sums onto 4-wide block sums (phashCosBlockValuesSql)
           -- — identical integers, 16× smaller joins (the sf1 OOM fix)
           SELECT doc_id, bt, gy.p AS gy, gx.p AS gx,
                  CASE WHEN tweak = 1
                        AND (7 - gy.p) * 8 + gx.p + 1 = 64 THEN 126
                       ELSE ascii(substr(text,
                         (7 - gy.p) * 8 + gx.p + 1, 1)) END AS g
           FROM alld, (SELECT unnest(range(0, 8)) AS p) gy,
                      (SELECT unnest(range(0, 8)) AS p) gx
         ), q AS (
           SELECT * FROM (VALUES $phashCosBlockValuesSql) t(k, b, qs)
         ), rp AS (
           SELECT c.doc_id, any_value(c.bt) AS bt, c.gx, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qs) AS s
           FROM cell c JOIN q ON q.b = c.gy
           GROUP BY c.doc_id, c.gx, q.k
         ), co AS (
           SELECT rp.doc_id, any_value(rp.bt) AS bt, rp.v, q.k AS u,
                  CAST(sum(rp.s * q.qs) AS BIGINT) AS s
           FROM rp JOIN q ON q.b = rp.gx
           GROUP BY rp.doc_id, rp.v, q.k
         ), med AS (
           SELECT doc_id, s AS m FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS (
           SELECT co.doc_id, any_value(co.bt) AS bt,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id
           GROUP BY co.doc_id
         ), k0 AS (
           SELECT a.doc_id, a.hi, a.lo FROM bits a
           WHERE a.bt = 0 AND NOT EXISTS (
             SELECT 1 FROM bits b WHERE b.bt = 0 AND b.doc_id < a.doc_id
               AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8)
         ), k1 AS (
           SELECT a.doc_id FROM bits a
           WHERE a.bt = 1
             AND NOT EXISTS (
               SELECT 1 FROM k0 s
               WHERE bit_count(xor(a.hi, s.hi)) + bit_count(xor(a.lo, s.lo)) <= 8)
             AND NOT EXISTS (
               SELECT 1 FROM bits b WHERE b.bt = 1 AND b.doc_id < a.doc_id
                 AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8))
         SELECT doc_id FROM k0
         UNION ALL
         SELECT doc_id FROM k1
         ORDER BY doc_id""", lifecycle = true),

    QueryDef("q_image_dedup", ((s, d) => {
      // image-level near-dup dedup end to end: the q_multimodal_ahash
      // fixture plus PLANTED cross-resolution duplicates (docs 0..19 get a
      // 16×16 clean upscale under doc_id+100000 — same 64 cells after the
      // 8×8 downsample, so the aHash collides exactly), exact-dedup on the
      // hash keeping the smallest id; the oracle recomputes hashes from
      // the bytes and replays the keep rule
      val hdr8: Array[Byte] = bmpHeader(8, 8)
      val hdr16: Array[Byte] = bmpHeader(16, 16)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val px8 = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      // 16×16: stored row r repeats source stored row r/2; each byte ×2
      // horizontally (and ×3 to rgb) — a clean 2× nearest-neighbor upscale
      val px16 = concat((0 until 16).flatMap { r =>
        (0 until 16).flatMap { x =>
          Seq.fill(3)(b.substr((r / 2) * 8 + x / 2 + 1, 1))
        }
      }: _*)
      val base = docs.select(col("doc_id"), concat(lit(hdr8), px8).as("__img"))
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit(hdr16), px16).as("__img"))
      val hashes = graft.llm.Multimodal.aHash(graft.llm.Multimodal.decodeImages(
        base.unionByName(ups), "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs))
      graft.llm.Dedup.exact(hashes, "doc_id", Seq(col("ahash")))
        .select("doc_id").orderBy("doc_id")
    }),
      // the planted 16×16 upscale downsamples back to the base's 64 cells
      // (cell-identical by construction), so its hash comes from the SAME
      // byte formula; keep rule = min doc_id per (hi, lo) hash
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'image-dedup oracle: non-ASCII in the packed 64-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), base AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text FROM base
           UNION ALL
           SELECT doc_id + 1000000000000, text FROM base WHERE doc_id < 20
         ), cell AS (
           SELECT doc_id, y.y, x.x,
                  ascii(substr(text, (7 - y.y) * 8 + x.x + 1, 1)) AS g
           FROM alld, (SELECT unnest(range(0, 8)) AS y) y,
                      (SELECT unnest(range(0, 8)) AS x) x
         ), m AS (
           SELECT doc_id, CAST(sum(g) // 64 AS BIGINT) AS mean
           FROM cell GROUP BY doc_id
         ), bits AS (
           SELECT c.doc_id,
                  sum(CASE WHEN (c.y * 8 + c.x) < 32 AND c.g > m.mean
                           THEN (CAST(1 AS BIGINT) << (31 - (c.y * 8 + c.x)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (c.y * 8 + c.x) >= 32 AND c.g > m.mean
                           THEN (CAST(1 AS BIGINT) << (63 - (c.y * 8 + c.x)))
                           ELSE 0 END) AS lo
           FROM cell c JOIN m ON m.doc_id = c.doc_id
           GROUP BY c.doc_id)
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY hi, lo) AS keeper
           FROM bits)
         WHERE doc_id = keeper ORDER BY doc_id"""),

    QueryDef("q_multimodal_adts", ((s, d) => {
      // audio elementary-stream framing: two 15-byte ADTS frames per doc
      // (7-byte header + 8 text bytes each, header CONSTANT because the
      // frame length is fixed), demuxed by the real header walk; the
      // oracle restates the de-headered frames as substrings
      val len = 15
      val hdr = Array[Byte](0xFF.toByte, 0xF1.toByte, 0x50,
        (0x80 | ((len >> 11) & 3)).toByte, ((len >> 3) & 0xFF).toByte,
        (((len & 7) << 5) | 0x1F).toByte, 0xFC.toByte)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 16)
        .withColumn("payload", concat(lit(hdr),
          col("text").cast("binary").substr(1, 8), lit(hdr),
          col("text").cast("binary").substr(9, 8)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").substr(lit(8), lit(8)).cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),
      // two fixed-length ADTS frames per doc whose bodies are text bytes
      // [1,8] and [9,16] — the same restatement (and the same loud
      // ASCII-equivalence chk) as the container queries
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 16))) > 16 THEN error(
                    'adts oracle: non-ASCII in the packed 16-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 16)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 9, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         ORDER BY doc_id, frame_ix"""),

    QueryDef("q_multimodal_audio", ((s, d) => {
      // REAL audio decode under the oracle: build a valid 8 kHz mono
      // 16-bit WAV per document IN COLUMN ALGEBRA (RIFF/fmt/data headers
      // with little-endian sizes via hex byte-swap, sample data = the
      // first 2n text bytes), then decode it with the real PCM chunk
      // walker (JvmCodecs). The oracle recomputes every sample from the
      // same text bytes — ASCII corpus, so sample_i = b(2i-1) + 256·b(2i),
      // always positive (high byte < 128)
      val n = least(floor(length(col("text")) / 2), lit(16)).cast("int")
      val dataLen = n * 2
      val payload = wavFixture(dataLen,
        col("text").cast("binary").substr(lit(1), dataLen))
      val docs = t(s, d, "documents").filter(length(col("text")) >= 2)
        .withColumn("payload", payload)
      graft.llm.Multimodal.decodeAudio(docs, "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          size(col("samples")).as("n_samples"),
          aggregate(col("samples"), lit(0L), (a, x) => a + x).as("sample_sum"))
        .orderBy("doc_id")
    }),
      // every 16-bit LE sample recomputed from the same text bytes the
      // Spark side packed into the WAV data chunk; ord() reads CODEPOINTS
      // while Spark packed BYTES, so the chk pins the ASCII equivalence
      // loudly (up to 16 samples = 32 chars used)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 32))) > 32 THEN error(
                    'audio oracle: non-ASCII in the packed 32-char prefix - ord() codepoints and packed bytes diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 2)
         SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
                CAST(1 AS INTEGER) AS channels,
                CAST(least(length(text) // 2, 16) AS INTEGER) AS n_samples,
                CAST(list_sum(list_transform(
                    range(1, CAST(least(length(text) // 2, 16) AS INTEGER) + 1),
                    i -> ord(substr(text, CAST(2*i-1 AS INTEGER), 1))
                         + 256 * ord(substr(text, CAST(2*i AS INTEGER), 1))))
                  AS BIGINT) AS sample_sum
         FROM documents, chk WHERE length(text) >= 2 AND chk.ok = 0
         ORDER BY doc_id"""),

    QueryDef("q_audio_dedup", ((s, d) => {
      // audio-level near-dup dedup end to end: the q_audio_fingerprint
      // fixture plus PLANTED resampled duplicates (docs 0..19 get a 2×
      // sample-duplicated copy under doc_id+100000 — the fixed 1024-point
      // grid reads identical values, so the fingerprint collides
      // exactly), exact-dedup on the fingerprint keeping the smallest
      // id; the oracle recomputes fingerprints from the bytes (one
      // formula covers both, the grids coincide) and replays the keep
      // rule — the q_image_dedup treatment on the audio path
      def wav(dataLen: Int, data: org.apache.spark.sql.Column) =
        wavFixture(lit(dataLen), data)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      val base = docs.select(col("doc_id"),
        wav(128, b.substr(1, 128)).as("payload"))
      // 2× resample: every 16-bit sample's byte pair emitted twice
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          wav(256, concat((0 until 64).flatMap(j =>
            Seq(b.substr(2 * j + 1, 2), b.substr(2 * j + 1, 2))): _*)).as("payload"))
      val fps = graft.llm.Multimodal.audioFingerprint(
        graft.llm.Multimodal.decodeAudio(base.unionByName(ups), "doc_id", "payload"))
      graft.llm.Dedup.exact(fps, "doc_id", Seq(col("afp")))
        .select("doc_id").orderBy("doc_id")
    }),
      // the planted 2× resample reads back the same 1024-point grid, so
      // its fingerprint comes from the SAME byte formula; keep rule =
      // min doc_id per (hi, lo) fingerprint
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'audio-dedup oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text FROM d WHERE doc_id < 20
         ), smp AS (
           SELECT doc_id, j.j AS j,
                  ascii(substr(text, 2 * j.j + 1, 1))
                    + 256 * ascii(substr(text, 2 * j.j + 2, 1)) AS s
           FROM alld, (SELECT unnest(range(0, 64)) AS j) j
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
           WHERE k IN (1, 2)
         ), en AS (
           SELECT smp.doc_id, q.k - 1 AS k, f.f AS f,
                  abs(sum(CAST(smp.s AS BIGINT) * q.qv)) AS e
           FROM (SELECT unnest(range(0, 32)) AS f) f
           CROSS JOIN q
           JOIN smp ON smp.j = (f.f * 32 + q.n) // 16
           GROUP BY smp.doc_id, q.k, f.f
         ), bits AS (
           SELECT a.doc_id,
                  sum(CASE WHEN (a.f * 2 + a.k) < 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (31 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (a.f * 2 + a.k) >= 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (63 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS lo
           FROM en a JOIN en b
             ON b.doc_id = a.doc_id AND b.k = a.k AND b.f = (a.f + 1) % 32
           GROUP BY a.doc_id)
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY hi, lo) AS keeper
           FROM bits)
         WHERE doc_id = keeper ORDER BY doc_id"""),

    QueryDef("q_dedup_incremental_audio", ((s, d) => {
      // the audio tier's INCREMENTAL store lifecycle — the
      // q_dedup_incremental_image treatment with the audio fingerprint as
      // the 64-bit signature (the store machinery is signature-generic):
      // batch 0 (even docs) fingerprints into the at-rest store, batch 1
      // (odd docs + planted near-dups of even docs < 40 whose last TWO
      // samples are forced constant — only frame 31's band energies move,
      // so the fingerprint lands ≤4 bits away) dedups against the store
      // AND itself; the kept corpus is read back. The oracle replays both
      // stages from sample bytes under the same radius.
      def wav(data: org.apache.spark.sql.Column) = wavFixture(lit(128), data)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      val base = docs.select(col("doc_id"), wav(b.substr(1, 128)).as("payload"))
      val planted = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          wav(concat(b.substr(1, 124),
            lit(Array[Byte](126, 126, 126, 126)))).as("payload"))
      val batch0 = base.filter(col("doc_id") % 2 === 0)
      val batch1 = base.filter(col("doc_id") % 2 =!= 0).unionByName(planted)
      val dir = qTmpDir("auddedup-q")
      def sigOf(df: org.apache.spark.sql.DataFrame) =
        graft.llm.Multimodal.audioFingerprint(
            graft.llm.Multimodal.decodeAudio(df, "doc_id", "payload"))
          .select(col("doc_id").as("__id"), col("afp").as("__hsig"))
      val fn = graft.streaming.PerceptualDedupStream.batchFunction("doc_id", sigOf,
        s"$dir/store", s"$dir/corpus", maxHamming = 8)
      fn(batch0, 0L)
      fn(batch1, 1L)
      s.read.parquet(s"$dir/corpus").select("doc_id").orderBy("doc_id")
    }),
      // both lifecycle stages replayed on the audio fingerprint: samples
      // from text bytes (planted copies force samples 62-63 to
      // 126 + 256·126), band energies + delta-sign bits per doc, batch-0
      // keep = no smaller-id batch-0 doc within radius 8, batch-1 keep =
      // no batch-0 SURVIVOR within radius (the store) and no smaller-id
      // batch-1 doc within radius
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'incr-audio oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak,
                  CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS bt
           FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1, 1 FROM d
           WHERE doc_id % 2 = 0 AND doc_id < 40
         ), smp AS (
           SELECT doc_id, bt, j.j AS j,
                  CASE WHEN tweak = 1 AND j.j >= 62 THEN 126 + 256 * 126
                       ELSE ascii(substr(text, 2 * j.j + 1, 1))
                            + 256 * ascii(substr(text, 2 * j.j + 2, 1)) END AS s
           FROM alld, (SELECT unnest(range(0, 64)) AS j) j
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
           WHERE k IN (1, 2)
         ), en AS (
           SELECT smp.doc_id, any_value(smp.bt) AS bt, q.k - 1 AS k, f.f AS f,
                  abs(sum(CAST(smp.s AS BIGINT) * q.qv)) AS e
           FROM (SELECT unnest(range(0, 32)) AS f) f
           CROSS JOIN q
           JOIN smp ON smp.j = (f.f * 32 + q.n) // 16
           GROUP BY smp.doc_id, q.k, f.f
         ), bits AS (
           SELECT a.doc_id, any_value(a.bt) AS bt,
                  CAST(sum(CASE WHEN (a.f * 2 + a.k) < 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (31 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS BIGINT) AS hi,
                  CAST(sum(CASE WHEN (a.f * 2 + a.k) >= 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (63 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS BIGINT) AS lo
           FROM en a JOIN en b
             ON b.doc_id = a.doc_id AND b.k = a.k AND b.f = (a.f + 1) % 32
           GROUP BY a.doc_id
         ), k0 AS (
           SELECT a.doc_id, a.hi, a.lo FROM bits a
           WHERE a.bt = 0 AND NOT EXISTS (
             SELECT 1 FROM bits b WHERE b.bt = 0 AND b.doc_id < a.doc_id
               AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8)
         ), k1 AS (
           SELECT a.doc_id FROM bits a
           WHERE a.bt = 1
             AND NOT EXISTS (
               SELECT 1 FROM k0 s
               WHERE bit_count(xor(a.hi, s.hi)) + bit_count(xor(a.lo, s.lo)) <= 8)
             AND NOT EXISTS (
               SELECT 1 FROM bits b WHERE b.bt = 1 AND b.doc_id < a.doc_id
                 AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8))
         SELECT doc_id FROM k0
         UNION ALL
         SELECT doc_id FROM k1 ORDER BY doc_id""", lifecycle = true),

    QueryDef("q_audio_fingerprint", ((s, d) => {
      // audio near-dup fingerprint under the oracle: the q_multimodal_audio
      // WAV fixture (16 samples from the first 32 text bytes) through the
      // REAL PCM decode, then the integer-exact spectral-band fingerprint
      // (1024-point floor resample, PhashCos bins 1-2 energies, delta-sign
      // bits). The oracle restates every sample from text bytes and
      // replays grid, energies and bits under the same 256 cosine
      // literals; reported as two 32-bit halves like the image hashes.
      val dataLen = lit(128) // 64 samples: ~2 per 32-point frame, so the
      // band energies genuinely vary per document (16 samples made every
      // frame near-constant and the fingerprint degenerate)
      val payload = wavFixture(dataLen,
        col("text").cast("binary").substr(lit(1), dataLen))
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
        .withColumn("payload", payload)
      graft.llm.Multimodal.audioFingerprint(
          graft.llm.Multimodal.decodeAudio(docs, "doc_id", "payload"))
        .select(col("doc_id"),
          shiftrightunsigned(col("afp"), 32).as("afp_hi"),
          col("afp").bitwiseAND(lit(0xFFFFFFFFL)).as("afp_lo"))
        .orderBy("doc_id")
    }),
      // sample_j = b(2j+1) + 256·b(2j+2) (the q_multimodal_audio
      // restatement); grid point (f, n) reads sample (f·32+n)//64; band
      // energies |Σ s·Q(k,n)| for cosine rows k ∈ {1,2} under the same
      // inlined VALUES; bit 63−(f·2+band) set when the band's energy
      // DROPS to frame (f+1) mod 32 (e(f) > e(f+1))
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'afp oracle: non-ASCII in the packed 128-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), smp AS (
           SELECT doc_id, j.j AS j,
                  ascii(substr(text, 2 * j.j + 1, 1))
                    + 256 * ascii(substr(text, 2 * j.j + 2, 1)) AS s
           FROM d, (SELECT unnest(range(0, 64)) AS j) j
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
           WHERE k IN (1, 2)
         ), en AS (
           SELECT smp.doc_id, q.k - 1 AS k, f.f AS f,
                  abs(sum(CAST(smp.s AS BIGINT) * q.qv)) AS e
           FROM (SELECT unnest(range(0, 32)) AS f) f
           CROSS JOIN q
           JOIN smp ON smp.j = (f.f * 32 + q.n) // 16
           GROUP BY smp.doc_id, q.k, f.f)
         SELECT a.doc_id,
                CAST(sum(CASE WHEN (a.f * 2 + a.k) < 32 AND a.e > b.e
                         THEN (CAST(1 AS BIGINT) << (31 - (a.f * 2 + a.k)))
                         ELSE 0 END) AS BIGINT) AS afp_hi,
                CAST(sum(CASE WHEN (a.f * 2 + a.k) >= 32 AND a.e > b.e
                         THEN (CAST(1 AS BIGINT) << (63 - (a.f * 2 + a.k)))
                         ELSE 0 END) AS BIGINT) AS afp_lo
         FROM en a JOIN en b
           ON b.doc_id = a.doc_id AND b.k = a.k AND b.f = (a.f + 1) % 32
         GROUP BY a.doc_id ORDER BY a.doc_id"""),

    QueryDef("q_video_neardup", ((s, d) => {
      // the video-level near-dup CAPSTONE — the pieces composed end to
      // end: real MP4 keyframe demux (box walking, stss sync samples) →
      // BMP keyframe decode → pHash per keyframe → generic banded
      // Hamming pairs per keyframe POSITION → a video pair survives iff
      // every keyframe position matches within radius. Planted
      // "re-encodes" of docs < 20 force one corner cell of each keyframe
      // to a constant — each pHash lands a few bits away, the case
      // exact-hash video dedup misses. The banding is invisible to the
      // result, so the oracle is the all-pairs restatement per frame
      // window intersected across windows.
      val (pre, post) = mp4VideoFixture
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      def px(off: Int) =
        concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))): _*)
      def pxT(off: Int) =
        concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))) ++
          Seq.fill(3)(lit(Array[Byte](126))): _*)
      def video(p1: org.apache.spark.sql.Column, p2: org.apache.spark.sql.Column) =
        concat(lit(pre), lit(hdr), p1, lit(hdr), p2, lit(post))
      val base = docs.select(col("doc_id"), video(px(0), px(64)).as("payload"))
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          video(pxT(0), pxT(64)).as("payload"))
      val frames = graft.llm.Multimodal.sampleFrames(base.unionByName(ups),
        "doc_id", "payload", n = 2,
        codecs = graft.llm.Multimodal.JvmCodecs).toDF()
      val hashes = graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
        frames.select((col("doc_id") * 4 + col("frame_ix")).as("fid"),
          col("payload")),
        "fid", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
      // the (vid, fx, phash) frame is MATERIALIZED once (tiny: one row per
      // keyframe): both per-frame pair joins reference it, and Catalyst
      // has no DAG sharing — unmaterialized, the demux+decode+DCT typed
      // lineage would run once per reference (the simhash_recall
      // write-once/read-many treatment)
      val dir = qTmpDir("vidndp-q")
      hashes.select(floor(col("doc_id") / 4).cast("long").as("vid"),
          pmod(col("doc_id"), lit(4)).as("fx"), col("phash"))
        .write.mode("overwrite").parquet(s"$dir/sig")
      val sig = s.read.parquet(s"$dir/sig")
      def pairsAt(f: Int) = graft.llm.Dedup.hammingPairs(
        sig.filter(col("fx") === f).select(col("vid"), col("phash")),
        "vid", col("phash"), nBits = 64, maxHamming = 8)
        .select("idA", "idB")
      pairsAt(0).join(pairsAt(1), Seq("idA", "idB")).orderBy("idA", "idB")
    }),
      // the two 8×8 keyframes read text windows [1,64] and [65,128]
      // (planted re-encodes force window cell 64 to byte 126); each
      // window's pHash is the q_multimodal_phash restatement keyed by
      // frame index; a pair survives iff BOTH frame windows are within
      // Hamming radius 8 (HAVING count(*) = 2 over the per-frame pairs)
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'video oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1 FROM d WHERE doc_id < 20
         ), cell AS (
           SELECT a.doc_id, a.tweak, fr.fx AS fx, y.y AS y, x.x AS x,
                  CASE WHEN a.tweak = 1
                        AND (7 - (y.y // 4)) * 8 + (x.x // 4) + 1 = 64 THEN 126
                       ELSE ascii(substr(a.text,
                         fr.fx * 64 + (7 - (y.y // 4)) * 8 + (x.x // 4) + 1, 1))
                  END AS g
           FROM alld a, (SELECT unnest(range(0, 2)) AS fx) fr,
                (SELECT unnest(range(0, 32)) AS y) y,
                (SELECT unnest(range(0, 32)) AS x) x
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
         ), rp AS (
           SELECT c.doc_id, c.fx, c.x, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qv) AS s
           FROM cell c JOIN q ON q.n = c.y
           GROUP BY c.doc_id, c.fx, c.x, q.k
         ), co AS (
           SELECT rp.doc_id, rp.fx, rp.v, q.k AS u,
                  CAST(sum(rp.s * q.qv) AS BIGINT) AS s
           FROM rp JOIN q ON q.n = rp.x
           GROUP BY rp.doc_id, rp.fx, rp.v, q.k
         ), med AS (
           SELECT doc_id, fx, s AS m FROM (
             SELECT doc_id, fx, s, row_number() OVER (
               PARTITION BY doc_id, fx ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS (
           SELECT co.doc_id, co.fx,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id AND med.fx = co.fx
           GROUP BY co.doc_id, co.fx
         ), pair AS (
           SELECT a.fx, a.doc_id AS idA, b.doc_id AS idB
           FROM bits a JOIN bits b ON b.fx = a.fx AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8)
         SELECT idA, idB FROM pair
         GROUP BY idA, idB HAVING count(*) = 2
         ORDER BY idA, idB""", lifecycle = true),

    QueryDef("q_dedup_incremental_video", ((s, d) => {
      // the video tier's INCREMENTAL store lifecycle — the perceptual
      // store generalized to a VECTOR of signatures per object (one
      // pHash per keyframe position): batch 0 (even docs) ingests its
      // per-keyframe signature arrays, batch 1 (odd docs + planted
      // one-cell-per-keyframe re-encodes of even docs < 40) dedups
      // against the store AND itself, where a kill requires EVERY
      // keyframe position within radius 8. Candidates band on keyframe 0
      // alone (an all-positions match is a position-0 match). The oracle
      // replays both stages from pixel bytes.
      val (pre, post) = mp4VideoFixture
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      def px(off: Int) =
        concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))): _*)
      def pxT(off: Int) =
        concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))) ++
          Seq.fill(3)(lit(Array[Byte](126))): _*)
      def video(p1: org.apache.spark.sql.Column, p2: org.apache.spark.sql.Column) =
        concat(lit(pre), lit(hdr), p1, lit(hdr), p2, lit(post))
      val base = docs.select(col("doc_id"), video(px(0), px(64)).as("payload"))
      val planted = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          video(pxT(0), pxT(64)).as("payload"))
      val batch0 = base.filter(col("doc_id") % 2 === 0)
      val batch1 = base.filter(col("doc_id") % 2 =!= 0).unionByName(planted)
      val dir = qTmpDir("viddedup-q")
      def sigsOf(df: org.apache.spark.sql.DataFrame) = {
        val frames = graft.llm.Multimodal.sampleFrames(df, "doc_id", "payload",
          n = 2, codecs = graft.llm.Multimodal.JvmCodecs).toDF()
        graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
            frames.select((col("doc_id") * 4 + col("frame_ix")).as("fid"),
              col("payload")),
            "fid", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
          .select(floor(col("doc_id") / 4).cast("long").as("__id"),
            pmod(col("doc_id"), lit(4)).cast("int").as("fx"), col("phash"))
          .groupBy("__id")
          .agg(transform(array_sort(collect_list(struct(col("fx"), col("phash")))),
            e => e.getField("phash")).as("__hsigs"))
          // position-complete vectors only: an object whose frames only
          // PARTIALLY decode would otherwise pack its surviving hash into
          // the wrong slot and compare cross-position — treat it like an
          // undecodable object (no signature row ⇒ kept, kills nothing)
          .filter(size(col("__hsigs")) === 2)
      }
      val fn = graft.streaming.PerceptualDedupStream.batchFunctionMulti(
        "doc_id", sigsOf, s"$dir/store", s"$dir/corpus", maxHamming = 8)
      fn(batch0, 0L)
      fn(batch1, 1L)
      s.read.parquet(s"$dir/corpus").select("doc_id").orderBy("doc_id")
    }),
      // both lifecycle stages replayed on PER-KEYFRAME pHash vectors:
      // the q_video_neardup bits machinery tagged with batch membership,
      // a DIRECTED all-positions-within pair set (every frame index
      // present and max per-frame Hamming ≤ 8), then batch-0 keep = no
      // smaller-id batch-0 doc all-within, batch-1 keep = no batch-0
      // SURVIVOR all-within (the store) and no smaller-id batch-1 doc
      // all-within
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'incr-video oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak,
                  CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS bt
           FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1, 1 FROM d
           WHERE doc_id % 2 = 0 AND doc_id < 40
         ), cell AS (
           SELECT a.doc_id, a.bt, fr.fx AS fx, y.y AS y, x.x AS x,
                  CASE WHEN a.tweak = 1
                        AND (7 - (y.y // 4)) * 8 + (x.x // 4) + 1 = 64 THEN 126
                       ELSE ascii(substr(a.text,
                         fr.fx * 64 + (7 - (y.y // 4)) * 8 + (x.x // 4) + 1, 1))
                  END AS g
           FROM alld a, (SELECT unnest(range(0, 2)) AS fx) fr,
                (SELECT unnest(range(0, 32)) AS y) y,
                (SELECT unnest(range(0, 32)) AS x) x
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
         ), rp AS (
           SELECT c.doc_id, any_value(c.bt) AS bt, c.fx, c.x, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qv) AS s
           FROM cell c JOIN q ON q.n = c.y
           GROUP BY c.doc_id, c.fx, c.x, q.k
         ), co AS (
           SELECT rp.doc_id, any_value(rp.bt) AS bt, rp.fx, rp.v, q.k AS u,
                  CAST(sum(rp.s * q.qv) AS BIGINT) AS s
           FROM rp JOIN q ON q.n = rp.x
           GROUP BY rp.doc_id, rp.fx, rp.v, q.k
         ), med AS (
           SELECT doc_id, fx, s AS m FROM (
             SELECT doc_id, fx, s, row_number() OVER (
               PARTITION BY doc_id, fx ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS MATERIALIZED (
           SELECT co.doc_id, any_value(co.bt) AS bt, co.fx,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id AND med.fx = co.fx
           GROUP BY co.doc_id, co.fx
         ), btmap AS MATERIALIZED (
           SELECT doc_id, any_value(bt) AS bt FROM bits GROUP BY doc_id
         ), aw AS MATERIALIZED (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM bits a JOIN bits b
             ON b.fx = a.fx AND a.doc_id <> b.doc_id
           GROUP BY 1, 2
           HAVING count(*) = 2
              AND max(bit_count(xor(a.hi, b.hi))
                      + bit_count(xor(a.lo, b.lo))) <= 8
         ), k0 AS MATERIALIZED (
           SELECT m.doc_id FROM btmap m
           WHERE m.bt = 0 AND NOT EXISTS (
             SELECT 1 FROM aw JOIN btmap mb ON mb.doc_id = aw.idA
             WHERE aw.idB = m.doc_id AND mb.bt = 0 AND aw.idA < m.doc_id)
         ), k1 AS (
           SELECT m.doc_id FROM btmap m
           WHERE m.bt = 1
             AND NOT EXISTS (
               SELECT 1 FROM aw JOIN k0 s ON s.doc_id = aw.idA
               WHERE aw.idB = m.doc_id)
             AND NOT EXISTS (
               SELECT 1 FROM aw JOIN btmap mb ON mb.doc_id = aw.idA
               WHERE aw.idB = m.doc_id AND mb.bt = 1 AND aw.idA < m.doc_id))
         SELECT doc_id FROM k0
         UNION ALL
         SELECT doc_id FROM k1 ORDER BY doc_id""", lifecycle = true),
  )
}
