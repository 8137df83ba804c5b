package bench

import java.io._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.llm.HfTokenizer
import graft.streaming.IncrementalDedupStream
import graft.topology.{Toml, Topology}

/** Seeded corpus turns: each turn is a fresh JSONL batch of documents, of
  * which some are clean, some are planted junk that the quality gates must
  * drop, and some are planted near-duplicates of clean documents of earlier
  * turns that incremental dedup must drop. Every document is a pure
  * function of (seed, turn, index), so a near-duplicate regenerates its
  * source instead of remembering it.
  */
final class CorpusData(seed: Long, val docsPerTurn: Int) {
  val words: Words = Words(4000)

  sealed trait Kind
  case object Clean extends Kind
  case object NearDup extends Kind
  case object Lorem extends Kind
  case object Nav extends Kind
  case object Spam extends Kind

  final case class Doc(id: Long, kind: Kind, text: String, keptLines: Seq[String])

  def id(turn: Int, i: Int): Long = (turn + 1000L) * 1000000L + i

  private def rng(turn: Int, i: Int) = new SplittableRandom(seed * 7919L + id(turn, i))

  private def kindOf(turn: Int, r: SplittableRandom): Kind = {
    val x = r.nextDouble()
    if (x < 0.10 && turn > 0) NearDup
    else if (x < 0.14) Lorem
    else if (x < 0.18) Nav
    else if (x < 0.22) Spam
    else Clean
  }

  private def sentence(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(words.word(r)).mkString(" ") + "."
  private def navLine(r: SplittableRandom): String =
    Seq.fill(3 + r.nextInt(4))(words.word(r)).mkString(" | ")

  def doc(turn: Int, i: Int): Doc = {
    val r = rng(turn, i)
    kindOf(turn, r) match {
      case Clean => clean(turn, i, r)
      case NearDup =>
        // a clean document of an earlier turn, with one word changed
        var src: Doc = null
        while (src == null) {
          val t = r.nextInt(turn)
          val j = r.nextInt(docsPerTurn)
          val s = rng(t, j)
          if (kindOf(t, s) == Clean) src = clean(t, j, s)
        }
        val lines = src.text.split("\n", -1)
        val li = lines.indices.filter(k => src.keptLines.contains(lines(k)))(r.nextInt(src.keptLines.size))
        val ws = lines(li).split(" ")
        ws(r.nextInt(ws.length - 1)) = words.word(r)
        lines(li) = ws.mkString(" ")
        Doc(id(turn, i), NearDup, lines.mkString("\n"), Nil)
      case Lorem =>
        val good = Seq.fill(6)(sentence(r, 8 + r.nextInt(8)))
        Doc(id(turn, i), Lorem, (good :+ "lorem ipsum dolor sit amet consectetur adipiscing.").mkString("\n"), Nil)
      case Nav =>
        Doc(id(turn, i), Nav, Seq.fill(8)(navLine(r)).mkString("\n"), Nil)
      case Spam =>
        val line = sentence(r, 6)
        Doc(id(turn, i), Spam, Seq.fill(30)(line).mkString("\n"), Nil)
    }
  }

  private def clean(turn: Int, i: Int, r: SplittableRandom): Doc = {
    val kept = Seq.fill(12 + r.nextInt(8))(sentence(r, 8 + r.nextInt(9)))
    // boilerplate lines (no terminal punctuation) that C4Clean removes
    val lines = mutable.ArrayBuffer(kept: _*)
    for (_ <- 0 until 1 + r.nextInt(3)) lines.insert(r.nextInt(lines.size + 1), navLine(r))
    Doc(id(turn, i), Clean, lines.mkString("\n"), kept)
  }
}

/** A reference BPE (lowest-rank pair first, all occurrences left to
  * right), independent of the program's encoder, and a small trainer
  * that learns `n` merges from word frequencies.
  */
final class RefBpe(val merges: Seq[(String, String)]) {
  private val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def count(word: String): Int = {
    val hit = cache.get(word)
    if (hit != null) hit
    else {
      var sym = word.map(_.toString).toVector
      var done = false
      while (!done && sym.size > 1) {
        val pairs = sym.indices.dropRight(1).map(k => (sym(k), sym(k + 1)))
        val best = pairs.filter(rank.contains).sortBy(rank).headOption
        best match {
          case None => done = true
          case Some(p) =>
            val out = Vector.newBuilder[String]
            var k = 0
            while (k < sym.size) {
              if (k + 1 < sym.size && sym(k) == p._1 && sym(k + 1) == p._2) { out += p._1 + p._2; k += 2 }
              else { out += sym(k); k += 1 }
            }
            sym = out.result()
        }
      }
      cache.put(word, sym.size)
      sym.size
    }
  }
}

object RefBpe {
  def train(freq: Seq[(String, Double)], n: Int): RefBpe = {
    var words = freq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < n) {
      val counts = mutable.HashMap.empty[(String, String), Double]
      for ((w, f) <- words; k <- 0 until w.size - 1) {
        val p = (w(k), w(k + 1))
        counts(p) = counts.getOrElse(p, 0.0) + f
      }
      if (counts.isEmpty) return new RefBpe(merges.toSeq)
      val best = counts.toSeq.maxBy { case (p, c) => (c, p._1 + " " + p._2) }._1
      merges += best
      words = words.map { case (w, f) =>
        val out = Vector.newBuilder[String]
        var k = 0
        while (k < w.size) {
          if (k + 1 < w.size && w(k) == best._1 && w(k + 1) == best._2) { out += best._1 + best._2; k += 2 }
          else { out += w(k); k += 1 }
        }
        (out.result(), f)
      }
    }
    new RefBpe(merges.toSeq)
  }
}

/** corpus_turns: incremental corpus curation, one turn per timed unit.
  *
  * A turn runs the batch through a TOML funnel (JsonLines → C4Clean →
  * GopherQuality), dedups the survivors against the growing at-rest store
  * with `IncrementalDedupStream.batchFunction`, and packs the turn's kept
  * documents with a second TOML (Parquet → TokenizeIds under a BPE
  * tokenizer.json exported at set-up → PackRows → PackedShards). Every
  * `CompactEvery`-th turn also compacts both store directories.
  */
final class CorpusWorkload(seed: Long, size: String, work: File, cores: Int) extends Workload {
  val name = "corpus_turns"
  val warmups = 1
  val nominalUnitS = 12.0
  private val CompactEvery = 3
  private val Budget = 2048
  private val PadId = -2
  private val EosId = -4

  private val docsPerTurn = size match {
    case "full" => 4000
    case "tiny" => 200
    case other => throw new IllegalArgumentException(s"unknown size '$other'")
  }
  private val data = new CorpusData(seed, docsPerTurn)
  private val inRoot = new File(work, s"inputs/corpus-s$seed-d$docsPerTurn")
  private val root = new File(work, "corpus")
  private val storeDir = new File(root, "store")
  private val corpusDir = new File(root, "kept")
  private val tokenizer = new File(root, "tokenizer.json")
  private var gen = 0.0
  def genSeconds: Double = gen

  // the BPE is learned from the vocabulary's Zipf weights (no Spark)
  private lazy val bpe: RefBpe = {
    val t0 = Util.now()
    val top = data.words.types.toSeq.take(1500).zipWithIndex
    val b = RefBpe.train(top.map { case (w, r) => (w, 1.0 / (r + 1)) } ++
      top.map { case (w, r) => (w + ".", 0.2 / (r + 1)) }, 200)
    gen += Util.secs(t0, Util.now())
    b
  }

  /** Ground truth of one turn. */
  final case class TurnExpect(kept: Set[Long], dups: Set[Long], junk: Set[Long], tokens: Long,
      docs: Long, gated: Long)
  private val expects = mutable.Map.empty[Int, TurnExpect]

  // turn numbering: warm-up j (unit -1 - j) is turn j, timed unit i
  // follows them
  private def turn(i: Int): Int = if (i < 0) -1 - i else i + warmups
  private def turnDir(t: Int) = new File(inRoot, s"turn-$t")
  private def packDir(t: Int) = new File(root, s"pack-$t")
  private def partition(dir: File, tag: String, t: Int) = new File(dir, s"batch=$tag-$t")

  def prepareUnit(i: Int): Unit = prepareTurn(turn(i), docsPerTurn)

  /** Generate (or load) turn `t` from its first `n` documents. */
  private def prepareTurn(t: Int, n: Int): Unit = {
    if (!expects.contains(t)) {
      val t0 = Util.now()
      if (expects.isEmpty) Option(inRoot.getParentFile.listFiles()).toSeq.flatten
        .filter(d => d.getName.startsWith("corpus-") && d != inRoot).foreach(Util.rm)
      val docs = (0 until n).map(data.doc(t, _))
      val kept = docs.filter(_.kind == data.Clean)
      val tokens = kept.map(d => d.keptLines.flatMap(_.split(" ")).map(bpe.count).sum + 1L).sum
      expects(t) = TurnExpect(kept.map(_.id).toSet, docs.filter(_.kind == data.NearDup).map(_.id).toSet,
        docs.filter(d => d.kind != data.Clean && d.kind != data.NearDup).map(_.id).toSet, tokens,
        docs.size, docs.count(d => d.kind == data.Clean || d.kind == data.NearDup))
      val dir = turnDir(t)
      val done = new File(dir, s"_DONE-$n")
      if (!done.exists()) {
        Util.rm(dir)
        dir.mkdirs()
        // `cores` files of equal document count
        docs.grouped(math.ceil(docs.size.toDouble / cores).toInt).zipWithIndex.foreach { case (part, k) =>
          val w = new BufferedWriter(new OutputStreamWriter(
            new FileOutputStream(new File(dir, f"part-$k%03d.jsonl")), "UTF-8"))
          try part.foreach { d =>
            w.write(Util.json(Map("doc_id" -> d.id.toString, "text" -> d.text))); w.write('\n')
          } finally w.close()
        }
        done.createNewFile()
      }
      gen += Util.secs(t0, Util.now())
    }
  }

  def setUp(spark: SparkSession, tr: Trace): Unit = {
    Util.rm(root)
    root.mkdirs()
    val merges = bpe.merges
    val symbols = HfTokenizer.operandClosure(merges)
    val alphabet = (('a' to 'z').map(_.toString) :+ ".").filterNot(symbols.contains)
    tr("llm.export_bpe")(HfTokenizer.exportBpe(tokenizer.getAbsolutePath,
      vocab = (symbols ++ alphabet).zipWithIndex, merges = merges, byteLevel = false))
  }

  def funnelToml(t: Int): String =
    s"""[fields]
       |names = ["doc_id", "text"]
       |[input]
       |name = "JsonLines"
       |  [input.config]
       |  Files = ["${turnDir(t).getAbsolutePath}"]
       |[[filter]]
       |name = "C4Clean"
       |  [filter.config]
       |  SrcField = "text"
       |  DstField = "text"
       |  MinWords = 5
       |  MinKept = 3
       |  Gate = true
       |[[filter]]
       |name = "GopherQuality"
       |  [filter.config]
       |  Field = "text"
       |[output]
       |name = "Nop"
       |fields = ["doc_id", "text"]
       |""".stripMargin

  def packToml(input: File, t: Int): String =
    s"""[fields]
       |names = ["doc_id", "text"]
       |[input]
       |name = "Parquet"
       |  [input.config]
       |  Path = "${input.getAbsolutePath}"
       |[[filter]]
       |name = "TokenizeIds"
       |  [filter.config]
       |  SrcField = "text"
       |  DstField = "ids"
       |  VocabPath = "${tokenizer.getAbsolutePath}"
       |[[filter]]
       |name = "PackRows"
       |  [filter.config]
       |  IdsField = "ids"
       |  OrderField = "doc_id"
       |  Budget = $Budget
       |  Shards = $cores
       |  EosId = $EosId
       |[output]
       |name = "PackedShards"
       |fields = ["shard", "seq_id", "input_ids", "segment_ids", "loss_mask", "n_real", "doc_start"]
       |  [output.config]
       |  Path = "${packDir(t).getAbsolutePath}"
       |  NumTasks = $cores
       |""".stripMargin

  private def newFiles[T](dirs: Seq[File])(body: => T): (T, Long) = {
    val before = dirs.flatMap(Util.filesUnder).map(_.getPath).toSet
    val r = body
    val added = dirs.flatMap(Util.filesUnder).filterNot(f => before(f.getPath) || Util.isSidecar(f))
    (r, added.map(_.length).sum)
  }

  /** One turn under `tag`: funnel, incremental dedup, pack. */
  private def runTurn(spark: SparkSession, tag: String, t: Int, tr: Trace): Long = {
    val funnel = Util.compile(spark, funnelToml(t), tr)
    try tr("llm.dedup")(IncrementalDedupStream.batchFunction("doc_id", "text",
      storeDir.getAbsolutePath, corpusDir.getAbsolutePath, runTag = tag)(funnel.projected, t.toLong))
    finally funnel.ctx.runCleanupHooks()
    val pack = Util.compile(spark, packToml(partition(corpusDir, tag, t), t), tr)
    tr("topology.run")(pack.run())
    expects(t).docs
  }

  private val bytesOut = mutable.Map.empty[Int, Long]
  private val packFiles = mutable.Map.empty[Int, Int]
  private val packFill = mutable.Map.empty[Int, Double]
  private val compactS = mutable.ArrayBuffer.empty[Double]

  def runUnit(spark: SparkSession, i: Int, tr: Trace): UnitOut = {
    val t = turn(i)
    val (docs, written) = newFiles(Seq(storeDir, corpusDir, packDir(t)))(runTurn(spark, "run", t, tr))
    bytesOut(i) = written
    if (i >= 0 && (i + 1) % CompactEvery == 0) {
      val t0 = Util.now()
      tr("streaming.compact") {
        IncrementalDedupStream.compactStore(spark, storeDir.getAbsolutePath)
        IncrementalDedupStream.compactStore(spark, corpusDir.getAbsolutePath)
      }
      compactS += Util.secs(t0, Util.now())
    }
    UnitOut(docs, Util.dataBytes(turnDir(t)), written)
  }

  /** Ids of turn `t` in the kept corpus (ids carry their turn, so this
    * also works after compaction has merged the turn's partition).
    */
  private def keptIds(spark: SparkSession, t: Int): Seq[Long] = {
    // the store's public committed-partition reader (the same layout
    // every at-rest store shares)
    graft.streaming.AttributeStream.loadSidecar(spark, corpusDir.getAbsolutePath).toSeq.flatMap(
      _.select(col("doc_id").cast("long")).filter(col("doc_id").between(data.id(t, 0),
        data.id(t, docsPerTurn - 1))).collect().map(_.getLong(0)))
  }

  /** The token streams of a pack: `.bin` files other than the mask and
    * segment channels.
    */
  private def tokenBins(t: Int): Seq[File] = Util.filesUnder(packDir(t)).filter { f =>
    val n = f.getName
    n.endsWith(".bin") && !n.endsWith(".mask.bin") && !n.endsWith(".seg.bin") && !Util.isSidecar(f)
  }

  /** Non-pad tokens in the packed token streams (little-endian int32). */
  private def packedTokens(t: Int): Long =
    tokenBins(t).map { f =>
      val b = ByteBuffer.wrap(Files.readAllBytes(f.toPath)).order(ByteOrder.LITTLE_ENDIAN).asIntBuffer()
      var n = 0L
      while (b.hasRemaining) if (b.get() != PadId) n += 1
      n
    }.sum

  def check(spark: SparkSession, i: Int): Seq[String] = {
    val t = turn(i)
    val slots = tokenBins(t).map(_.length / 4).sum
    packFiles(i) = Util.filesUnder(packDir(t)).count(f => !Util.isSidecar(f))
    packFill(i) = expects(t).tokens.toDouble / slots
    checkTurn(spark, t)
  }

  private def checkTurn(spark: SparkSession, t: Int): Seq[String] = {
    val e = expects(t)
    val ids = keptIds(spark, t)
    val got = ids.toSet
    val errs = mutable.ArrayBuffer.empty[String]
    if (ids.size != got.size) errs += s"turn $t: ${ids.size - got.size} duplicate rows in the kept corpus"
    val dups = got.intersect(e.dups).size
    val junk = got.intersect(e.junk).size
    val lost = (e.kept -- got).size
    val stray = (got -- e.kept -- e.dups -- e.junk).size
    if (dups > 0) errs += s"turn $t: $dups planted near-duplicates survived"
    if (junk > 0) errs += s"turn $t: $junk planted junk documents survived"
    if (lost > 0) errs += s"turn $t: $lost clean documents were dropped"
    if (stray > 0) errs += s"turn $t: $stray unknown ids in the kept corpus"
    val tokens = packedTokens(t)
    if (tokens != e.tokens) errs += s"turn $t: $tokens packed tokens, expected ${e.tokens}"
    errs.toSeq
  }

  /** Plant a surviving near-duplicate: copy one into the kept corpus. */
  def corrupt(spark: SparkSession, i: Int): Unit = {
    val t = turn(i)
    val dup = data.doc(t, (0 until docsPerTurn).find(j => expects(t).dups(data.id(t, j))).get)
    import spark.implicits._
    Seq((dup.id.toString, dup.text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(partition(corpusDir, "corrupt", t).getAbsolutePath)
  }

  def cleanUnit(i: Int): Unit = Util.rm(packDir(turn(i)))

  private def prefixJob(spark: SparkSession, tr: Trace, label: String, text: String,
      keep: Int): Double = {
    val cfg0 = Topology.configFromToml(Toml.parse(text, Map.empty))
    // the post-filter frame keeps the columns the kept filters produce;
    // a cut topology projects the declared fields (PackRows, when kept,
    // replaces them with the configured output fields)
    val cut = cfg0.copy(filters = cfg0.filters.take(keep),
      outputFields = if (keep == cfg0.filters.size) cfg0.outputFields else Nil)
    val c = Topology.compile(spark, cut)
    val t0 = Util.now()
    tr(s"prefix:$label")(c.frame.write.format("noop").mode("overwrite").save())
    c.ctx.runCleanupHooks()
    Util.secs(t0, Util.now())
  }

  def layers(spark: SparkSession, tr: Trace, units: Seq[Int]): Map[String, Double] = {
    val last = turn(units.max)
    val read = prefixJob(spark, tr, "jsonl", funnelToml(last), 0)
    val c4 = prefixJob(spark, tr, "c4clean", funnelToml(last), 1)
    val gopher = prefixJob(spark, tr, "gopher", funnelToml(last), 2)
    // the last traced turn's kept documents (its partition may have been
    // compacted away since) are the pack prefixes' input
    val kept = new File(root, "layer-input")
    graft.streaming.AttributeStream.loadSidecar(spark, corpusDir.getAbsolutePath).get
      .filter(col("doc_id").cast("long").between(data.id(last, 0), data.id(last, docsPerTurn - 1)))
      .write.mode("overwrite").parquet(kept.getAbsolutePath)
    val parquet = prefixJob(spark, tr, "parquet", packToml(kept, last), 0)
    val tokenize = prefixJob(spark, tr, "tokenize", packToml(kept, last), 1)
    val packed = prefixJob(spark, tr, "pack", packToml(kept, last), 2)
    Util.rm(kept)
    def med(name: String) = Util.median(tr.named(name).map(tr.duration))
    val unitSpans = units.map(i => tr.named(s"unit:$i").head)
    val es = units.map(i => expects(turn(i)))
    val docs = es.map(_.docs).sum.toDouble
    val gated = es.map(_.gated).sum.toDouble
    val keptDocs = es.map(_.kept.size).sum.toDouble
    val tokens = es.map(_.tokens).sum.toDouble
    val store = Seq(storeDir, corpusDir).flatMap(Util.filesUnder).filterNot(Util.isSidecar)
    LayerNames.zeros ++ Map(
      "topology.parse_s" -> med("topology.parse"),
      "topology.compile_s" -> med("topology.compile"),
      "sources.read_s" -> read,
      "sources.bytes_in" -> Util.median(units.map(i => Util.dataBytes(turnDir(turn(i))).toDouble)),
      "sources.bytes_decoded" -> Util.median(units.map(i => Util.dataBytes(turnDir(turn(i))).toDouble)),
      "outputs.write_s" -> math.max(0.0, med("topology.run") - packed),
      "outputs.bytes_written" -> Util.median(units.map(i => bytesOut(i).toDouble)),
      "outputs.files" -> Util.median(units.map(i => packFiles(i).toDouble)),
      "llm.c4clean_s" -> math.max(0.0, c4 - read),
      "llm.gopher_s" -> math.max(0.0, gopher - c4),
      "llm.gate_keep_ratio" -> gated / docs,
      "llm.dedup_s" -> med("llm.dedup"),
      "llm.dedup_keep_ratio" -> keptDocs / gated,
      "llm.tokenize_s" -> math.max(0.0, tokenize - parquet),
      "llm.pack_s" -> math.max(0.0, packed - tokenize),
      "llm.tokens" -> tokens / units.size,
      "llm.pack_fill_ratio" -> Util.median(units.map(packFill)),
      "streaming.compact_s" -> (if (compactS.isEmpty) 0.0 else Util.median(compactS.toSeq)),
      "streaming.turn_spark_jobs" -> Util.median(unitSpans.map(s => tr.totals(s).jobs.toDouble)),
      "streaming.store_files" -> store.size.toDouble,
      "streaming.store_bytes" -> store.map(_.length).sum.toDouble)
  }

  def singleCoreUnit(spark: SparkSession, tr: Trace): (Double, Long) = {
    // one core's share of the next turn (the same per-core work as a
    // timed turn), against the store the timed turns left
    val t = expects.keys.max + 1
    prepareTurn(t, docsPerTurn / cores)
    val t0 = Util.now()
    val docs = tr("single-core")(runTurn(spark, "single", t, Trace.off))
    val wall = Util.secs(t0, Util.now())
    val errs = checkTurn(spark, t)
    require(errs.isEmpty, s"single-core turn output is wrong: ${errs.mkString("; ")}")
    Util.rm(packDir(t))
    (wall, docs)
  }
}
