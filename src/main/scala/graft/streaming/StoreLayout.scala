package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The layout contract, and the public maintenance API, of every at-rest
  * store: the text, perceptual and exact-substring dedup stores
  * ([[IncrementalDedupStream]], [[PerceptualDedupStream]],
  * [[ExactSubstrStream]]), the BM25 index ([[LexicalIndexStream]]), the
  * attribute sidecar ([[AttributeStream]]) and the ANN code tables that
  * [[append]] feeds. A store directory holds
  * `batch=<runTag>-<batchId>/` parquet partitions ([[partition]]), each
  * written with overwrite by exactly one micro-batch (idempotent replay),
  * and a reader trusts only COMMITTED partitions ([[committed]],
  * [[load]]) — the `_SUCCESS` marker parquet writes at job commit — so a
  * crashed attempt's footerless part files never poison a later read.
  * Stores are maintained here and nowhere else: [[compact]],
  * [[deleteIds]]/[[deleteDocs]] (right-to-be-forgotten),
  * [[publishServing]]/[[servingSnapshot]], and [[start]] for a streaming
  * query over any store's batch function.
  *
  * Compaction ([[compact]]) rewrites many partitions as one
  * `batch=compact-<tag>/` partition under a staged rename that is
  * crash-safe WITHOUT requiring readers to tolerate duplicate rows
  * (postings and code tables don't — a duplicated posting doubles a tf,
  * a duplicated code row duplicates an ANN candidate):
  *
  *  1. the combined parquet and its `_ABSORBED` manifest (the
  *     newline-joined names of the absorbed partitions) are written to a
  *     staging dir `_compacting-<tag>/` — readers never look at names
  *     outside `batch=*`, so a crash here leaves an invisible orphan the
  *     next run sweeps unconditionally;
  *  2. the staging dir is RENAMED to `batch=compact-<tag>/` — THE commit
  *     point (one metadata op): from this instant readers see the compact
  *     partition and exclude every name its manifest absorbs, so no row
  *     is ever visible twice even though both copies are on disk;
  *  3. the absorbed directories are deleted; a crash mid-delete leaves
  *     invisible garbage that the next [[compact]] run sweeps first.
  *
  * Because the manifest is staged WITH the data, a committed
  * `batch=compact-*` dir always carries one — a compact dir without a
  * manifest can only be a pre-manifest-era partition, which readers
  * accept as ordinary committed data (absorbing nothing), keeping old
  * stores readable. The compact tag is the md5 of the absorbed-name set,
  * so a re-run after any crash recomputes the same staging target and
  * overwrites its own partial output.
  */
object StoreLayout {

  private val AbsorbedFile = "_ABSORBED"
  private val LeaseFile = "_MAINT_LEASE"
  private val WriterPrefix = "_writer-"

  /** How old a maintenance lease or in-flight writer heartbeat must be
    * before it is presumed abandoned (its holder crashed mid-operation).
    * A heartbeat in the `writing` state only lives this long if its batch
    * died mid-write — a completed batch flips it to `idle` immediately —
    * so the window bounds recovery time after a crash, not normal
    * operation, and just needs to exceed the longest plausible
    * micro-batch write.
    */
  val DefaultStaleMs: Long = 15L * 60 * 1000

  private def readSmallFile(fs: FileSystem, f: Path): String = {
    val in = fs.open(f)
    try {
      // read to EOF — a single read() may legally return a short count
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](256)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeSmallFile(fs: FileSystem, f: Path, content: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(f, overwrite)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** (owner, state, epochMillis) of a lease/heartbeat file, None if the
    * file is missing or torn. A torn write is treated as absent — the
    * hazard a torn LEASE protects against is double-maintenance, and a
    * second acquirer's create-no-overwrite still fails on the torn file's
    * existence, so tearing never silently UNLOCKS; it at worst blocks
    * until [[breakLease]]. (Lease files have no state line — their state
    * reads as "".)
    */
  private def readStamp(fs: FileSystem, f: Path): Option[(String, String, Long)] =
    if (!fs.exists(f)) None
    else readSmallFile(fs, f).split('\n') match {
      case Array(owner, ts) if ts.nonEmpty && ts.forall(_.isDigit) =>
        Some((owner, "", ts.toLong))
      case Array(owner, state, ts) if ts.nonEmpty && ts.forall(_.isDigit) =>
        Some((owner, state, ts.toLong))
      case _ => None
    }

  /** Advisory single-writer lease over a store directory's MAINTENANCE
    * operations ([[compact]], [[delete]], [[deleteIds]], [[replaceAll]]),
    * closing the "run while NO stream is writing" seam those operations
    * used to leave to hope:
    *
    *  - maintenance vs maintenance: the lease file is created with
    *    overwrite=false — the atomic create is the lock; a second
    *    acquirer fails loudly naming the holder.
    *  - maintenance vs live stream: every streaming batch function wraps
    *    its write in [[writing]], whose heartbeat file says `writing`
    *    while the batch is in flight and `idle` the moment it completes.
    *    Acquisition fails while any `writing` heartbeat is younger than
    *    `staleMs`, and RE-CHECKS the heartbeats after creating the lease
    *    (a writer stamps `writing` BEFORE it checks the lease, so one of
    *    the two racing sides always sees the other and backs off);
    *    conversely a writer's batch fails loudly while a fresh lease is
    *    held. `idle` heartbeats never block — the instant a stream's last
    *    batch finishes, maintenance may run; no shutdown hook needed.
    *  - crashed holder: a lease — or an in-flight `writing` heartbeat —
    *    older than `staleMs` is presumed dead (taken over / ignored).
    *    For an operator who KNOWS the holder is dead and cannot wait out
    *    `staleMs`, [[breakLease]] removes it explicitly.
    *
    * Advisory means: it serializes well-behaved callers and turns the
    * previously silent overlap into a loud failure; it cannot stop a
    * writer that never calls [[writing]], clock skew between hosts eats
    * into `staleMs`, and on stores without atomic create (raw S3) the
    * guarantee degrades to best-effort — the staged-rename commit
    * protocol underneath is what keeps readers consistent either way.
    */
  private def acquireLease(fs: FileSystem, root: Path, owner: String,
      staleMs: Long): Path = {
    val lease = new Path(root, LeaseFile)
    // pre-check for a friendlier failure (no lease litter), but the
    // POST-create re-check below is the one that closes the race
    failOnInFlightWriters(fs, root, staleMs)
    val now = System.currentTimeMillis()
    readStamp(fs, lease) match {
      case Some((holder, _, ts)) if now - ts <= staleMs =>
        throw new IllegalStateException(
          s"store maintenance on $root: lease held by '$holder' " +
            s"(${now - ts} ms ago) — concurrent maintenance is not " +
            s"allowed; if the holder crashed, wait ${staleMs - (now - ts)} " +
            "ms for stale takeover or call StoreLayout.breakLease")
      case Some(_) => fs.delete(lease, false) // stale (or torn) — take over
      case None => ()
    }
    try writeSmallFile(fs, lease, s"$owner\n$now", overwrite = false)
    catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"store maintenance on $root: lost the lease race (${e.getMessage})")
    }
    // the race-closing re-check: a writer that passed its lease check
    // just before our create has already stamped `writing` (it stamps
    // BEFORE checking), so we see it here and back off
    try failOnInFlightWriters(fs, root, staleMs)
    catch { case e: Throwable => fs.delete(lease, false); throw e }
    lease
  }

  /** Fails if any writer heartbeat under `root` is in the `writing` state
    * and younger than `staleMs` (a micro-batch write may be in flight).
    * `idle` heartbeats are ignored — and swept once stale, so a store
    * written by many finished runs doesn't accumulate marker files.
    */
  private def failOnInFlightWriters(fs: FileSystem, root: Path,
      staleMs: Long): Unit = {
    val now = System.currentTimeMillis()
    val beats = fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(WriterPrefix))
    for (b <- beats; (tag, state, ts) <- readStamp(fs, b.getPath)) {
      require(state != "writing" || now - ts > staleMs,
        s"store maintenance on $root: stream writer '$tag' has a write " +
          s"in flight (heartbeat ${now - ts} ms old, < staleMs=$staleMs) " +
          "— let the batch finish, or wait out staleMs if it crashed")
      if (now - ts > staleMs) fs.delete(b.getPath, false) // hygiene
    }
  }

  private def withLease[T](fs: FileSystem, root: Path, op: String,
      staleMs: Long)(body: => T): T = {
    val owner = op + "-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val lease = acquireLease(fs, root, owner, staleMs)
    try body
    finally {
      // release only if still ours — a stale takeover may have replaced it
      if (readStamp(fs, lease).exists(_._1 == owner)) fs.delete(lease, false)
    }
  }

  /** Writer-side half of the lease protocol: every streaming batch
    * function wraps its store write in this bracket. It (1) stamps this
    * writer's heartbeat `writing` — BEFORE the lease check, so
    * maintenance's post-acquire re-check can never miss an in-flight
    * batch; (2) fails the batch loudly if a fresh maintenance lease is
    * held on `dir` — the stream's replay-on-restart makes that failure
    * safe; (3) runs the write; (4) stamps the heartbeat `idle`, after
    * which maintenance may run immediately. A batch that THROWS is also
    * stamped `idle` (its partial output is invisible to readers and
    * swept by the commit protocol); only a JVM death mid-write leaves a
    * `writing` stamp, which ages out after `staleMs`. Two small-file
    * creates per micro-batch.
    */
  def writing[T](spark: SparkSession, dir: String, runTag: String,
      staleMs: Long = DefaultStaleMs)(body: => T): T = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) fs.mkdirs(root)
    val beat = new Path(root, WriterPrefix + runTag)
    def stamp(state: String): Unit =
      writeSmallFile(fs, beat,
        s"$runTag\n$state\n${System.currentTimeMillis()}", overwrite = true)
    stamp("writing")
    try {
      val now = System.currentTimeMillis()
      for ((holder, _, ts) <- readStamp(fs, new Path(root, LeaseFile)))
        require(now - ts > staleMs,
          s"stream writer '$runTag' on $dir: maintenance lease held by " +
            s"'$holder' (${now - ts} ms ago) — maintenance is rewriting " +
            "this store; the stream must not write until it finishes " +
            "(crashed holder: StoreLayout.breakLease)")
      body
    } finally stamp("idle")
  }

  /** The idempotent `foreachBatch` function of a store fed by a MAP-ONLY
    * encoder (the ANN code tables: [[graft.llm.Ivf.assign]],
    * [[graft.llm.Pq.encode]], [[graft.llm.Opq.encode]],
    * [[graft.llm.IvfPq.encode]], [[graft.llm.Quantize.int8Encode]],
    * [[graft.llm.Quantize.binaryEncode]]; the attribute tagger
    * [[graft.llm.Attributes.tag]]): each micro-batch's `encode(batch)`
    * lands as its own [[partition]] with overwrite, inside the [[writing]]
    * bracket. The encode runs the same codegen'd expressions as the batch
    * path, so a stream-appended store holds EXACTLY the rows a one-shot
    * batch encode would — search parity is structural.
    *
    * Whatever model the encoder closes over must stay PINNED for the
    * store's lifetime: codes are only comparable under one codebook (PQ,
    * OPQ rotation, IVF-PQ coarse quantizer and residual model), an IVF
    * cell assignment only under one coarse quantizer (old cells would go
    * stale), int8 codes only under one per-dimension [min, max]
    * calibration from a bootstrap [[graft.llm.Quantize.int8Stats]] (new
    * out-of-range values clamp). Train once on a bootstrap sample;
    * re-training means re-encoding the store as a batch job. The binary
    * sign code is model-free. A plain `(DataFrame, Long) => Unit`,
    * directly callable from batch jobs and tests.
    */
  def append(dir: String, runTag: String = "run")(
      encode: DataFrame => DataFrame): (DataFrame, Long) => Unit =
    (batchDf, batchId) =>
      writing(batchDf.sparkSession, dir, runTag) {
        encode(batchDf).write.mode("overwrite")
          .parquet(s"$dir/${partition(runTag, batchId)}")
      }

  /** Operator escape hatch: remove a (crashed) maintenance lease without
    * waiting out `staleMs`. Returns whether a lease existed.
    */
  def breakLease(spark: SparkSession, dir: String): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new Path(root, LeaseFile)
    fs.exists(lease) && fs.delete(lease, false)
  }

  private def isCompact(name: String): Boolean = name.startsWith("batch=compact-")

  private def readAbsorbed(fs: FileSystem, dir: Path): Seq[String] = {
    val f = new Path(dir, AbsorbedFile)
    if (!fs.exists(f)) Nil
    else readSmallFile(fs, f).split('\n').toSeq.filter(_.nonEmpty)
  }

  /** `batch=*` partitions a reader may trust: `_SUCCESS` present, minus
    * every partition some compact partition's manifest absorbed (it may
    * still be on disk between compaction's rename-commit and its
    * deletes). Compact dirs without a manifest are pre-manifest-era
    * partitions — committed, absorbing nothing.
    */
  private def listCommitted(fs: FileSystem, root: Path): Seq[FileStatus] = {
    if (!fs.exists(root)) return Nil
    val valid = fs.listStatus(root).toSeq.filter { s =>
      s.isDirectory && s.getPath.getName.startsWith("batch=") &&
        fs.exists(new Path(s.getPath, "_SUCCESS"))
    }
    val absorbed = valid.filter(s => isCompact(s.getPath.getName))
      .flatMap(s => readAbsorbed(fs, s.getPath)).toSet
    valid.filterNot(s => absorbed.contains(s.getPath.getName))
  }

  /** Committed `batch=*` partition paths under `dir`, excluding
    * `exclude` (a replaying batch must not read its own previous
    * attempt's output).
    */
  def committed(spark: SparkSession, dir: String,
      exclude: Option[String] = None): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listCommitted(fs, root)
      .filterNot(s => exclude.contains(s.getPath.getName))
      .map(_.getPath.toString)
  }

  /** Every committed row under `dir` (minus `exclude`, as [[committed]]),
    * or None until a first batch commits — the schema lives in the data,
    * so an empty store has no frame to offer.
    */
  def load(spark: SparkSession, dir: String,
      exclude: Option[String] = None): Option[DataFrame] = {
    val parts = committed(spark, dir, exclude)
    if (parts.isEmpty) None else Some(spark.read.parquet(parts: _*))
  }

  /** The one spelling of a micro-batch's partition name,
    * `batch=<runTag>-<batchId>`. `runTag` must be stable across restarts
    * of the same query (a replayed batch overwrites its own partition)
    * and unique across queries sharing the store (a fresh checkpoint's
    * batchIds restart at 0) — [[runTagFor]] has exactly that lifecycle.
    */
  def partition(runTag: String, batchId: Long): String = s"batch=$runTag-$batchId"

  /** Sweeps 1+2 of the staged-rewrite protocol, shared by [[compact]] and
    * [[delete]]: remove staging orphans (runs that died before their
    * rename-commit — never reader-visible) and finish any earlier run's
    * interrupted step 3 (absorbed dirs are invisible to readers but must
    * be gone before this run can list, and possibly re-absorb, the
    * partitions that absorbed them). Returns the committed partitions
    * after the sweep.
    */
  private def sweepAndList(fs: FileSystem, root: Path): Seq[FileStatus] = {
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_compacting-"))
      .foreach(s => fs.delete(s.getPath, true))
    val committed0 = listCommitted(fs, root)
    committed0.filter(s => isCompact(s.getPath.getName)).foreach { s =>
      readAbsorbed(fs, s.getPath).foreach { name =>
        val leftover = new Path(root, name)
        if (fs.exists(leftover)) fs.delete(leftover, true)
      }
    }
    committed0
  }

  /** Step 1 of the protocol: write `df` + an `_ABSORBED` manifest naming
    * `absorbs` into the invisible staging dir. Returns (staging, target)
    * for [[commitStaged]]. Nothing is reader-visible until the rename.
    */
  private def stage(fs: FileSystem, root: Path, tag: String,
      df: DataFrame, absorbs: Seq[String],
      targetFiles: Int): (Path, Path) = {
    val staging = new Path(root, s"_compacting-$tag")
    val target = new Path(root, s"batch=compact-$tag")
    df.coalesce(targetFiles).write.mode("overwrite").parquet(staging.toString)
    val out = fs.create(new Path(staging, AbsorbedFile), true)
    try out.write(absorbs.mkString("\n").getBytes("UTF-8")) finally out.close()
    (staging, target)
  }

  /** Step 2 — THE commit point (one rename). */
  private def commitStaged(fs: FileSystem, staging: Path, target: Path): Unit =
    require(fs.rename(staging, target),
      s"store rewrite: rename $staging -> $target failed (concurrent writer?)")

  /** Steps 1-2 together; the caller deletes the absorbed dirs (step 3). */
  private def stageAndCommit(fs: FileSystem, root: Path, tag: String,
      df: DataFrame, absorbs: Seq[String],
      targetFiles: Int): Unit = {
    val (staging, target) = stage(fs, root, tag, df, absorbs, targetFiles)
    commitStaged(fs, staging, target)
  }

  /** Offline compaction: every committed `batch=*` partition is rewritten
    * as one `batch=compact-<tag>` partition of `targetFiles` files, so
    * read amplification returns to O(targetFiles) after thousands of
    * micro-batches. Guarded by the maintenance lease ([[acquireLease]]) —
    * fails loudly if another maintenance run holds the store or a stream
    * wrote within `staleMs`. Safe to re-run after a crash at any point
    * (protocol in the object scaladoc); a run that finds ≤ 1 partition
    * only sweeps leftovers and returns.
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1,
      staleMs: Long = DefaultStaleMs): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    withLease(fs, root, "compact", staleMs) {
      val valid = sweepAndList(fs, root)
      if (valid.length > 1) {
        val names = valid.map(_.getPath.getName).sorted
        val tag = md5Tag(names.mkString("\n"))
        // the rename inside is the commit point: readers now see the
        // compact partition, whose manifest hides `names`
        stageAndCommit(fs, root,
          tag, spark.read.parquet(valid.map(_.getPath.toString): _*), names,
          targetFiles)
        valid.foreach(s => fs.delete(s.getPath, true))
      }
    }
  }

  private def md5Tag(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString

  /** In-place deletion from an at-rest store — the right-to-be-forgotten
    * pass, PARTITION-GRANULAR so its write volume is proportional to the
    * partitions that actually hold doomed rows, not the store size (a
    * GDPR list touching 0.1% of an id-clustered corpus store rewrites
    * 0.1% of it; content-keyed stores like postings scatter doomed rows
    * everywhere and degrade to a full rewrite — which is still one pass
    * over the STORE, never the corpus). Each affected partition is
    * rewritten under the same staged `_compacting-` / rename-commit /
    * `_ABSORBED`-manifest protocol as [[compact]] (object scaladoc), so
    * a crash at ANY step loses nothing and re-running the same delete
    * resumes where it stopped: already-rewritten partitions contain no
    * doomed rows and are skipped. Guarded by the maintenance lease
    * ([[acquireLease]]). Returns the number of rows deleted in THIS run.
    *
    * `keep` must be a deterministic row filter (e.g.
    * `_.filter(...)` or an anti-join against the doomed-id frame) — it
    * is applied per partition, so it must not depend on rows outside the
    * one being rewritten.
    */
  def delete(spark: SparkSession, dir: String,
      keep: DataFrame => DataFrame,
      targetFiles: Int = 1,
      onlyParts: Option[Set[String]] = None,
      staleMs: Long = DefaultStaleMs): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    withLease(fs, root, "delete", staleMs) {
      deleteCore(spark, fs, root, keep, targetFiles, onlyParts)
    }
  }

  /** [[delete]]'s body, lease already held by the caller ([[delete]] or
    * [[deleteIds]] — which must not re-acquire on the same dir).
    */
  private def deleteCore(spark: SparkSession, fs: FileSystem, root: Path,
      keep: DataFrame => DataFrame,
      targetFiles: Int,
      onlyParts: Option[Set[String]]): Long = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    var deleted = 0L
    // when the caller pre-discovered the affected partitions (deleteIds),
    // every listed partition is KNOWN to hold doomed rows: skip the
    // change-detection count and rewrite directly, observing the kept
    // row count during the staging write — 2 scans per partition
    // (count + write) instead of 3 (count + filtered count + write)
    val preDiscovered = onlyParts.isDefined
    for (part <- sweepAndList(fs, root)
        if onlyParts.forall(_.contains(part.getPath.getName))) {
      val df0 = spark.read.parquet(part.getPath.toString)
      val name = part.getPath.getName
      // pre-discovered partitions are rewritten unconditionally, so the
      // pre-filter row count rides the SAME staged write as a second
      // observation below the keep() filter — one scan per partition
      // instead of a count job followed by the write
      val preObs = new org.apache.spark.sql.Observation()
      val df =
        if (preDiscovered)
          df0.observe(preObs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows"))
        else df0
      lazy val beforeCounted = df0.count()
      val proceed = preDiscovered || {
        val doomed = beforeCounted - keep(df0).count()
        require(doomed >= 0, s"delete: keep() grew partition $name")
        doomed > 0
      }
      if (proceed) {
        val obs = new org.apache.spark.sql.Observation()
        // tag from the source partition NAME: a crash-and-rerun restages
        // the same target; chained deletes rename each step (the absorbed
        // name feeds the next tag), so successive operations never collide
        val (staging, target) = stage(fs, root, md5Tag(s"$name:delete"),
          keep(df).observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows")),
          Seq(name), targetFiles)
        val before =
          if (preDiscovered) preObs.get("rows").asInstanceOf[Long]
          else beforeCounted
        val doomed = before - obs.get("rows").asInstanceOf[Long]
        if (doomed < 0) {
          // the contract-violation guard must fire BEFORE the commit
          // rename: the grown rewrite stays an invisible staging orphan
          // (next run sweeps it) and the original partition survives
          fs.delete(staging, true)
          throw new IllegalArgumentException(
            s"delete: keep() grew partition $name")
        }
        commitStaged(fs, staging, target)
        fs.delete(part.getPath, true)
        deleted += doomed
      }
    }
    deleted
  }

  /** Replace the ENTIRE store content with `df`, atomically to readers:
    * one staged partition absorbing every committed partition, committed
    * by the protocol's single rename. For derived halves that must be
    * recomputed as a whole (e.g. a stats row after a postings delete) —
    * NOT for row-level edits, which [[delete]] does partition-granularly.
    * Guarded by the maintenance lease ([[acquireLease]]).
    */
  def replaceAll(spark: SparkSession, dir: String,
      df: DataFrame, targetFiles: Int = 1,
      staleMs: Long = DefaultStaleMs): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) fs.mkdirs(root)
    withLease(fs, root, "replaceAll", staleMs) {
      val valid = sweepAndList(fs, root)
      val names = valid.map(_.getPath.getName).sorted
      stageAndCommit(fs, root, md5Tag("replace:" + names.mkString("\n")), df,
        names, targetFiles)
      valid.foreach(s => fs.delete(s.getPath, true))
    }
  }

  private val ServingPrefix = "serve="
  private val PromotingPrefix = "_promoting-"

  /** Parse `serve=<seq>-<tag>` → (seq, tag); None for anything else. */
  private def servingVersion(name: String): Option[(Long, String)] =
    if (!name.startsWith(ServingPrefix)) None
    else name.stripPrefix(ServingPrefix).split("-", 2) match {
      case Array(seq, tag) if seq.nonEmpty && seq.forall(_.isDigit) =>
        Some((seq.toLong, tag))
      case _ => None
    }

  /** Committed serving versions under `servingDir`, ascending by sequence
    * number (`_SUCCESS` gate, like [[listCommitted]]).
    */
  private def listServing(fs: FileSystem, root: Path): Seq[(Long, String, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_SUCCESS")))
      .flatMap(s => servingVersion(s.getPath.getName)
        .map { case (seq, tag) => (seq, tag, s.getPath) })
      .sortBy(v => (v._1, v._2))

  /** Publish a read-optimized SERVING SNAPSHOT of a store: the committed
    * rows rewritten `partitionBy(partitionCols)` into a versioned
    * directory under `servingDir`, so point reads that filter on those
    * columns prune whole hive partitions statically (the IVF-PQ probe
    * reads `nprobe/nlist` of the files; see
    * [[graft.llm.IvfPq.adcTopKServing]]). The ingest store keeps its
    * append-friendly `batch=*` layout; serving layouts are DERIVED — a
    * promotion never mutates the source, and re-promoting after more
    * batches lands is how a snapshot stays fresh.
    *
    * Commit protocol (same staged-rename discipline as [[compact]]):
    * the snapshot is written to an invisible `_promoting-<seq>-<tag>`
    * staging dir, then ONE rename commits it as `serve=<seq>-<tag>`;
    * readers ([[servingSnapshot]]) always open the highest committed
    * sequence, so a crash at any point leaves the previous snapshot
    * serving and a re-run resumes cleanly (staging orphans are swept,
    * superseded versions are deleted after the new commit — a crash
    * mid-delete leaves old versions the next run sweeps). The tag is the
    * md5 of the absorbed source-partition names, so promoting an
    * UNCHANGED store is an idempotent no-op that returns the live
    * version. Runs under the source store's maintenance lease — a
    * promotion must not race a [[deleteIds]] (it could silently resurrect
    * right-to-be-forgotten rows into the snapshot) or a [[compact]]'s
    * step-3 deletes (it could lose its input files mid-scan); like
    * compaction, schedule it between ingest batches.
    *
    * One file per hive partition (rows are clustered via
    * `repartition(partitionCols)` before the write — at most one task
    * writes each partition value), the right read amplification for
    * point-probe serving. Returns the committed version name, or None if
    * the source store has no committed rows.
    */
  def publishServing(spark: SparkSession, storeDir: String, servingDir: String,
      partitionCols: Seq[String], staleMs: Long = DefaultStaleMs): Option[String] = {
    require(partitionCols.nonEmpty, "publishServing: partitionCols is empty")
    import org.apache.spark.sql.functions.col
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    withLease(fs, root, "publish", staleMs) {
      val valid = sweepAndList(fs, root)
      if (valid.isEmpty) None
      else {
        val sroot = new Path(servingDir)
        if (!fs.exists(sroot)) fs.mkdirs(sroot)
        // sweep promotions that died before their rename-commit
        fs.listStatus(sroot).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(PromotingPrefix))
          .foreach(s => fs.delete(s.getPath, true))
        val names = valid.map(_.getPath.getName).sorted
        val tag = md5Tag("serve:" + names.mkString("\n"))
        val versions = listServing(fs, sroot)
        val live = versions.lastOption
        val committedName = live match {
          case Some((seq, liveTag, _)) if liveTag == tag =>
            s"$ServingPrefix$seq-$tag" // source unchanged — no-op
          case _ =>
            val seq = live.map(_._1 + 1).getOrElse(1L)
            val target = new Path(sroot, s"$ServingPrefix$seq-$tag")
            val staging = new Path(sroot, s"$PromotingPrefix$seq-$tag")
            spark.read.parquet(valid.map(_.getPath.toString): _*)
              .repartition(partitionCols.map(col): _*)
              .write.partitionBy(partitionCols: _*)
              .mode("overwrite").parquet(staging.toString)
            commitStaged(fs, staging, target)
            target.getName
        }
        // superseded versions die only after the new one is committed
        listServing(fs, sroot).filter(_._3.getName != committedName)
          .foreach(v => fs.delete(v._3, true))
        Some(committedName)
      }
    }
  }

  /** The live serving snapshot under `servingDir` — the highest committed
    * `serve=*` version ([[publishServing]]'s commit discipline guarantees
    * it is complete) — with its hive partition columns readable and
    * prunable. None until a first promotion commits.
    */
  def servingSnapshot(spark: SparkSession,
      servingDir: String): Option[DataFrame] = {
    val root = new Path(servingDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listServing(fs, root).lastOption
      .map(v => spark.read.parquet(v._3.toString))
  }

  /** [[delete]] specialised to the common shape: drop every row whose
    * `keyCol` appears in `ids` (a one-column frame; extra columns are
    * ignored). The id frame is evaluated ONCE — distinct ids are
    * collected to the driver (bounded by `maxIds`; a deletion list is
    * small by nature — fail loudly rather than silently recompute an
    * expensive derived frame once per partition) and re-emitted as a
    * local frame, so the semi-join discovery pass and every per-
    * partition anti-join see a broadcast-sized local relation no matter
    * how the caller derived `ids`.
    *
    * Because the doomed set is explicit (unlike [[delete]]'s opaque
    * `keep`), affected partitions are DISCOVERED first in one semi-join
    * pass over the whole store (`input_file_name` → partition dir), so
    * untouched partitions are never anti-join-scanned individually —
    * with 10⁴ partitions and a deletion list touching 3, the per-
    * partition work is 3 rewrites, not 10⁴ scans. The collected file
    * list is bounded by the store's file count (the same order as the
    * directory listing the protocol already does). Guarded by the
    * maintenance lease ([[acquireLease]]).
    */
  def deleteIds(spark: SparkSession, dir: String, keyCol: String,
      ids: DataFrame, targetFiles: Int = 1,
      staleMs: Long = DefaultStaleMs, maxIds: Int = 1000000): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name}
    val distinctIds = ids.select(col(ids.columns.head).as("__doomed_id")).distinct()
    val collected = distinctIds.limit(maxIds + 1).collect()
    require(collected.length <= maxIds,
      s"deleteIds: more than $maxIds distinct ids — for bulk rewrites of " +
        "this size use delete() with a persisted anti-join frame")
    val doomed = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), distinctIds.schema))
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    withLease(fs, root, "deleteIds", staleMs) {
      // sweep crash leftovers BEFORE the early-outs below, so a re-run of
      // a delete whose predecessor died mid-step-3 still finishes cleanup
      val parts = sweepAndList(fs, root).map(_.getPath.toString)
      if (parts.isEmpty) 0L
      else {
        val affected = spark.read.parquet(parts: _*)
          .select(col(keyCol), input_file_name().as("__f"))
          .join(doomed, col(keyCol) === col("__doomed_id"), "left_semi")
          .select("__f").distinct().collect()
          .map(r => new Path(r.getString(0)).getParent.getName)
          .toSet
        if (affected.isEmpty) 0L
        else deleteCore(spark, fs, root,
          df => df.join(doomed, df(keyCol) === col("__doomed_id"), "left_anti"),
          targetFiles, onlyParts = Some(affected))
      }
    }
  }

  /** Right-to-be-forgotten over both halves of a dedup store: `ids`' kept
    * corpus rows (keyed `idCol`) and their signatures (keyed `__id`), each
    * through [[deleteIds]]. Afterwards a near-duplicate of a deleted
    * document is ADMITTED (nothing remains to collide with) — the store
    * behaves as if the document had never been ingested.
    *
    * The order is privacy-first: the corpus payload (the legal
    * deliverable) goes before the signatures, so a crash or a refused
    * lease between the two halves leaves at worst a ghost signature,
    * never the reverse window where the payload lingers while its
    * near-dups are already admitted. In the perceptual stores the
    * signature is the whole decision statistic, so a ghost still BLOCKS
    * near-dups of the forgotten object until a re-run finishes the job;
    * the text store verifies each candidate against the kept text, so
    * there a ghost blocks nothing. Re-running converges either way. Run
    * while no stream is writing. Returns (signature rows, corpus rows)
    * removed.
    */
  def deleteDocs(spark: SparkSession, storeDir: String, corpusDir: String,
      idCol: String, ids: DataFrame): (Long, Long) = {
    val corpusRemoved = deleteIds(spark, corpusDir, idCol, ids)
    val sigRemoved = deleteIds(spark, storeDir, "__id", ids)
    (sigRemoved, corpusRemoved)
  }

  /** Stable-per-checkpoint-INSTANCE, distinct-across-queries run tag: a
    * random tag minted once and stored in a `graft-run-tag` file inside
    * the checkpoint dir, so it shares the checkpoint's exact lifecycle.
    *
    * Why the tag cannot be a pure function of the checkpoint PATH (the
    * pre-r10 scheme): batchIds restart at 0 whenever the checkpoint is
    * wiped, and after a compaction the old `batch=<tag>-0` name lives on
    * in a committed `_ABSORBED` manifest — a path-derived tag would remint
    * the SAME name for the fresh query's first batch, making its new rows
    * reader-invisible and letting the next compaction sweep delete them.
    * A per-instance tag makes a wiped-and-restarted query a new writer
    * with fresh names, while a restart with the checkpoint INTACT re-reads
    * the stored tag and keeps the replay-overwrites-itself idempotency.
    */
  def runTagFor(spark: SparkSession, checkpointDir: String): String = {
    val p = new Path(checkpointDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tagFile = new Path(p, "graft-run-tag")
    def readTag(): Option[String] =
      if (!fs.exists(tagFile)) None
      else {
        // read to EOF (readSmallFile loops) — a single short read() of an
        // INTACT tag must not fail the length gate below, or an intact
        // checkpoint would mint a second tag and a replayed uncommitted
        // batch would commit beside its previous attempt's partition
        val s = readSmallFile(fs, tagFile).trim
        // a torn write (crash mid-create) re-mints rather than adopting
        // a truncated tag that could collide
        Some(s).filter(t => t.length == 12 && t.forall(c => "0123456789abcdef".contains(c)))
      }
    readTag().getOrElse {
      val fresh = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      if (!fs.exists(p)) fs.mkdirs(p)
      val out = fs.create(tagFile, true)
      try out.write(fresh.getBytes("UTF-8")) finally out.close()
      fresh
    }
  }

  /** Start a streaming query over `docs` that runs `batchFn(runTag)` on
    * every micro-batch, with `runTag` from [[runTagFor]] (stable across
    * restarts of this checkpoint, so replays overwrite their own
    * partitions; distinct across queries). `batchFn` is any store's batch
    * function with its run tag left open, e.g.
    * `tag => IncrementalDedupStream.batchFunction(..., runTag = tag)`.
    */
  def start(docs: DataFrame, checkpointDir: String)(
      batchFn: String => (DataFrame, Long) => Any): StreamingQuery = {
    val fn = batchFn(runTagFor(docs.sparkSession, checkpointDir))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => fn(batch, batchId); () }
      .start()
  }
}
