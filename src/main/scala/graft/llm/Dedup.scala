package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication strategies for large text corpora. The scale contract:
  * every method is a constant number of shuffles keyed so AQE can coalesce
  * and skew-split — no driver-side state, no collect, no per-row Scala.
  *
  *  - exact: hash-groupBy on content key (1 shuffle)
  *  - MinHash+LSH: shingle → signature (map-only) → band-bucket self-join
  *    (shuffle on band key) → similarity filter → anti-join survivors
  *  - SimHash: token hashes → 32-bit signature (1 groupBy) → banded hamming join
  *  - n-gram Jaccard: exact set similarity for candidate verification
  *  - embedding cosine near-dup: hyperplane-LSH bucket join + exact verify
  */
object Dedup {

  /** Exact dedup on a content key, keeping the smallest id per group.
    * Returns the surviving rows of `df`.
    *
    * min_by aggregate, not `row_number() over (partition by key)`: both
    * shuffle once on the key, but the window adds a per-partition sort and
    * has no partial aggregation — every duplicate row crosses the wire. The
    * aggregate combines map-side, so a dup-heavy corpus (the whole point of
    * dedup) shrinks to one row per (key, input partition) before the
    * exchange, and nothing is sorted.
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.groupBy(keyCols: _*)
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** The keeper IDS of [[exact]] — same min-id-per-key-group rule, but
    * only the id survives, so the aggregation buffer is a primitive long
    * and the plan stays a map-side-combined HashAggregate. [[exact]]'s
    * struct-valued `min_by` has no mutable buffer and falls to a
    * SortAggregate that sorts every row's FULL struct — wasted work when
    * the caller (a funnel counting keepers, an anti-join seed) never reads
    * the other columns, which Catalyst cannot prune out of an aggregate
    * function.
    */
  def exactIds(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame =
    df.groupBy(keyCols: _*).agg(min(col(idCol)).as(idCol)).select(idCol)

  /** Skew fuse for LSH bucket self-joins: drop buckets holding more than
    * `cap` members before pairing. A single hot bucket (boilerplate text, a
    * mega-cluster of identical docs) otherwise emits O(n²) candidate pairs —
    * AQE skew-split rebalances partitions but cannot shrink a quadratic
    * join output. Cost: one extra count aggregate on the bucket key (map-side
    * combined, uniform) and a broadcast anti-join (the hot set is tiny by
    * construction); the pair join output is then bounded by cap²/2 per
    * bucket. Dropped buckets lose near-dup recall only for members of
    * mega-clusters, which exact dedup handles first. `cap <= 0` disables.
    */
  private[llm] def pruneHotBuckets(banded: DataFrame, keyCol: String, cap: Int): DataFrame =
    if (cap <= 0) banded
    else {
      val hot = banded.groupBy(keyCol).count()
        .filter(col("count") > cap).select(col(keyCol).as("__hot"))
      banded.join(hot, col(keyCol) === col("__hot"), "left_anti")
    }

  /** The one LSH candidate join. `batch` holds banded rows `(bk, __id,
    * payload…)`; the optional `store` holds at-rest rows of the same
    * shape. Each side passes the [[pruneHotBuckets]] fuse. Returns
    * `(idA, idB, payloadA…, payloadB…)` (payload column `p` as `pA` and
    * `pB`) for every pair sharing a bucket in which the killer `idA` is a
    * store row, in either id order (the store is canonical: arrival, not
    * id, decides), or a batch row with a smaller id. A null id kills
    * nothing and is never killed. A pair sharing several buckets comes
    * out once per bucket: callers verify first and dedup after.
    *
    * With a store, the killer side is the union of the batch rows and the
    * store rows (marked `__st`), so the batch is probed by ONE join, not a
    * store join plus a self-join, and its banded rows feed the probe and
    * the union branch from one shared exchange. The explicit not-null
    * filter pins the inferred filters, so every consumer of one decider's
    * pairs plans the same subtree and shares its exchange. The reuse
    * point is the caller's: an exchange of the batch's signatures on
    * `__id` below the banding, which the store side never crosses.
    */
  private[llm] def candidatePairs(batch: DataFrame, store: Option[DataFrame],
      maxBucketSize: Int): DataFrame = {
    val payload = batch.columns.toSeq.filterNot(c => c == "bk" || c == "__id")
    def named(df: DataFrame, key: String, id: String, sfx: String): DataFrame =
      df.select(col("bk").as(key) +: col("__id").as(id) +:
        payload.map(p => col(p).as(p + sfx)): _*)
    val bb = pruneHotBuckets(batch, "bk", maxBucketSize)
    val batchKillers = named(bb, "bk2", "idA", "A")
    val smaller = col("idA") < col("idB")
    val (killers, kills) = store.fold((batchKillers, smaller)) { st =>
      (batchKillers.withColumn("__st", lit(false)).unionByName(
          named(pruneHotBuckets(st, "bk", maxBucketSize), "bk2", "idA", "A")
            .withColumn("__st", lit(true))),
        col("__st") || smaller)
    }
    named(bb, "bk", "idB", "B")
      .join(killers, col("bk") === col("bk2") && kills)
      .filter(col("idA").isNotNull && col("idB").isNotNull)
      .select(Seq("idA", "idB").map(col) ++ payload.map(p => col(p + "A")) ++
        payload.map(p => col(p + "B")): _*)
  }

  // --- MinHash ---

  /** MinHash signature of a text column as `array<long>` of length
    * `numPerm`, via the native [[graft.functions.MinHashSig]] Catalyst
    * expression over the token array: token hashes + k-gram combine + all
    * permutation minima in one codegen'd loop, no shingle strings ever
    * materialized. Empty/too-short text → all-P sentinel.
    *
    * Map-only: ZERO shuffles. Earlier formulations either evaluated
    * interpreted (HOF lambdas: ~200s for 66k docs at sf0.1) or exploded
    * shingle strings into a groupBy(id) — codegen'd but allocating every
    * k-gram string and shuffling one row per document; at 100 TB that
    * exchange is the whole cost.
    */
  private def minhashSignature(text: Column, numPerm: Int = 64, shingleK: Int = 3,
      seed: Long = 42L): Column =
    graft.functions.HashExpressions.minhash(
      TextFunctions.tokens(text), numPerm, shingleK, seed)

  /** Per-document MinHash signatures: (__id, __sig array<long>). Documents
    * with no shingles (< shingleK tokens) are dropped — an all-P sentinel
    * signature would otherwise band-match every other empty document.
    * Output: (__id, __sig array<long> of length numPerm).
    *
    * The no-shingle gate is `size(tokens) >= shingleK` BEFORE signing, not
    * a sentinel check on the signature after: a post-hoc
    * `element_at(__sig, 1) < P` filter gets predicate-pushed below the
    * projection and inlines the minhash expression into FilterExec —
    * computing the whole signature TWICE per row. Filtering on the cheap
    * token count pushes a cheap predicate toward the scan instead and
    * leaves exactly one minhash evaluation in the projection.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, numPerm: Int = 64,
      shingleK: Int = 3, seed: Long = 42L): DataFrame =
    df.filter(size(TextFunctions.tokens(col(textCol))) >= shingleK)
      .select(col(idCol).as("__id"),
        minhashSignature(col(textCol), numPerm, shingleK, seed).as("__sig"))

  /** Candidate near-dup pairs via banded LSH over the MinHash signature.
    * `bands` bands of `numPerm/bands` rows; two docs collide when any band
    * agrees. Output: (idA, idB, est_jaccard) with idA < idB, where
    * est_jaccard is the fraction of agreeing signature positions.
    *
    * Plan shape: explode-shingle signature agg (1 uniform shuffle) →
    * explode to (doc × bands) rows → self-equi-join on (band, bandHash) →
    * distinct pairs. The join key is a 64-bit hash, so partitioning is
    * uniform except for true duplicate clusters, which AQE skew-split
    * handles; the two join sides share one ReusedExchange.
    */
  /** (id, sig) frame → (id, sig, bk) with one exploded band-key struct per
    * band — the banding expression shared by the self-join dedup here and
    * the bipartite fuzzy decontamination (Decontaminate.flaggedFuzzy), so
    * the 16×4 recall contract lives in exactly one place. Note the single
    * reference to __sig (vs an N-way array() that would inline the
    * signature expression N times under projection collapse).
    */
  private[llm] def bandKeys(sigd: DataFrame, bands: Int, r: Int): DataFrame =
    sigd.select(col("__id"), col("__sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"), xxhash64(slice(col("__sig"), b * r + 1, lit(r))).as("bh"))))
        .as("bk"))

  def minhashPairs(df: DataFrame, idCol: String, textCol: String, numPerm: Int = 64,
      bands: Int = 16, shingleK: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 0): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    // One explicit exchange of the compact (id, sig) rows (~8·numPerm B/doc)
    // right after the map-only signature computation: both self-join sides
    // sit above it, so ReuseExchange materializes signatures ONCE instead of
    // re-shingling + re-hashing the corpus per side. (The banding/explode
    // above the exchange is recomputed per side, but that's cheap slices.)
    val sigd = minhashSignatures(df, idCol, textCol, numPerm, shingleK, seed)
      .repartition(col("__id"))
    // score per band collision (codegen'd agreeFrac; ≤ `bands` repeats per
    // pair), THEN dedup — the aggregation carries one double instead of two
    // signatures, keeping it a streaming HashAggregate instead of a
    // SortAggregate over arrays
    candidatePairs(bandKeys(sigd, bands, r), None, maxBucketSize)
      .select(col("idA"), col("idB"),
        graft.functions.HashExpressions.agreeFrac(col("__sigA"), col("__sigB"))
          .as("est_jaccard"))
      .groupBy("idA", "idB").agg(first("est_jaccard").as("est_jaccard"))
  }

  /** MinHash-LSH dedup with exact verification — the two-stage shape
    * production pipelines run: banded LSH proposes candidate pairs, then
    * the EXACT shingle-Jaccard of each candidate decides keep/drop (docs
    * with a verified jaccard ≥ threshold against a smaller id die). The
    * verification join touches only candidate pairs, so the exact-similarity
    * cost is proportional to collisions, not corpus². The output is
    * independent of signature noise: with enough bands for full recall at
    * the threshold, it equals exact all-pairs Jaccard dedup — which is
    * what makes it checkable by an exact SQL oracle. It is
    * [[incrementalDedupVerified]] against an empty store.
    */
  def minhashDedupVerified(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numPerm: Int = 64, bands: Int = 16, shingleK: Int = 3,
      maxBucketSize: Int = 0): DataFrame =
    incrementalKeptAndSigs(df, idCol, textCol, None, threshold, numPerm, bands,
      shingleK, 42L, maxBucketSize)._1

  /** Incremental near-dup dedup of a NEW batch against an at-rest
    * signature store — the shape a 100 TB pipeline actually runs month
    * over month: the accumulated corpus is represented ONLY by its
    * persisted MinHash signatures (`atRestSigs`, the `(__id, __sig)`
    * output of [[minhashSignatures]] written once to parquet; ~8·numPerm
    * bytes per document, ~0.01% of the corpus bytes at 4 KB/doc), so
    * deduplicating a new crawl never re-shingles the old data. A batch
    * document dies when exact verification ties it to ANY at-rest
    * document (the store is canonical — arrival order, not id order,
    * decides) or to a smaller-id batch document (the
    * [[minhashDedupVerified]] rule within the batch).
    *
    * Exact verification needs the text of the at-rest documents that
    * actually collided, so `atRestDocs` (the old corpus table) is also
    * taken. Its rows are filtered to the collision ids at the scan, by a
    * broadcast semi-join (the ids are bounded by the batch, not the
    * corpus): no old text crosses an exchange and only collided texts
    * are shingled, though the scan still reads the table once per call,
    * and every store signature is banded once per call.
    * Decisions are exact-jaccard (not the signature
    * estimate), so with full banding recall at the threshold the result
    * equals ground-truth all-pairs dedup and a SQL oracle can restate it.
    *
    * Id spaces MUST be disjoint between the store and the batch (global
    * document ids — the invariant any multi-crawl pipeline already
    * keeps): verification unions both texts under one id column.
    *
    * Plan shape (the 100 TB contract): the batch crosses two exchanges,
    * both hash-partitioned by id, and each is computed once and reused:
    * its signatures (map-only; read by the [[candidatePairs]] join and,
    * for a store writer, the kept signatures, so each document is signed
    * once) and its rows (read by the collision filter and the final
    * kill). The candidate pairs are computed once and feed both the
    * collision ids and the verify join. The join is keyed on the 64-bit
    * band hash (uniform up to true-duplicate clusters — `maxBucketSize`
    * caps degenerate bands on BOTH sides); nothing corpus-sized is
    * broadcast, collected, or windowed.
    */
  def incrementalDedupVerified(batch: DataFrame, idCol: String, textCol: String,
      atRestSigs: DataFrame, atRestDocs: DataFrame, threshold: Double = 0.7,
      numPerm: Int = 64, bands: Int = 16, shingleK: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 0): DataFrame =
    incrementalKeptAndSigs(batch, idCol, textCol, Some((atRestSigs, atRestDocs)),
      threshold, numPerm, bands, shingleK, seed, maxBucketSize)._1

  /** The MinHash decider behind [[incrementalDedupVerified]] (`store` =
    * its `(atRestSigs, atRestDocs)`) and [[minhashDedupVerified]] (no
    * store), for a store writer too: the kept batch rows, and the
    * `(__id, __sig)` rows of those of them with at least `shingleK`
    * tokens, taken from the signatures the candidate search computed, so
    * no kept row is signed twice. One signature row per signed batch row,
    * as signing the kept rows afresh would give, even for a repeated id.
    */
  private[graft] def incrementalKeptAndSigs(batch: DataFrame, idCol: String,
      textCol: String, store: Option[(DataFrame, DataFrame)],
      threshold: Double, numPerm: Int, bands: Int, shingleK: Int, seed: Long,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    // the batch's two exchanges (see Plan shape): its signatures here,
    // its rows below, planned by the two shuffle joins on the id
    val bs = minhashSignatures(batch, idCol, textCol, numPerm, shingleK, seed)
      .repartition(col("__id"))
    def banded(sigs: DataFrame): DataFrame =
      bandKeys(sigs.select(col("__id"), col("__sig")), bands, r)
    val cand = candidatePairs(banded(bs), store.map { case (sigs, _) => banded(sigs) },
        maxBucketSize)
      .select("idA", "idB").distinct()
    // collision ids are bounded by the batch, not the corpus. Broadcast to
    // the store side, they filter the store's text at its scan, before any
    // exchange; the batch side keeps the shuffle join on the id, whose
    // exchange the kill below reuses. One exact-shingle pass then covers
    // only the collided documents. With no store the batch is verified
    // whole: there the collision filter's extra aggregate and join cost
    // more than they save (at sf0.01 the NearDupDedup funnels ran 8-10
    // more stages, and they and q_dedup_minhash ran about 1.3x slower)
    val candIds = cand.select(explode(array(col("idA"), col("idB"))).as("__cid")).distinct()
    def texts(df: DataFrame): DataFrame =
      df.select(col(idCol).as("__uid"), col(textCol).as("__utext"))
    def collided(df: DataFrame, ids: DataFrame): DataFrame =
      texts(df).join(ids, col("__uid") === col("__cid"), "left_semi")
    val verified = store.fold(texts(batch)) { case (_, docs) =>
      collided(docs, broadcast(candIds)).unionByName(collided(batch, candIds)) }
    val doomed = verifyJaccard(cand, verified, "__uid", "__utext", shingleK,
        minJaccard = threshold)
      .filter(col("jaccard") >= threshold)
      .select(col("idB").as("__doomed")).distinct()
    // the signature half is an outer join plus a null filter, not a
    // left_anti join: the optimizer pushes an anti join below `bs`'s
    // repartition, which would sign the batch a second time
    (batch.join(doomed, col(idCol) === col("__doomed"), "left_anti"),
      bs.join(doomed, col("__id") === col("__doomed"), "left_outer")
        .filter(col("__doomed").isNull).select("__id", "__sig"))
  }

  /** Per-row hyperplane-LSH signatures — the embedding analogue of
    * [[minhashSignatures]], and the at-rest store format for
    * [[incrementalEmbeddingDedup]]: (__id, __sigs array<long>, one
    * nBits-bit signature per seed). Map-only, ~8·|seeds| B per vector
    * at rest.
    */
  def embeddingSignatures(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int = 12, seeds: Seq[Long] = Seq(42L, 1042L)): DataFrame =
    df.select(col(idCol).as("__id"),
      graft.functions.VectorFunctions
        .hyperplaneSignatures(col(vecCol), dim, nBits, seeds).as("__sigs"))

  /** [[incrementalDedupVerified]]'s embedding sibling — the semantic
    * month-over-month shape: the accumulated corpus participates as its
    * persisted hyperplane signatures ([[embeddingSignatures]] written
    * once); a batch vector dies on an exact-cosine-verified match
    * (≥ threshold) against ANY store vector (either id order — the store
    * is canonical) or a smaller-id batch vector. Store VECTORS are
    * read behind a semi-join on collision ids only; batch signatures are
    * exchanged once and reused by both sides of the [[candidatePairs]]
    * join; id spaces must be disjoint, and the store
    * must have been written with the SAME (dim, nBits, seeds) — different
    * hyperplanes produce incomparable signatures, silently costing all
    * recall against the store.
    *
    * Sizing contract (the candidate join is O(bucket²) per bucket, so the
    * average bucket must stay small): pick `nBits` so that
    * `2^nBits ≳ corpusSize / 64` — e.g. 12 bits for ≤ ~256 K vectors, 20
    * bits at 10⁸, 24 at 10⁹. Unlike the text path (whose 16-band ×
    * 64-perm MinHash keyspace is astronomically larger than any corpus),
    * the hyperplane keyspace here is EXACTLY `2^nBits` per seed, so an
    * under-sized `nBits` degrades quadratically, not gracefully.
    * `maxBucketSize` is the skew fuse on top of correct sizing, ON by
    * default (4096 ≈ 64× the target average): a degenerate mega-cluster
    * bucket is dropped rather than allowed to emit O(bucket²) pairs; its
    * members lose near-dup recall only against each other, which exact /
    * SemDeDup passes handle first. Pass `maxBucketSize = 0` to disable.
    */
  def incrementalEmbeddingDedup(batch: DataFrame, idCol: String, vecCol: String,
      atRestSigs: DataFrame, atRestVecs: DataFrame, dim: Int,
      threshold: Double = 0.95, nBits: Int = 12, seeds: Seq[Long] = Seq(42L, 1042L),
      maxBucketSize: Int = 4096): DataFrame = {
    val bs = embeddingSignatures(batch, idCol, vecCol, dim, nBits, seeds)
      .repartition(col("__id"))
    def banded(sigs: DataFrame): DataFrame =
      sigs.select(col("__id"), posexplode(col("__sigs")))
        .select(col("__id"),
          struct(col("pos").as("s"), col("col").as("sig")).as("bk"))
    val cand = candidatePairs(banded(bs),
        Some(banded(atRestSigs.select(col("__id"), col("__sigs")))), maxBucketSize)
      .select("idA", "idB").distinct()
    val candIds = cand.select(col("idA").as("__cid"))
      .unionByName(cand.select(col("idB").as("__cid"))).distinct()
    // exact-cosine verification over ONLY the vectors that collided; the
    // repartition is the reuse point for the two join sides
    val vecs = atRestVecs.select(col(idCol).as("__uid"), col(vecCol).as("__uv"))
      .unionByName(batch.select(col(idCol).as("__uid"), col(vecCol).as("__uv")))
      .join(candIds, col("__uid") === col("__cid"), "left_semi")
      .repartition(col("__uid"))
    val doomed = cand
      .join(vecs.select(col("__uid").as("idA"), col("__uv").as("vA")), "idA")
      .join(vecs.select(col("__uid").as("idB"), col("__uv").as("vB")), "idB")
      .filter(graft.functions.VectorFunctions
        .cosineFast(col("vA"), col("vB")) >= threshold)
      .select(col("idB").as("__doomed")).distinct()
    batch.join(doomed, col(idCol) === col("__doomed"), "left_anti")
  }

  // --- SimHash ---

  /** 32-bit SimHash of the token stream: bit j of the result is the sign of
    * Σ_tokens (bit j of xxhash64(token) ? +1 : -1). Native
    * [[graft.functions.SimHash64]] Catalyst expression — the whole
    * signature in one codegen'd pass per row, no explode, no shuffle.
    * Empty text → signature 0.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, nBits: Int = 32): DataFrame =
    df.select(col(idCol),
      graft.functions.HashExpressions.simhash(
        TextFunctions.tokens(col(textCol)), nBits).as("simhash"))

  /** SimHash near-dup pairs: docs whose signatures are within `maxHamming`
    * bits. Banding: split the signature into `maxHamming + pieces` chunks —
    * a pair within the radius leaves at least `pieces` chunks untouched
    * (pigeonhole), so equi-joining on every `pieces`-sized chunk
    * COMBINATION finds all candidates; verify with bit_count(xor).
    *
    * `pieces` is the selectivity dial (the multi-piece table construction
    * of Manku et al. 2007): pieces=1 joins on single wide chunks; pieces=2
    * emits C(chunks, 2) combination keys per doc — more explode rows, but
    * each key carries ~2× the bits. The candidate SET is identical for any
    * pieces (it is defined by the hamming radius, which the bit_count
    * filter applies exactly); what the dial changes is the COLLISION
    * volume the join must reject — on corpora with near-independent
    * signature bits (DedupSimilaritySpec's hash-mixed-vocabulary fixture)
    * pieces=2 shrinks collisions by an order of magnitude, while on the
    * driver's shared-template corpus the chunk agreements are so
    * correlated the volume barely moves.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, nBits: Int = 32,
      maxHamming: Int = 3, maxBucketSize: Int = 0, pieces: Int = 1,
      minSizeRatio: Double = 0.0, sizeNgram: Int = 3): DataFrame = {
    val banded = simhashBanded(df, idCol, textCol, nBits, maxHamming, pieces,
      minSizeRatio, sizeNgram)
    val sizeGate = if (minSizeRatio <= 0) lit(true)
      else col("__nA") >= col("__nB") * minSizeRatio &&
        col("__nB") >= col("__nA") * minSizeRatio
    candidatePairs(banded, None, maxBucketSize)
      .filter(sizeGate)
      .select(col("idA"), col("idB"),
        bit_count(col("simhashA").bitwiseXOR(col("simhashB"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("idA", "idB").agg(first("hamming").as("hamming"))
  }

  /** The banded (bucket-keyed) signature table behind [[simhashPairs]] —
    * package-visible so specs can measure collision volume per `pieces`.
    */
  private[graft] def simhashBanded(df: DataFrame, idCol: String, textCol: String,
      nBits: Int, maxHamming: Int, pieces: Int,
      minSizeRatio: Double = 0.0, sizeNgram: Int = 3): DataFrame = {
    // minSizeRatio > 0 (exact pre-gate for jaccard-thresholded callers:
    // jaccard ≤ min(|A|,|B|)/max(|A|,|B|), so ratio < threshold can never
    // reach it) adds ONE scalar per row — the distinct-shingle-set size —
    // and prunes collision rows inside the join, before the hamming
    // filter, dedup exchange, and any downstream array-carrying verify.
    val withSize =
      if (minSizeRatio <= 0) simhash(df, idCol, textCol, nBits)
      else df.select(col(idCol),
        graft.functions.HashExpressions.simhash(
          TextFunctions.tokens(col(textCol)), nBits).as("simhash"),
        size(array_distinct(transform(TextFunctions.shingles(col(textCol), sizeNgram),
          g => xxhash64(g)))).cast("double").as("__n"))
    val sizeCols = if (minSizeRatio <= 0) Nil else Seq(col("__n"))
    // the self-join's reuse point: one exchange of (id, long) rows
    // materializes the signatures once for both join sides
    hammingBanded(
      withSize.select(col(idCol).as("__id") +: col("simhash") +: sizeCols: _*)
        .repartition(col("__id")),
      "simhash", nBits, maxHamming, pieces)
  }

  /** Pigeonhole banding over ANY pre-computed long signature frame
    * (`(__id, <sigName>[, extras])`): split the signature's low `nBits`
    * into `maxHamming + pieces` chunks — a pair within the radius leaves
    * at least `pieces` chunks untouched, so every `pieces`-sized chunk
    * COMBINATION becomes a bucket key; extras ride through. Shared by
    * the text simhash path, [[hammingPairs]]'s generic signatures and the
    * incremental Hamming deciders. Map-only: the reuse point (an exchange
    * of the batch signatures on `__id`) is the caller's.
    */
  private[graft] def hammingBanded(sigFrame: DataFrame, sigName: String,
      nBits: Int, maxHamming: Int, pieces: Int): DataFrame = {
    require(pieces >= 1, s"pieces must be >= 1: $pieces")
    val chunks = maxHamming + pieces
    require(chunks <= nBits, s"maxHamming+pieces=$chunks exceeds signature width $nBits")
    // chunk widths cover ALL nBits: the first (nBits % chunks) chunks take an
    // extra bit, so no high bits escape the pigeonhole argument for any
    // (nBits, maxHamming) combination
    val base = nBits / chunks
    val widths = (0 until chunks).map(c => base + (if (c < nBits % chunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val passthrough = sigFrame.columns.filterNot(_ == "__id").map(col).toSeq
    def chunkVal(c: Int): Column = {
      // width 64 (nBits=64, maxHamming=0): (1L<<64)-1 wraps to 0 under
      // Scala's mod-64 shift and would hash every doc to ONE bucket —
      // use the all-ones mask explicitly
      val mask = if (widths(c) >= 64) -1L else (1L << widths(c)) - 1
      shiftright(col(sigName), offsets(c)).bitwiseAND(mask)
    }
    val combos = (0 until chunks).combinations(pieces).toSeq
    // bucket key: the combo id + its chunk values folded into ONE long via
    // xxhash64 — a primitive equi-join key that stays inside whole-stage
    // codegen, instead of a struct<int, array<long>> whose array equality
    // falls off the codegen'd hash-join path. Equal real keys hash equal
    // (recall preserved); a 64-bit hash collision only ADDS a candidate
    // row, which the exact bit_count filter rejects — precision intact.
    sigFrame.select(col("__id") +:
      explode(array(combos.zipWithIndex.map { case (ix, cid) =>
        xxhash64(lit(cid) +: ix.map(chunkVal): _*)
      }: _*)).as("bk") +: passthrough: _*)
  }

  /** Hamming near-dup pairs over ANY pre-computed 64-bit signature column
    * — the [[simhashPairs]] pigeonhole machinery generalized beyond text:
    * perceptual image hashes ([[Multimodal.aHash]]/`dHash`/`pHash`),
    * audio fingerprints ([[Multimodal.audioFingerprint]]), binary sign
    * patterns — any per-row long whose small Hamming distance means
    * "near-duplicate". Returns `(idA, idB, hamming)` for pairs within
    * `maxHamming` (idA < idB). The signature must occupy the LOW `nBits`
    * of the long (all 64 for the image/audio hashes).
    *
    * Scale contract = simhashPairs': one (id, long) exchange reused by
    * both self-join sides, bucket keys from chunk combinations (the
    * candidate SET is defined by the radius alone — `pieces` only trades
    * explode rows against collision volume), hot-bucket fuse available,
    * exact `bit_count` verification, no corpus-sized anything.
    */
  def hammingPairs(df: DataFrame, idCol: String, sigCol: Column, nBits: Int = 64,
      maxHamming: Int = 3, maxBucketSize: Int = 0, pieces: Int = 1): DataFrame = {
    // null signatures can't be near anything, and unfiltered they'd all
    // collide into #chunks degenerate buckets (hash functions skip null
    // children) — pure candidate-join volume the bit_count filter then
    // rejects row by row
    val banded = hammingBanded(
      df.select(col(idCol).as("__id"), sigCol.cast("long").as("__hsig"))
        .filter(col("__hsig").isNotNull)
        .repartition(col("__id")),
      "__hsig", nBits, maxHamming, pieces)
    candidatePairs(banded, None, maxBucketSize)
      .select(col("idA"), col("idB"),
        bit_count(col("__hsigA").bitwiseXOR(col("__hsigB"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("idA", "idB").agg(first("hamming").as("hamming"))
  }

  /** Incremental Hamming dedup against an at-rest SIGNATURE store — the
    * [[incrementalDedupVerified]] shape for the perceptual tier (image
    * pHash/dHash/aHash, audio fingerprints), where the signature IS the
    * decision statistic, so no stored payloads are ever re-read: a batch
    * row dies when its signature is within `maxHamming` of ANY store
    * signature (either id order — the store is canonical) or of a
    * smaller-id batch signature. `batchSigs` is the batch's `(__id,
    * __hsig)` frame (computed by the caller — perceptual hashes come out
    * of the typed decode path, not a Column); `atRestSigs` the store's.
    * Returns the surviving batch rows; null signatures kill nothing and
    * never die (see [[hammingPairs]]).
    *
    * Plan shape: the batch signatures cross one exchange on `__id`, read
    * by both sides of the [[candidatePairs]] join; an expensive upstream
    * signature computation (media decode, perceptual hash) still belongs
    * in a frame the CALLER persists, as
    * [[graft.streaming.PerceptualDedupStream.batchFunction]] does. The
    * store's signatures are banded at their scan and cross only the
    * bucket exchange. The join keys on the 64-bit bucket hash;
    * verification is the exact `bit_count` — nothing corpus-sized
    * collects or broadcasts.
    */
  def incrementalHammingDedup(batch: DataFrame, idCol: String,
      batchSigs: DataFrame, atRestSigs: DataFrame, nBits: Int = 64,
      maxHamming: Int = 3, maxBucketSize: Int = 0, pieces: Int = 1): DataFrame = {
    def signed(df: DataFrame): DataFrame =
      df.select(col("__id"), col("__hsig").cast("long").as("__hsig"))
        .filter(col("__hsig").isNotNull)
    hammingKept(batch, idCol, signed(batchSigs), signed(atRestSigs), "__hsig",
      bit_count(col("__hsigA").bitwiseXOR(col("__hsigB"))) <= maxHamming,
      nBits, maxHamming, maxBucketSize, pieces)
  }

  /** Multi-position incremental Hamming dedup — the perceptual store
    * lifecycle for media carrying SEVERAL 64-bit signatures per object
    * (one per video keyframe position, one per audio segment, …): a
    * batch object dies when EVERY position is within `maxHamming` of the
    * same store object (either id order) or of a smaller-id batch
    * object. Candidates band on POSITION 0 alone — full recall, because
    * an all-positions match is in particular a position-0 match; the
    * per-pair verify walks the zipped signature arrays (a handful of
    * longs) with an exact `bit_count` max. Objects with differing
    * position counts never kill each other.
    *
    * `batchSigs`/`atRestSigs`: `(__id, __hsigs array<long>)`; position
    * order is the caller's contract (e.g. keyframe index). Scale shape
    * is [[incrementalHammingDedup]]'s — the store holds 8·K bytes per
    * object and nothing corpus-sized moves; callers whose `batchSigs`
    * lineage is expensive persist it, as
    * [[graft.streaming.PerceptualDedupStream.batchFunctionMulti]] does.
    */
  def incrementalHammingDedupMulti(batch: DataFrame, idCol: String,
      batchSigs: DataFrame, atRestSigs: DataFrame, nBits: Int = 64,
      maxHamming: Int = 3, maxBucketSize: Int = 0, pieces: Int = 1): DataFrame = {
    def signed(df: DataFrame): DataFrame =
      df.select(col("__id"), col("__hsigs").cast("array<long>").as("__hsigs"))
        .filter(col("__hsigs").isNotNull && size(col("__hsigs")) >= 1 &&
          !exists(col("__hsigs"), x => x.isNull))
        .withColumn("__hsig0", element_at(col("__hsigs"), 1))
    val (a, b) = (col("__hsigsA"), col("__hsigsB"))
    val allWithin = size(a) === size(b) &&
      aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, d) => greatest(acc, d)) <= maxHamming
    hammingKept(batch, idCol, signed(batchSigs), signed(atRestSigs), "__hsig0",
      allWithin, nBits, maxHamming, maxBucketSize, pieces)
  }

  /** The incremental Hamming decider: band both signature frames on
    * `bandSig`, keep the [[candidatePairs]] that pass `within` (over the
    * `…A`/`…B` payload columns), and drop every batch row whose id lost.
    */
  private def hammingKept(batch: DataFrame, idCol: String, batchSigs: DataFrame,
      atRestSigs: DataFrame, bandSig: String, within: Column, nBits: Int,
      maxHamming: Int, maxBucketSize: Int, pieces: Int): DataFrame = {
    def banded(sigs: DataFrame) = hammingBanded(sigs, bandSig, nBits, maxHamming, pieces)
    val doomed = candidatePairs(banded(batchSigs.repartition(col("__id"))),
        Some(banded(atRestSigs)), maxBucketSize)
      .filter(within)
      .select(col("idB").as("__doomed")).distinct()
    batch.join(doomed, col(idCol) === col("__doomed"), "left_anti")
  }

  /** SimHash near-dup pairs with exact verification: the pigeonhole-banded
    * hamming candidates of [[simhashPairs]], re-scored by EXACT word-ngram
    * Jaccard and thresholded — signature noise decides only which pairs get
    * *scored*, not which survive. With a radius generous enough for full
    * recall at the threshold the output equals the exact all-pairs result,
    * so an exact SQL oracle can check it; the exact scoring itself stays
    * proportional to candidates, not corpus².
    */
  def simhashPairsVerified(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, nBits: Int = 32, maxHamming: Int = 3, ngram: Int = 3,
      maxBucketSize: Int = 0, pieces: Int = 1): DataFrame =
    verifyJaccard(
        // the size-ratio pre-gate (exact at `threshold`) prunes candidates
        // with scalars before the array-carrying verify join sees them
        simhashPairs(df, idCol, textCol, nBits, maxHamming, maxBucketSize, pieces,
            minSizeRatio = threshold, sizeNgram = ngram)
          .select("idA", "idB"),
        df, idCol, textCol, ngram, minJaccard = threshold)
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), round(col("jaccard"), 4).as("jaccard"))

  // --- connected components (transitive near-dup clusters) ---

  /** Connected components over an undirected candidate-pair graph:
    * returns (id, component) for every vertex that appears in `pairs`,
    * where `component` is the smallest id in the vertex's component.
    *
    * Why: keep-min-per-PAIR dedup ([[minhashDedupVerified]]) is single-pass — a
    * doc connected to the cluster minimum only THROUGH a middleman
    * survives (pairs (1,3),(2,3) kill only 3). Training-data pipelines
    * typically cluster candidates transitively and keep one doc per
    * cluster; this is that step.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * first lowers `label(v) ← min(label(v), min(label(neighbors)))` (one
    * shuffle over edge-count rows), then path-halves `label(v) ←
    * label(label(v))` (one self-join on the label table) — the jump makes
    * convergence O(log diameter) rounds instead of O(diameter), which
    * matters precisely on the adversarial shape: a chain of near-dups
    * (e.g. shingled crawl snapshots) has diameter ≈ cluster size, and a
    * propagation-only loop silently mislabels whatever lies beyond
    * `maxIter` hops. Scale mechanics: convergence is checked with a
    * per-round count (the driver sees one long, never rows) and lineage is
    * cut with localCheckpoint each round so plan depth stays O(1) instead
    * of O(iterations).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "idA", idB: String = "idB",
      maxIter: Int = 20, localEdgeThreshold: Long = 512L << 10,
      maxLocalEdgeBytes: Long = 64L << 20): DataFrame = {
    val e = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // Small-graph fast path, the broadcast-join analogue for CC: the
    // candidate-pair graph after LSH banding + threshold filtering is
    // orders of magnitude smaller than the corpus, and when it fits in
    // driver memory a local union-find replaces O(log diameter) distributed
    // rounds (each a join + checkpoint + count job) with ONE job. The
    // explicit edge-count gate keeps the 100 TB path correct: past the
    // threshold we fall through to the pointer-jumping loop below, which
    // never materializes the graph on one machine.
    if (localEdgeThreshold > 0) {
      // one job: collect at most threshold+1 edges; overflow ⇒ distributed
      // path (which recomputes `pairs`, but only in the genuinely-big case).
      // The gate is count AND bytes: string ids make rows arbitrarily wide,
      // so a sampled size estimate bounds driver heap, not just row count.
      val edges = e.limit((localEdgeThreshold + 1).toInt).collect()
      def approxBytes(v: Any): Long = v match {
        case s: String => 40L + 2L * s.length
        case a: Array[Byte] => 24L + a.length
        case _ => 16L
      }
      val sampleN = math.min(edges.length, 1024)
      val avgRow = if (sampleN == 0) 0.0
        else edges.iterator.take(sampleN)
          .map(r => 32L + approxBytes(r.get(0)) + approxBytes(r.get(1))).sum.toDouble / sampleN
      if (edges.length <= localEdgeThreshold && edges.length * avgRow <= maxLocalEdgeBytes) {
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        def lt(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Long, y: Long) => x < y
          case (x: Int, y: Int) => x < y
          case (x, y) => x.toString < y.toString
        }
        for (r <- edges) {
          val (ra, rb) = (find(r.get(0)), find(r.get(1)))
          if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
        }
        val verts = edges.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
        val spark = pairs.sparkSession
        val idType = pairs.schema(idA).dataType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("component", idType)))
        val rows = verts.iterator
          .map(v => org.apache.spark.sql.Row(v, find(v))).toSeq
        import scala.jdk.CollectionConverters._
        return spark.createDataFrame(rows.asJava, schema)
      }
    }
    // undirected: materialize both directions once, pre-partitioned on the
    // per-round join key so the (edge-count-sized) table never re-shuffles
    // inside the loop — only the smaller label table moves each round
    val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("dst")).localCheckpoint()
    var labels = edges.select(col("src").as("id"), col("src").as("component"))
      .groupBy("id").agg(min("component").as("component"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val viaNeighbor = edges.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("component"))
      val lowered = labels.union(viaNeighbor)
        .groupBy("id").agg(min("component").as("component"))
      // pointer jump: follow the label one step (label(component) always
      // exists — components are vertex ids) and keep the smaller. Two
      // jumps per round quarter the distance-to-root instead of halving
      // it — the join is cheap next to a round's fixed cost (checkpoint +
      // convergence count), so fewer rounds wins
      def jump(l: DataFrame): DataFrame = l
        .join(l.select(col("id").as("__cid"), col("component").as("__cc")),
          col("component") === col("__cid"))
        .select(col("id"), least(col("component"), col("__cc")).as("component"))
      // carry the previous label through the checkpoint so the convergence
      // check is a shuffle-free scan of the materialized table, not a
      // separate join job per round
      val next = jump(jump(lowered))
        .join(labels.select(col("id"), col("component").as("__old")), Seq("id"))
        .localCheckpoint()
      val changed = next.filter(col("component") =!= col("__old")).count()
      labels = next.select("id", "component")
      converged = changed == 0
      it += 1
    }
    labels
  }

  /** Transitive MinHash dedup over EXACT-verified pairs: LSH candidates
    * are re-scored with exact shingle-Jaccard, the ≥-threshold survivors
    * form the edge graph, components cluster transitively, each keeps its
    * smallest id. The edge set is exact (signature noise only proposes),
    * so with full candidate recall at the threshold the result equals
    * connected components over the true similarity graph — which a
    * recursive-SQL oracle can restate.
    */
  def minhashDedupCCVerified(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numPerm: Int = 64, bands: Int = 16, shingleK: Int = 3,
      maxBucketSize: Int = 0): DataFrame = {
    val doomed = connectedComponents(verifiedEdges(df, idCol, textCol, threshold,
        numPerm, bands, shingleK, maxBucketSize))
      .filter(col("id") =!= col("component")).select(col("id").as("__doomed"))
    df.join(doomed, col(idCol) === col("__doomed"), "left_anti")
  }

  /** The exact-verified edge graph of [[minhashDedupCCVerified]] and
    * [[minhashDedupCCBest]]: [[minhashPairs]] candidates whose exact
    * shingle-Jaccard reaches `threshold`.
    */
  private def verifiedEdges(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numPerm: Int, bands: Int, shingleK: Int,
      maxBucketSize: Int): DataFrame =
    verifyJaccard(minhashPairs(df, idCol, textCol, numPerm, bands, shingleK,
        maxBucketSize = maxBucketSize).select("idA", "idB"),
      df, idCol, textCol, shingleK, minJaccard = threshold)
      .filter(col("jaccard") >= threshold)

  /** Canonical-document selection by QUALITY: cluster near-dup `pairs`
    * with [[connectedComponents]] and keep, per cluster, the row with the
    * HIGHEST `score` (ties → smallest id) — the curation-grade sibling of
    * the keep-min-id rule, for pipelines that rank duplicates ("keep the
    * longest / highest-quality copy, drop the mirrors"). Rows in no pair
    * survive untouched.
    *
    * Scale contract: components run over the PAIR graph only (never
    * corpus-sized), the per-cluster argmax is the bounded CollectTopK of
    * [[graft.llm.Mix.capPerKey]] (map-side partial keeps one row per
    * cluster per partition), and survivors return via anti-join on the
    * doomed-id set — the corpus is scanned, never shuffled.
    *
    * Null scores rank BELOW every real score (coalesced to −∞ before
    * ranking), so a cluster whose every member has a null score still
    * keeps its smallest id — without the coalesce the top-k would have no
    * ranked member for such a cluster and EVERY copy of that content
    * would silently die, which is never the right dedup outcome. Callers
    * that consider a null score a data error should validate upstream
    * (the TOML `NearDupDedup KeepBest` surface does: a non-numeric score
    * string fails loudly instead of casting to null).
    */
  def keepBestPerCluster(df: DataFrame, pairs: DataFrame, idCol: String,
      score: Column): DataFrame = {
    val comps = connectedComponents(pairs) // (id, component), roots included
    val scored = df.select(col(idCol).as("id"),
        coalesce(score.cast("double"), lit(Double.NegativeInfinity)).as("__s"))
      .join(comps, "id")
    val keep = Mix.capPerKey(scored, col("component"),
        struct((-col("__s")).as("negScore"), col("id").as("tieId")), "id", n = 1)
      .select("id")
    val doomed = comps.join(keep, Seq("id"), "left_anti").select(col("id").as("__doomed"))
    df.join(doomed, col(idCol) === col("__doomed"), "left_anti")
  }

  /** Transitive MinHash dedup over exact-verified pairs, keeping each
    * cluster's BEST-scoring document ([[keepBestPerCluster]] over the
    * [[minhashDedupCCVerified]] edge graph). The edges are exact, so a
    * recursive-SQL oracle restates the whole decision.
    */
  def minhashDedupCCBest(df: DataFrame, idCol: String, textCol: String, score: Column,
      threshold: Double = 0.7, numPerm: Int = 64, bands: Int = 16, shingleK: Int = 3,
      maxBucketSize: Int = 0): DataFrame =
    keepBestPerCluster(df, verifiedEdges(df, idCol, textCol, threshold, numPerm, bands,
      shingleK, maxBucketSize), idCol, score)

  /** Leakage-safe train/valid/test assignment: near-duplicate documents
    * MUST share a split — an eval paraphrase of a training document is
    * test-set contamination that plain id-hashed splitting
    * ([[graft.llm.Mix.assignSplits]]) happily creates. Cluster the
    * near-dup `pairs` with [[connectedComponents]] and hash the CLUSTER
    * LABEL instead of the id; unclustered documents hash their own id.
    * Only the pair graph is clustered (never corpus-sized); the corpus
    * pays one key join against the (id, component) frame, then the
    * map-only md5 CASE.
    */
  def assignSplitsLeakageSafe(df: DataFrame, pairs: DataFrame, idCol: String,
      seed: String, splits: Seq[(String, Double)]): DataFrame = {
    for (c <- Seq("__lsid", "__lscomp"))
      require(!df.columns.contains(c),
        s"assignSplitsLeakageSafe: input column '$c' collides with an internal name")
    val comps = connectedComponents(pairs)
      .withColumnRenamed("id", "__lsid").withColumnRenamed("component", "__lscomp")
    Mix.assignSplits(df.join(comps, col(idCol) === col("__lsid"), "left"),
        coalesce(col("__lscomp"), col(idCol)), seed, splits)
      .drop("__lsid", "__lscomp")
  }

  // --- span (paragraph/line) dedup ---

  /** Non-overlapping `width`-token spans of each document: one row per
    * (id, pos, span), pos 0-based. The span unit for [[firstSpanOccurrence]]
    * when the corpus has no natural paragraph breaks; with real text, build
    * the span frame from `posexplode(split(text, "\n\n"))` instead —
    * span dedup is agnostic to how spans were cut. Map-only, no shuffle.
    */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String, width: Int): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    // bindOnce: the chunk lambda would otherwise re-tokenize the text PER
    // CHUNK (slice's child is re-evaluated each transform element — the
    // HOF pitfall SCALE.md documents; measured ~2× on the span bench).
    // Tokenless docs explode to zero rows, so no size filter is needed.
    val spans = TextFunctions.bindOnce(TextFunctions.tokens(col(textCol))) { t =>
      // empty guard: sequence(0, -1) would DESCEND ([0, -1]), not be empty
      when(size(t) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), floor((size(t) + (width - 1)) / width).cast("int") - 1),
          i => array_join(slice(t, i * width + 1, lit(width)), " ")))
    }
    df.select(col(idCol), posexplode(spans))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("span"))
  }

  /** Content-defined spans (gear-CDC on tokens): a token whose content
    * hash ≡ 0 (mod `meanLen`) ENDS a span, so span boundaries depend only
    * on local content — insert or delete one token and every span outside
    * the edited one re-aligns, where fixed-width [[tokenChunks]] shifts
    * every subsequent chunk. The robust front-end for
    * [[firstSpanOccurrence]] when documents are edited copies of each
    * other (crawl snapshots, boilerplate-injected mirrors). Span length is
    * geometric with mean `meanLen` tokens.
    *
    * Map-only, ZERO shuffles: the whole cut is one `aggregate` fold over
    * the token array per row. The boundary hash is the first 15 hex chars
    * of md5 — chosen because DuckDB computes the identical value
    * (`('0x'||substr(md5(t),1,15))::UBIGINT`), keeping the operator
    * hash-match oracle-checkable.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      meanLen: Int = 16): DataFrame = {
    require(meanLen > 0, s"meanLen must be positive: $meanLen")
    val ts = TextFunctions.tokens(col(textCol))
    val spans = TextFunctions.bindOnce(ts) { t =>
      aggregate(
        t,
        struct(array().cast("array<string>").as("spans"), lit("").as("cur")),
        (acc, tok) => {
          val cur2 = when(acc.getField("cur") === "", tok)
            .otherwise(concat(acc.getField("cur"), lit(" "), tok))
          val isB = pmod(conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10)
            .cast("long"), lit(meanLen.toLong)) === 0
          struct(
            when(isB, array_append(acc.getField("spans"), cur2))
              .otherwise(acc.getField("spans")).as("spans"),
            when(isB, lit("")).otherwise(cur2).as("cur"))
        },
        acc => when(acc.getField("cur") === "", acc.getField("spans"))
          .otherwise(array_append(acc.getField("spans"), acc.getField("cur"))))
    }
    df.filter(size(ts) > 0)
      .select(col(idCol), posexplode(spans))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("span"))
  }

  /** Corpus-level span dedup — the CCNet/Dolma "paragraph dedup" stage:
    * given one row per (doc, pos, span), keep only the FIRST occurrence
    * (smallest (doc, pos)) of each distinct span content, across and
    * within documents.
    *
    * Scale shape: ONE shuffle, keyed on the span's 128-bit content hash
    * (uniform by construction — boilerplate spans that repeat millions of
    * times shrink to one row per map partition via min_by's partial
    * aggregation before the exchange, exactly where a window
    * row_number() formulation would sort and ship every copy). The
    * aggregate carries the span string in its buffer, so Spark plans a
    * SortAggregate (string buffers aren't hash-aggregable) — but the sort
    * is per-partition on the fixed-width hash key, and partial aggregation
    * still collapses duplicates before the exchange; the global
    * partition-then-sort of the window formulation never happens.
    */
  def firstSpanOccurrence(spans: DataFrame, idCol: String, posCol: String = "pos",
      spanCol: String = "span"): DataFrame =
    spans
      .groupBy(md5(col(spanCol)).as("__h"))
      .agg(min_by(struct(col(idCol), col(posCol), col(spanCol)),
        struct(col(idCol), col(posCol))).as("__k"))
      .select(col(s"__k.$idCol").as(idCol), col(s"__k.$posCol").as(posCol),
        col(s"__k.$spanCol").as(spanCol))

  /** Span-dedup'd documents: drop every repeated span, re-join each doc's
    * surviving spans in position order (empty docs disappear). Two keyed
    * shuffles: the [[firstSpanOccurrence]] hash-groupBy plus the reassembly
    * groupBy on the doc id.
    */
  def dedupSpans(spans: DataFrame, idCol: String, posCol: String = "pos",
      spanCol: String = "span", joiner: String = " "): DataFrame =
    firstSpanOccurrence(spans, idCol, posCol, spanCol)
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col(posCol), col(spanCol)))),
          x => x.getField(spanCol)), joiner).as("text"))

  // --- exact n-gram Jaccard ---

  /** Exact Jaccard similarity between two token-set columns. */
  def jaccard(tokensA: Column, tokensB: Column): Column = {
    val (da, db) = (array_distinct(tokensA), array_distinct(tokensB))
    val inter = size(array_intersect(da, db)).cast("double")
    val union = (size(da) + size(db)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Exact word-ngram Jaccard for a set of candidate id pairs: joins the
    * texts back and computes set similarity — the verification stage after
    * LSH candidate generation. Engineered for candidate volume (a weak
    * candidate filter can propose 100× more pairs than survive):
    *
    *  - shingles are hashed to 64-bit longs per DOC (before the pair
    *    blow-up), so pair rows carry and intersect fixed-width primitives,
    *    not strings — set-exact up to a 64-bit collision inside one pair's
    *    union (~10⁻¹⁵ per pair; the SQL oracles stay exact on real corpora);
    *  - the arrays are distinct by construction, so the per-pair work is
    *    ONE hash-set intersect, not two re-distincts plus an intersect;
    *  - `minJaccard` (pass the caller's threshold) gates on set sizes
    *    first: jaccard ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose sizes
    *    are off by more than the threshold ratio emits NULL (meaning "not
    *    computed, provably < minJaccard") without running the O(n)
    *    intersect at all. Callers thresholding with `jaccard >= t` drop
    *    those rows either way; NULL (not 0.0) keeps the score column
    *    honest for callers that read it directly.
    */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, minJaccard: Double = 0.0): DataFrame = {
    // repartition makes the shingle scan a reuse point (ReusedExchange):
    // the tokenize+hash+distinct pass over the corpus runs ONCE for both
    // join sides instead of once per side. Arrays are sorted ONCE per
    // document here so the per-pair intersection below is an
    // allocation-free codegen'd merge walk, not a per-row hash set
    // (`array_intersect`) — the per-pair work is what multiplies by the
    // candidate count.
    val sh = docs.select(col(idCol).as("__vid"),
      array_sort(array_distinct(transform(TextFunctions.shingles(col(textCol), ngram),
        g => xxhash64(g)))).as("__sh"))
      .repartition(col("__vid"))
    val joined = pairs
      .join(sh.withColumnRenamed("__vid", "idA").withColumnRenamed("__sh", "__shA"), Seq("idA"))
      .join(sh.withColumnRenamed("__vid", "idB").withColumnRenamed("__sh", "__shB"), Seq("idB"))
    val (na, nb) = (size(col("__shA")).cast("double"), size(col("__shB")).cast("double"))
    val exact = {
      val inter = graft.functions.SortedIntersectCount(col("__shA"), col("__shB"))
        .cast("double")
      val union = na + nb - inter
      when(union === 0, lit(0.0)).otherwise(inter / union)
    }
    val gated = if (minJaccard <= 0) exact
      else when(na >= nb * minJaccard && nb >= na * minJaccard, exact)
        .otherwise(lit(null).cast("double"))
    joined.withColumn("jaccard", gated).drop("__shA", "__shB")
  }

  // --- embedding near-dup ---

  /** Embedding-cosine near-dup pairs: hyperplane-LSH bucket join (equal
    * `nBits`-bit signature ⇒ candidate) then exact cosine verify. Recall
    * improves with fewer bits / multiple seeds; precision is exact (cosine
    * recomputed). Returns (idA, idB, cosine ≥ threshold).
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, nBits: Int = 12, seeds: Seq[Long] = Seq(42L, 1042L),
      maxBucketSize: Int = 0): DataFrame = {
    // one codegen'd pass computes every seed's signature (native
    // HyperplaneSigs), then posexplode to (seed, sig) bucket keys
    val bucketed = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      posexplode(VectorFunctions.hyperplaneSignatures(col(vecCol), dim, nBits, seeds)))
      .select(col("__id"), col("__v"), struct(col("pos").as("s"), col("col").as("sig")).as("bk"))
    // cosine per bucket collision (codegen'd ArrayDot; ≤ |seeds| repeats),
    // then a scalar-only HashAggregate dedup — vectors never cross the
    // pair-dedup shuffle
    candidatePairs(bucketed, None, maxBucketSize)
      .select(col("idA"), col("idB"),
        VectorFunctions.cosineFast(col("__vA"), col("__vB")).as("cosine"))
      .groupBy("idA", "idB").agg(first("cosine").as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("idA", "idB", "cosine")
  }
}
