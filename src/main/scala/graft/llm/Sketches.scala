package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches over grouped data — the re-aggregatable
  * path for distinct counts at 100 TB. Exact `count(distinct x)` shuffles
  * every distinct value; an HLL sketch is a fixed ~`2^lgK` bytes per group
  * that combines map-side, crosses the exchange once, and — crucially —
  * can be persisted per fine partition (e.g. per day) and UNIONED later
  * into any coarser rollup without touching the raw data again. Dense-mode
  * register merges are max-based (order-independent); DataSketches' sparse
  * low-cardinality mode can make the union path differ from a direct
  * aggregation by a sub-percent hair. Backed by Spark's DataSketches HLL
  * functions
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`).
  */
object Sketches {

  /** One HLL sketch (binary) per group: `groupCols :+ sketch`. */
  def distinctSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Re-aggregate persisted sketches to a coarser grouping (e.g. per-day →
    * per-type) without rescanning raw data.
    */
  def rollup(sketches: DataFrame, groupCols: Seq[String],
      sketchCol: String = "sketch"): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col(sketchCol)).as("sketch"))

  /** Cardinality estimate of a sketch column. */
  def estimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  // --- frequency (count-min) sketches ---

  /** One count-min sketch (binary) per group: the mergeable
    * frequency-estimation path — fixed `O(1/eps · ln(1/confidence))` state
    * per group, map-side combined, never shuffling the raw value stream.
    * The heavy-hitters analogue of [[distinctSketch]]: query any item's
    * frequency later without rescanning. Backed by Spark's
    * `count_min_sketch` aggregate (spark-sketch).
    */
  def freqSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count_min_sketch(col(valueCol), lit(eps), lit(confidence), lit(seed))
        .as("cms"),
        count(lit(1)).as("cms_n"))

  /** Point-frequency estimate of a long-typed item against a [[freqSketch]]
    * column. CMS guarantees estimate ≥ true count always, and ≤ true +
    * eps·N with probability `confidence` — deterministic for a fixed seed
    * and dataset, which is what makes the contract oracle-checkable.
    */
  def cmsEstimate(sketch: Column, item: Column): Column =
    Sketches.cmsEstimateUdf(sketch, item)

  /** Per-thread last-(bytes → parsed) memo for the probe UDFs: probe rows
    * arrive grouped by join key, so consecutive rows almost always carry
    * the SAME group's serialized sketch — without this, every row would
    * re-deserialize the full sketch (O(rows × sketchBytes) allocation).
    * The miss check (`Arrays.equals`) early-exits on the first differing
    * byte, so a group switch costs one comparison plus one parse.
    */
  private def memoLookup[S](last: ThreadLocal[(Array[Byte], S)],
      bytes: Array[Byte])(parse: Array[Byte] => S): S = {
    val cached = last.get()
    if (cached != null &&
        ((cached._1 eq bytes) || java.util.Arrays.equals(cached._1, bytes))) {
      cached._2
    } else {
      val sk = parse(bytes)
      last.set((bytes, sk))
      sk
    }
  }

  // the UDF lambdas call these MODULE methods (resolved statically, not
  // captured), so the non-serializable ThreadLocal never enters a closure
  @transient private lazy val cmsCache =
    new ThreadLocal[(Array[Byte], org.apache.spark.util.sketch.CountMinSketch)]
  private def cmsFor(bytes: Array[Byte]): org.apache.spark.util.sketch.CountMinSketch =
    memoLookup(cmsCache, bytes)(b =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(b)))

  private lazy val cmsEstimateUdf =
    udf((bytes: Array[Byte], item: Long) =>
      if (bytes == null) 0L else Sketches.cmsFor(bytes).estimateCount(item))

  // --- membership (Bloom filter) sketches ---

  /** One Bloom filter (binary) per group — the membership member of the
    * sketch trio (distinct = HLL, frequency = CMS, membership = Bloom):
    * fixed `optimalNumOfBits(expectedItems, fpp)` state per group, built by
    * Spark's native `BloomFilterAggregate` (TypedImperativeAggregate, so
    * partials merge map-side and only the bitsets cross the exchange).
    * Query with [[bloomMightContain]]; no false negatives, ever — the
    * contract the oracle checks.
    */
  def bloomSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(GraftShims.toExpression(col(valueCol)),
        Literal(expectedItems), Literal(numBits))
    df.groupBy(groupCols.map(col): _*)
      .agg(GraftShims.toColumn(agg.toAggregateExpression()).as("bloom"))
  }

  /** Membership probe of a long-typed item against a [[bloomSketch]]
    * column. (Spark's `might_contain` expression demands a constant/scalar
    * subquery filter, so a joined sketch COLUMN is probed via this
    * deserializing UDF instead — mirrors [[cmsEstimate]].)
    */
  def bloomMightContain(sketch: Column, item: Column): Column =
    Sketches.bloomMightContainUdf(sketch, item)

  @transient private lazy val bloomCache =
    new ThreadLocal[(Array[Byte], org.apache.spark.util.sketch.BloomFilter)]
  private def bloomFor(bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    memoLookup(bloomCache, bytes)(b =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b)))

  private lazy val bloomMightContainUdf =
    udf((bytes: Array[Byte], item: Long) =>
      bytes != null && Sketches.bloomFor(bytes).mightContainLong(item))

  // --- mergeable quantile (histogram) sketches ---
  //
  // The quantile analogue of the HLL path above: `percentile_approx` is
  // accurate but its digest state is not persistable/re-aggregatable from
  // SQL, so per-day quantiles cannot roll up to per-month without
  // rescanning raw data. A fixed-boundary histogram (HdrHistogram-style:
  // log-spaced bounds give bounded RELATIVE error for positive values) is:
  //  - algebraic: per-bin counts are plain sums — HashAggregate with
  //    map-side combine, one fixed-width array row per group crosses the
  //    exchange;
  //  - exactly mergeable: rollup = integer vector addition, so
  //    union-of-fine EQUALS direct-coarse bit-for-bit (stronger than HLL,
  //    whose sparse mode can differ by a hair);
  //  - bounded state: (bins+2) longs per group, forever, regardless of
  //    data volume.

  /** Log-spaced histogram boundaries: `perDecade` bins per decade across
    * [10^minExp, 10^maxExp]. Relative quantile error ≈ 10^(1/perDecade)-1
    * (e.g. perDecade=20 → ~12%; 40 → ~6%).
    */
  def logBounds(minExp: Int, maxExp: Int, perDecade: Int): Seq[Double] = {
    require(maxExp > minExp && perDecade > 0)
    (for (e <- minExp until maxExp; i <- 0 until perDecade)
      yield math.pow(10, e + i.toDouble / perDecade)) :+ math.pow(10, maxExp)
  }

  /** One histogram (`hist` array<long> of length bounds.size+1) per group.
    * Bin k counts values in [bounds(k-1), bounds(k)); bin 0 is underflow
    * (< bounds.head), the last bin overflow (>= bounds.last). Nulls are
    * not counted. The bin index is an unrolled codegen'd comparison sum;
    * the aggregation is `bounds.size+1` algebraic sums, map-side combined.
    */
  def histSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      bounds: Seq[Double]): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted && bounds.distinct == bounds,
      "bounds must be non-empty, sorted, distinct")
    val v = col(valueCol).cast("double")
    // null value → null bin (never counted). Materialize the bin in the
    // child projection: referencing the O(bounds) comparison sum directly
    // from each of the bounds+1 count aggregates would inline it per
    // aggregate — O(bounds²) comparisons per row (measured 1.3s → 0.35s
    // steady at sf0.1 for 80 bounds)
    val bin = when(v.isNull, lit(null))
      .otherwise(bounds.map(b => when(v >= b, 1).otherwise(0)).reduce(_ + _))
    val counts = (0 to bounds.size).map(k =>
      sum(when(col("__bin") === k, 1L).otherwise(0L)))
    df.select(groupCols.map(col) :+ bin.as("__bin"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(array(counts: _*).as("hist"))
  }

  /** Quantile estimate from a histogram sketch: locate the bin containing
    * the q-th value by cumulative count, interpolate linearly inside it.
    * Underflow/overflow bins clamp to the nearest boundary. Null when the
    * histogram is empty. Pure expression (HOF fold over the fixed-width
    * array) — no UDF, usable on millions of group rows.
    */
  def histQuantile(hist: Column, bounds: Seq[Double], q: Double): Column = {
    require(q >= 0 && q <= 1, s"q must be in [0,1]: $q")
    val nb = bounds.size
    val boundsArr = array(bounds.map(lit): _*)
    val total = aggregate(hist, lit(0L), (a, x) => a + x)
    val target = total.cast("double") * q
    val indexed = zip_with(hist, sequence(lit(0), lit(nb)),
      (c, i) => struct(c.as("c"), i.as("i")))
    val folded = aggregate(
      indexed,
      struct(lit(0.0).as("cum"), lit(null).cast("double").as("ans")),
      (acc, x) => {
        val cum0 = acc.getField("cum")
        val cnt = x.getField("c").cast("double")
        val cum1 = cum0 + cnt
        val i = x.getField("i").cast("int")
        val lo = when(i === 0, lit(bounds.head)).otherwise(element_at(boundsArr, i))
        val hi = when(i === nb, lit(bounds.last)).otherwise(element_at(boundsArr, i + 1))
        val frac = when(cnt > 0, least((target - cum0) / cnt, lit(1.0))).otherwise(lit(0.0))
        val v = lo + (hi - lo) * frac
        val hit = acc.getField("ans").isNull && cnt > 0 && cum1 >= target
        struct(cum1.as("cum"),
          when(hit, v).otherwise(acc.getField("ans")).as("ans"))
      },
      acc => acc.getField("ans"))
    when(total === 0, lit(null).cast("double")).otherwise(folded)
  }
}
