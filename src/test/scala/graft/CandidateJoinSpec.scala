package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Equivalence of the batch and store forms of the LSH deciders on seeded
  * random corpora with planted near-duplicates, null ids and null
  * signatures: batch MinHash dedup is incremental dedup against an empty
  * store, and both equal an exact all-pairs Jaccard reference computed on
  * the driver; the single-signature Hamming decider equals the
  * multi-signature one over one-element arrays, with and without a store.
  */
class CandidateJoinSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = (0 until 14).map(i => s"w$i")

  /** `n` docs (ids 0 until n): random texts, a third of them edited or
    * exact copies of an earlier doc; a few null ids and null texts.
    */
  private def corpus(seed: Long, n: Int): Seq[(Option[Long], Option[String])] = {
    val rnd = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    for (_ <- 0 until n) {
      val fresh = Seq.fill(rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size)))
      val earlier = texts.flatten
      val t =
        if (earlier.nonEmpty && rnd.nextInt(3) == 0) {
          val src = earlier(rnd.nextInt(earlier.size)).split(" ")
          rnd.nextInt(3) match {
            case 0 => src.toSeq
            case 1 => src.toSeq.updated(rnd.nextInt(src.length), vocab(rnd.nextInt(vocab.size)))
            case _ => src.toSeq :+ vocab(rnd.nextInt(vocab.size))
          }
        } else fresh
      texts += (if (rnd.nextInt(12) == 0) None else Some(t.mkString(" ")))
    }
    texts.zipWithIndex.map { case (t, i) =>
      (if (rnd.nextInt(10) == 0) None else Some(i.toLong), t)
    }.toSeq
  }

  private def shingles(t: String, k: Int): Set[String] =
    t.split(" ").filter(_.nonEmpty).sliding(k).filter(_.length == k)
      .map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size

  private def ids(df: DataFrame, idCol: String): Set[Option[Long]] =
    df.select(idCol).as[Option[Long]].collect().toSet

  test("batch MinHash dedup is incremental dedup with an empty store, and both " +
      "equal exact all-pairs Jaccard dedup") {
    val (k, t) = (3, 0.5)
    for (seed <- 1L to 3L) {
      val rows = corpus(seed, 80)
      // a doc with an id and at least k tokens is signed; it dies when an
      // exact-Jaccard match with a smaller signed id exists
      val signed = rows.collect { case (Some(id), Some(text)) if shingles(text, k).nonEmpty =>
        id -> shingles(text, k) }
      val doomed = signed.collect { case (id, sh) if signed.exists { case (o, osh) =>
        o < id && jaccard(sh, osh) >= t } => id }.toSet
      val expected = rows.map(_._1).toSet -- doomed.map(Some(_))
      assert(doomed.nonEmpty, s"seed=$seed plants no near-duplicate")
      val df = rows.toDF("doc_id", "text")
      val empty = df.limit(0)
      // one band per permutation: a pair at Jaccard t is missed with
      // probability (1 - t)^64, so recall is full at the threshold
      val batchForm = Dedup.minhashDedupVerified(df, "doc_id", "text", threshold = t,
        numPerm = 64, bands = 64, shingleK = k)
      val storeForm = Dedup.incrementalDedupVerified(df, "doc_id", "text",
        atRestSigs = Dedup.minhashSignatures(empty, "doc_id", "text"), atRestDocs = empty,
        threshold = t, numPerm = 64, bands = 64, shingleK = k)
      assert(ids(batchForm, "doc_id") == expected, s"seed=$seed batch form")
      assert(ids(storeForm, "doc_id") == expected, s"seed=$seed store form")
      assert(batchForm.count() == rows.size - doomed.size, s"seed=$seed row count")
    }
  }

  test("single-signature Hamming dedup equals the multi-signature form over " +
      "one-element arrays, with a store and without one") {
    val radius = 3
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      def near(s: Long): Long =
        (0 until rnd.nextInt(radius + 3)).foldLeft(s)((x, _) => x ^ (1L << rnd.nextInt(64)))
      val storeSigs = (0 until 60).map { i =>
        (if (i % 17 == 5) None else Some(10000L + i),
          if (i % 13 == 7) None else Some(rnd.nextLong()))
      }
      val batchSigs = (0 until 80).map { i =>
        val planted = rnd.nextInt(3) match {
          case 0 => storeSigs(rnd.nextInt(storeSigs.size))._2.map(near)
          case 1 if i > 0 => Some(near(rnd.nextLong()))
          case _ => Some(rnd.nextLong())
        }
        (if (i % 11 == 3) None else Some(i.toLong), if (i % 9 == 4) None else planted)
      }
      // near-copies of earlier batch rows
      val withBatchDups = batchSigs.zipWithIndex.map { case ((id, s), i) =>
        if (i > 0 && i % 4 == 0) (id, batchSigs(rnd.nextInt(i))._2.map(near)) else (id, s)
      }
      val batch = (withBatchDups.map(_._1) ++ Seq(Some(500L), None)).toDF("doc_id")
      val bs = withBatchDups.toDF("__id", "__hsig")
      def multi(df: DataFrame) = df.select(col("__id"), array(col("__hsig")).as("__hsigs"))
      for ((label, store) <- Seq("store" -> storeSigs.toDF("__id", "__hsig"),
          "no store" -> storeSigs.toDF("__id", "__hsig").limit(0))) {
        val single = Dedup.incrementalHammingDedup(batch, "doc_id", bs, store,
          maxHamming = radius)
        val multiForm = Dedup.incrementalHammingDedupMulti(batch, "doc_id", multi(bs),
          multi(store), maxHamming = radius)
        val killers = store.as[(Option[Long], Option[Long])].collect().collect {
          case (Some(_), Some(s)) => s }
        val doomed = withBatchDups.collect { case (Some(id), Some(s)) if
          killers.exists(o => java.lang.Long.bitCount(o ^ s) <= radius) ||
          withBatchDups.exists { case (o, os) => o.exists(_ < id) &&
            os.exists(x => java.lang.Long.bitCount(x ^ s) <= radius) } => id }.toSet
        assert(doomed.nonEmpty, s"seed=$seed $label plants no near-duplicate")
        val expected = (withBatchDups.map(_._1) ++ Seq(Some(500L), None)).toSet --
          doomed.map(Some(_))
        assert(ids(single, "doc_id") == expected, s"seed=$seed $label single form")
        assert(ids(multiForm, "doc_id") == expected, s"seed=$seed $label multi form")
      }
    }
  }
}
