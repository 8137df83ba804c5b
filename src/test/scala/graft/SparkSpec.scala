package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup ~4s). */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Graft
    .localSession("graft-test", cores = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  /** Tiny all-string DataFrame builder mirroring the reference's
    * table-driven filter tests (schema-lite CSV records).
    */
  def strDf(cols: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(rows.map(r => Row(r: _*)).asJava, schema)
  }

  def col1[T](df: DataFrame): Seq[T] =
    df.collect().toSeq.map(_.getAs[T](0))

  /** Run `f` with session confs set, restoring the previous values after —
    * the codegen-vs-interpreted parity tests' toggle.
    */
  protected def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Every operator a physical plan runs, adaptive stages included. A
    * reused exchange is listed but not entered (its subtree runs once,
    * where it first appears), and a cached scan is a leaf (its plan ran
    * when the cache filled).
    */
  protected def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: planChildren(p).flatMap(planNodes)

  /** The inputs [[planNodes]] descends into. */
  protected def planChildren(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children
    }
  }
}
