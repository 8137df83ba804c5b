package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType

/** A graft session bounds the JVM-wide codegen class cache well above
  * Spark's default of 100 entries, so the classes of a corpus turn
  * survive until the next turn needs them again.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a graft session keeps more than 100 generated classes: a second " +
      "pass over 150 distinct projections compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    // the salt keeps these classes distinct from any an earlier test compiled
    val salt = System.nanoTime()
    val projections = (0 until 150).map(i =>
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(salt + i))))
    def compileAll(): Unit = projections.foreach(GenerateUnsafeProjection.generate(_))
    val start = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileAll()
    val firstPass = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - start
    assert(firstPass == 150)
    compileAll()
    val secondPass = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - start - firstPass
    assert(secondPass == 0, s"$secondPass of 150 classes compiled again")
  }
}
