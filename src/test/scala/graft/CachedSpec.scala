package graft

import java.io.File
import java.nio.file.Files

import graft.core.Cached
import graft.topology.{BuiltinComponents, Topology}

/** [[Cached]], the engine's one owner of persisted frames: a scoped frame
  * never outlives its body, a slot pins at most one frame, a replaced
  * frame's release hook cannot evict its successor, and a slot survives
  * its previous owner's SparkContext stopping.
  */
class CachedSpec extends SparkSpec {

  private def cacheManager = spark.sharedState.cacheManager

  // the cache manager is session-global: start each check from an empty
  // one, whatever slot occupants earlier suites legitimately left behind
  private def cleanSlate(): Unit = {
    graft.llm.ExactSubstr.releaseCache()
    cacheManager.clearCache()
  }

  test("scoped: the frame is cached inside the body and released after it " +
      "returns or throws") {
    cleanSlate()
    val n = Cached.scoped(spark.range(100).toDF("x")) { df =>
      assert(!cacheManager.isEmpty)
      df.count()
    }
    assert(n == 100L)
    assert(cacheManager.isEmpty, "scoped frame outlived its body")
    val e = intercept[IllegalStateException] {
      Cached.scoped(spark.range(50).toDF("x")) { df =>
        df.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(cacheManager.isEmpty, "a failing body leaked its scoped frame")
  }

  test("Slot: a second hold unpersists the first frame; the replaced " +
      "frame's release is a no-op") {
    cleanSlate()
    val slot = new Cached.Slot
    val first = slot.hold(spark.range(10).toDF("x"))
    assert(first.count() == 10L)
    assert(first.storageLevel == Cached.Level)
    val second = slot.hold(spark.range(20).toDF("x"))
    assert(second.count() == 20L)
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the first occupant is still persisted after the second hold")
    // a later hold caches the first frame's plan again (the same topology
    // compiled once more); the first frame's release hook then fires late
    // (its run finished after that compile) and must not evict it —
    // Spark uncaches by plan, so only the slot's identity check stops it
    val third = slot.hold(spark.range(10).toDF("x"))
    assert(third.count() == 10L)
    slot.release(first)
    assert(third.storageLevel == Cached.Level)
    slot.release()
    assert(cacheManager.isEmpty)
    // results never depend on residency: an evicted frame recomputes
    assert(first.count() == 10L)
  }

  test("Slot: holding a frame whose plan equals the occupant's leaves it " +
      "cached, in exactly one entry") {
    cleanSlate()
    val slot = new Cached.Slot
    val before = spark.sparkContext.getPersistentRDDs.size
    slot.hold(spark.range(10).toDF("x"), _.count())
    // Spark caches by plan: the two holds share one entry, which a
    // release of the first occupant after the second persist would drop
    val second = slot.hold(spark.range(10).toDF("x"), _.count())
    assert(second.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the second occupant was left uncached")
    assert(spark.sparkContext.getPersistentRDDs.size - before == 1)
    slot.release()
    assert(cacheManager.isEmpty)
  }

  test("Slot: a hold after the previous owner's SparkContext stopped does " +
      "not throw") {
    // a second SparkContext needs its own JVM: run the two-session
    // sequence in a child process on this suite's classpath
    import scala.jdk.CollectionConverters._
    // this JVM's flags (the --add-opens Spark needs) minus agents; the
    // trailing -Xmx overrides the suite's heap size
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agent") || a.startsWith("-javaagent"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ flags ++
      Seq("-Xmx768m", "-cp", System.getProperty("java.class.path"),
        "graft.CachedStoppedOwnerMain")
    val out = Files.createTempFile("graft-cached-child", ".log").toFile
    out.deleteOnExit()
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out).start()
    val finished = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly()
    val log = new String(Files.readAllBytes(out.toPath), "UTF-8")
    assert(finished && proc.exitValue() == 0, s"child failed:\n${log.takeRight(4000)}")
    assert(log.contains("HOLD_OK 5"), log.takeRight(4000))
  }

  test("NearDupDedup: three compiles without run() leave at most one " +
      "persisted RDD, and run() leaves none") {
    cleanSlate()
    val dir = Files.createTempDirectory("graft-cached-neardup").toFile
    dir.deleteOnExit()
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps in the warm sun near the old barn door every single afternoon"
    // one input file per compile: distinct plans, so each compile caches
    // its own frame (equal plans would share one cache entry)
    def toml(i: Int): String = {
      val data = new File(dir, s"in$i.csv")
      Files.write(data.toPath, java.util.List.of(s"1;$base",
        s"2;${base.replace("lazy", "sleepy")}",
        s"3;entirely different words about parquet files, batch $i"))
      s"""[csv]
         |field_separator = 59
         |[fields]
         |names = ["id", "text"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$data"]
         |  MatchPath = ".*\\\\.csv"
         |[[filter]]
         |name = "NearDupDedup"
         |  [filter.config]
         |  IdField = "id"
         |  Field = "text"
         |[output]
         |name = "Recorder"
         |fields = ["id"]
         |""".stripMargin
    }
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    for (i <- 0 until 3) Topology.compileToml(spark, toml(i), BuiltinComponents.all)
    assert(persisted - before == 1,
      s"compile-only consumers pinned ${persisted - before} RDDs")
    Topology.compileToml(spark, toml(3), BuiltinComponents.all).run()
    assert(persisted == before, s"run() left ${persisted - before} persisted RDDs")
    assert(cacheManager.isEmpty)
    assert(BuiltinComponents.Recorder.last.map(_.getString(0)).toSet == Set("1", "3"))
  }
}

/** Child-JVM half of the stopped-owner check: hold a frame under one
  * SparkContext, stop it, then hold a frame under a new one.
  */
object CachedStoppedOwnerMain {
  def main(args: Array[String]): Unit = {
    val slot = new Cached.Slot
    val a = graft.core.Graft.localSession("cached-owner-a", cores = 1)
    slot.hold(a.range(10).toDF("x")).count()
    a.stop()
    val b = graft.core.Graft.localSession("cached-owner-b", cores = 1)
    val n = slot.hold(b.range(5).toDF("x")).count()
    slot.release()
    b.stop()
    println(s"HOLD_OK $n")
  }
}
