package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level attribution for one or more declared queries in one
  * JVM/session (one sbt start, one session warmup): per query, cold +
  * steady wall, stage count, stage wall sum and task-time sum, plus the
  * top stages of the cold run — separating data-bound stages from
  * scheduling/planning overhead.
  * Usage: Test/runMain graft.ProfMany q_a q_b ... [last arg may be an sf dir]
  */
object ProfMany {
  def main(args: Array[String]): Unit = {
    val (qs, sfDir) =
      if (args.nonEmpty && args.last.startsWith("/")) (args.init.toSeq, args.last)
      else (args.toSeq, "/root/testdata/sf0.1")
    val spark = graft.core.Graft.localSession("prof-many")
    spark.sparkContext.setLogLevel("WARN")

    val stages = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for {s <- i.submissionTime; c <- i.completionTime} yield c - s).getOrElse(-1L)
        stages += ((i.stageId, i.name.takeWhile(_ != '\n').take(60), wall,
          i.taskMetrics.executorRunTime, i.numTasks))
      }
    })

    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      try graft.core.Graft.table(spark, sfDir, t).limit(1).count() catch { case _: Throwable => }

    for (q <- qs) {
      def run(tag: String, top: Int): Unit = {
        stages.clear()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"[probe] $tag $q rows=$n wall=$wall%.2f s stages=${stages.size} " +
          f"stageWallSum=${stages.map(_._3).sum / 1e3}%.2f s taskTimeSum=${stages.map(_._4).sum / 1e3}%.2f s")
        stages.sortBy(-_._3).take(top).foreach { case (id, name, w, task, nt) =>
          println(f"[probe]   stage $id%-4d ${w / 1e3}%6.2f s wall ${task / 1e3}%7.2f s task n=$nt%-3d $name")
        }
      }
      try {
        run("cold", 6)
        run("steady", 3)
      } catch { case e: Throwable =>
        println(s"[probe] FAILED $q: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
