package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage wall/task-time profile of one or more gates (guide §1.1:
  * find where the time goes before changing anything).
  *
  *   sbt "runMain graft.tools.StageProfile q_llm1_corpus_curation[,...]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q_llm1_corpus_curation"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for {s <- i.submissionTime; c <- i.completionTime} yield c - s).getOrElse(-1L)
        val site = i.details.linesIterator
          .find(l => l.contains("graft") && !l.contains("tools."))
          .getOrElse(i.name.takeWhile(_ != '\n')).trim.take(90)
        stages.add((i.stageId, site, wall, i.numTasks, i.taskMetrics.executorRunTime))
      }
    })

    for (n <- names) {
      // warm once (JIT + codegen cache), then profile one exec
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(500) // let the listener bus drain
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_._3)
      val sumWall = rows.map(_._3).sum
      println(f"[profile] $n total=$total%.2f s, ${rows.size} stages, sum stage wall=${sumWall / 1e3}%.2f s")
      for ((id, nm, wall, tasks, run) <- rows.take(14))
        println(f"[profile]   stage $id%-5d wall=${wall / 1e3}%6.2f s tasks=$tasks%-4d taskTime=${run / 1e3}%7.2f s  $nm")
    }
    spark.stop()
  }
}
