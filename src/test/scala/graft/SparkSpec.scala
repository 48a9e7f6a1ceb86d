package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `f` and returns one entry per Spark job it started: the
    * job's SQL execution id, or None for a job outside any SQL
    * execution (a schema inference). Jobs started from driver threads
    * that `f` creates count too: they inherit its local properties. */
  def jobsStartedBy(f: => Unit): Seq[Option[String]] = {
    val Tag = "graft.test.jobs"
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(t =>
          seen.add(t -> Option(e.properties.getProperty("spark.sql.execution.id"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, id)
      try f finally sc.setLocalProperty(Tag, null)
      // listener events arrive in order: once a marker job is seen,
      // every job `f` started has been seen too
      sc.setLocalProperty(Tag, "marker")
      try spark.range(1).count() finally sc.setLocalProperty(Tag, null)
      def marked = seen.toArray(Array.empty[(String, Option[String])]).exists(_._1 == "marker")
      val deadline = System.nanoTime() + 60_000_000_000L
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, "listener bus did not drain within 60 s")
      seen.toArray(Array.empty[(String, Option[String])]).toSeq.collect { case (`id`, e) => e }
    } finally sc.removeSparkListener(listener)
  }
}
