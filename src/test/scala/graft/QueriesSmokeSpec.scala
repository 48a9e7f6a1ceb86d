package graft

import graft.plans.CardinalityAudit
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** The one corpus sweep: every SparkEntry gate materializes once on
  * sf0.001 through the noop sink — stronger than `count()`, which can
  * short-circuit a scan to metadata — under the same session-wide
  * cardinality listener the bench and Verify register, so the fuzz
  * harnesses' inner spark.sql frames are audited too (where the fz28
  * first cut actually lived). Each gate's test asserts it ran without
  * error and that no violation is tagged with it. Correctness against
  * the DuckDB oracles is Verify's and tools/selfcheck.py's job.
  *
  * Audit floors are reduced to sf0.001 signal levels:
  *  - join: 1,000 output rows (the JoinFanoutAuditSpec sweep floor —
  *    the planted fz28 control reads 750k rows / 500× there)
  *  - generate: 1,000 output rows (legit corpus max ~306× char
  *    histograms vs the 4096 bound; the planted 30 kb control reads
  *    30,000×)
  *  - skew: 10 kB max-partition bytes (the planted 90%-one-key
  *    control reads ~40 kB hot / ratio ≫ 16; corpus max measured
  *    5.1× at sf0.001)
  *
  * Listener callbacks are asynchronous, so after each gate a one-row
  * marker query is run and the test waits (bounded) until the marker
  * reaches the listeners: the bus delivers in order, so every
  * execution of the gate has been audited and tagged by then. */
class QueriesSmokeSpec extends SparkSpec with BeforeAndAfterAll {

  private val audit = new CardinalityAudit.Listener(CardinalityAudit.Config(
    joinMinRows = 1000L, generateMinRows = 1000L, skewMinBytes = 10000L))

  private val MarkerCol = "__sweep_marker"

  private val recorder = new SweepRecorder(MarkerCol)

  private var markersSent = 0L

  /** Waits until every execution so far has reached the listeners. */
  private def drain(): Unit = {
    markersSent += 1
    spark.range(1).toDF(MarkerCol).collect()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (recorder.markers.get() < markersSent && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(recorder.markers.get() >= markersSent, "listener bus did not drain within 60 s")
  }

  private lazy val registered: Unit = {
    spark.listenerManager.register(audit)
    spark.listenerManager.register(recorder)
  }

  override def afterAll(): Unit = {
    spark.listenerManager.unregister(audit)
    spark.listenerManager.unregister(recorder)
    super.afterAll()
  }

  private val gates = SparkEntry.queries.toSeq.sortBy(_._1)

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are all registered queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  gates.foreach { case (name, fn) =>
    test(s"$name executes on sf0.001") {
      registered
      audit.gate = name
      recorder.gate = name
      try fn(spark, sf0001).write.format("noop").mode("overwrite").save()
      finally {
        spark.catalog.clearCache()
        drain()
      }
      val bad = audit.snapshot.filter(_._1 == name)
      assert(bad.isEmpty, s"${bad.size} cardinality violations:\n" +
        bad.map { case (_, f) => s"  ${f.render}" }.mkString("\n"))
    }
  }

  test("the audit listener saw an execution from every gate") {
    val unseen = gates.map(_._1).filterNot(recorder.executions.containsKey)
    assert(unseen.isEmpty, s"no execution reached the listener for: $unseen")
    val untagged = audit.snapshot.filterNot(v => SparkEntry.queries.contains(v._1))
    assert(untagged.isEmpty, "violations outside any gate:\n" +
      untagged.map { case (g, f) => s"  [$g] ${f.render}" }.mkString("\n"))
  }
}

/** Counts each gate's executions and the sweep markers that reached
  * the listener bus; registered after the audit listener, so it sees
  * each event after the audit has. */
private class SweepRecorder(markerCol: String) extends QueryExecutionListener {
  @volatile var gate: String = ""
  val executions = new ConcurrentHashMap[String, AtomicLong]()
  val markers = new AtomicLong()

  private def record(qe: QueryExecution): Unit =
    if (qe.analyzed.output.map(_.name) == Seq(markerCol)) markers.incrementAndGet()
    else executions.computeIfAbsent(gate, _ => new AtomicLong()).incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
