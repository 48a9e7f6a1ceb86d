package graft.jobs

import graft.sources.StateStore

/** One schedulable unit: a name, a content fingerprint of its INPUTS
  * (evaluated lazily, at the moment the job is considered — so a
  * downstream job sees the files its upstream just wrote; the chains
  * use [[graft.core.TableIO.fingerprint]] of their input dirs), and
  * the work itself. */
final case class JobSpec(name: String, fingerprint: () => String, run: () => Unit)

/** §7.1's scheduler shell — the thin ordered-job runner the reference
  * implements twice: `automation_base.R:68-93` loops registered
  * programs with a per-program state row (M9), and the GISAID importer
  * hard-chains the matview refresh as its final stage
  * (`gisaid/GisaidApiImporter.java:384-387` →
  * `spectrum/refreshes.sql:14-36`). Here the chain is data:
  * an ordered `Seq[JobSpec]` with skip-if-unchanged semantics.
  *
  *  - **Ordering**: jobs run strictly in sequence — a downstream job
  *    reads what its upstream wrote (import → refresh).
  *  - **Skip-if-unchanged**: a job runs only when its input
  *    fingerprint differs from the one recorded at its last SUCCESS
  *    (the reference skips re-processing via processed-file lists in
  *    its state JSON). Unchanged inputs → deterministic outputs →
  *    skip, which is what makes a polling scheduler cheap to run
  *    every few minutes.
  *  - **Failure**: a failed job records NOTHING (the next invocation
  *    retries it) and blocks everything after it — downstream jobs
  *    would consume half-written or stale upstream output.
  *
  * Spark-first note: this is driver-side orchestration of O(#jobs)
  * strings — no data moves through it; the jobs themselves are the
  * distributed work.
  */
object JobRunner {

  sealed trait Outcome { def tag: String }
  case object Ran extends Outcome { val tag = "ran" }
  case object Skipped extends Outcome { val tag = "skipped" }
  final case class Failed(error: Throwable) extends Outcome { val tag = "failed" }
  case object Blocked extends Outcome { val tag = "blocked" }

  /** Run `jobs` in order against `state`; returns (name, outcome) per
    * job, in order. Never throws — the caller owns exit semantics
    * (the mains exit nonzero on any Failed/Blocked). */
  def runOrdered(state: StateStore, jobs: Seq[JobSpec]): Seq[(String, Outcome)] = {
    var failed = false
    jobs.map { j =>
      val outcome: Outcome =
        if (failed) Blocked
        else {
          val fp = j.fingerprint()
          if (state.get(stateKey(j.name)).contains(fp)) Skipped
          else try {
            j.run()
            state.set(stateKey(j.name), fp)
            Ran
          } catch { case e: Exception => failed = true; Failed(e) }
        }
      println(s"[jobs] ${j.name}: ${outcome.tag}" + (outcome match {
        case Failed(e) => s" (${e.getMessage})"
        case _ => ""
      }))
      j.name -> outcome
    }
  }

  private def stateKey(name: String) = s"job.$name"

  /** Forget a job's recorded fingerprint — forces it (and transitively
    * its downstream, whose inputs will change) on the next run. */
  def invalidate(state: StateStore, name: String): Unit =
    state.delete(stateKey(name))
}
