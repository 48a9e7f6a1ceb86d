package graft.core

import java.util.concurrent.{Callable, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** The one driver-side thread pool: independent Spark actions (a
  * commit's staging writes, a refresh's input resolutions, a fuzz
  * gate's generated queries) submitted from several driver threads
  * run as concurrent jobs, so the task slots stay busy while another
  * job is being planned, scheduled or committed on the driver.
  *
  * The pool lives for one [[map]] call. Its threads are created by the
  * calling thread, so they inherit its Spark local properties (job
  * group, scheduler pool), and they are daemons, so a pool can never
  * keep the JVM alive.
  */
object DriverPool {

  private val threadIds = new AtomicInteger

  /** `f` over `items` from a fixed pool of `width` daemon threads,
    * results in input order. Every started call has finished before
    * this returns or throws. After a call fails, calls not yet started
    * are skipped, and the first failure is rethrown as itself (not
    * wrapped in an `ExecutionException`). The pool is shut down in
    * every case. */
  def map[A, B](items: Seq[A], width: Int)(f: A => B): List[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, width), new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-driver-pool-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
    val firstFailure = new AtomicReference[Throwable]
    try {
      val calls = items.map { a =>
        pool.submit(new Callable[Option[B]] {
          def call(): Option[B] =
            if (firstFailure.get != null) None
            else
              try Some(f(a))
              catch { case t: Throwable => firstFailure.compareAndSet(null, t); None }
        })
      }
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      Option(firstFailure.get).foreach(t => throw t)
      calls.map(_.get.get).toList
    } finally pool.shutdownNow()
  }
}
