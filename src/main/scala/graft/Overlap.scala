package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.graft.SparkInternals
import org.apache.spark.sql.SparkSession

/** Overlaps two independent legs of one query's construction, typically
  * eager checkpoints whose small jobs would otherwise run one after the
  * other with most cores idle. `b` runs on the calling thread and `a` on
  * one of two daemon threads shared by all callers. For the length of its
  * run only, `a`'s thread carries a copy of the caller's job-local
  * properties (so a measurement span counts the leg's jobs) and the
  * caller's active session; afterwards it carries neither, so a pooled
  * thread never leaves a stale span or SQL execution id on later work.
  */
object Overlap {
  private val ThreadName = "graft-overlap"

  private val pool = Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, ThreadName)
    t.setDaemon(true)
    t
  })

  /** `(a, b)`, computed at once; throws the first leg's failure, after
    * both legs have finished. A call made from a leg runs inline, so
    * nested calls cannot exhaust the pool.
    */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) =
    if (Thread.currentThread.getName == ThreadName) (a, b)
    else {
      val sc = spark.sparkContext
      val props = SparkInternals.legProperties(sc)
      val fa = pool.submit(new Callable[A] {
        def call(): A = SparkInternals.withLocalProperties(sc, props) {
          SparkSession.setActiveSession(spark)
          try a finally SparkSession.clearActiveSession()
        }
      })
      val rb = scala.util.Try(b)
      val ra = try fa.get() catch { case e: ExecutionException => throw e.getCause }
      (ra, rb.get)
    }
}
