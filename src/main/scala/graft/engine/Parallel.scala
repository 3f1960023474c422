package graft.engine

/** Overlap INDEPENDENT driver-side Spark actions (guide §2.6: the
  * scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because driver code
  * calls them sequentially). Used where an operator issues two or
  * more actions with no data dependency — e.g. the span-index build
  * and the IVF build of the composed ingest gate, or the two index
  * appends of one admitted batch — so the second job's tasks
  * back-fill executors freed by the first job's tail instead of
  * waiting for its last straggler plus a full job-overhead round.
  *
  * Semantics-preserving by construction: callers may only pass
  * actions whose outputs are disjoint (different directories,
  * different tables) and whose inputs are already materialized or
  * independently derivable. Failures propagate: the first thrown
  * exception is rethrown (unwrapped) after all tasks settle, so a
  * crash mid-parallel-build leaves the same converging retry state
  * as the sequential order it replaces.
  *
  * Never returns while a task is still running. If the caller is
  * interrupted (or a task future is cancelled) while waiting, the
  * remaining tasks are cancelled with an interrupt, the pool is
  * drained, and the exception is rethrown with the caller's
  * interrupt status restored — so a caller's `finally
  * Scratch.delete(stage)` cannot race a task thread still writing
  * there. Each task thread tags its Spark jobs with a tag unique to
  * the call; on interrupt those jobs are cancelled too, and `run`
  * returns only once the status tracker shows none of them running
  * (for at most 30 s), so an abandoned append stops holding
  * executors.
  */
object Parallel {
  import java.util.concurrent.{Callable, CancellationException,
    ExecutionException, ExecutorService, Executors, TimeUnit}
  import org.apache.spark.SparkContext
  import org.apache.spark.sql.SparkSession

  /** Longest wait for cancelled jobs to leave the status tracker. */
  private val CancelWaitMs = 30000L

  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.lengthCompare(1) <= 0) { tasks.foreach(_.apply()); return }
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(tasks.length)
    var interrupted = false
    var cancelled = false
    try {
      val futs = tasks.map { t =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = { sc.foreach(_.addJobTag(tag)); t() }
        })
      }
      var firstFailure: Throwable = null
      try futs.foreach { f =>
        try f.get()
        catch {
          case e: ExecutionException =>
            if (firstFailure == null)
              firstFailure = Option(e.getCause).getOrElse(e)
        }
      } catch {
        case e @ (_: InterruptedException | _: CancellationException) =>
          interrupted = e.isInstanceOf[InterruptedException]
          cancelled = true
          sc.foreach(_.cancelJobsWithTag(tag, "Parallel.run interrupted"))
          futs.foreach(_.cancel(true))
          throw e
      }
      if (firstFailure != null) throw firstFailure
    } finally {
      pool.shutdown()
      interrupted = awaitAll(pool) || interrupted
      if (cancelled) sc.foreach(c => interrupted = awaitCancelled(c, tag) || interrupted)
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** Cancel again whatever a task thread submitted while it was being
    * interrupted, then wait until the status tracker shows no running
    * job with `tag`; returns whether an interrupt arrived meanwhile.
    */
  private def awaitCancelled(sc: SparkContext, tag: String): Boolean = {
    sc.cancelJobsWithTag(tag, "Parallel.run interrupted")
    val deadline = System.currentTimeMillis() + CancelWaitMs
    def running = {
      val active = sc.statusTracker.getActiveJobIds().toSet
      sc.statusTracker.getJobIdsForTag(tag).exists(active)
    }
    try {
      while (running && System.currentTimeMillis() < deadline) Thread.sleep(10)
      false
    } catch { case _: InterruptedException => true }
  }

  /** Block until every pool thread has exited, through interrupts;
    * returns whether one arrived meanwhile.
    */
  private def awaitAll(pool: ExecutorService): Boolean = {
    var interrupted = false
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.MINUTES)
      catch { case _: InterruptedException => interrupted = true }
    interrupted
  }
}
