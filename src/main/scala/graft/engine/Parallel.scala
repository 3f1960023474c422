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
  * there. (The interrupt does not cancel a Spark job such a thread
  * already submitted; a caller that needs that cancels its job
  * group.)
  */
object Parallel {
  import java.util.concurrent.{Callable, CancellationException,
    ExecutionException, ExecutorService, Executors, TimeUnit}

  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.lengthCompare(1) <= 0) { tasks.foreach(_.apply()); return }
    val pool = Executors.newFixedThreadPool(tasks.length)
    var interrupted = false
    try {
      val futs = tasks.map { t =>
        pool.submit(new Callable[Unit] { def call(): Unit = t() })
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
          futs.foreach(_.cancel(true))
          throw e
      }
      if (firstFailure != null) throw firstFailure
    } finally {
      pool.shutdown()
      interrupted = awaitAll(pool) || interrupted
      if (interrupted) Thread.currentThread().interrupt()
    }
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
