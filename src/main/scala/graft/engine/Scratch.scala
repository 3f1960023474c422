package graft.engine

import java.io.File
import java.nio.file.Files

/** Scratch directories for operators that stage a parquet artifact
  * (the self-contained catalog entries around the persisted IVF
  * index — d37/c26 — build an index to probe it in the same call).
  *
  * Two hygiene rules the pre-r12 fixed `tmpdir/graft_<pid>` paths
  * violated: (1) every invocation gets a UNIQUE directory, so two
  * concurrent runs in one JVM can never overwrite each other's
  * artifact mid-probe; (2) nothing is orphaned — callers that fully
  * materialize their result delete eagerly ([[delete]]); callers
  * that return a frame still lazily reading the artifact rely on the
  * ONE JVM-exit hook sweeping whatever is still live.
  *
  * The exit sweep is a single shutdown hook over a shared registry
  * (r13 — the per-[[dir]] `addShutdownHook` it replaces accumulated
  * one hook per invocation for the JVM's lifetime even after the
  * caller deleted eagerly); [[delete]] deregisters the path, so a
  * long-lived session invoking d37/d46/c26 repeatedly holds exactly
  * the hooks (one) and registry entries (its live dirs) it needs.
  */
object Scratch {

  private val live = new java.util.concurrent.ConcurrentHashMap[String, Unit]()

  private lazy val hookInstalled: Unit = {
    sys.addShutdownHook {
      live.keySet().forEach(p => deleteFile(new File(p)))
    }
    ()
  }

  /** A fresh unique scratch directory, swept at JVM exit unless
    * [[delete]]d first.
    */
  def dir(prefix: String): String = {
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    live.put(p.toString, ())
    p.toString
  }

  /** Recursive delete; missing paths are a no-op (safe to call both
    * eagerly and from the exit hook). Deregisters the path from the
    * exit sweep.
    */
  def delete(path: String): Unit = {
    live.remove(path)
    deleteFile(new File(path))
  }

  def delete(f: File): Unit = delete(f.getPath)

  /** Materialize `df` as parquet at `path` (overwriting) and return
    * the read-back, pinned to `df`'s own schema. A staged read-back
    * is graft's own file with a known schema: reading it plainly
    * would launch a one-task schema-inference job per read-back.
    */
  def stage(df: org.apache.spark.sql.DataFrame,
      path: String): org.apache.spark.sql.DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  private def deleteFile(f: File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteFile)
    }
    f.delete()
    ()
  }

  /** Number of registered live scratch dirs (test observability). */
  private[graft] def liveCount: Int = live.size()
}
