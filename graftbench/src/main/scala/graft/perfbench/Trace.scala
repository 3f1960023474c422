package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-layer attribution measured from outside the program.
  *
  * A [[Trace]] is a `SparkListener` the benchmark registers itself. It
  * keeps every job of the traced window in memory, attributes each one
  * to a graft module through the file name in the job's short call
  * site, and sums task metrics. The benchmark records its own spans
  * around calls into public graft entry points; a job whose call site
  * is a benchmark file (the benchmark materializing a frame that graft
  * returned) is attributed to the module of the innermost open span.
  * Every recorded window has a name, and the numbers of each window
  * name are kept apart: the loop's operations are [[Trace.Loop]].
  */
final class Trace(sc: SparkContext, modules: Map[String, String])
    extends SparkListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val open = mutable.Map.empty[Int, JobRec]
  private val spanList = mutable.ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[SpanRec]
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  // the window being recorded; events arrive only while one is
  private var window = ""

  private val stages = mutable.Map.empty[String, Long].withDefaultValue(0L)
  // task totals per window: tasks, run ms, cpu ns, gc ms, shuffle
  // write, shuffle read, spill, input and output bytes
  private val totals = mutable.Map.empty[String, Array[Long]]

  // short call site of each SQL execution, taken on the thread that
  // started it
  private val execSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val own = prop("callSite.short")
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    // Jobs that adaptive execution submits from its own threads carry
    // a thread-pool call site; their query's call site names the caller.
    val site =
      if (modules.contains(fileOf(own))) own
      else prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
        .getOrElse(own)
    val span = prop(SpanKey).getOrElse("")
    val rec = JobRec(e.jobId, window, site, moduleOf(site, span), span, e.time, -1L)
    open(e.jobId) = rec
    jobs += rec
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages(window) += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(window, new Array[Long](9))
      t(0) += 1
      t(1) += m.executorRunTime
      t(2) += m.executorCpuTime
      t(3) += m.jvmGCTime
      t(4) += m.shuffleWriteMetrics.bytesWritten
      t(5) += m.shuffleReadMetrics.totalBytesRead
      t(6) += m.memoryBytesSpilled + m.diskBytesSpilled
      t(7) += m.inputMetrics.bytesRead
      t(8) += m.outputMetrics.bytesWritten
    }
  }

  private def fileOf(site: String): String =
    SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("")

  private def moduleOf(site: String, span: String): String =
    modules.getOrElse(fileOf(site), "other") match {
      case "bench" if span.nonEmpty => span.takeWhile(_ != '.')
      case m => m
    }

  /** Records `f` as a window named `name`: the listener is registered
    * for its duration, and removed once every event it caused has been
    * delivered. Only recorded windows count towards the per-layer
    * numbers.
    */
  def record[T](name: String)(f: => T): T = {
    synchronized { window = name }
    sc.addSparkListener(this)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      drain(sc)
      sc.removeSparkListener(this)
      synchronized { windows += ((name, t0, t1)) }
    }
  }

  /** Runs `f` inside a span named `module.what`; the span name rides
    * on every job `f` starts, including jobs of threads it spawns.
    */
  def span[T](name: String)(f: => T): T = {
    val parent = stack.headOption.map(_.name).getOrElse("")
    val rec = SpanRec(name, parent, System.currentTimeMillis(), System.nanoTime(), -1L, -1L)
    val prev = sc.getLocalProperty(SpanKey)
    stack = rec :: stack
    sc.setLocalProperty(SpanKey, name)
    try f
    finally {
      rec.end = System.nanoTime()
      rec.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
      synchronized { spanList += rec }
    }
  }

  def spanDurations(name: String): Seq[Double] = synchronized {
    spanList.filter(_.name == name).map(r => (r.end - r.start) / 1e9).toSeq
  }

  /** Each run of span `name`, split where its first job with a call
    * site in a benchmark file starts: seconds before and after that
    * point (all of the span is before it when it has no such job).
    */
  def splitAtBenchJob(name: String): Seq[(Double, Double)] = synchronized {
    spanList.filter(_.name == name).toSeq.map { s =>
      val cut = jobs.filter(j => j.start >= s.startMs && j.start <= s.endMs &&
        modules.get(fileOf(j.site)).contains("bench")).map(_.start)
        .minOption.getOrElse(s.endMs)
      ((cut - s.startMs) / 1e3, (s.endMs - cut) / 1e3)
    }
  }

  /** Engine and per-module numbers of the windows named `window`. */
  def layerMetrics(window: String, moduleNames: Seq[String]): Seq[Metric] = synchronized {
    val done = jobs.filter(j => j.window == window && j.end >= 0).toSeq
    val wall = windows.collect { case (w, a, b) if w == window => b - a }.sum / 1e3
    val t = totals.getOrElse(window, new Array[Long](9))
    val busy = unionSeconds(done.map(j => (j.start, j.end)))
    val engine = Seq(
      Metric("engine.jobs", done.size, "count"),
      Metric("engine.stages", stages(window).toDouble, "count"),
      Metric("engine.tasks", t(0).toDouble, "count"),
      Metric("engine.job_s", busy, "s"),
      Metric("engine.driver_gap_s", math.max(wall - busy, 0.0), "s"),
      Metric("engine.task_run_s", t(1) / 1e3, "s"),
      Metric("engine.task_cpu_s", t(2) / 1e9, "s"),
      Metric("engine.gc_s", t(3) / 1e3, "s"),
      Metric("engine.shuffle_write_bytes", t(4).toDouble, "bytes"),
      Metric("engine.shuffle_read_bytes", t(5).toDouble, "bytes"),
      Metric("engine.spill_bytes", t(6).toDouble, "bytes"),
      Metric("engine.input_bytes", t(7).toDouble, "bytes"),
      Metric("engine.output_bytes", t(8).toDouble, "bytes"))
    val perModule = moduleNames.flatMap { m =>
      val js = done.filter(_.module == m)
      // the engine module's own jobs, next to the engine-wide totals
      val prefix = if (m == "engine") "engine.own" else m
      Seq(Metric(s"$prefix.jobs", js.size, "count"),
        Metric(s"$prefix.job_s", unionSeconds(js.map(j => (j.start, j.end))), "s"))
    }
    engine ++ perModule
  }

  /** The raw trace, written out when the run ends. */
  def toJson: String = synchronized {
    val js = jobs.map(j =>
      s"""{"id":${j.id},"window":${Json.str(j.window)},"module":${Json.str(j.module)},"site":${Json.str(j.site)},"span":${Json.str(j.span)},"start_ms":${j.start},"end_ms":${j.end}}""")
    val ss = spanList.map(s =>
      s"""{"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},"start_ns":${s.start},"end_ns":${s.end}}""")
    val ws = windows.map { case (w, a, b) => s"[${Json.str(w)},$a,$b]" }
    s"""{"windows_ms":[${ws.mkString(",")}],"jobs":[${js.mkString(",")}],"spans":[${ss.mkString(",")}]}"""
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  /** The window name of the loop's recorded operations. */
  val Loop = "loop"
  private val SiteFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r

  final case class JobRec(id: Int, window: String, site: String,
      module: String, span: String, start: Long, var end: Long)
  /** A span's start and end in wall milliseconds, to compare with job
    * times, and in nanoseconds, for its duration.
    */
  final case class SpanRec(name: String, parent: String, startMs: Long,
      start: Long, var end: Long, var endMs: Long)

  /** Length of the union of `[start, end]` millisecond intervals, in
    * seconds.
    */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Source file name → graft module, read from the source tree the
    * benchmark was built from: `src/main/scala/graft/<module>/X.scala`
    * belongs to `<module>`, top-level files to `graft`, and the
    * benchmark's own files to `bench`.
    */
  def moduleMap(repoRoot: java.io.File): Map[String, String] = {
    val graftDir = new java.io.File(repoRoot, "src/main/scala/graft")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val lib = scalaFiles(graftDir).map { f =>
      val rel = graftDir.toPath.relativize(f.toPath)
      f.getName -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }
    val bench = scalaFiles(new java.io.File(repoRoot,
      "graftbench/src/main/scala")).map(_.getName -> "bench")
    (lib ++ bench).toMap
  }

  /** Blocks until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.graftbench.Bus.drain(sc)
}
