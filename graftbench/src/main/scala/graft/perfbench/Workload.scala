package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: a closed loop with one client thread.
  *
  * Lifecycle, driven by [[Main]]: `stage` writes the generated inputs
  * once per seed (untimed); `prepare` is the timed set-up after each
  * session start; after the last `prepare`, `warmUp` runs the
  * workload's operations once in that session, so the JVM has compiled
  * their code paths and the session has planned them (untimed);
  * `measure` runs the loop on that session; `release` drops what
  * `prepare` built.
  */
abstract class Workload {
  def fingerprint: String
  def inputs: Seq[(String, Long)]
  def stage(spark: SparkSession, dir: File): Unit
  def warmUp(spark: SparkSession, dir: File, scratch: File): Unit
  def prepare(spark: SparkSession, dir: File, scratch: File): Unit
  def measure(spark: SparkSession, dir: File, scratch: File,
      seconds: Double, trace: Option[Trace]): Outcome
  def release(scratch: File): Unit = Files.delete(scratch)

  /** Module names the per-layer metrics cover. */
  final val Modules = Seq("pipeline", "sources", "functions", "dedup",
    "similarity", "sampling", "streaming", "engine", "bench", "other")

  /** Every per-layer metric a workload defines, each 0 unless the
    * workload's trace sets it; a layer off the workload's path reads 0.
    */
  final val LayerDefaults: Seq[Metric] = Seq(
    Metric("pipeline.write_s", 0, "s"),
    Metric("pipeline.validate_s", 0, "s"),
    Metric("pipeline.rows_out", 0, "count"),
    Metric("pipeline.files_out", 0, "count"),
    Metric("pipeline.bytes_out_per_row", 0, "bytes"),
    Metric("dedup.full_curate_s", 0, "s"),
    Metric("dedup.curate_s", 0, "s"),
    Metric("dedup.candidate_pairs", 0, "count"),
    Metric("dedup.verified_pairs", 0, "count"),
    Metric("dedup.verify_yield", 0, "ratio"),
    Metric("dedup.tuner_runs", 0, "count"),
    Metric("dedup.tuner_memo_hits", 0, "count"),
    Metric("dedup.tuner_s", 0, "s"),
    Metric("curation.engine.jobs", 0, "count"),
    Metric("curation.engine.job_s", 0, "s"),
    Metric("curation.engine.driver_gap_s", 0, "s"),
    Metric("curation.dedup.jobs", 0, "count"),
    Metric("curation.dedup.job_s", 0, "s"),
    Metric("curation.sampling.jobs", 0, "count"),
    Metric("curation.sampling.job_s", 0, "s"),
    Metric("curation.functions.jobs", 0, "count"),
    Metric("curation.functions.job_s", 0, "s"),
    Metric("dedup.build_span_index_s", 0, "s"),
    Metric("dedup.span_index_rows", 0, "count"),
    Metric("functions.score_rows_per_s", 0, "1/s"),
    Metric("functions.embed_rows_per_s", 0, "1/s"),
    Metric("functions.minhash_rows_per_s", 0, "1/s"),
    Metric("functions.simhash_rows_per_s", 0, "1/s"),
    Metric("functions.topk_rows_per_s", 0, "1/s"),
    Metric("similarity.build_ivf_index_s", 0, "s"),
    Metric("similarity.ivf_live", 0, "count"),
    Metric("streaming.epoch_s", 0, "s"),
    Metric("gate.low_quality", 0, "count"),
    Metric("gate.near_dup", 0, "count"),
    Metric("gate.span_dup", 0, "count"),
    Metric("gate.admitted_share", 0, "ratio"),
    Metric("loop.unit_s", 0, "s"),
    Metric("trace.overhead_share", 0, "ratio"))

  /** Runs `f` inside a span when tracing, plainly otherwise. */
  protected def span[T](trace: Option[Trace], name: String)(f: => T): T =
    trace.fold(f)(_.span(name)(f))

  /** Closed loop over at least `seconds` of measured time: `op(i)` runs
    * back to back and returns its wall; work between operations
    * (checks) does not count. `cycle` operations form one unit; only
    * whole units run, and at least [[MinUnits]] of them, so every run
    * covers the same mix of operations and its median unit is not the
    * slower first one after the warm-up.
    */
  protected def loop(seconds: Double, cycle: Int, limit: Int = Int.MaxValue)
      (op: Int => Double): Seq[Double] = {
    val walls = Seq.newBuilder[Double]
    var measured = 0.0
    var i = 0
    while (i < limit &&
        (i % cycle != 0 || i < MinUnits * cycle || measured < seconds)) {
      val w = op(i)
      walls += w
      measured += w
      i += 1
    }
    walls.result()
  }

  final val MinUnits = 3

  /** The traced run's loop: whole cycles alternate between untraced and
    * recorded (at least one of each), so both halves see the same
    * stretch of the run. `op(i, trace)` returns the wall of operation
    * `i`. Returns how many operations ran, the median untraced unit
    * wall, and the tracing overhead: the median recorded unit wall over
    * the median untraced one, minus one.
    */
  protected def tracedLoop(seconds: Double, cycle: Int, limit: Int, t: Trace)
      (op: (Int, Option[Trace]) => Double): (Int, Seq[Metric]) = {
    val plain, traced = Seq.newBuilder[Double]
    var measured = 0.0
    var i = 0
    var c = 0
    while (i + cycle <= limit && (c < MinUnits || measured < seconds)) {
      val tr = if (c % 2 == 1) Some(t) else None
      val wall = (i until i + cycle).map(op(_, tr)).sum
      (if (tr.isDefined) traced else plain) += wall
      measured += wall
      i += cycle
      c += 1
    }
    val unit = Stats.median(plain.result())
    (i, Seq(Metric("loop.unit_s", unit, "s"),
      Metric("trace.overhead_share", Stats.median(traced.result()) / unit - 1.0, "ratio")))
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds (all threads) of each [[timed]] call, in
    * order. Process CPU time leaves out time the host takes the CPU
    * away, which moves wall-clock figures on a shared host.
    */
  private val opCpuS = Seq.newBuilder[Double]

  /** The end-to-end metric of an untraced loop, in units of `cycle`
    * operations that handle `unitItems` input items: the median unit's
    * process CPU milliseconds per 1,000 items. The median keeps a slow
    * unit, such as the first one after the warm-up, from setting the
    * figure. Wall-clock throughput is not bounded: hypervisor steal on
    * a shared host moves it by more than any bound allows (NOTES.md).
    */
  protected def endToEnd(unitItems: Long, cycle: Int): Seq[Metric] = Seq(
    Metric("cpu_ms_per_kitem", Stats.median(opCpuS.result().grouped(cycle)
      .map(_.sum).toSeq) * 1e6 / unitItems, "ms"))

  /** Wall of `f`, recorded by the trace when there is one. */
  protected def timed[T](tr: Option[Trace])(f: => T): (T, Double) = {
    val c0 = os.getProcessCpuTime
    try tr.fold(Stats.seconds(f))(_.record(Trace.Loop)(Stats.seconds(f)))
    finally opCpuS += (os.getProcessCpuTime - c0) / 1e9
  }

  /** The `functions` kernels, each over a cached copy of `docs` written
    * to the `noop` sink: rows per second, best of two passes.
    */
  protected def kernels(docs: DataFrame, weights: DataFrame): Seq[Metric] = {
    import graft.functions._
    val cached = docs.select("doc_id", "text", "source").cache()
    val n = cached.count().toDouble
    def rate(name: String, df: => DataFrame): Metric = {
      val best = (0 until 2).map { _ =>
        Stats.seconds(df.write.format("noop").mode("overwrite").save())._2
      }.min
      Metric(s"functions.${name}_rows_per_s", n / best, "1/s")
    }
    val out = Seq(
      rate("score", HashedLinear.scorePm(cached, weights, Gen.WeightDim,
        "doc_id", "text")),
      rate("embed", HashEmbed.embed(cached, "doc_id", "text", 16)),
      rate("minhash", cached.select(col("doc_id"),
        graft.dedup.Dedup.minhashSignature(col("text"), 8, 16).as("sig"))),
      rate("simhash", cached.select(col("doc_id"), TextHash.simhash(
        TextHash.word_gram_hashes(col("text"), 1, distinct = false), 64)
        .as("sh"))),
      rate("topk", cached.groupBy("source").agg(TopKAgg.top_k(
        TextHash.poly_hash(col("text")).cast("double"), col("doc_id"), 16)
        .as("top"))))
    cached.unpersist()
    out
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
    ()
  }

  /** Data files and their bytes under `dir`, hidden and marker files
    * excluded.
    */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  def md5(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Compares `digest` with the one recorded for this seed, recording
    * it if none is; false when they differ.
    */
  def stableDigest(dir: File, name: String, digest: String): Boolean = {
    val f = new File(dir, s"digest-$name.txt")
    if (f.exists()) new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim == digest
    else {
      java.nio.file.Files.write(f.toPath, digest.getBytes("UTF-8"))
      true
    }
  }
}
