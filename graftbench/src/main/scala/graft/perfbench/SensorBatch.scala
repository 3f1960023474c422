package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.pipeline.{PipelineConfig, SensorJob, SensorSchemas}
import graft.sources.Tables

/** `sensor_batch`: the reference pipeline's own traffic. One cycle is a
  * `SensorJob.run` backfill (overwrite) followed by daily incremental
  * runs, each reading back the output so far for its cutoff, appending
  * and validating. Every run's validation report is checked against
  * the generator's per-tagpath truth.
  */
final class SensorBatch(seed: Long) extends Workload {
  private val in = Gen.sensor(seed)
  private val WarmRows = 10000
  def fingerprint: String = in.fingerprint
  def inputs: Seq[(String, Long)] = Seq("tags" -> in.tags.size.toLong) ++
    in.runs.map(r => s"${r.name}_rows" -> r.readings.length.toLong)

  /** Reads a staged input the way the reference pipeline loads its
    * tables: schema-enforced, through `graft.sources`.
    */
  private def load(spark: SparkSession, dir: File, name: String) = {
    val schema = if (name == "tags") SensorSchemas.Tags else SensorSchemas.SensorRaw
    Tables.tryLoad(spark, Seq(new File(dir, name).getPath), Some(schema))
      .getOrElse(sys.error(s"staged input $name is unreadable"))
  }

  private def config(out: File, incremental: Boolean) = PipelineConfig(
    outputDir = out.getPath,
    sensorPatterns = in.patterns,
    defaultStartDate = in.startDate,
    lookbackDays = 3650,
    writeMode = if (incremental) "append" else "overwrite",
    maxRecordsPerFile = 20000,
    integrityMin = Gen.Sensor.IntegrityMin,
    integrityMax = Gen.Sensor.IntegrityMax)

  def stage(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    in.tags.toDF().coalesce(1).write.parquet(new File(dir, "tags").getPath)
    // Shipped to the tasks as primitive column chunks, one per output
    // file: serializing a million row objects costs more than the write.
    def readings(rs: Array[Gen.Reading], files: Int) = {
      val chunks = rs.grouped((rs.length + files - 1) / files).map(c =>
        (c.map(_.tagid), c.map(_.t_stamp), c.map(_.value), c.map(_.dataintegrity)))
        .toSeq
      spark.sparkContext.parallelize(chunks, chunks.size).flatMap {
        case (a, b, c, d) => a.indices.iterator.map(i => (a(i), b(i), c(i), d(i)))
      }.toDF("tagid", "t_stamp", "value", "dataintegrity")
    }
    in.runs.foreach { r =>
      val files = if (r.incremental) 4 else 8
      readings(r.readings, files).write.parquet(new File(dir, r.name).getPath)
    }
    // a small slice of the backfill for warm-up
    readings(in.runs.head.readings.take(WarmRows), 2)
      .write.parquet(new File(dir, "warm").getPath)
  }

  /** A backfill and then an incremental run of `input` into a throwaway
    * output directory.
    */
  private def pair(spark: SparkSession, dir: File, out: File,
      backfill: String, incremental: String): Unit = {
    val tags = load(spark, dir, "tags")
    new SensorJob(spark, config(out, incremental = false))
      .run(load(spark, dir, backfill), tags).collect()
    new SensorJob(spark, config(out, incremental = true))
      .run(load(spark, dir, incremental), tags,
        Some(spark.read.parquet(out.getPath))).collect()
    Files.delete(out)
  }

  /** The cycle's first two runs over the real inputs. */
  def warmUp(spark: SparkSession, dir: File, scratch: File): Unit =
    pair(spark, dir, new File(scratch, "warm_up"), in.runs(0).name, in.runs(1).name)

  /** Session set-up: the same pair over the small warm slice, so the new
    * session has resolved the job's plans once.
    */
  def prepare(spark: SparkSession, dir: File, scratch: File): Unit =
    pair(spark, dir, new File(scratch, "warm_out"), "warm", "warm")

  def measure(spark: SparkSession, dir: File, scratch: File,
      seconds: Double, trace: Option[Trace]): Outcome = {
    val out = new File(scratch, "sensor_out")
    val tags = load(spark, dir, "tags")
    val problems = Seq.newBuilder[String]
    var failed = 0L
    val cycle = in.runs.size
    var outRows = 0L

    def op(i: Int, tr: Option[Trace]): Double = {
      val r = in.runs(i % cycle)
      val readings = load(spark, dir, r.name)
      val existing =
        if (r.incremental) Some(spark.read.parquet(out.getPath)) else None
      val job = new SensorJob(spark, config(out, r.incremental))
      val (report, wall) = timed(tr)(span(tr, "pipeline.run")(
        job.run(readings, tags, existing).collect()))
      val got = report.map(row => row.getString(0) ->
        Gen.TagTruth(row.getLong(1), row.getTimestamp(2).getTime,
          row.getTimestamp(3).getTime)).toMap
      if (got != r.truth) {
        failed += 1
        val diff = (got.keySet ++ r.truth.keySet).toSeq.sorted
          .filter(k => got.get(k) != r.truth.get(k)).take(3)
          .map(k => s"$k: got ${got.get(k)} want ${r.truth.get(k)}")
        problems += s"sensor run ${r.name} (op $i): ${diff.mkString("; ")}"
      }
      val total = got.values.map(_.rows).sum
      outRows = total
      wall
    }

    trace match {
      case None =>
        val ws = loop(seconds, cycle)(op(_, None))
        Outcome(ws.size, failed, problems.result(),
          endToEnd(in.runs.map(_.readings.length.toLong).sum, cycle),
          Nil, inputs, fingerprint, ws)
      case Some(t) =>
        val (n, loopMetrics) = tracedLoop(seconds, cycle, Int.MaxValue, t)(op)
        val files = Files.dataFiles(out)
        val bytes = files.map(_.length).sum
        // SensorJob.run writes and returns the validation frame, which
        // the benchmark collects: its first job from a benchmark call
        // site is where validation starts
        val split = t.splitAtBenchJob("pipeline.run")
        Outcome(n, failed, problems.result(), Nil, Seq(
          Metric("pipeline.write_s", Stats.median(split.map(_._1)), "s"),
          Metric("pipeline.validate_s", Stats.median(split.map(_._2)), "s"),
          Metric("pipeline.rows_out", outRows, "count"),
          Metric("pipeline.files_out", files.size, "count"),
          Metric("pipeline.bytes_out_per_row", bytes.toDouble / math.max(outRows, 1L), "bytes"))
          ++ loopMetrics, inputs, fingerprint, Nil)
    }
  }
}
