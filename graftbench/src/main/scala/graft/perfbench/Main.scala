package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of graft's benchmark:
  *
  * {{{
  * Main --workload <sensor_batch|ingest_gate> --seed <n>
  *      --seconds <s> --trace <0|1>
  * }}}
  *
  * Run from the repository root (graftbench/run.py builds and launches
  * it). Spark runs `local[n]`, with `n` the core count `nproc` prints.
  * Inputs are generated from the seed and staged under
  * `.bench_build/graftbench/inputs`; the session is then set up
  * [[SetupReps]] times (`setup_s` is the median), and the last session
  * runs the workload's closed loop for `--seconds`. The last line of
  * standard output is the result object; the line before it records
  * provenance, inputs and raw samples.
  */
object Main {
  val Workloads = Seq("sensor_batch", "ingest_gate")
  val SetupReps = 3

  final case class Options(workload: String, seed: Long, seconds: Int,
      trace: Boolean)

  def parse(args: Array[String]): Options = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k")
      k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace")
    require(kv.keySet == known,
      s"need exactly ${known.toSeq.sorted.mkString(", ")}; got ${kv.keySet.toSeq.sorted.mkString(", ")}")
    def int(k: String, lo: Int, hi: Int): Int = {
      val v = kv(k).toIntOption.getOrElse(
        throw new IllegalArgumentException(s"--$k must be an integer, got '${kv(k)}'"))
      require(v >= lo && v <= hi, s"--$k must be in [$lo, $hi], got $v")
      v
    }
    val w = kv("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; one of ${Workloads.mkString(", ")}")
    val seed = kv("seed").toLongOption.getOrElse(
      throw new IllegalArgumentException(s"--seed must be an integer, got '${kv("seed")}'"))
    require(seed >= 0, s"--seed must be >= 0, got $seed")
    Options(w, seed, int("seconds", 1, 600), int("trace", 0, 1) == 1)
  }

  /** The core count `nproc` prints, refused unless it is a positive
    * integer.
    */
  def cores(): Int = {
    val out = try scala.sys.process.Process("nproc").!!.trim catch {
      case e: Exception => throw new IllegalArgumentException(s"cannot run nproc: ${e.getMessage}")
    }
    out.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(s"nproc printed '$out', not a positive integer"))
  }

  def session(cores: Int, base: File): SparkSession = {
    val s = graft.engine.Session
      .builder(master = s"local[$cores]", shufflePartitions = cores,
        appName = "graftbench")
      .config("spark.sql.warehouse.dir", new File(base, "warehouse").getPath)
      .config("spark.local.dir", new File(base, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val (opt, nCores) = try (parse(args), cores()) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"graftbench: ${e.getMessage}")
        sys.exit(2)
    }
    val root = new File(".").getCanonicalFile
    require(new File(root, "src/main/scala/graft").isDirectory,
      "run from the root of a graft checkout")
    val base = new File(root, ".bench_build/graftbench")
    val workload: Workload = Log.time("generate")(opt.workload match {
      case "sensor_batch" => new SensorBatch(opt.seed)
      case "ingest_gate" => new IngestGate(opt.seed)
    })
    val stageDir = new File(base,
      s"inputs/${opt.workload}-s${opt.seed}-${workload.fingerprint}")
    val scratch = new File(base, s"run-${ProcessHandle.current().pid()}")
    scratch.mkdirs()

    val setups = Seq.newBuilder[Double]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { rep =>
      val (s, start) = Stats.seconds(session(nCores, base))
      spark = s
      val ready = new File(stageDir, "_READY")
      if (!ready.exists()) {
        Files.delete(stageDir)
        stageDir.mkdirs()
        Log.time("stage")(workload.stage(spark, stageDir))
        ready.createNewFile()
      }
      val (_, prep) = Stats.seconds(workload.prepare(spark, stageDir,
        new File(scratch, s"setup$rep")))
      System.err.println(f"graftbench: setup $rep: session $start%.3f s, prepare $prep%.3f s")
      setups += start + prep
      if (rep == SetupReps - 1) Log.time("warm-up")(workload.warmUp(spark, stageDir,
        new File(scratch, s"setup$rep")))
      if (rep < SetupReps - 1) {
        workload.release(new File(scratch, s"setup$rep"))
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val live = new File(scratch, s"setup${SetupReps - 1}")

    val trace = if (opt.trace)
      Some(new Trace(spark.sparkContext, Trace.moduleMap(root))) else None
    val (outcome, steal) = Host.stealShare(
      try workload.measure(spark, stageDir, live, opt.seconds, trace)
      catch {
        case e: Throwable =>
          Outcome(1, 1, Seq(s"${e.getClass.getName}: ${e.getMessage}"), Nil, Nil,
            workload.inputs, workload.fingerprint, Nil)
      })
    val setupS = Stats.median(setups.result())

    val metrics =
      if (opt.trace) {
        val t = trace.get
        val set = outcome.layers.map(m => m.name -> m).toMap
        t.layerMetrics(Trace.Loop, workload.Modules) ++
          workload.LayerDefaults.map(d => set.getOrElse(d.name, d))
      } else Metric("setup_s", setupS, "s") +: outcome.endToEnd
    trace.foreach { t =>
      val f = new File(base, s"traces/${opt.workload}-s${opt.seed}.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, t.toJson.getBytes("UTF-8"))
    }
    outcome.problems.foreach(p => System.err.println(s"graftbench: CHECK FAILED: $p"))

    val correct = outcome.problems.isEmpty && outcome.failed == 0
    val provenance = Seq(
      "workload" -> Json.str(opt.workload),
      "seed" -> opt.seed.toString,
      "seconds" -> opt.seconds.toString,
      "trace" -> (if (opt.trace) "1" else "0"),
      "cores" -> nCores.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "generator" -> Json.str(s"v${Gen.Version}-${outcome.fingerprint}"),
      "inputs" -> outcome.inputs.map { case (k, v) => s"${Json.str(k)}:$v" }
        .mkString("{", ",", "}"),
      "setup_s" -> setups.result().map(Json.num).mkString("[", ",", "]"),
      "samples" -> outcome.samples.map(Json.num).mkString("[", ",", "]"),
      "host_steal_share" -> steal.fold("null")(Json.num),
      "problems" -> outcome.problems.map(Json.str).mkString("[", ",", "]"))
    val provLine = provenance.map { case (k, v) => s"${Json.str(k)}:$v" }
      .mkString("{\"provenance\":{", ",", "}}")
    val result = s"""{"correct":$correct,"attempted":${math.max(outcome.attempted, 1)},"failed":${outcome.failed},"metrics":${Json.metrics(metrics)}}"""
    val rf = new File(base, s"results/${opt.workload}-s${opt.seed}-t${if (opt.trace) 1 else 0}.json")
    rf.getParentFile.mkdirs()
    java.nio.file.Files.write(rf.toPath, (provLine + "\n" + result + "\n").getBytes("UTF-8"))

    spark.stop()
    Files.delete(scratch)
    println(provLine)
    println(result)
  }
}
