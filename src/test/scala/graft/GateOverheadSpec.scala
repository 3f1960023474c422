package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.streaming.StreamingOps

/** The ingest gate's fixed per-epoch overhead, pinned:
  *  - reads of a resolved IVF generation (centroids, lists, tail)
  *    launch no schema-inference job, and the pinned schemas are
  *    exactly what a plain read infers;
  *  - a second gate epoch of the same shape reuses the first one's
  *    generated classes instead of recompiling them;
  *  - `SPARK_GRAFT_CPUS` is parsed once, as a positive integer.
  */
class GateOverheadSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_gate_$tag").toString

  /** Ids of the Spark jobs `body` launched on this thread. */
  private def jobsLaunchedBy(body: => Any): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "jobs under test")
    try body finally sc.clearJobGroup()
    // Job events reach the status store in submission order, so once
    // a later fence job is visible, every job `body` launched is too.
    val fence = s"$group-fence"
    sc.setJobGroup(fence, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty,
      "fence job never reached the status store")
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  private def vecs(ids: Seq[Long], elem: DataType): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val r = new scala.util.Random(i * 2654435761L)
      i -> Seq.fill(8)(r.nextGaussian())
    }.toDF("vec_id", "vec")
      .select(col("vec_id"), col("vec").cast(ArrayType(elem)).as("vec"))
  }

  /** Resolve the live generation once, then re-read it: no job, and
    * every pinned schema equals a fresh inference read.
    */
  private def assertPinned(idx: String, elem: DataType): Unit = {
    Similarity.ivfCentroids(spark, idx)
    Similarity.ivfLists(spark, idx)
    val jobs = jobsLaunchedBy {
      Similarity.ivfCentroids(spark, idx)
      Similarity.ivfLists(spark, idx)
    }
    assert(jobs.isEmpty, s"pinned reads launched jobs $jobs")
    val m = Similarity.ivfMeta(spark, idx)
    Seq("centroids", "lists", "tail").foreach { t =>
      assert(m.schema(spark, t) ==
        spark.read.parquet(s"${m.dataDir}/$t").schema, t)
    }
    val lists = m.schema(spark, "lists")
    assert(lists("cid").dataType == IntegerType) // inferred from cid=<n>
    assert(lists("v").dataType == ArrayType(elem))
    assert(m.schema(spark, "tail")("cid").dataType == LongType)
    assert(Similarity.ivfLists(spark, idx).schema == lists)
  }

  test("pinned IVF reads launch no jobs and match inference: float, double, and the rebuilt generation") {
    // the check can see a job at all: a plain read infers with one
    val probe = scratch("probe")
    vecs(Seq(1L), DoubleType).write.mode("overwrite").parquet(probe)
    assert(jobsLaunchedBy(spark.read.parquet(probe)).nonEmpty)

    Seq(FloatType, DoubleType).foreach { elem =>
      val idx = scratch(s"pinned_$elem")
      Similarity.buildIvfIndex(vecs(0L until 40L, elem), "vec_id", "vec",
        idx, kCentroids = 4)
      Similarity.appendIvfIndex(vecs(100L until 110L, elem), "vec_id",
        "vec", idx)
      assertPinned(idx, elem)
      assert(Similarity.ivfLists(spark, idx).count() == 50L)
      assert(Similarity.ivfLiveCount(spark, idx) == 50L)

      val gen = Similarity.ivfMetaFull(spark, idx)._5
      Similarity.rebuildIvfIndex(spark, idx, kCentroids = 5)
      assert(Similarity.ivfMetaFull(spark, idx)._5 == gen + 1)
      Similarity.appendIvfIndex(vecs(200L until 205L, elem), "vec_id",
        "vec", idx)
      assertPinned(idx, elem)
      assert(Similarity.ivfCentroids(spark, idx).count() == 5L)
      assert(Similarity.ivfLists(spark, idx).select("vid").distinct()
        .count() == 55L)
    }
  }

  // --- generated-code cache ----------------------------------------

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def words(tag: String): String =
    (1 to 8).map(w => s"$tag$w").mkString(" ")

  /** One arrival batch: fresh docs (admitted) and exact copies of
    * ingested docs (near_dup), so every gate stage and both appends
    * run.
    */
  private def arrivals(first: Long): DataFrame =
    docs((0L until 6L).map(i => (first + i) -> words(s"f${first + i}x")) ++
      (0L until 3L).map(i => (first + 10 + i) -> words(s"b${i}w")))

  test("a second gate epoch of the same shape reuses the first epoch's generated code") {
    val span = scratch("cg_span"); val ivf = scratch("cg_ivf")
    val out = scratch("cg_out")
    val base = docs((0L until 20L).map(i => i -> words(s"b${i}w")))
    Dedup.buildSpanIndex(base, "doc_id", "text", span, width = 2)
    Similarity.buildIvfIndex(
      graft.functions.HashEmbed.embed(base, "doc_id", "text", 16)
        .select(col("doc_id"), col("emb").as("ev")),
      "doc_id", "ev", ivf, kCentroids = 4)
    val cfg = StreamingOps.IngestGateConfig(
      weights = spark.range(0, 64)
        .select(col("id").as("feature"), lit(1L).as("weight")),
      weightDim = 64, thresholdPm = 1000L, embedDim = 16, maxCos = 0.95,
      minNovelPm = 900L, rebuildFactor = 0.0)
    def epoch(n: Long): Long = StreamingOps.ingestGateEpoch(
      arrivals(1000L * (n + 1)), n, "doc_id", "text", span, ivf, cfg, out,
      new java.util.concurrent.atomic.AtomicLong(-1L))
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

    // Epoch 0 gives the IVF index its tail segment; from then on
    // every epoch plans the same shape (probe and appends union the
    // tail in).
    val c0 = compiles
    assert(epoch(0L) > 0L)
    assert(epoch(1L) > 0L) // the warm epoch
    val warm = compiles - c0
    val c2 = compiles
    assert(epoch(2L) > 0L)
    val again = compiles - c2
    // The next epoch's plans differ from the warm one's only in data,
    // ids and paths: a cache that holds the epoch's working set
    // compiles (almost) nothing again.
    assert(warm >= 50L, s"fixture too small to exercise the cache: $warm")
    assert(again <= 4L,
      s"a same-shape epoch recompiled $again classes (warm-up compiled $warm)")
  }

  // --- SPARK_GRAFT_CPUS ----------------------------------------------

  test("SPARK_GRAFT_CPUS parses as a positive integer or fails fast") {
    import graft.engine.Session.cpus
    assert(cpus(None) == 4)
    assert(cpus(Some("8")) == 8)
    assert(cpus(Some(" 2 ")) == 2)
    Seq("", "0", "-3", "four", "2.5", "8g").foreach { bad =>
      val e = intercept[IllegalArgumentException](cpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
