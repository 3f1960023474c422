package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.{HashEmbed, HashedLinear, TextHash}
import graft.similarity.Similarity
import graft.streaming.StreamingOps

/** The ingest gate epoch's one-aggregation fates, its single-query
  * index appends and its pinned constants:
  *  - the fates equal the semi/anti-join cascade they replace, row for
  *    row, evidence columns included;
  *  - `appendIvfIndex` assigns every vector the cid `argmaxAssign`
  *    gives it, ties to the smaller cid;
  *  - a generation's centroids are collected once, and a rebuild's
  *    new generation is collected afresh;
  *  - a warm epoch stays within its measured job budget.
  */
class GateEpochSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_gate_epoch_").toString

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Call sites of the jobs `body` launched, on this thread and on the
    * threads it starts, seen by a listener: job events arrive in
    * submission order, so once a later fence job is seen, every job
    * `body` launched has been seen too.
    */
  private def jobSites(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"graft-gate-epoch-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      // a job's last stage is named after the job's call site
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.add(g -> e.stageInfos.maxBy(_.stageId).name))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def fenced = seen.toArray.exists(_.asInstanceOf[(String, String)]._1 == fence)
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced, "fence job never reached the listener")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.collect { case (g, site) if g == group => site }
  }

  // --- fixture: both indexes over 20 base docs ------------------------

  private def baseText(i: Long): String =
    "abcdefgh".map(c => s"b$i$c").mkString(" ")

  private def gateBase(spanIdx: String, ivfIdx: String): Unit = {
    val base = docs((0L until 20L).map(i => i -> baseText(i)))
    Dedup.buildSpanIndex(base, "doc_id", "text", spanIdx, width = 2)
    Similarity.buildIvfIndex(
      HashEmbed.embed(base, "doc_id", "text", 16)
        .select(col("doc_id"), col("emb").as("ev")),
      "doc_id", "ev", ivfIdx, kCentroids = 4)
  }

  private val WeightDim = 4096

  /** Every feature weighs 1 except the one `junk` hashes to: a doc
    * holding `junk` scores below 1000 per mille, every other doc
    * exactly 1000.
    */
  private def cfg = {
    val junk = math.floorMod(TextHash.polyHashStr("junk"), WeightDim.toLong)
    StreamingOps.IngestGateConfig(
      weights = spark.range(0, WeightDim).select(col("id").as("feature"),
        when(col("id") === junk, -1000L).otherwise(1L).as("weight")),
      weightDim = WeightDim, thresholdPm = 1000L, embedDim = 16,
      maxCos = 0.95, minNovelPm = 900L, rebuildFactor = 0.0)
  }

  /** The semi/anti-join cascade the one-aggregation fates replace:
    * each gate re-joins the batch to the survivors of the one before,
    * and the evidence frames are left-joined back to the scored rows.
    */
  private def cascadeFates(batch: DataFrame, spanIdx: String, ivfIdx: String,
      c: StreamingOps.IngestGateConfig): DataFrame = {
    val id = "doc_id"; val text = "text"
    def embed(d: DataFrame) = HashEmbed.embed(d, id, text, c.embedDim)
      .select(col(id), col("emb").as("__ev"))
    val scored = HashedLinear.scorePm(batch, c.weights, c.weightDim, id, text,
      c.thresholdPm)
    val pass1 = batch.join(scored.filter(col("keep")).select(col(id)),
      Seq(id), "left_semi")
    val kc = Similarity.ivfIndexMeta(spark, ivfIdx)._3
    val cos = Similarity.litIndexCandidates(spark, embed(pass1), ivfIdx, id,
        "__ev", Similarity.adaptiveNprobe(kc))
      .groupBy(col(id)).agg(max(col("cos")).as("max_cos"))
    val pass2 = pass1.join(cos.filter(col("max_cos") >= c.maxCos).select(col(id)),
      Seq(id), "left_anti")
    val nov = Dedup.spanNovelty(pass2, id, text, spanIdx)
      .select(col(id), col("novel_pm"))
    scored.select(col(id), col("n_tokens"), col("score_pm"))
      .join(cos, Seq(id), "left")
      .join(nov, Seq(id), "left")
      .select(col(id),
        when(col("score_pm") < c.thresholdPm, "low_quality")
          .when(col("max_cos") >= c.maxCos, "near_dup")
          .when(col("novel_pm") < c.minNovelPm, "span_dup")
          .otherwise("admitted").as("fate"),
        col("n_tokens"), col("score_pm"), col("max_cos"), col("novel_pm"))
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  test("one-aggregation fates equal the join cascade row for row, evidence included") {
    val spanIdx = scratch(); val ivfIdx = scratch(); val out = scratch()
    gateBase(spanIdx, ivfIdx)
    val c = cfg
    // 1000 pairs "aa auf" add +1 to every embedding component and one
    // "byx" adds -1000: the embedding is exactly zero
    val zeroNorm = Seq.fill(1000)("aa auf").mkString(" ") + " byx"
    val epochs = Seq(
      Seq(100L -> "fr1 fr2 fr3 fr4 fr5 fr6 fr7 fr8",  // admitted
        101L -> baseText(0),                          // near_dup
        102L -> "b3a b3b zz1 zz2 zz3 zz4 zz5 zz6",    // span_dup
        103L -> "junk lq1 lq2 lq3 lq4 lq5 lq6 lq7",   // low_quality
        104L -> baseText(5),                          // near_dup
        105L -> zeroNorm),                            // admitted, no max_cos
      Seq(200L -> "fr1 fr2 fr3 fr4 fr5 fr6 fr7 fr8",  // near_dup of 100
        201L -> "fr1 fr2 yy1 yy2 yy3 yy4 yy5 yy6",    // span_dup via 100
        202L -> s"junk ${baseText(7)}",               // low_quality
        203L -> "aa1 aa2 aa3 aa4 aa5 aa6 aa7 aa8"))   // admitted
    val seen = epochs.zipWithIndex.flatMap { case (rows, e) =>
      val batch = docs(rows)
      // the reference reads the indexes before the epoch appends to them
      val want = sorted(cascadeFates(batch, spanIdx, ivfIdx, c))
      StreamingOps.ingestGateEpoch(batch, e.toLong, "doc_id", "text", spanIdx,
        ivfIdx, c, out, new java.util.concurrent.atomic.AtomicLong(-1L))
      val got = sorted(spark.read.parquet(s"$out/epoch=$e"))
      assert(got == want, s"epoch $e")
      got
    }
    val byId = seen.map(r => r.getLong(0) -> r).toMap
    assert(seen.map(_.getString(1)).toSet ==
      Set("low_quality", "near_dup", "span_dup", "admitted"))
    assert(byId.map { case (i, r) => i -> r.getString(1) } == Map(
      100L -> "admitted", 101L -> "near_dup", 102L -> "span_dup",
      103L -> "low_quality", 104L -> "near_dup", 105L -> "admitted",
      200L -> "near_dup", 201L -> "span_dup", 202L -> "low_quality",
      203L -> "admitted"))
    // the fixture reaches every NULL the fates can carry
    assert(byId(105L).isNullAt(4) && !byId(105L).isNullAt(5),
      "zero-norm doc: no max_cos, novelty measured")
    Seq(101L, 104L, 200L).foreach { i =>
      assert(!byId(i).isNullAt(4) && byId(i).isNullAt(5), s"near_dup $i")
    }
    Seq(103L, 202L).foreach { i =>
      assert(byId(i).isNullAt(4) && byId(i).isNullAt(5), s"low_quality $i")
    }
    assert(byId(102L).getLong(5) == 750L && byId(201L).getLong(5) == 750L)
  }

  // --- IVF append assignment and pinned centroids ----------------------

  private def vecs(rows: Seq[(Long, Seq[Double])], elem: DataType): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "vec")
      .select(col("vec_id"), col("vec").cast(ArrayType(elem)).as("vec"))
  }

  private def gauss(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i * 2654435761L)
    Seq.fill(4)(r.nextGaussian())
  }

  test("appendIvfIndex assigns argmaxAssign's cid, ties to the smaller cid") {
    Seq(DoubleType, FloatType).foreach { elem =>
      val idx = scratch()
      // lowid centroids are the 3 lowest ids; 0 and 1 are the same vector
      val twin = Seq(1.0, 2.0, 3.0, 4.0)
      Similarity.buildIvfIndex(
        vecs(Seq(0L -> twin, 1L -> twin) ++ (2L until 30L).map(i => i -> gauss(i)),
          elem),
        "vec_id", "vec", idx, kCentroids = 3, quantizer = "lowid")
      val arrivals = vecs(
        (100L until 140L).map(i => i -> gauss(i)) ++
          Seq(200L -> twin, 201L -> twin.map(_ * 3), 202L -> Seq(0.0, 0.0, 0.0, 0.0)),
        elem)
      Similarity.appendIvfIndex(arrivals, "vec_id", "vec", idx)
      val m = Similarity.ivfMeta(spark, idx)
      val got = m.read(spark, "tail").select("vid", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fresh = arrivals.select(col("vec_id").as("vid"), col("vec").as("v"))
        .withColumn("nrm", Similarity.norm2(col("v")))
        .filter(col("nrm") > 0)
      val want = Similarity.argmaxAssign(fresh, Similarity.ivfCentroids(spark, idx))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"$elem")
      assert(got.size == 42 && got(200L) == 0L && got(201L) == 0L,
        s"$elem: the twin centroids tie and the smaller cid wins")
      assert(got.values.toSet == Set(0L, 2L), s"$elem")
    }
  }

  test("a generation's centroids are collected once; a rebuild's new generation afresh") {
    val idx = scratch()
    Similarity.buildIvfIndex(vecs((0L until 40L).map(i => i -> gauss(i)), DoubleType),
      "vec_id", "vec", idx, kCentroids = 4)
    val queries = vecs((500L until 505L).map(i => i -> gauss(i)), DoubleType)
    def probe(nprobe: Int) =
      Similarity.litIndexCandidates(spark, queries, idx, "vec_id", "vec", nprobe)
    def collects(sites: Seq[String]) = sites.count(_.startsWith("collect"))

    // the first probe of a generation collects its centroids; later
    // probes and appends of the same generation do not
    assert(collects(jobSites(probe(2))) == 1)
    assert(jobSites(probe(3)).isEmpty)
    val appendSites = jobSites(Similarity.appendIvfIndex(
      vecs((100L until 110L).map(i => i -> gauss(i)), DoubleType), "vec_id", "vec", idx))
    assert(appendSites.nonEmpty && collects(appendSites) == 0, s"$appendSites")

    Similarity.rebuildIvfIndex(spark, idx, kCentroids = 5)
    val got = probe(1).select("vec_id", "n_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val m = Similarity.ivfMeta(spark, idx)
    assert(m.centroids(spark)._2 == 5, "the probe ranked the rebuilt generation")
    // driver-side reference: each query's one nearest new centroid
    // (ties to the smaller cid), then every vector of that list
    val cents = Similarity.ivfCentroids(spark, idx).collect()
      .map(r => (r.getAs[Long]("cid"), r.getSeq[Double](r.fieldIndex("cv")),
        r.getAs[Double]("cnrm")))
    val lists = Similarity.ivfLists(spark, idx).select("vid", "cid").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue)
    val want = queries.collect().flatMap { r =>
      val q = r.getSeq[Double](1)
      val qn = math.sqrt(q.map(x => x * x).sum)
      val best = cents.minBy { case (cid, cv, cn) =>
        (-(q.zip(cv).map { case (a, b) => a * b }.sum / (qn * cn)), cid)
      }._1
      lists.collect { case (vid, cid) if cid == best => r.getLong(0) -> vid }
    }.toSet
    assert(got == want)
    assert(jobSites(probe(1)).isEmpty)
  }

  // --- job budget -----------------------------------------------------

  /** Jobs of a warm epoch at this fixture's shape, as measured: the
    * fates write, the persisted admitted count and the two appends,
    * with no collect. The join cascade, staged appends and per-epoch
    * weight and centroid collects this replaced launched 26.
    */
  private val WarmEpochJobs = 13

  test("a warm gate epoch stays within its job budget") {
    val spanIdx = scratch(); val ivfIdx = scratch(); val out = scratch()
    gateBase(spanIdx, ivfIdx)
    val c = cfg
    def arrivals(first: Long): DataFrame =
      docs((0L until 6L).map(i => (first + i) ->
          (1 to 8).map(w => s"f${first + i}x$w").mkString(" ")) ++
        (0L until 3L).map(i => (first + 10 + i) -> baseText(i)))
    def epoch(n: Long): Long = StreamingOps.ingestGateEpoch(
      arrivals(1000L * (n + 1)), n, "doc_id", "text", spanIdx, ivfIdx, c, out,
      new java.util.concurrent.atomic.AtomicLong(-1L))
    // epoch 0 gives the IVF index its tail; epoch 1 warms the shape
    assert(epoch(0L) > 0L && epoch(1L) > 0L)
    var admitted = 0L
    val sites = jobSites { admitted = epoch(2L) }
    assert(admitted > 0L)
    assert(sites.size <= WarmEpochJobs, s"${sites.size} jobs: ${sites.mkString("; ")}")
    assert(!sites.exists(_.startsWith("collect")), s"$sites")
  }
}
