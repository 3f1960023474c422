package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Curator, Dedup}
import graft.similarity.Similarity
import graft.streaming.StreamingOps

/** `ingest_gate`: the streaming admission gate. Set-up builds the span
  * and IVF indexes over the ingested corpus; after a warm-up epoch, the
  * loop passes equal arrival batches through
  * `StreamingOps.ingestGateEpoch` (no drift rebuild), each epoch probing
  * both indexes, committing fates and appending the admitted docs to
  * both. Checks run between epochs, outside the timed walls.
  *
  * The traced run also curates the whole corpus (ingested plus every
  * arrival batch) with `Curator.fullCurateRun` and `Curator.curate`, and
  * runs the `functions` kernels over it, so the batch curation layers
  * (`dedup`, `sampling`, `functions`) are measured on the same data.
  * Curation is recorded as its own window, [[Curation]], so the engine
  * and module numbers of the loop cover the gate epochs only.
  */
final class IngestGate(seed: Long) extends Workload {
  private val Curation = "curation"
  /** The curation window's numbers the traced run reports. */
  private val CurationLayers = Set("engine.jobs", "engine.job_s",
    "engine.driver_gap_s", "dedup.jobs", "dedup.job_s", "sampling.jobs",
    "sampling.job_s", "functions.jobs", "functions.job_s")
  private val in = Gen.gate(seed)
  def fingerprint: String = in.fingerprint
  def inputs: Seq[(String, Long)] = Seq(
    "ingested_docs" -> in.ingested.size.toLong,
    "batches" -> in.batches.size.toLong,
    "batch_docs" -> Gen.Gate.BatchDocs.toLong,
    "warm_batch_docs" -> in.warmBatch.docs.size.toLong)

  def stage(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    def docs(ds: Seq[Gen.Doc], files: Int) =
      spark.sparkContext.parallelize(ds, files).toDF()
    docs(in.ingested, 8).write.parquet(new File(dir, "ingested").getPath)
    docs(in.warmBatch.docs, 1).write.parquet(new File(dir, "warm_batch").getPath)
    // one file per batch, all batches in one write
    spark.sparkContext.parallelize(in.batches.map(_.docs), in.batches.size)
      .flatMap(_.iterator).toDF()
      .withColumn("batch", ((col("doc_id") - Gen.Gate.FirstArrival) / Gen.Gate.BatchDocs).cast("int"))
      .write.partitionBy("batch").parquet(new File(dir, "arrivals").getPath)
    in.weights.toDF("feature", "weight").coalesce(1)
      .write.parquet(new File(dir, "weights").getPath)
  }

  private def batchPath(dir: File, i: Int): String =
    new File(dir, s"arrivals/batch=$i").getPath

  private var cfg: StreamingOps.IngestGateConfig = _
  private val builds = Seq.newBuilder[(Double, Double)]

  private def build(docs: DataFrame, span: File, ivf: File): (Double, Double) = {
    val (_, s) = Stats.seconds(Dedup.buildSpanIndex(docs, "doc_id", "text",
      span.getPath, width = 8))
    val n = docs.count()
    val (_, v) = Stats.seconds(Similarity.buildIvfIndex(
      graft.functions.HashEmbed.embed(docs, "doc_id", "text", 16)
        .select(col("doc_id"), col("emb").as("ev")),
      "doc_id", "ev", ivf.getPath, kCentroids = Similarity.sqrtKc(n)))
    (s, v)
  }

  private def epoch(b: DataFrame, i: Long, s: File): Long =
    StreamingOps.ingestGateEpoch(b, i, "doc_id", "text",
      new File(s, "span").getPath, new File(s, "ivf").getPath, cfg,
      new File(s, "out").getPath, new java.util.concurrent.atomic.AtomicLong(-1L))

  private def config(spark: SparkSession, dir: File) =
    StreamingOps.IngestGateConfig(
      weights = spark.read.parquet(new File(dir, "weights").getPath),
      weightDim = Gen.WeightDim, thresholdPm = Gen.Gate.ThresholdPm,
      maxCos = Gen.Gate.MaxCos, minNovelPm = Gen.Gate.MinNovelPm,
      rebuildFactor = 0.0)

  /** One epoch of arrivals that are not part of the measured batches,
    * against the measuring session's indexes.
    */
  def warmUp(spark: SparkSession, dir: File, scratch: File): Unit =
    epoch(spark.read.parquet(new File(dir, "warm_batch").getPath),
      in.batches.size.toLong, scratch)

  /** The index builds the loop gates against. */
  def prepare(spark: SparkSession, dir: File, scratch: File): Unit = {
    cfg = config(spark, dir)
    builds += Log.time("gate index builds")(build(
      spark.read.parquet(new File(dir, "ingested").getPath),
      new File(scratch, "span"), new File(scratch, "ivf")))
  }

  override def release(scratch: File): Unit = {
    Dedup.deleteSpanIndex(SparkSession.active, new File(scratch, "span").getPath)
    super.release(scratch)
  }

  def measure(spark: SparkSession, dir: File, scratch: File,
      seconds: Double, trace: Option[Trace]): Outcome = {
    val problems = Seq.newBuilder[String]
    var failed = 0L
    val spanDir = new File(scratch, "span").getPath
    val ivfDir = new File(scratch, "ivf").getPath
    var live = Similarity.ivfLiveCount(spark, ivfDir)
    var spanRows = Dedup.spanIndexKeys(spark, spanDir).count()
    val fateCounts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var arrived = 0L

    def op(i: Int, tr: Option[Trace]): Double = {
      val b = in.batches(i)
      val batch = spark.read.parquet(batchPath(dir, i))
      val (admitted, wall) = timed(tr)(span(tr, "streaming.epoch")(epoch(batch, i, scratch)))
      // checks, untimed
      val fates = spark.read.parquet(new File(scratch, s"out/epoch=$i").getPath)
        .select("doc_id", "fate").collect().map(r => r.getLong(0) -> r.getString(1))
      val byId = fates.toMap
      val ids = b.docs.map(_.doc_id).toSet
      val liveAfter = Similarity.ivfLiveCount(spark, ivfDir)
      val spanAfter = Dedup.spanIndexKeys(spark, spanDir).count()
      val nAdmitted = fates.count(_._2 == "admitted").toLong
      val bad = Seq(
        if (fates.length != byId.size || byId.keySet != ids)
          Some(s"${fates.length} fates for ${ids.size} arrivals (${byId.size} distinct)") else None,
        b.exactCopies.find(id => byId.get(id).contains("admitted"))
          .map(id => s"exact copy $id of an ingested doc was admitted"),
        ids.find(id => byId.get(id).contains("low_quality") != in.lowQuality(id))
          .map(id => s"doc $id: fate ${byId.get(id)}, quality truth low=${in.lowQuality(id)}"),
        if (nAdmitted != admitted) Some(s"epoch returned $admitted, fates say $nAdmitted") else None,
        if (liveAfter != live + admitted)
          Some(s"ivf_live went $live -> $liveAfter with $admitted admitted") else None,
        if (spanAfter < spanRows) Some(s"span index shrank $spanRows -> $spanAfter") else None
      ).flatten
      if (bad.nonEmpty) {
        failed += 1
        bad.foreach(x => problems += s"epoch $i: $x")
      }
      live = liveAfter
      spanRows = spanAfter
      fates.foreach { case (_, f) => fateCounts(f) += 1 }
      arrived += b.docs.size
      wall
    }

    val limit = in.batches.size
    trace match {
      case None =>
        val ws = loop(seconds, 1, limit)(op(_, None))
        Outcome(ws.size, failed, problems.result(),
          endToEnd(Gen.Gate.BatchDocs.toLong, 1),
          Nil, inputs, fingerprint, ws)
      case Some(t) =>
        val (k, loopMetrics) = tracedLoop(seconds, 1, limit, t)(op)
        val corpus = spark.read.parquet(new File(dir, "ingested").getPath)
          .unionByName(spark.read.parquet(new File(dir, "arrivals").getPath).drop("batch"))
        val (curationFailed, curation) = curationProbe(spark, corpus, dir, t, problems)
        val kern = kernels(corpus, cfg.weights)
        val bs = builds.result()
        Outcome(k + 2, failed + curationFailed, problems.result(), Nil, Seq(
          Metric("streaming.epoch_s", Stats.median(t.spanDurations("streaming.epoch")), "s"),
          Metric("gate.low_quality", fateCounts("low_quality").toDouble, "count"),
          Metric("gate.near_dup", fateCounts("near_dup").toDouble, "count"),
          Metric("gate.span_dup", fateCounts("span_dup").toDouble, "count"),
          Metric("gate.admitted_share", fateCounts("admitted") / math.max(arrived.toDouble, 1.0), "ratio"),
          Metric("similarity.ivf_live", live.toDouble, "count"),
          Metric("dedup.span_index_rows", spanRows.toDouble, "count"),
          Metric("dedup.build_span_index_s", Stats.median(bs.map(_._1)), "s"),
          Metric("similarity.build_ivf_index_s", Stats.median(bs.map(_._2)), "s"))
          ++ loopMetrics ++ curation ++ kern, inputs, fingerprint, Nil)
    }
  }

  /** Batch curation of `corpus`, recorded as the [[Curation]] window:
    * the banding tuner's first touch, one `fullCurateRun` and one
    * `curate`, and the MinHash candidate and verified pair counts. The
    * two curation calls are checked after the window closes. Returns
    * how many of them failed their checks, and the metrics.
    */
  private def curationProbe(spark: SparkSession, corpus: DataFrame, dir: File, t: Trace,
      problems: scala.collection.mutable.Builder[String, Seq[String]]): (Int, Seq[Metric]) = {
    val docs = in.ingested ++ in.batches.flatMap(_.docs)
    val ids = docs.map(_.doc_id).toSet
    val copies = in.batches.flatMap(_.exactCopies).toSet
    // ids curate's exact stage keeps that also pass its quality gate;
    // its near-dup stage may only remove ids from this set
    val bound = docs.groupBy(_.text.trim.toLowerCase).values
      .map(_.minBy(_.doc_id)).filter(d => Gen.curatorQualityOk(d.text))
      .map(_.doc_id).toSet

    val (tuneS, tuner, rows, kept, pairs) = t.record(Curation) {
      val (_, tuneS) = Stats.seconds(t.span("dedup.tune")(
        Dedup.resolvePerms(corpus, "doc_id", "text", 8, Dedup.AutoPerms, 4, 512)))
      val tuner0 = Dedup.tunerStats
      val rows: Array[Row] = t.span("dedup.full_curate") {
        val run = Curator.fullCurateRun(corpus, cfg.weights, Gen.WeightDim, thresholdPm = 0L)
        try run.result.select("doc_id", "fate", "score_pm", "stage").collect()
        finally run.release()
      }
      val kept: Array[Long] = t.span("dedup.curate") {
        try Curator.curate(spark, corpus).select("doc_id").collect().map(_.getLong(0))
        finally spark.catalog.clearCache()
      }
      val tuner = Dedup.tunerStats - tuner0
      val pairs = t.span("dedup.pairs") {
        Dedup.minhashVerifiedPairs(corpus, "doc_id", "text")
          .agg(count(lit(1)), sum(when(col("jac_pm") >= 500, 1L).otherwise(0L)))
          .collect().head
      }
      (tuneS, tuner, rows, kept, pairs)
    }

    val fates = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val fullBad = Seq(
      if (rows.length != fates.size || fates.keySet != ids)
        Some(s"${rows.length} fates for ${ids.size} docs (${fates.size} distinct)") else None,
      copies.find(id => !fates.get(id).contains("norm_dup"))
        .map(id => s"planted copy $id has fate ${fates.get(id)}, want norm_dup"),
      if (!Files.stableDigest(dir, "full", Files.md5(rows.map(r =>
          s"${r.getLong(0)}:${r.getString(1)}:${r.get(2)}:${r.get(3)}").sorted.iterator)))
        Some("fate digest differs from an earlier run of this seed") else None
    ).flatten
    val keptSet = kept.toSet
    val curateBad = Seq(
      if (kept.length != keptSet.size) Some("duplicate ids in the result") else None,
      (keptSet -- bound).headOption.map(id =>
        s"kept $id, an exact copy or a doc failing its quality gate"),
      if (!Files.stableDigest(dir, "curate", Files.md5(kept.sorted.iterator.map(_.toString))))
        Some("result digest differs from an earlier run of this seed") else None
    ).flatten
    fullBad.foreach(p => problems += s"fullCurateRun: $p")
    curateBad.foreach(p => problems += s"curate: $p")
    val failedCalls = Seq(fullBad, curateBad).count(_.nonEmpty)

    val cand = pairs.getLong(0).toDouble
    val ver = Option(pairs.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L).toDouble
    val window = t.layerMetrics(Curation, Seq("dedup", "sampling", "functions"))
      .collect { case m if CurationLayers(m.name) => m.copy(name = s"curation.${m.name}") }
    (failedCalls, window ++ Seq(
      Metric("dedup.full_curate_s", Stats.median(t.spanDurations("dedup.full_curate")), "s"),
      Metric("dedup.curate_s", Stats.median(t.spanDurations("dedup.curate")), "s"),
      Metric("dedup.candidate_pairs", cand, "count"),
      Metric("dedup.verified_pairs", ver, "count"),
      Metric("dedup.verify_yield", if (cand > 0) ver / cand else 0.0, "ratio"),
      Metric("dedup.tuner_runs", tuner.runs.toDouble, "count"),
      Metric("dedup.tuner_memo_hits", tuner.memoHits.toDouble, "count"),
      Metric("dedup.tuner_s", tuneS, "s")))
  }
}
