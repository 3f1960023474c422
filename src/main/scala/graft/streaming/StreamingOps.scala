package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming face of the engine (SURVEY §2.C9-C12).
  *
  * The reference is an Airflow-scheduled daily batch
  * (/root/reference/Sensor_pipeline_dag.py); its continuous twin is
  * a Structured Streaming job over the same source with watermarked
  * state. Locally a file stream over the test parquet drives the
  * queries synchronously (processAllAvailable) into a memory sink;
  * in production the identical plan runs on Kafka/file sources with
  * a real trigger and checkpointing.
  */
object StreamingOps {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Input selector: the same downstream plan (watermarks, windows,
    * enrichment, sinks) runs unchanged on a file-backed stream
    * (local/tests) or a Kafka topic (production IoT ingestion) —
    * swapping the source is a config change, not a code change.
    */
  sealed trait SensorSource
  final case class FileSource(dir: String, glob: String = "events.parquet")
      extends SensorSource
  final case class KafkaSource(cfg: graft.sources.KafkaStream.KafkaConfig)
      extends SensorSource

  def readSensorSource(s: SparkSession, src: SensorSource): DataFrame =
    src match {
      case FileSource(dir, glob) => readEventsStream(s, dir, glob)
      case KafkaSource(cfg) => graft.sources.KafkaStream.readSensorStream(s, cfg)
    }

  /** Explicit source schema — file stream sources require one. `ts`
    * arrives either as nanosecond INT64 (read as long under the
    * session's nanosAsLong flag, which [[graft.engine.Session]] sets,
    * and divided down) or as native TIMESTAMP(MICROS)
    * NTZ, depending on the generator (see QueryUtil.events); both
    * normalize to a µs UTC TimestampType column for event-time ops.
    */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType = LongType)
      : StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEventsStream(s: SparkSession, dir: String,
      glob: String = "events.parquet"): DataFrame = {
    graft.queries.QueryUtil.requireNanosAsLong(s)
    // Streams need the schema up front; one static footer peek picks
    // the ts encoding (long nanos vs native timestamp) so the stream
    // schema matches the files instead of assuming one generator.
    // The stream schema FREEZES here: if the peek fails (empty dir —
    // files arrive only after start) the long-nanos assumption is a
    // guess, and native-micros files arriving later will fail the
    // frozen schema at runtime — so the fallback is logged loudly
    // rather than silently assumed.
    val tsType =
      try s.read.option("pathGlobFilter", glob).parquet(dir).schema("ts").dataType
      catch {
        case e: Exception =>
          logger.warn(s"readEventsStream: footer peek failed for $dir/$glob " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); assuming " +
            "legacy INT64-nanos ts encoding — if native TIMESTAMP files " +
            "arrive after start, restart the stream so the schema re-probes")
          LongType
      }
    val raw = s.readStream
      .schema(eventsSchema(tsType))
      .option("pathGlobFilter", glob)
      .parquet(dir)
    if (tsType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Explicit schema of the `documents` corpus table — file stream
    * sources require one (the batch side footer-infers it).
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming read of a documents corpus directory — the ingest
    * face of the curation operators: a crawl/firehose lands parquet
    * files continuously, and the same scoring/gating plans the batch
    * D-keys run apply per micro-batch.
    */
  def readDocumentsStream(s: SparkSession, dir: String,
      glob: String = "documents.parquet"): DataFrame =
    s.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", glob)
      .parquet(dir)

  /** Continuous twin of the reference's daily batch job
    * (/root/reference/main_pipeline.py:262-329): stream → integrity
    * filter → broadcast metadata enrichment → event-time normalize →
    * partitioned parquet sink. The native file sink's commit log
    * gives exactly-once output across restarts from the same
    * checkpoint — re-delivered micro-batches are skipped, so a
    * crashed-and-restarted job never duplicates files (proven in
    * StreamingSpec).
    */
  def sensorFileSinkJob(s: SparkSession, srcDir: String,
      dim: DataFrame, dimKey: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    readEventsStream(s, srcDir, glob = "*.parquet")
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        col("value").between(0.0, 1e6))
      .join(broadcast(dim), col("user_id") === col(dimKey))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"), col("value"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_type")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** EXACT first-arrival-per-calendar-day streaming dedup — the
    * bounded-state alternative c10's scaladoc points consumers at
    * when intra-day re-emission is unacceptable.
    *
    * `dropDuplicatesWithinWatermark` on the raw event time evicts a
    * key once the watermark passes its SEEN time + delay, so a
    * duplicate later the same day re-emits (c10's documented trade).
    * Here the dedup's event-time column is SYNTHETIC — the row's
    * end-of-day instant (next midnight − 1 µs), watermarked with
    * `24 + latenessHours` hours of delay — so a (user, type, day)
    * key stays live at least until its day closes plus the lateness
    * budget:
    *
    *   - within-day duplicates are suppressed exactly, however far
    *     apart in event time — the key cannot evict mid-day;
    *   - a row of an already-CLOSED day (watermark past its
    *     day_end) is dropped as late — discarded, never re-emitted,
    *     so the output carries at most one row per key per day under
    *     ANY arrival order (c10 instead re-emits such rows);
    *   - state stays bounded: a key's expiry is day_end + delay and
    *     the watermark trails the newest day_end by the same delay,
    *     so eviction lands ~two delay-spans after day close — the
    *     state horizon is ~⌈2·(24 + latenessHours)/24⌉ + 1 ≈ 3
    *     day-cohorts of keys, independent of stream lifetime
    *     (StreamingSpec measures the plateau).
    *
    * The day boundary is the session time zone's (UTC in this
    * engine — [[graft.engine.Session]] pins it).
    */
  def dedupFirstPerDay(events: DataFrame, latenessHours: Int = 1)
      : DataFrame = {
    require(latenessHours >= 0, s"latenessHours must be >= 0: $latenessHours")
    events
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (date_add(col("ts").cast("date"), 1).cast("timestamp")
          - expr("INTERVAL 1 MICROSECOND")).as("day_end"))
      .withWatermark("day_end", s"${24 + latenessHours} hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select("user_id", "event_type", "day")
  }

  /** STREAMING ingest loop with index FEEDBACK — the production
    * composition of the c27 span-novelty gate and d46's
    * `appendSpanIndex`: each micro-batch is judged against the span
    * index AS OF ITS TRIGGER, admitted documents land in the sink
    * AND their spans are appended, so a near-dup arriving in a
    * LATER micro-batch of the same stream is rejected.
    *
    * This is a `foreachBatch` job by necessity, not convenience: a
    * continuous stream-static join (the c27 catalog shape) resolves
    * its static side's file listing once at plan time, so index
    * rows appended mid-stream are invisible to later triggers —
    * the batch-per-trigger re-plan here is what makes the feedback
    * real. Per-trigger cost stays batch-sized: the index side of
    * the probe join is the bucketed span table (exchange-free), and
    * the append touches only the batch's novel keys.
    *
    * Retries follow [[ingestEpoch]]'s protocol (a committed epoch
    * replays verbatim; `appendSpanIndex` converges on partial
    * appends — pinned in StreamingSpec and Round14OpsSpec, including
    * a literal kill-restart replay). Admission is vs the INGESTED
    * corpus only (c27's rule): two copies inside one micro-batch
    * both admit — run
    * [[graft.dedup.Dedup.spanDedupIncremental]] downstream when
    * intra-batch dedup is also wanted.
    *
    * Output: admitted source rows under `outDir/epoch=<n>/`
    * (readers union the epoch dirs). Returns the started query;
    * callers drive it (processAllAvailable / awaitTermination).
    */
  def spanIngestLoop(stream: DataFrame, id: String, text: String,
      indexDir: String, outDir: String, checkpoint: String,
      minNovelPm: Long = 500L,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    startLoop(stream, checkpoint, trigger)(
      spanIngestEpoch(_, _, id, text, indexDir, outDir, minNovelPm))

  /** One epoch of [[spanIngestLoop]] — gate, sink, append. Factored
    * out so the crash-retry path is directly testable: calling it
    * twice with the same `epochId` is exactly what a checkpoint
    * replay does. Returns the admitted-row count.
    */
  private[graft] def spanIngestEpoch(batch: DataFrame, epochId: Long,
      id: String, text: String, indexDir: String, outDir: String,
      minNovelPm: Long): Long =
    ingestEpoch("spanIngestLoop", batch, epochId, id, outDir)(
      batch.join(graft.dedup.Dedup.spanNovelty(batch, id, text, indexDir)
        .filter(col("novel_pm") >= minNovelPm).select(col(id)),
        Seq(id), "left_semi")) { (admitted, _) =>
      graft.dedup.Dedup.appendSpanIndex(admitted, id, text, indexDir)
    }

  /** STREAMING ingest loop for the EMBEDDING gate — the IVF twin of
    * [[spanIngestLoop]], completing the ingest-loop family: each
    * micro-batch of vectors is probed against the persisted IVF
    * index ([[graft.similarity.Similarity.litIndexCandidates]] — the
    * window-free probe) AS OF ITS TRIGGER; arrivals whose best
    * ingested candidate stays below `maxCos` are admitted, land in
    * the sink, and their vectors are appended to the index
    * ([[graft.similarity.Similarity.appendIvfIndex]]) — so a
    * near-dup arriving in a LATER micro-batch of the same stream is
    * rejected against the earlier admission. The c26 catalog shape
    * cannot do this: its stream ⋈ static join resolves the index
    * file listing once at plan time, so mid-stream appends are
    * invisible to later triggers; the foreachBatch re-plan per epoch
    * is what makes the feedback real.
    *
    * DRIFT CONTRACT, honored mid-stream: appends deepen lists at the
    * frozen build-time kc, so probe cost grows linearly in appended
    * volume; once the ingested count reaches `rebuildFactor ×` the
    * index's build size (meta `n_build`), the epoch rebuilds the
    * index in place ([[graft.similarity.Similarity.rebuildIvfIndex]]
    * — generation-staged, crash-safe, resized to clamp(⌈√N⌉, 16,
    * KCentroidsMax)) and the loop's next probe re-resolves kc and
    * nprobe from the new meta. The ingested count is tracked
    * incrementally (one lists count at the first epoch, then
    * += admitted per epoch — no per-epoch index scan); a retried
    * epoch may double-count its admissions, which only makes the
    * rebuild fire EARLIER, never later. `rebuildFactor = 0` disables
    * the check.
    *
    * Retries follow [[ingestEpoch]]'s protocol; `appendIvfIndex`
    * anti-joins already-indexed vids, so partial appends converge.
    * Admission is vs the INGESTED corpus only: two near-dups inside
    * one micro-batch both admit (run a batch near-dup pass downstream
    * when intra-batch dedup is wanted). Rows with a zero-norm vector
    * are admitted (no candidates) but never indexed (the build-time
    * NaN guard); `id` must be unique within a batch.
    *
    * Output: admitted source rows under `outDir/epoch=<n>/`. Returns
    * the started query; callers drive it.
    */
  def ivfIngestLoop(stream: DataFrame, id: String, vec: String,
      indexDir: String, outDir: String, checkpoint: String,
      maxCos: Double = 0.95, rebuildFactor: Double = 4.0,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ingested = new java.util.concurrent.atomic.AtomicLong(-1L)
    startLoop(stream, checkpoint, trigger)(ivfIngestEpoch(_, _, id, vec,
      indexDir, outDir, maxCos, rebuildFactor, ingested))
  }

  /** One epoch of [[ivfIngestLoop]] — probe, gate, sink, append,
    * drift-check. Factored out so the crash-retry path is directly
    * testable (same contract as [[spanIngestEpoch]]). Returns the
    * admitted-row count.
    */
  private[graft] def ivfIngestEpoch(batch: DataFrame, epochId: Long,
      id: String, vec: String, indexDir: String, outDir: String,
      maxCos: Double, rebuildFactor: Double,
      ingested: java.util.concurrent.atomic.AtomicLong): Long =
    ingestEpoch("ivfIngestLoop", batch, epochId, id, outDir)(
      batch.join(ivfMaxCos(batch, indexDir, id, vec)
        .filter(col("max_cos") >= maxCos).select(col(id)),
        Seq(id), "left_anti")) { (admitted, n) =>
      graft.similarity.Similarity.appendIvfIndex(admitted, id, vec, indexDir)
      if (rebuildFactor > 0)
        maybeRebuildIvf(batch.sparkSession, indexDir, rebuildFactor, ingested, n)
    }

  /** [[ivfIngestLoop]]'s drift check: track the ingested count
    * incrementally (seeded from one lists count at the first epoch —
    * which already includes that epoch's append) and rebuild once it
    * reaches `factor × n_build`.
    */
  private def maybeRebuildIvf(s: SparkSession, indexDir: String,
      factor: Double,
      ingested: java.util.concurrent.atomic.AtomicLong,
      admittedN: Long): Unit = {
    import graft.similarity.Similarity
    if (ingested.get() < 0L)
      // exact live count via the meta/tail fast path (r17): no
      // kCentroids-directory scan plan in the common no-sidecar case
      ingested.set(Similarity.ivfLiveCount(s, indexDir))
    else ingested.addAndGet(admittedN)
    val nBuild = Similarity.ivfMetaFull(s, indexDir)._4
    if (ingested.get() >= (factor * nBuild).toLong) {
      logger.info(s"ivfIngestLoop: ingested ${ingested.get()} >= " +
        s"$factor x n_build $nBuild — rebuilding index at $indexDir")
      Similarity.rebuildIvfIndex(s, indexDir)
      // rebuild recounted and stamped the new n_build; re-seed lazily
      ingested.set(-1L)
    }
  }

  /** Configuration of [[ingestGateLoop]] — the three gates' knobs.
    * `weights`/`weightDim`/`thresholdPm` parameterize the
    * hashed-linear quality scorer
    * ([[graft.functions.HashedLinear.scorePm]] — the operator ships
    * no weights; semantics come from this table), `embedDim`/`maxCos`
    * the embedding near-dup gate, `minNovelPm` the span-novelty
    * gate, and `rebuildFactor` the IVF drift contract
    * ([[ivfIngestLoop]]'s rule; 0 disables).
    *
    * The weights table is read ONCE per config instance, at the first
    * epoch that scores with it: its dense literal is kept for every
    * later epoch, so a changed table needs a new config.
    */
  final case class IngestGateConfig(
      weights: DataFrame, weightDim: Int, thresholdPm: Long = 0L,
      embedDim: Int = 16, maxCos: Double = 0.95,
      minNovelPm: Long = 500L, rebuildFactor: Double = 4.0) {
    private[graft] lazy val weightLit: org.apache.spark.sql.Column =
      graft.functions.HashedLinear.denseWeights(weights, weightDim)
  }

  /** The COMPOSED streaming admission gate — quality (c25), embedding
    * near-dup (c26), and span novelty (c27) as ONE foreachBatch job
    * with per-document fate attribution and index feedback: the d47
    * analog at ingest, and the production shape of the reference's
    * north star (stream in → validated, deduped storage;
    * /root/reference/main_pipeline.py runs the batch ancestor daily).
    * Per epoch:
    *
    *   1. every arrival is scored map-side (`score_pm`); below
    *      `thresholdPm` → fate `low_quality` — the cheap gate runs
    *      first so rejected docs never reach a probe;
    *   2. survivors are hash-embedded and probed against the
    *      persisted IVF index; best ingested cosine ≥ `maxCos` →
    *      fate `near_dup`;
    *   3. survivors — every doc that passed quality, near-dups
    *      included — probe the span index; fewer than `minNovelPm`
    *      per-mille novel spans → fate `span_dup`. A near-dup's
    *      span evidence is masked to NULL, as if it never got here;
    *   4. the rest are `admitted`: the fate frame lands under
    *      `outDir/epoch=<n>/` `(id, fate, n_tokens, score_pm,
    *      max_cos, novel_pm)` — evidence columns NULL for gates a
    *      doc never reached — and ONLY THEN are the admitted docs'
    *      spans and vectors appended to both indexes, so later
    *      micro-batches gate against them (the [[spanIngestLoop]] /
    *      [[ivfIngestLoop]] feedback, composed).
    *
    * Steps 1–3 are ONE query: the scored rows, the IVF candidate rows
    * and the segment-level span-probe rows are unioned and folded by a
    * single `groupBy(id)`. Each gate's evidence comes from its own row
    * set, so the verdict is the one a cascade of semi/anti joins over
    * each gate's survivors would reach, with no join back to the batch.
    *
    * Retries follow [[ingestEpoch]]'s protocol, with the fate frame
    * as the committed output. Admission is vs the INGESTED corpus
    * (intra-batch copies both admit); `id` must be unique per batch.
    * The IVF drift contract is honored mid-stream exactly as in
    * [[ivfIngestLoop]].
    */
  def ingestGateLoop(stream: DataFrame, id: String, text: String,
      spanIndexDir: String, ivfIndexDir: String, cfg: IngestGateConfig,
      outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ingested = new java.util.concurrent.atomic.AtomicLong(-1L)
    startLoop(stream, checkpoint, trigger)(ingestGateEpoch(_, _, id, text,
      spanIndexDir, ivfIndexDir, cfg, outDir, ingested))
  }

  /** One epoch of [[ingestGateLoop]] — gate (unless already
    * committed), sink fates, append admitted to both indexes.
    * Factored out so the crash-retry path is directly testable.
    * Returns the admitted count.
    */
  private[graft] def ingestGateEpoch(batch: DataFrame, epochId: Long,
      id: String, text: String, spanIndexDir: String,
      ivfIndexDir: String, cfg: IngestGateConfig, outDir: String,
      ingested: java.util.concurrent.atomic.AtomicLong): Long = {
    def embed(docs: DataFrame) = graft.functions.HashEmbed
      .embed(docs, id, text, cfg.embedDim).select(col(id), col("emb").as("__ev"))
    ingestEpoch("ingestGateLoop", batch, epochId, id, outDir,
        col("fate") === "admitted") {
      val scored = graft.functions.HashedLinear.scoreWith(batch,
        cfg.weightLit, cfg.weightDim, id, text, cfg.thresholdPm, Seq(text))
      val kept = scored.filter(col("keep")).select(col(id), col(text))
      val spans = graft.dedup.Dedup.spanProbe(kept, id, text, spanIndexDir)
        .select(col(id), lit(1L).as("__span"),
          when(col("__ingested").isNull, 1L).otherwise(0L).as("__novel"))
      scored.select(col(id), col("n_tokens"), col("score_pm"))
        .unionByName(ivfCandidates(embed(kept), ivfIndexDir, id, "__ev")
          .select(col(id), col("cos")), allowMissingColumns = true)
        .unionByName(spans, allowMissingColumns = true)
        .groupBy(col(id))
        .agg(max(col("n_tokens")).as("n_tokens"),
          max(col("score_pm")).as("score_pm"),
          max(col("cos")).as("max_cos"),
          expr("sum(__novel) * 1000 div sum(__span)").as("novel_pm"))
        .withColumn("novel_pm",
          when(col("max_cos") >= cfg.maxCos, lit(null)).otherwise(col("novel_pm")))
        .select(col(id),
          when(col("score_pm") < cfg.thresholdPm, "low_quality")
            .when(col("max_cos") >= cfg.maxCos, "near_dup")
            .when(col("novel_pm") < cfg.minNovelPm, "span_dup")
            .otherwise("admitted").as("fate"),
          col("n_tokens"), col("score_pm"), col("max_cos"),
          col("novel_pm"))
    } { (admitted, n) =>
      // The two appends touch DISJOINT indexes and both read the
      // (persisted, just-materialized) admitted frame — overlap them
      // so the epoch pays one append-latency, not two (guide §2.6;
      // each append is one write query whose cost is fixed overhead,
      // not data).
      graft.engine.Parallel.run(
        () => graft.dedup.Dedup.appendSpanIndex(admitted, id, text,
          spanIndexDir),
        () => graft.similarity.Similarity.appendIvfIndex(
          embed(admitted), id, "__ev", ivfIndexDir))
      if (cfg.rebuildFactor > 0)
        maybeRebuildIvf(batch.sparkSession, ivfIndexDir, cfg.rebuildFactor,
          ingested, n)
    }
  }

  /** The one epoch protocol of the three ingest loops — the
    * gate → commit → append feedback step of Continuously Adaptive
    * Similarity Search, made retry-safe. `judge` is the loop's
    * verdict over `batch` (admitted source rows, or the gate's fate
    * rows); `admittedOnly` picks the admitted rows out of it; `append`
    * feeds the admitted source rows (persisted) and their count to
    * the loop's indexes.
    *
    * Retry posture: the COMMITTED epoch output is the single source
    * of truth. The output lands under `outDir/epoch=<n>` BEFORE any
    * index is touched, and the append reads the admitted ids back
    * from it, never from a re-probe. A re-delivered epoch whose
    * `_SUCCESS` marker exists therefore SKIPS gating — the first
    * attempt may already have mutated the indexes (its own
    * admissions would now score as duplicates), and a takedown since
    * may have changed them the other way (its rejections would now
    * pass) — and re-runs only the appends, which converge on partial
    * and repeated application. A crash during the output write
    * leaves no marker and the indexes untouched, so a plain re-gate
    * reproduces the same verdict. No ordering of failures duplicates
    * or drops a row, and a replay leaves the sink exactly as the
    * first attempt committed it.
    *
    * The read-back of a just-written output uses the schema it was
    * written with (no inference job); a replay reads it plainly.
    * This is also the one per-epoch log site of the loops.
    */
  private def ingestEpoch(loop: String, batch: DataFrame, epochId: Long,
      id: String, outDir: String,
      admittedOnly: org.apache.spark.sql.Column = lit(true))(
      judge: => DataFrame)(append: (DataFrame, Long) => Unit): Long = {
    val s = batch.sparkSession
    val epochPath = s"$outDir/epoch=$epochId"
    val marker = new org.apache.hadoop.fs.Path(s"$epochPath/_SUCCESS")
    val replay = marker.getFileSystem(s.sessionState.newHadoopConf())
      .exists(marker)
    val read = if (replay) s.read else {
      val judged = judge
      judged.write.mode("overwrite").parquet(epochPath)
      s.read.schema(judged.schema)
    }
    val admitted = batch.join(
      read.parquet(epochPath).filter(admittedOnly).select(col(id)),
      Seq(id), "left_semi").persist()
    try {
      val n = admitted.count()
      if (n > 0) append(admitted, n)
      logger.info(s"$loop epoch $epochId: admitted $n" +
        (if (replay) " (committed replay)" else ""))
      n
    } finally { admitted.unpersist(); () }
  }

  /** Best ingested cosine `max_cos` per `id` of `vecs` against the IVF
    * index — the window-free probe at the index's adaptive nprobe.
    */
  private def ivfMaxCos(vecs: DataFrame, indexDir: String, id: String,
      vec: String): DataFrame =
    ivfCandidates(vecs, indexDir, id, vec)
      .groupBy(col(id)).agg(max(col("cos")).as("max_cos"))

  /** The candidate rows `(id, n_id, cos)` [[ivfMaxCos]] folds. */
  private def ivfCandidates(vecs: DataFrame, indexDir: String, id: String,
      vec: String): DataFrame = {
    import graft.similarity.Similarity
    val s = vecs.sparkSession
    val kc = Similarity.ivfIndexMeta(s, indexDir)._3
    Similarity.litIndexCandidates(s, vecs, indexDir, id, vec,
      nprobe = Similarity.adaptiveNprobe(kc))
  }

  /** Start an ingest loop: `epoch` runs once per micro-batch. */
  private def startLoop(stream: DataFrame, checkpoint: String,
      trigger: Trigger)(epoch: (DataFrame, Long) => Long)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        epoch(batch, epochId); () }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Run a streaming frame to completion against the currently
    * available data and return the result as a batch table
    * (memory sink + processAllAvailable). Local-test harness only;
    * production uses a durable sink + checkpoint. The query runs at
    * the session's own shuffle width (so do its state stores): the
    * width is session-global, and changing it here would change it
    * for every other thread planning in the session.
    */
  def runToTable(df: DataFrame, spark: SparkSession, name: String,
      outputMode: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
      q.awaitTermination()
    }
    spark.table(name)
  }
}
