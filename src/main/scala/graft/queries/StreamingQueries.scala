package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{Sessionizer, StatefulEwma, StreamingOps}
import QueryUtil._

/** Group C (streaming half) — Structured Streaming variants of the
  * pipeline (SURVEY §2.C9-C12). Each query runs a real streaming
  * plan over the test data to completion (memory sink), so its
  * output is comparable against a batch DuckDB oracle.
  */
object StreamingQueries {

  /** C9 — watermarked tumbling-window aggregation on the stream.
    * Complete mode here because the memory-sink oracle comparison
    * needs every window; the deployed form is append mode, where the
    * 1-hour watermark finalizes and EVICTS each 6-hour window — the
    * state bound complete mode deliberately forgoes.
    */
  def c9(s: SparkSession, dir: String): DataFrame = {
    val agg = StreamingOps.readEventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(epochMs(col("window.start")).as("w_start_ms"),
        col("event_type"), col("n"), col("sum_value"))
    StreamingOps.runToTable(agg, s, "c9_stream_window", "complete")
  }

  val c9Sql: String =
    """SELECT (epoch_ms(ts) // 21600000) * 21600000 AS w_start_ms, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** C10 — streaming dedup: first arrival per (user, type, day)
    * within the watermark; only the key set is emitted, so the
    * result is deterministic regardless of arrival order.
    *
    * `dropDuplicatesWithinWatermark`, not plain `dropDuplicates`:
    * with the event-time column absent from the dedup key (it is —
    * `day` is a derived string), plain streaming dedup NEVER evicts
    * key state, so a long-lived stream accumulates one state row per
    * (user, type, day) forever — day grows with the stream's
    * lifetime, which is unbounded growth in disguise. The
    * within-watermark variant evicts each key once the watermark
    * passes that key's SEEN event time + delay — not the end of its
    * day. A (user, type, day) key first seen at 09:00 is evicted
    * once the watermark passes ~10:00, so a duplicate later the SAME
    * day (spaced more than the 1-hour delay in event time) RE-EMITS:
    * the deployed append output is "first arrival per key per
    * watermark-bounded burst", not exactly first-arrival-per-day.
    * That intra-day re-emission is the documented trade for bounded
    * state; consumers needing exact per-day semantics either
    * re-distinct downstream (a daily batch `DISTINCT` over the sink,
    * idempotent because re-emits are identical rows) or use
    * [[graft.streaming.StreamingOps.dedupFirstPerDay]], which dedups
    * on a synthetic end-of-day event time so keys stay live until
    * their day closes (state then scales with ~3 day-cohorts;
    * closed-day stragglers are discarded rather than re-emitted).
    * Single-batch file replay (the oracle comparison) starts at
    * watermark 0, so the output equals global DISTINCT.
    */
  def c10(s: SparkSession, dir: String): DataFrame = {
    val dedup = StreamingOps.readEventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select("user_id", "event_type", "day")
    StreamingOps.runToTable(dedup, s, "c10_stream_dedup", "append")
  }

  val c10Sql: String =
    "SELECT DISTINCT user_id, event_type, strftime(ts, '%Y-%m-%d') AS day FROM events"

  /** C11 — stateful sessionization (flatMapGroupsWithState), batch
    * execution; identical session semantics to C3's native
    * session_window, via custom state logic.
    */
  def c11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val readings = events(s, dir)
      .select(col("user_id"), col("ts"))
      .as[Sessionizer.Reading]
    Sessionizer.sessionize(readings, gapMinutes = 30)(s).toDF()
  }

  val c11Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, epoch_us(ts) AS t_us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
      |sessions AS (
      |  SELECT user_id, t_us,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, count(*) AS n,
      |  CAST(min(t_us) // 1000 AS BIGINT) AS start_ms,
      |  CAST((max(t_us) + 1800000000) // 1000 AS BIGINT) AS end_ms
      |FROM sessions GROUP BY user_id, sid""".stripMargin

  /** C12 — stream ⋈ static dim enrichment (broadcast) + windowless
    * aggregation. Complete mode here for the memory-sink oracle; the
    * deployed form is update mode, whose cross-batch accumulation
    * (and that the broadcast join adds no stateful operator) is
    * pinned in StreamingSpec.
    */
  def c12(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
    val agg = StreamingOps.readEventsStream(s, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
    StreamingOps.runToTable(agg, s, "c12_stream_enrich", "complete")
  }

  val c12Sql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1""".stripMargin

  /** C22 — stream-stream inner join with an event-time range
    * condition: purchases ⋈ clicks of the same user where the click
    * happened within the hour before the purchase. Both sides carry
    * watermarks, so the join state is BOUNDED — Spark evicts buffered
    * rows once they can no longer match (the only stream-stream join
    * shape that survives an unbounded stream). The batch oracle is
    * the equivalent time-bounded join.
    */
  def c22(s: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, idAs: String, tsAs: String) =
      StreamingOps.readEventsStream(s, dir)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(s"${tsAs}_uid"),
          col("ts").as(tsAs))
        .withWatermark(tsAs, "1 hour")
    val purchases = side("purchase", "purchase_id", "p_ts")
    val clicks = side("click", "click_id", "c_ts")
    val joined = purchases.join(clicks,
      col("p_ts_uid") === col("c_ts_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"),
        col("p_ts_uid").as("user_id"),
        epochMs(col("p_ts")).as("p_ms"), epochMs(col("c_ts")).as("c_ms"))
    StreamingOps.runToTable(joined, s, "c22_stream_join", "append")
  }

  val c22Sql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.user_id,
      |  epoch_ms(p.ts) AS p_ms, epoch_ms(c.ts) AS c_ms
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      |  -- µs, not ms: Spark joins on µs-precision timestamps, and a
      |  -- ms-floored bound would admit/reject different boundary rows
      | AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)""".stripMargin

  /** C24 — incremental EWMA in keyed state
    * ([[graft.streaming.StatefulEwma]]): the same recurrence as
    * batch C16, carried across micro-batches with O(1) state per
    * sensor. Same unrounded bit-exact oracle as C16 — the stream
    * fold must land on identical doubles.
    */
  def c24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val readings = StreamingOps.readEventsStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[StatefulEwma.Reading]
    val updates = StreamingOps.runToTable(
      StatefulEwma.ewma(readings, alpha = 0.1).toDF(), s,
      "c24_stream_ewma", "update")
    // The update-mode memory sink appends one row per key per
    // micro-batch; keep only the final accumulator per key (max n)
    // so the result does not depend on how the source glob happened
    // to split into micro-batches.
    updates.groupBy("user_id")
      .agg(max(struct(col("n"), col("ewma"))).as("__last"))
      .select(col("user_id"), col("__last.n").as("n"),
        col("__last.ewma").as("ewma"))
  }

  val c24Sql: String =
    """SELECT user_id, count(*) AS n,
      |  list_reduce(list(value ORDER BY epoch_us(ts), event_id),
      |    (ew_a, ew_x) -> ew_x * 0.1 + ew_a * 0.9) AS ewma
      |FROM events GROUP BY user_id""".stripMargin

  /** C25 — streaming corpus quality gate: the d41 hashed-linear
    * scorer ([[graft.functions.HashedLinear]]) applied at INGEST —
    * each arriving micro-batch of documents is scored and gated
    * map-side (the model rides the plan as one array literal; the
    * scoring adds zero shuffles to the stream), rolled up per source
    * into a windowless running acceptance report: docs seen, docs
    * kept, kept tokens, kept score mass. The shape a crawl pipeline
    * runs so downstream only ever materializes accepted documents.
    * Complete mode for the memory-sink oracle comparison (the
    * deployed form emits per-batch deltas in update mode); all
    * aggregates are exact integers, so the oracle is hash-exact.
    */
  def c25(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.functions.HashedLinear.scorePm(
      StreamingOps.readDocumentsStream(s, dir),
      TrainingDataQueries.d41Weights(s), TrainingDataQueries.d41Dim,
      "doc_id", "text", thresholdPm = 0L, passthrough = Seq("source"))
    val agg = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"),
        sum(when(col("keep"), col("score_pm")).otherwise(0L))
          .as("kept_score_sum"))
    StreamingOps.runToTable(agg, s, "c25_stream_quality", "complete")
  }

  val c25Sql: String =
    s"""WITH th AS (
       |  SELECT doc_id, source, ${TrainingDataQueries.duckTokenHashes} AS h
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, source, CAST(len(h) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(h,
       |      hq_h -> hq_h % ${TrainingDataQueries.d41Dim} * 37 % 21 - 10))
       |      * 1000 // len(h) AS BIGINT) AS score_pm
       |  FROM th)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN score_pm >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN score_pm >= 0 THEN n_tokens ELSE 0 END)
       |    AS BIGINT) AS kept_tokens,
       |  CAST(sum(CASE WHEN score_pm >= 0 THEN score_pm ELSE 0 END)
       |    AS BIGINT) AS kept_score_sum
       |FROM sc GROUP BY source""".stripMargin

  /** C26 — streaming near-duplicate ADMISSION: incoming documents
    * (the `doc_id % 10 == 0` slice plays the arrival stream) are
    * hash-embedded ([[graft.functions.HashEmbed]], the d44 stage)
    * and probed per micro-batch against a persisted IVF index (d37
    * machinery) built over the ALREADY-INGESTED corpus (the other
    * 90%); an arrival is admitted when no ingested document in its
    * probed lists reaches 0.95 cosine. The shape a crawl pipeline
    * runs so near-duplicates are suppressed AT INGEST, before they
    * ever reach storage — composing the embedder, the index, and
    * the stream. (Admitting the whole corpus against itself — the
    * first cut of this entry — probes N queries instead of the
    * arrival fraction and is not the production shape.)
    *
    * The probe is [[graft.similarity.Similarity.litIndexCandidates]]
    * — centroid ranking as literal-array column arithmetic instead
    * of ivfProbe's window, because windows do not run on streaming
    * frames; the candidate join is stream ⋈ static.
    *
    * Sizing policy: `kc = clamp(⌈√N⌉, 16, KCentroidsMax)` — the SAME
    * ceiling as the batch router — keeps the build at N^1.5 and list
    * depth at ~√N to ~4·10⁹ ingested docs. The probe ranks the
    * centroid table as ONE boxed typedLit data node, so its plan does
    * not grow with kc and its selection is EXACT at every kc; it stays
    * window-free with ONE stateful operator.
    * `nprobe` is the deployed IVF-routing rule
    * [[graft.similarity.Similarity.adaptiveNprobe]] = max(4, ⌈√kc⌉),
    * so probed work per arrival is ~N^(3/4) at every scale;
    * planted-near-dup recall under exactly this policy is measured
    * in StreamingSpec's admission-recall case and GATE_SF1.md's
    * "AdmissionScale: the c26 recall/scale table", including octaves
    * past 600 centroids. The oracle derives the same kc and nprobe
    * from the data (the probe's exact selection is pinned against a
    * driver-side reference in SimilaritySpec). Output rows are the arrivals with ≥ 1
    * ingested candidate in their probed lists (absent arrivals are
    * trivially admitted); complete mode for the memory-sink oracle,
    * update mode deployed.
    * The index is built in a per-invocation unique scratch dir
    * (concurrent invocations can no longer clobber each other) and
    * deleted once the stream has fully materialized.
    */
  def c26(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    val dim = 16
    val idx = graft.engine.Scratch.dir("graft_c26_")
    try {
      val ingested = spread(t(s, dir, "documents"))
        .filter(col("doc_id") % 10 =!= 0)
      // emb stays BIGINT: VecDot widens long elements exactly (< 2^53),
      // so no toDouble pre-cast — that interpreted ArrayTransform would
      // inline into every norm/cosine consumer (measured 8x on norms)
      val corpus = graft.functions.HashEmbed
        .embed(ingested, "doc_id", "text", dim)
        .select(col("doc_id"), col("emb").as("ev"))
      val n = t(s, dir, "documents").filter(col("doc_id") % 10 =!= 0).count()
      val kc = Similarity.sqrtKc(n)
      Similarity.buildIvfIndex(corpus, "doc_id", "ev", idx, kCentroids = kc)
      val qstream = graft.functions.HashEmbed
        .embed(StreamingOps.readDocumentsStream(s, dir)
          .filter(col("doc_id") % 10 === 0), "doc_id", "text", dim)
        .select(col("doc_id"), col("emb").as("ev"))
      val agg = Similarity
        .litIndexCandidates(s, qstream, idx, "doc_id", "ev",
          nprobe = Similarity.adaptiveNprobe(kc))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_cands"), max(col("cos")).as("max_cos"))
        .withColumn("admit", col("max_cos") < 0.95)
      // the memory sink materializes fully before runToTable returns,
      // so the index can be deleted eagerly
      StreamingOps.runToTable(agg, s, "c26_stream_neardup", "complete")
    } finally graft.engine.Scratch.delete(idx)
  }

  /** C27 — streaming span-novelty ADMISSION: the d46 span index (the
    * already-ingested corpus's distinct span keys; the `doc_id % 10
    * != 0` slice) probed by each ARRIVING document
    * ([[graft.dedup.Dedup.spanNovelty]]) — the arrival is admitted
    * iff at least half its width-8 spans are NEW (`novel_pm >=
    * 500`), the C4-style recrawl/boilerplate suppression at ingest.
    * Completes the streaming ingest-gate family: quality (c25),
    * embedding near-dup (c26), span novelty (c27). No batch-first
    * rule, so the report is arrival-order independent and the
    * complete-mode oracle is exact; segment → static left join →
    * ONE stateful per-doc aggregation, window-free by construction.
    * The index side of the static join is the BUCKETED span table
    * (r13), so a micro-batch trigger shuffles only its arrivals —
    * the corpus-sized key set is never re-exchanged per trigger
    * (plan pinned in PlanAuditSpec).
    */
  def c27(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.engine.Scratch.dir("graft_c27_")
    try {
      graft.dedup.Dedup.buildSpanIndex(
        spread(t(s, dir, "documents")).filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", idx, width = 8)
      val gated = graft.dedup.Dedup.spanNovelty(
          StreamingOps.readDocumentsStream(s, dir)
            .filter(col("doc_id") % 10 === 0), "doc_id", "text", idx)
        .withColumn("admit", col("novel_pm") >= 500)
      StreamingOps.runToTable(gated, s, "c27_stream_span_admission",
        "complete")
    } finally graft.dedup.Dedup.deleteSpanIndex(s, idx)
  }

  val c27Sql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |seg AS (
      |  SELECT doc_id,
      |    array_to_string(
      |      ws[CAST(sd_i*8+1 AS INT):CAST(sd_i*8+8 AS INT)], ' ') AS span
      |  FROM w, unnest(range(0, (len(ws)+7)//8)) AS t(sd_i)),
      |idx AS (
      |  SELECT DISTINCT md5(span) AS k FROM seg WHERE doc_id % 10 <> 0),
      |g AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(CASE WHEN md5(span) IN (SELECT k FROM idx)
      |      THEN 0 ELSE 1 END) AS BIGINT) AS novel_spans
      |  FROM seg WHERE doc_id % 10 = 0 GROUP BY doc_id)
      |SELECT doc_id, n_spans, novel_spans,
      |  CAST(novel_spans * 1000 // n_spans AS BIGINT) AS novel_pm,
      |  novel_spans * 1000 // n_spans >= 500 AS admit
      |FROM g""".stripMargin

  /** C28 — the COMPOSED streaming admission gate
    * ([[graft.streaming.StreamingOps.ingestGateLoop]]): quality
    * (c25's d41 scorer), embedding near-dup (c26's IVF probe), and
    * span novelty (c27's index) as ONE foreachBatch job with
    * per-document fate attribution
    * (`low_quality`/`near_dup`/`span_dup`/`admitted`) and index
    * feedback — the d47 curation DAG's analog at ingest, and the
    * full production shape of the reference's north star (stream in
    * → validated, deduped storage). Both indexes are built over the
    * already-ingested corpus (the `doc_id % 10 != 0` slice, the
    * c26/c27 convention); the arrival slice streams through the
    * gate. INVARIANT: the catalog replay runs in EXACTLY ONE epoch —
    * the oracle models admission vs the ingested corpus only, so
    * cross-epoch feedback (an arrival gated against an earlier
    * arrival's admission) would change engine results while the SQL
    * stands still. The file source with no `maxFilesPerTrigger`
    * takes every available file in the first batch, so the invariant
    * holds for any driver corpus file count (proven multi-file in
    * Round15OpsSpec); the post-run require below turns any future
    * drift (a Spark default change, a source option leak) into a
    * loud failure instead of a silent oracle de-sync. Multi-epoch
    * feedback and crash-retry convergence are pinned in
    * Round14OpsSpec/Round15OpsSpec. Cheap gate first:
    * low-quality docs never reach a probe, near-dups never reach the
    * span join — the evidence columns are NULL for gates a doc never
    * reached, and the oracle mirrors that short-circuit exactly.
    */
  def c28(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    val spanIdx = graft.engine.Scratch.dir("graft_c28_span_")
    val ivfIdx = graft.engine.Scratch.dir("graft_c28_ivf_")
    val out = graft.engine.Scratch.dir("graft_c28_out_")
    val ckpt = graft.engine.Scratch.dir("graft_c28_ck_")
    val ingested = spread(t(s, dir, "documents"))
      .filter(col("doc_id") % 10 =!= 0)
    // The two index builds are independent (disjoint output dirs,
    // both derive from the raw ingested slice) — overlap them so the
    // entry pays max(span, ivf) build latency instead of the sum
    // (guide §2.6; r17, measured ~1.5 s + ~5 s sequential at sf0.1).
    graft.engine.Parallel.run(
      () => graft.dedup.Dedup.buildSpanIndex(ingested, "doc_id", "text",
        spanIdx, width = 8),
      () => {
        val n = t(s, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0).count()
        Similarity.buildIvfIndex(
          graft.functions.HashEmbed.embed(ingested, "doc_id", "text", 16)
            .select(col("doc_id"), col("emb").as("ev")),
          "doc_id", "ev", ivfIdx, kCentroids = Similarity.sqrtKc(n))
      })
    val q = StreamingOps.ingestGateLoop(
      StreamingOps.readDocumentsStream(s, dir)
        .filter(col("doc_id") % 10 === 0),
      "doc_id", "text", spanIdx, ivfIdx,
      // catalog thresholds chosen so the oracle exercises ALL FOUR
      // fates at every driver SF (measured sf0.001→sf1): the d41
      // test model scores this corpus mostly negative, so the
      // production default thresholdPm=0 would starve the probe
      // gates, and span-dups this corpus's near-dup tail survives
      // the 0.95 embed bar for need the 900‰ novelty bar to surface
      StreamingOps.IngestGateConfig(
        weights = TrainingDataQueries.d41Weights(s),
        weightDim = TrainingDataQueries.d41Dim,
        thresholdPm = -1800L, minNovelPm = 900L),
      out, ckpt)
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    // single-epoch invariant (scaladoc above): more than one epoch
    // dir means the arrival slice split across micro-batches and the
    // ingested-only oracle no longer models the engine — fail loud.
    val epochs = Option(new java.io.File(out).listFiles()).getOrElse(Array())
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
    require(epochs.length == 1,
      s"c28 oracle requires a single-epoch replay, got ${epochs.length} " +
        s"epochs: ${epochs.map(_.getName).mkString(",")}")
    // lazy over the epoch output — cleanup is the Scratch exit sweep
    // (the d46 pattern; deleting eagerly would break the returned plan)
    s.read.option("basePath", out).parquet(s"$out/epoch=*")
      .select("doc_id", "fate", "n_tokens", "score_pm", "max_cos",
        "novel_pm")
  }

  /** C29 — streaming DECONTAMINATION gate: d49's bloom-prefiltered
    * test-set containment check applied at INGEST. The eval suite's
    * distinct 5-gram set (the `bucket >= 950` split — a fixed,
    * dim-class side by contract) folds to a driver-held Bloom filter
    * ([[graft.functions.Bloom]]) that rides the STREAMING plan as a
    * codegen'd map-side predicate: each arriving micro-batch's gram
    * stream is pruned inside the scan's codegen span before anything
    * shuffles, and only the surviving sliver (true candidates + ~1%
    * false positives) pays the stream⋈static confirm join against
    * the exact test gram set. No false negatives means the confirm
    * join restores bit-exactness; an arrival is flagged when it
    * shares >= 2 distinct 5-grams with any test document. Completes
    * the ingest-gate family: c25 quality, c26 embedding near-dup,
    * c27 span novelty, c29 contamination.
    *
    * vs d49: the gate has no train-side df cap — that is an
    * offline-corpus statistic (a global aggregate over the full
    * train gram stream, unavailable mid-stream by design); the
    * gate's semantics are pure containment against the fixed test
    * set, ONE stateful operator (the pair aggregation), state
    * bounded by true matches.
    *
    * Output rows: the contaminated (train, test) pairs with shared
    * counts — absent arrivals passed clean. Complete mode for the
    * memory-sink oracle; the >= 2 filter runs on the materialized
    * sink (deployed: update mode, filter in the sink query).
    */
  def c29(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHash
    def bucket = pmod(
      TextHash.poly_hash(concat(col("text"), lit("|split"))), lit(1000))
    def grams(d: DataFrame, idCol: String): DataFrame = d.select(
      col("doc_id").as(idCol),
      explode(TextHash.word_gram_hashes(col("text"), 5, distinct = true))
        .as("g"))
    val testG = grams(
      t(s, dir, "documents").withColumn("bucket", bucket)
        .filter(col("bucket") >= 950), "test_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bloom = graft.functions.Bloom.buildLong(
        testG.select("g").distinct(), "g")
      val hits = grams(
        StreamingOps.readDocumentsStream(s, dir)
          .withColumn("bucket", bucket).filter(col("bucket") < 900),
        "train_id")
        .where(graft.functions.Bloom.might_contain(bloom, col("g")))
        .join(testG, "g")
        .groupBy("train_id", "test_id")
        .agg(count(lit(1)).as("shared_grams"))
      StreamingOps.runToTable(hits, s, "c29_stream_decontam", "complete")
        .filter(col("shared_grams") >= 2)
    } finally testG.unpersist()
  }

  /** C30 — streaming CDC-CHUNK novelty gate: c27's admission
    * semantics at content-defined granularity
    * ([[graft.dedup.Dedup.cdcChunks]] — the d53 boundary family).
    * The shift-robustness this buys at ingest: a re-crawl of an
    * ingested page with one token edited near the head re-chunks
    * ONLY the touched window — every later chunk re-aligns and
    * matches the corpus, so the arrival reads as the near-total
    * duplicate it is; c27's fixed-stride spans all shift and the
    * same arrival masquerades as novel (the d53-vs-d39 contrast,
    * now at the gate — spec'd literally in Round15OpsSpec).
    *
    * Scale shape: chunking is per-arrival in-row arithmetic inside
    * the micro-batch scan; the INGESTED corpus's distinct chunk keys
    * fold to a driver-held Bloom filter (~1.2 bytes/chunk at 1% fpp)
    * riding the streaming plan as a codegen'd map-side predicate —
    * the arrival chunk stream splits in-scan into a cleared branch
    * (bloom miss = PROVABLY novel, no false negatives) that touches
    * no join, and a candidate sliver that pays the stream⋈static
    * exact-confirm join; ONE stateful op (the per-doc fate agg)
    * counts both branches. The corpus chunk-key side is in-query
    * here (the c26/c27 convention); production persists it bucketed
    * — the d46 span-index layout applies verbatim to chunk keys.
    */
  def c30(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.functions.{Bloom, TextHash}
    val corpusChunks = Dedup.cdcChunks(
        spread(t(s, dir, "documents")).filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", divisor = 16)
      .select("h1", "h2", "chunk_len").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def bk(h1: Column, h2: Column, len: Column): Column =
        (h1 * 31 + h2 + len) % lit(TextHash.P)
      val bloom = Bloom.buildLong(
        corpusChunks.select(
          bk(col("h1"), col("h2"), col("chunk_len")).as("bk")).distinct(),
        "bk")
      val arrivals = Dedup.cdcChunks(
          StreamingOps.readDocumentsStream(s, dir)
            .filter(col("doc_id") % 10 === 0),
          "doc_id", "text", divisor = 16)
        .withColumn("bloomed", Bloom.might_contain(bloom,
          bk(col("h1"), col("h2"), col("chunk_len"))))
      val confirmed = arrivals.filter(col("bloomed"))
        .join(corpusChunks.withColumn("__hit", lit(1L)),
          Seq("h1", "h2", "chunk_len"), "left")
        .select(col("doc_id"), col("__hit"))
      val cleared = arrivals.filter(!col("bloomed"))
        .select(col("doc_id"), lit(null).cast("long").as("__hit"))
      val gated = confirmed.unionByName(cleared)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
            .as("dup_chunks"))
        .withColumn("novel_pm",
          expr("(n_chunks - dup_chunks) * 1000 div n_chunks"))
        .withColumn("admit", col("novel_pm") >= 500)
      StreamingOps.runToTable(gated, s, "c30_stream_chunk_gate", "complete")
    } finally corpusChunks.unpersist()
  }

  val c30Sql: String =
    """WITH th AS (
      |  SELECT doc_id, list_transform(
      |    string_split_regex(trim(lower(text)), '\s+'),
      |    tk -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(tk)+1),
      |        ch_i -> CAST(unicode(tk[ch_i]) AS BIGINT))),
      |      (ch_a, ch_x) -> (ch_a*31 + ch_x) % 1000000007)) AS h
      |  FROM documents),
      |bs AS (
      |  SELECT doc_id, h, list_concat(list_concat(
      |    [CAST(0 AS BIGINT)],
      |    CASE WHEN len(h) >= 2 THEN
      |      list_filter(range(1, len(h)), cb_i -> h[cb_i] % 16 = 0)
      |    ELSE [] END),
      |    [CAST(len(h) AS BIGINT)]) AS b
      |  FROM th),
      |ch AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(b)), cc_i -> {
      |    'len': b[cc_i+1] - b[cc_i],
      |    'h1': list_reduce(
      |      list_prepend(CAST(0 AS BIGINT), h[b[cc_i]+1 : b[cc_i+1]]),
      |      (cd_a, cd_x) -> (cd_a*31 + cd_x) % 1000000007),
      |    'h2': list_reduce(
      |      list_prepend(CAST(0 AS BIGINT), h[b[cc_i]+1 : b[cc_i+1]]),
      |      (cd_a, cd_x) -> (cd_a*37 + cd_x) % 1000000007)
      |  })) AS c FROM bs),
      |f AS (
      |  SELECT doc_id, (c).len AS len, (c).h1 AS h1, (c).h2 AS h2
      |  FROM ch WHERE (c).len > 0),
      |cidx AS (SELECT DISTINCT h1, h2, len FROM f WHERE doc_id % 10 <> 0),
      |g AS (
      |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(CASE WHEN c.h1 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |      AS dup_chunks
      |  FROM f LEFT JOIN cidx c
      |    ON f.h1 = c.h1 AND f.h2 = c.h2 AND f.len = c.len
      |  WHERE f.doc_id % 10 = 0 GROUP BY 1)
      |SELECT doc_id, n_chunks, dup_chunks,
      |  CAST((n_chunks - dup_chunks) * 1000 // n_chunks AS BIGINT) AS novel_pm,
      |  (n_chunks - dup_chunks) * 1000 // n_chunks >= 500 AS admit
      |FROM g""".stripMargin

  /** C31 — streaming per-source cardinality monitor: d61's KMV
    * (bottom-k) distinct-count sketch as a STREAMING stateful
    * aggregation — live "distinct documents ingested per source" in
    * BOUNDED state. Where the d61 batch audit can afford an exact
    * distinct pre-aggregation (and carries the exact count as its
    * audit column), a stream cannot hold corpus-sized dedup state,
    * and Structured Streaming would reject the chained
    * aggregation anyway — so the dedup moves INSIDE the sketch:
    * [[graft.functions.TopKAgg.top_k_distinct]] keeps the k=256
    * smallest DISTINCT hashes per source in one associative
    * TypedImperativeAggregate whose state never exceeds k entries
    * per source regardless of stream length (a re-arrived duplicate
    * is skipped by the in-heap membership check; a re-arrival of an
    * evicted hash loses the score test). ONE stateful operator;
    * micro-batch partial merges are exactly the batch merges, so
    * the stream converges bit-for-bit to the batch answer and the
    * oracle replays it with no stream and no sketch at all (the
    * below-k branch returns the exact count — the KMV convention).
    */
  def c31(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextHash, TopKAgg}
    val k = 256
    val kP = 255L * TextHash.P
    val agg = StreamingOps.readDocumentsStream(s, dir)
      .select(col("source"),
        TextHash.poly_hash(lower(trim(col("text")))).as("h"))
      .groupBy("source")
      .agg(TopKAgg.top_k_distinct(
        -col("h").cast("double"), col("h"), k).as("bk"))
      .withColumn("sketch_n", size(col("bk")).cast("long"))
      .withColumn("kth_hash",
        when(col("sketch_n") === k, element_at(col("bk"), k)("id")))
      // kth_hash = 0 is impossible at k >= 2: the sketch holds
      // DISTINCT non-negative hashes, so the k-th smallest is > 0
      .withColumn("est_distinct",
        expr(s"CASE WHEN kth_hash IS NOT NULL " +
          s"THEN ${kP}L div kth_hash ELSE sketch_n END"))
      .select("source", "sketch_n", "kth_hash", "est_distinct")
    StreamingOps.runToTable(agg, s, "c31_stream_cardinality", "complete")
  }

  val c31Sql: String = {
    val kP = 255L * graft.functions.TextHash.P
    val duckHashTk =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(range(1, length(lower(trim(text)))+1),
        |    ch_i -> CAST(unicode(lower(trim(text))[ch_i]) AS BIGINT))),
        |  (ch_a, ch_x) -> (ch_a*31 + ch_x) % 1000000007)""".stripMargin
    s"""WITH h AS (SELECT source, $duckHashTk AS h FROM documents),
       |d AS (SELECT DISTINCT source, h FROM h),
       |r AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |  FROM d),
       |st AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_distinct
       |  FROM d GROUP BY 1),
       |kth AS (SELECT source, h AS kth_hash FROM r WHERE rk = 256)
       |SELECT st.source,
       |  CAST(least(st.n_distinct, 256) AS BIGINT) AS sketch_n,
       |  kth.kth_hash,
       |  CASE WHEN kth.kth_hash IS NOT NULL THEN $kP // kth.kth_hash
       |       ELSE st.n_distinct END AS est_distinct
       |FROM st LEFT JOIN kth USING (source)""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "c31_stream_cardinality" -> (c31 _),
    "c30_stream_chunk_gate" -> (c30 _),
    "c29_stream_decontam" -> (c29 _),
    "c28_ingest_gate" -> (c28 _),
    "c27_stream_span_admission" -> (c27 _),
    "c26_stream_neardup" -> (c26 _),
    "c25_stream_quality" -> (c25 _),
    "c24_stream_ewma" -> (c24 _),
    "c22_stream_join" -> (c22 _),
    "c9_stream_window" -> (c9 _),
    "c10_stream_dedup" -> (c10 _),
    "c11_sessionize_state" -> (c11 _),
    "c12_stream_enrich" -> (c12 _))

  val oracles: Map[String, String] = Map(
    "c31_stream_cardinality" -> c31Sql,
    "c30_stream_chunk_gate" -> c30Sql,
    "c29_stream_decontam" -> TrainingDataQueries.c29StreamDecontamSql,
    "c28_ingest_gate" -> TrainingDataQueries.c28IngestGateSql,
    "c27_stream_span_admission" -> c27Sql,
    "c26_stream_neardup" -> TrainingDataQueries.c26NearDupSql,
    "c25_stream_quality" -> c25Sql,
    "c24_stream_ewma" -> c24Sql,
    "c22_stream_join" -> c22Sql,
    "c9_stream_window" -> c9Sql,
    "c10_stream_dedup" -> c10Sql,
    "c11_sessionize_state" -> c11Sql,
    "c12_stream_enrich" -> c12Sql)
}
