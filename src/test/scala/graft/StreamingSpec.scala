package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Incremental semantics: state (dedup keys, window aggregates)
  * must carry across micro-batches, not just within one pass.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestBase._

  private def writeBatch(dir: String, name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    // rename for readability; file stream picks up any new file
    val _ = name
  }

  test("stateful EWMA accumulates across micro-batches, bit-equal to the batch fold") {
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sewma").toString
    val ns = 1000000L * 1000
    // batch 1: first half of each key's series (event-time ordered
    // across batches, the watermarked-ingest contract)
    writeBatch(dir, "b1", Seq(
      (1L, 1 * ns, 10L, "click", 1.5, "{}"),
      (2L, 2 * ns, 10L, "click", 2.5, "{}"),
      (3L, 1 * ns, 11L, "click", 10.0, "{}")))
    val readings = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[graft.streaming.StatefulEwma.Reading]
    val q = graft.streaming.StatefulEwma.ewma(readings, alpha = 0.1).toDF()
      .writeStream.format("memory")
      .queryName("sewma_batches").outputMode("update").start()
    try {
      q.processAllAvailable()
      writeBatch(dir, "b2", Seq(
        (4L, 3 * ns, 10L, "click", 3.5, "{}"),
        (5L, 2 * ns, 11L, "click", 20.0, "{}")))
      q.processAllAvailable()
      // memory sink in update mode appends every update — take the
      // latest (n-max) row per key
      val got = spark.table("sewma_batches")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, xs) => k -> xs.maxBy(_._2) }
      def fold(vs: Seq[Double]): Double =
        vs.tail.foldLeft(vs.head)((a, x) => x * 0.1 + a * 0.9)
      assert(got(10L) == ((10L, 3L, fold(Seq(1.5, 2.5, 3.5)))))
      assert(got(11L) == ((11L, 2L, fold(Seq(10.0, 20.0)))))
    } finally q.stop()
  }

  test("streaming dedup state spans micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val ns = 1000000L * 1000 // 1s in ns
    writeBatch(dir, "b1", Seq(
      (1L, 1 * ns, 10L, "click", 1.0, "{}"),
      (2L, 2 * ns, 10L, "view", 2.0, "{}")))

    val dedup = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    val q = dedup.writeStream.format("memory")
      .queryName("dedup_batches").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_batches").count() == 2)

      // batch 2: one duplicate key, one new key — only the new one
      // must be emitted
      writeBatch(dir, "b2", Seq(
        (3L, 3 * ns, 10L, "click", 3.0, "{}"),
        (4L, 4 * ns, 11L, "click", 4.0, "{}")))
      q.processAllAvailable()
      val rows = spark.table("dedup_batches")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((10L, "click"), (10L, "view"), (11L, "click")))
    } finally q.stop()
  }

  test("checkpointed query recovers state across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val ns = 1000000L * 1000
    writeBatch(dir, "b1", Seq((1L, 1 * ns, 10L, "click", 1.0, "{}")))

    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString

    def startQuery() = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() == 1)

    // restart from the same checkpoint: the duplicate key must be
    // remembered from the previous run, only the new key appended
    writeBatch(dir, "b2", Seq(
      (2L, 2 * ns, 10L, "click", 2.0, "{}"),
      (3L, 3 * ns, 12L, "view", 3.0, "{}")))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((10L, "click"), (12L, "view")))
  }

  test("end-to-end streaming sensor job: filter + enrich + partitioned sink, exactly-once restart") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_job_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_job_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_job_ckpt").toString
    val ns = 1000000L * 1000
    val dim = Seq((10L, "S1"), (11L, "S2")).toDF("c_custkey", "c_name")
    writeBatch(src, "b1", Seq(
      (1L, 1 * ns, 10L, "click", 1.0, "{}"),
      (2L, 2 * ns, 10L, "view", -5.0, "{}"), // fails integrity filter
      (3L, 3 * ns, 99L, "click", 2.0, "{}"))) // no metadata match
    val q1 = StreamingOps.sensorFileSinkJob(spark, src, dim, "c_custkey", out, ckpt)
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).select("event_id").as[Long].collect().toSet
      == Set(1L))

    // restart from the same checkpoint with one new file: the old
    // batch must not re-emit (file-sink commit log), the new row lands
    writeBatch(src, "b2", Seq((4L, 4 * ns, 11L, "sigview", 3.0, "{}")))
    val q2 = StreamingOps.sensorFileSinkJob(spark, src, dim, "c_custkey", out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out)
      .select(col("event_id"), col("t_ms"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((1L, 1000L, "click"), (4L, 4000L, "sigview")))
    // the sink is physically partitioned by sensor type
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs.contains("event_type=click") && dirs.contains("event_type=sigview"))
  }

  test("windowed aggregation accumulates across micro-batches in complete mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    val hourNs = 3600L * 1000000000L
    writeBatch(dir, "b1", Seq(
      (1L, 1 * hourNs + 5, 10L, "click", 1.0, "{}"),
      (2L, 1 * hourNs + 6, 10L, "click", 2.0, "{}")))
    val agg = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory")
      .queryName("win_batches").outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("win_batches").agg(sum("n")).head().getLong(0) == 2)
      writeBatch(dir, "b2", Seq(
        (3L, 1 * hourNs + 7, 10L, "click", 3.0, "{}"),   // same window
        (4L, 5 * hourNs + 1, 10L, "click", 4.0, "{}")))  // new window
      q.processAllAvailable()
      val byWindow = spark.table("win_batches")
        .select(col("window.start").cast("long"), col("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byWindow.values.sum == 4)
      assert(byWindow.size == 2)
      assert(byWindow(3600L) == 3) // first hour accumulated across batches
    } finally q.stop()
  }

  test("a silent key's session is emitted via event-time timeout and its state freed") {
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_to").toString
    val ns = 1000000L * 1000 // 1s in ns
    // batch 1: user 10 has two events 60s apart, then goes silent
    writeBatch(dir, "b1", Seq(
      (1L, 60 * ns, 10L, "click", 1.0, "{}"),
      (2L, 120 * ns, 10L, "click", 2.0, "{}")))
    val readings = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("ts"))
      .as[graft.streaming.Sessionizer.Reading]
    val q = graft.streaming.Sessionizer.sessionize(readings, gapMinutes = 30).toDF()
      .writeStream.format("memory")
      .queryName("sess_timeout").outputMode("append").start()
    try {
      q.processAllAvailable()
      // open session only — nothing may be emitted yet
      assert(spark.table("sess_timeout").count() == 0)
      // batch 2: a DIFFERENT user far in the future advances the
      // watermark past user 10's (last event + gap); the timeout
      // must close and emit 10's session with no further 10-rows.
      writeBatch(dir, "b2", Seq(
        (3L, 10000 * ns, 11L, "click", 3.0, "{}")))
      q.processAllAvailable()
      val rows = spark.table("sess_timeout")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((10L, 2L, 60000L, 120000L + 1800000L)),
        s"timed-out session wrong: ${rows.toSeq}")
      // state freed: only user 11's open session remains in the store
      val st = q.recentProgress.flatMap(p => Option(p.stateOperators))
        .flatten.lastOption
      assert(st.exists(_.numRowsTotal == 1L),
        s"expected 1 state row (the live key), got ${st.map(_.numRowsTotal)}")
    } finally q.stop()
  }

  test("cross-batch out-of-order rows merge into the open session without regressing its end") {
    // Arrival order across micro-batches is only watermark-ordered,
    // not row-ordered: a row BETWEEN two already-seen events of the
    // open session must merge (count grows, end unchanged — last_us
    // must never regress, or the event-time timeout would fire
    // early and misreport the session end), and a row a full gap
    // BEFORE the open session's start is a late region that closes
    // immediately as its own session.
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_ooo").toString
    val ns = 1000000L * 1000
    // user 10: open session 60s..120s; user 20: open session at 10000s
    writeBatch(dir, "b1", Seq(
      (1L, 60 * ns, 10L, "click", 1.0, "{}"),
      (2L, 120 * ns, 10L, "click", 2.0, "{}"),
      (3L, 10000 * ns, 20L, "click", 3.0, "{}")))
    val readings = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "4 hours")
      .select(col("user_id"), col("ts"))
      .as[graft.streaming.Sessionizer.Reading]
    val q = graft.streaming.Sessionizer.sessionize(readings, gapMinutes = 30).toDF()
      .writeStream.format("memory")
      .queryName("sess_ooo").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a row INSIDE user 10's open interval (merge), and a
      // row a full gap before user 20's open session (late region).
      writeBatch(dir, "b2", Seq(
        (4L, 90 * ns, 10L, "click", 4.0, "{}"),
        (5L, 100 * ns, 20L, "click", 5.0, "{}")))
      q.processAllAvailable()
      // the late region closes immediately, open sessions stay open
      val afterB2 = spark.table("sess_ooo")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(afterB2.toSeq == Seq((20L, 1L, 100000L, 100000L + 1800000L)),
        s"late region must close as its own session: ${afterB2.toSeq}")
      // batch 3: far-future key advances the watermark past both
      // open sessions' (last + gap) — timeouts close them with the
      // merged count and the UNREGRESSED end.
      writeBatch(dir, "b3", Seq(
        (6L, 100000 * ns, 30L, "click", 6.0, "{}")))
      q.processAllAvailable()
      val all = spark.table("sess_ooo")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(all.contains((10L, 3L, 60000L, 120000L + 1800000L)),
        s"merged session must keep end at 120s+gap with n=3: $all")
      assert(all.contains((20L, 1L, 10000000L, 10000000L + 1800000L)),
        s"user 20's open session must close via timeout: $all")
    } finally q.stop()
  }

  test("rows entirely behind the watermark are dropped by the stateful operators, never a crash") {
    // Spark's flatMapGroupsWithState drops input rows behind the
    // watermark before they reach the state function — so a late key
    // produces no session, no state, and critically no
    // setTimeoutTimestamp call with a stale target (which would
    // throw and kill the query). This pins the contract the
    // operators' event-time timeouts rely on: surviving rows always
    // satisfy t >= watermark.
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_late").toString
    val ns = 1000000L * 1000
    // batch 1 drives the watermark to ~9999s
    writeBatch(dir, "b1", Seq((1L, 10000 * ns, 20L, "click", 1.0, "{}")))
    val readings = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("ts"))
      .as[graft.streaming.Sessionizer.Reading]
    val q = graft.streaming.Sessionizer.sessionize(readings, gapMinutes = 30).toDF()
      .writeStream.format("memory")
      .queryName("sess_late").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a NEW key at 60..120s — a full horizon behind
      writeBatch(dir, "b2", Seq(
        (2L, 60 * ns, 10L, "click", 2.0, "{}"),
        (3L, 120 * ns, 10L, "click", 3.0, "{}")))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"late key crashed the query: ${q.exception}")
      // dropped before the state function: no session, no state row
      assert(spark.table("sess_late").count() == 0,
        "rows behind the watermark must be dropped, not sessionized")
      val st = q.recentProgress.flatMap(p => Option(p.stateOperators))
        .flatten.lastOption
      assert(st.exists(_.numRowsTotal == 1L),
        s"late key must leave no state (only user 20's open session): " +
          s"${st.map(_.numRowsTotal)}")
    } finally q.stop()

    // Same contract on the EWMA TTL path: the late key's rows are
    // dropped — no update emitted, no crash, no state.
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ewma_late").toString
    writeBatch(dir2, "b1", Seq((1L, 10000 * ns, 20L, "click", 1.0, "{}")))
    val r2 = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir2)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[graft.streaming.StatefulEwma.Reading]
    val q2 = graft.streaming.StatefulEwma.ewma(r2, alpha = 0.5, idleMinutes = 30)
      .toDF().writeStream.format("memory")
      .queryName("ewma_late").outputMode("update").start()
    try {
      q2.processAllAvailable()
      writeBatch(dir2, "b2", Seq((2L, 60 * ns, 10L, "click", 7.0, "{}")))
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"late key crashed the query: ${q2.exception}")
      val got = spark.table("ewma_late")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(!got.exists(_._1 == 10L),
        s"rows behind the watermark must be dropped, not folded: $got")
    } finally q2.stop()
  }

  test("c9's deployed append form: finalized windows equal the batch result and window state evicts") {
    // The catalog runs c9 in complete mode (the memory-sink oracle
    // needs every window); the DEPLOYED form is append, where the
    // 1-hour watermark finalizes and evicts each 6-hour window. This
    // pins the append form's contract: its output is exactly the
    // batch aggregation restricted to closed windows, and the window
    // state does not accumulate as windows stream by.
    import graft.queries.QueryUtil.moneySum
    val dir = java.nio.file.Files.createTempDirectory("graft_c9_append").toString
    val ns = 1000000L * 1000
    val h = 3600L
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(unix_millis(col("window.start")).as("w_start_ms"),
        col("event_type"), col("n"), col("sum_value"))
    val stream = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 hour")
    val batches = Seq(
      Seq((1L, 1 * h * ns, 10L, "click", 1.5, "{}"),   // W[0,6h)
          (2L, 2 * h * ns, 11L, "click", 2.5, "{}"),   // W[0,6h)
          (3L, 8 * h * ns, 10L, "click", 4.0, "{}")),  // W[6,12h)
      Seq((4L, 20 * h * ns, 12L, "click", 8.0, "{}")), // W[18,24h)
      Seq((5L, 40 * h * ns, 13L, "click", 16.0, "{}"))) // W[36,42h) — stays open
    writeBatch(dir, "b1", batches.head)
    val q = agg(stream).writeStream.format("memory")
      .queryName("c9_append").outputMode("append").start()
    try {
      val stateSizes = batches.zipWithIndex.map { case (b, i) =>
        if (i > 0) writeBatch(dir, s"b$i", b)
        q.processAllAvailable()
        q.recentProgress.flatMap(p => Option(p.stateOperators)).flatten
          .lastOption.map(_.numRowsTotal).getOrElse(-1L)
      }
      // final watermark = 40h - 1h; closed windows are those with
      // end <= 39h — the batch result restricted to them IS the
      // append output
      import spark.implicits._
      val all = batches.flatten
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val closedBatch = agg(all)
        .filter(col("w_start_ms") + lit(6 * h * 1000) <= lit(39 * h * 1000))
        .collect().map(_.toSeq).toSet
      val appended = spark.table("c9_append").collect().map(_.toSeq).toSet
      assert(appended == closedBatch,
        s"append output != batch result on closed windows:\n" +
          s"append=$appended\nbatch=$closedBatch")
      // windows evict as they finalize: never more than the two
      // windows ever simultaneously open, and exactly the one open
      // window at the end — state does not grow with window count
      assert(stateSizes.max <= 2 && stateSizes.last == 1L,
        s"window state must evict on finalization: $stateSizes")
    } finally q.stop()
  }

  test("soak: churning key population leaves plateaued state in Sessionizer and StatefulEwma") {
    // The bounded-state argument as a measured invariant: keys
    // appear, emit, and go silent batch after batch; if event-time
    // eviction works, the state-store row count plateaus at ~one
    // batch's key cohort while the cumulative key count grows
    // unboundedly. 12 batches x 5 fresh keys, each cohort 2 events,
    // cohorts spaced far past (gap + watermark delay).
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val ns = 1000000L * 1000
    val nBatches = 12
    val cohort = 5
    def rows(i: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until cohort).flatMap { k =>
        val uid = 100L + i * cohort + k
        val base = (1000L + i * 4000L) * ns // 4000 s apart >> 30 min gap
        Seq((i * 100L + k * 2 + 1, base, uid, "click", 1.0, "{}"),
          (i * 100L + k * 2 + 2, base + 10 * ns, uid, "click", 3.0, "{}"))
      }

    def soak(mkQuery: (String, String) => org.apache.spark.sql.streaming.StreamingQuery,
        name: String): Seq[Long] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_soak_$name").toString
      writeBatch(dir, "b0", rows(0))
      val q = mkQuery(dir, name)
      try {
        (0 until nBatches).map { i =>
          if (i > 0) writeBatch(dir, s"b$i", rows(i))
          q.processAllAvailable()
          assert(q.exception.isEmpty, s"$name query failed: ${q.exception}")
          q.recentProgress.flatMap(p => Option(p.stateOperators)).flatten
            .lastOption.map(_.numRowsTotal).getOrElse(-1L)
        }
      } finally q.stop()
    }

    def readings(dir: String) = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 second")

    val sessSizes = soak((dir, name) =>
      graft.streaming.Sessionizer.sessionize(
          readings(dir).select(col("user_id"), col("ts"))
            .as[graft.streaming.Sessionizer.Reading], gapMinutes = 30).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start(), "sess_soak")
    // plateau: never more than two cohorts' open sessions live at
    // once (current cohort + the one the watermark hasn't crossed
    // yet), ending at exactly the final cohort — while 60 distinct
    // keys streamed through
    assert(sessSizes.max <= 2L * cohort && sessSizes.last == cohort.toLong,
      s"sessionizer state must plateau: $sessSizes")
    // every retired cohort's session was emitted via timeout; only
    // the final cohort's sessions remain open
    assert(spark.table("sess_soak").count() == ((nBatches - 1) * cohort).toLong)

    val ewmaSizes = soak((dir, name) =>
      graft.streaming.StatefulEwma.ewma(
          readings(dir)
            .select(col("user_id"), col("ts"), col("event_id"), col("value"))
            .as[graft.streaming.StatefulEwma.Reading],
          alpha = 0.1, idleMinutes = 30).toDF()
        .writeStream.format("memory").queryName(name).outputMode("update")
        .start(), "ewma_soak")
    assert(ewmaSizes.max <= 2L * cohort && ewmaSizes.last == cohort.toLong,
      s"ewma state must plateau: $ewmaSizes")
  }

  test("dedupFirstPerDay: no intra-day re-emission, per-day keys, state evicts after day close") {
    // The exact-per-day alternative to c10: a duplicate arriving far
    // later the SAME day (where c10's raw-time eviction would have
    // already forgotten the key and re-emitted) must stay suppressed;
    // the same key next day emits again; and day cohorts still evict
    // once the watermark passes their day close.
    val dir = java.nio.file.Files.createTempDirectory("graft_dayexact").toString
    val ns = 1000000L * 1000
    val h = 3600L
    val day = 24 * h
    val stream = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    writeBatch(dir, "b1", Seq((1L, 9 * h * ns, 10L, "click", 1.0, "{}")))
    val q = StreamingOps.dedupFirstPerDay(stream)
      .writeStream.format("memory")
      .queryName("day_exact").outputMode("append").start()
    try {
      q.processAllAvailable()
      // 9h later the same day — c10's raw scheme (1h delay) would
      // have evicted the key at ~10:00 and re-emitted; exact-per-day
      // must not. A second key proves the batch isn't dropped whole.
      writeBatch(dir, "b2", Seq(
        (2L, 18 * h * ns, 10L, "click", 2.0, "{}"),
        (3L, 18 * h * ns, 11L, "click", 3.0, "{}")))
      q.processAllAvailable()
      // next day: same key emits for the new day
      writeBatch(dir, "b3", Seq(
        (4L, (day + 12 * h) * ns, 10L, "click", 4.0, "{}")))
      q.processAllAvailable()
      // day 4: watermark (= day4's day_end - 25h) passes day 1's
      // expiry (day1_end + 25h) -> day-1 cohort evicted
      writeBatch(dir, "b4", Seq(
        (5L, (3 * day + 12 * h) * ns, 12L, "click", 5.0, "{}")))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      val got = spark.table("day_exact")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(
        (10L, "click", "1970-01-01"),
        (11L, "click", "1970-01-01"),
        (10L, "click", "1970-01-02"),
        (12L, "click", "1970-01-04")),
        s"exact per-day set mismatch: $got")
      val st = q.recentProgress.flatMap(p => Option(p.stateOperators))
        .flatten.lastOption.map(_.numRowsTotal)
      // day-1's three keys must be gone; at most day-2's and day-4's
      // remain
      assert(st.exists(_ <= 2L),
        s"day-1 cohort must have evicted, state=$st")
    } finally q.stop()
  }

  test("EWMA idle TTL evicts silent keys; a returning key cold-starts") {
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_sewma_ttl").toString
    val ns = 1000000L * 1000
    writeBatch(dir, "b1", Seq(
      (1L, 60 * ns, 10L, "click", 4.0, "{}"),
      (2L, 120 * ns, 10L, "click", 8.0, "{}")))
    val readings = spark.readStream
      .schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[graft.streaming.StatefulEwma.Reading]
    val q = graft.streaming.StatefulEwma.ewma(readings, alpha = 0.5,
        idleMinutes = 30).toDF()
      .writeStream.format("memory")
      .queryName("sewma_ttl").outputMode("update").start()
    try {
      q.processAllAvailable()
      // batch 2: another key far ahead pushes the watermark past
      // user 10's TTL — 10's accumulator must be evicted (silently).
      writeBatch(dir, "b2", Seq(
        (3L, 10000 * ns, 11L, "click", 1.0, "{}")))
      q.processAllAvailable()
      val st = q.recentProgress.flatMap(p => Option(p.stateOperators))
        .flatten.lastOption
      assert(st.exists(_.numRowsTotal == 1L),
        s"expected only the live key's state, got ${st.map(_.numRowsTotal)}")
      // batch 3: user 10 returns — the recurrence restarts (n=1,
      // ewma = raw value), proving the old accumulator is gone.
      writeBatch(dir, "b3", Seq(
        (4L, 10060 * ns, 10L, "click", 42.0, "{}")))
      q.processAllAvailable()
      val ret = spark.table("sewma_ttl")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 == 10L).maxBy(_._3)
      assert(ret == ((10L, 1L, 42.0)), s"returning key must cold-start: $ret")
    } finally q.stop()
  }

  test("c12's deployed update form: enrichment counters accumulate to the batch result") {
    // The catalog runs c12 (stream x static-dim enrichment +
    // windowless agg) in complete mode for the memory-sink oracle;
    // the DEPLOYED form is update mode. This pins that the final
    // per-segment emission equals the batch aggregation over all
    // micro-batches — the running state survives batch boundaries —
    // and that the broadcast enrichment join adds no stateful op.
    import graft.queries.QueryUtil.moneySum
    val dir = java.nio.file.Files.createTempDirectory("graft_c12_upd").toString
    val ns = 1000000L * 1000
    val dim = {
      import spark.implicits._
      Seq((10L, "SEG_A"), (11L, "SEG_B"), (12L, "SEG_A"))
        .toDF("c_custkey", "c_mktsegment")
    }
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
    val b1 = Seq((1L, 1L * ns, 10L, "click", 1.5, "{}"),
      (2L, 2L * ns, 11L, "click", 2.25, "{}"))
    val b2 = Seq((3L, 3L * ns, 12L, "click", 4.0, "{}"),
      (4L, 4L * ns, 10L, "click", 8.0, "{}"))
    writeBatch(dir, "b1", b1)
    val stream = spark.readStream.schema(StreamingOps.eventsSchema())
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = agg(stream).writeStream.format("memory")
      .queryName("c12_update").outputMode("update").start()
    try {
      q.processAllAvailable()
      writeBatch(dir, "b2", b2)
      q.processAllAvailable()
      val got = spark.table("c12_update").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).maxBy(_._1) }
      import spark.implicits._
      val all = (b1 ++ b2)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val want = agg(all).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == want,
        s"update-mode final counters != batch agg:\ngot=$got\nwant=$want")
      assert(q.recentProgress.filter(_.numInputRows > 0)
        .forall(p => p.stateOperators.length == 1),
        "broadcast enrichment must add no stateful operator")
    } finally q.stop()
  }

  test("c26's deployed update form: near-dup admission accumulates across micro-batches, window-free") {
    // The admission gate's plan must (a) run unchanged across
    // micro-batches with its running per-doc max/count state
    // accumulating to the batch result, (b) contain no Window (the
    // litIndexCandidates property that makes it streamable), and
    // (c) carry exactly one stateful operator.
    import graft.similarity.Similarity
    import graft.functions.HashEmbed
    val dim = 8
    val dir = java.nio.file.Files.createTempDirectory("graft_c26_upd").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_c26_idx").toString
    def docsDf(rows: Seq[(Long, String)]) = {
      import spark.implicits._
      rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }
    val b1 = Seq(1L -> "alpha beta gamma delta", 2L -> "epsilon zeta eta",
      3L -> "alpha beta gamma delta") // 3 duplicates 1
    val b2 = Seq(4L -> "alpha beta gamma delta theta", // near-dups 1/3
      5L -> "iota kappa lambda")
    val corpus = HashEmbed.embed(docsDf(b1 ++ b2), "doc_id", "text", dim)
      .select(col("doc_id"), Similarity.toDouble(col("emb")).as("ev"))
    Similarity.buildIvfIndex(corpus, "doc_id", "ev", idx, kCentroids = 2)
    def gate(docs: org.apache.spark.sql.DataFrame) = Similarity
      .litIndexCandidates(spark,
        HashEmbed.embed(docs, "doc_id", "text", dim)
          .select(col("doc_id"), Similarity.toDouble(col("emb")).as("ev")),
        idx, "doc_id", "ev", nprobe = 1)
      .filter(col("n_id") < col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_cands"), max(col("cos")).as("max_cos"))
      .withColumn("admit", col("max_cos") < lit(0.95))
    docsDf(b1).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(StreamingOps.documentsSchema)
      .option("pathGlobFilter", "*.parquet").parquet(dir)
    val q = gate(stream).writeStream.format("memory").queryName("c26_update")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      docsDf(b2).coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("c26_update").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3))))
        .groupBy(_._1).map { case (d, rows) => d -> rows.map(_._2).maxBy(_._1) }
      val want = gate(docsDf(b1 ++ b2)).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(got == want,
        s"update-mode final admission != batch gate:\ngot=$got\nwant=$want")
      // the exact duplicate must be rejected, the unrelated doc absent
      assert(want(3L)._3 == false, "exact duplicate of doc 1 must not be admitted")
      assert(!want.contains(2L) || want(2L)._3,
        "doc 2 has no near-dup and must be admitted if present")
      assert(q.recentProgress.filter(_.numInputRows > 0)
        .forall(p => p.stateOperators.length == 1),
        "the gate must have exactly one stateful operator")
      // (window-freeness of the probe plan itself is pinned in
      // SimilaritySpec's litIndexCandidates case)
    } finally q.stop()
  }

  test("c27's deployed update form: span-novelty admission accumulates across micro-batches") {
    // The span gate judges each arrival against the static index
    // only (no batch-first rule), so per-doc reports must equal the
    // batch run regardless of micro-batch splits, with exactly one
    // stateful operator (the per-doc aggregation).
    import graft.dedup.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_c27_upd").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_c27_idx").toString
    def docsDf(rows: Seq[(Long, String)]) = {
      import spark.implicits._
      rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }
    Dedup.buildSpanIndex(
      docsDf(Seq(1L -> "a b c d", 2L -> "e f g h")),
      "doc_id", "text", idx, width = 2)
    def gate(docs: org.apache.spark.sql.DataFrame) =
      Dedup.spanNovelty(docs, "doc_id", "text", idx)
        .withColumn("admit", col("novel_pm") >= 500)
    val b1 = Seq(10L -> "a b x y", 11L -> "c d e f")   // 1/2 novel, 0/2 novel
    val b2 = Seq(12L -> "p q r s")                      // all novel
    docsDf(b1).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(StreamingOps.documentsSchema)
      .option("pathGlobFilter", "*.parquet").parquet(dir)
    val q = gate(stream).writeStream.format("memory").queryName("c27_update")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      docsDf(b2).coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("c27_update").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .toMap
      val want = gate(docsDf(b1 ++ b2)).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .toMap
      assert(got == want,
        s"update-mode final novelty != batch gate:\ngot=$got\nwant=$want")
      assert(want(10L) == ((2L, 1L, 500L, true)))
      assert(want(11L) == ((2L, 0L, 0L, false)),
        "fully-ingested arrival must be suppressed")
      assert(want(12L) == ((2L, 2L, 1000L, true)))
      assert(q.recentProgress.filter(_.numInputRows > 0)
        .forall(p => p.stateOperators.length == 1),
        "the span gate must have exactly one stateful operator")
    } finally q.stop()
  }

  test("c26 admission recall: planted near-dups are caught under the deployed sqrt-kc policy") {
    // The c26 oracle proves the gate computes its candidate scoring
    // EXACTLY — it says nothing about whether the sublinear probe
    // budget actually finds the near-duplicates. This plants ground
    // truth: 100 arrivals that ARE near-dups of ingested documents
    // (text + one appended token, cosine ≈ 0.99 against the source)
    // and 100 fresh arrivals, then runs the admission cycle at the
    // deployed policy (kc = Similarity.sqrtKc, nprobe =
    // adaptiveNprobe(kc)) via the harness behind GATE_SF1.md's
    // "AdmissionScale: the c26 recall/scale table".
    val (nDup, nFresh) = (100, 100)
    val r = AdmissionRecall.run(spark, n = 2000L, nDup, nFresh)
    val caught = r.caught
    assert(r.kc == 45 && r.nprobe == 7,
      s"policy drift: kc=${r.kc} nprobe=${r.nprobe}")
    assert(caught >= (nDup * 95) / 100,
      s"admission recall too low: caught $caught of $nDup planted near-dups")
    assert(r.admitted >= (nFresh * 90) / 100,
      s"false-rejection too high: only ${r.admitted} of $nFresh fresh admitted")
    // and the r11 pinned nprobe=2 for comparison — must not beat the
    // deployed policy (if it does, the adaptive rule is mis-tuned)
    val caught2 = AdmissionRecall.run(spark, n = 2000L, nDup, nFresh,
      nprobeOverride = 2).caught
    assert(caught2 <= caught,
      s"nprobe=2 caught $caught2 > adaptive $caught — revisit the rule")
  }

  test("c25's deployed update form: per-batch gate deltas accumulate to the batch report") {
    // The catalog runs c25 in complete mode for the memory-sink
    // oracle; the DEPLOYED form is update mode — each micro-batch
    // emits the sources whose counters changed. This pins that the
    // last emission per source equals the batch gate report over
    // everything ingested, i.e. the running counters survive
    // micro-batch boundaries, and that the gate itself adds no
    // stateful operator beyond the one aggregation.
    import graft.queries.TrainingDataQueries
    import graft.functions.HashedLinear
    val dir = java.nio.file.Files.createTempDirectory("graft_c25_upd").toString
    def docsDf(rows: Seq[(Long, String, String)]) = {
      import spark.implicits._
      rows.map { case (id, src, text) => (id, text, "en", src, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }
    val b1 = Seq((1L, "web", "alpha beta gamma"), (2L, "web", "delta"),
      (3L, "books", "epsilon zeta"))
    val b2 = Seq((4L, "web", "eta theta"), (5L, "books", "iota"),
      (6L, "wiki", "kappa lambda mu"))
    docsDf(b1).coalesce(1).write.mode("append").parquet(dir)
    def gate(df: org.apache.spark.sql.DataFrame) = HashedLinear.scorePm(
        df, TrainingDataQueries.d41Weights(spark), TrainingDataQueries.d41Dim,
        "doc_id", "text", thresholdPm = 0L, passthrough = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
        sum(when(col("keep"), col("score_pm")).otherwise(0L)).as("kept_score_sum"))
    val q = gate(spark.readStream.schema(StreamingOps.documentsSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir))
      .writeStream.format("memory").queryName("c25_update")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      docsDf(b2).coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      // last update per source == batch gate over b1 ++ b2
      val got = spark.table("c25_update").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))))
        .groupBy(_._1).map { case (s, rows) =>
          // counters only grow; the final emission is the max tuple
          s -> rows.map(_._2).maxBy(_._1)
        }
      val want = gate(docsDf(b1 ++ b2)).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      assert(got == want,
        s"update-mode final counters != batch gate:\ngot=$got\nwant=$want")
      // exactly ONE stateful operator (the source roll-up): the
      // scoring stage must not have introduced its own state
      val ops = q.recentProgress.flatMap(p => Option(p.stateOperators))
        .flatten
      assert(ops.nonEmpty && q.recentProgress.filter(_.numInputRows > 0)
        .forall(p => p.stateOperators.length == 1),
        "gate must add no stateful operator beyond the aggregation")
    } finally q.stop()
  }

  test("spanIngestLoop: later micro-batches see earlier admissions (index feedback)") {
    // The production ingest loop in STREAMING form: foreachBatch
    // gate -> sink admitted -> appendSpanIndex, so an intra-stream
    // near-dup of an earlier ADMITTED doc is rejected — the feedback
    // a plan-time-static c27 join cannot provide. Batches arrive as
    // separate triggers (write, processAllAvailable, write, ...).
    import graft.dedup.Dedup
    val srcDir = java.nio.file.Files.createTempDirectory("graft_loop_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_loop_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_loop_ck").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_loop_idx").toString
    def docsDf(rows: Seq[(Long, String)]) = {
      import spark.implicits._
      rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }
    Dedup.buildSpanIndex(docsDf(Seq(1L -> "a b c d", 2L -> "e f g h")),
      "doc_id", "text", idx, width = 2)
    val b1 = Seq(10L -> "p q r s",   // fresh -> admitted, spans appended
      11L -> "a b c d")              // fully ingested -> rejected
    val b2 = Seq(20L -> "p q r s",   // dup of ADMITTED 10 -> rejected
      21L -> "w x y z")              // fresh -> admitted
    docsDf(b1).coalesce(1).write.mode("append").parquet(srcDir)
    val q = StreamingOps.spanIngestLoop(
      spark.readStream.schema(StreamingOps.documentsSchema).parquet(srcDir),
      "doc_id", "text", idx, outDir, ckpt,
      // a continuous trigger: AvailableNow would terminate after
      // batch 1 and never see batch 2
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      docsDf(b2).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read
      .option("basePath", outDir).parquet(s"$outDir/epoch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(10L, 21L),
      s"loop must admit exactly the novel docs, got $admitted")
    // the index absorbed the admitted spans: a batch probe agrees
    val novel = Dedup.spanNovelty(
        docsDf(Seq(30L -> "p q w x")), "doc_id", "text", idx)
      .head().getLong(2)
    assert(novel == 0L,
      "spans of both admitted docs must be in the index after the loop")
  }
}
