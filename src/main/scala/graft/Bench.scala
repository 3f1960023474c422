package graft


/** Driver benchmark: one timed pass over every SURVEY §2 query at
  * SPARK_GRAFT_SF_DIR, after warming the session (FS cache, JIT,
  * parquet footers) so per-query numbers reflect steady-state cost
  * rather than first-touch overhead.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.engine.Session.cpus()
    // One engine posture everywhere: the timings must come from the
    // same session config graft.engine.Session defines.
    val spark = graft.engine.Session
      .builder(master = s"local[$cpus]", shufflePartitions = cpus,
        appName = "graft-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }

    // Optional comma-separated query filter for local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }

    // Steady-state warmup: run every (selected) query once at the
    // smallest SF so the timed pass measures query cost, not
    // first-touch JIT/codegen compilation (generated-code cache is
    // keyed by source, so the sfDir pass reuses compiled classes).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // Canonical-path compare: trailing slashes, relative paths, or
    // symlinks must not defeat the warmDir == sfDir guards (a raw
    // string compare would subtract the stream-startup baseline from
    // timings measured on the same data, clamping streaming keys to 0).
    def canon(p: String): String =
      try new java.io.File(p).getCanonicalPath catch { case _: Throwable => p }
    val warmIsTimed = canon(warmDir) == canon(sfDir)
    if (new java.io.File(warmDir).isDirectory && !warmIsTimed)
      catalog.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => }
        spark.catalog.clearCache()
      }

    // Streaming keys pay a fixed micro-batch pipeline cost per
    // start() — source discovery, memory-sink setup, trigger
    // scheduling — that is session overhead, not per-row processing,
    // and does not shrink with data size. Measure it once as the
    // best-of-3 time of a no-op stream over the (tiny) warm dir and
    // report streaming keys net of it; the baseline itself is
    // published in the JSON so nothing is hidden (BENCH_NOTES.md).
    val streamingKeys = Set("c9_stream_window", "c10_stream_dedup",
      "c12_stream_enrich", "c22_stream_join", "c24_stream_ewma",
      "c25_stream_quality", "c26_stream_neardup")
    // Guards: the baseline is only meaningful when the timed queries
    // read a different (larger) source than the warm dir it is
    // measured on — at sfDir == warmDir the subtraction would clamp
    // every streaming key to ~0 — and it is wasted work when the
    // SPARK_GRAFT_ONLY filter selects no streaming key at all.
    val streamStartup: Double =
      if (!warmIsTimed &&
          catalog.exists { case (n, _) => streamingKeys(n) } &&
          new java.io.File(s"$warmDir/events.parquet").exists) {
        (1 to 3).map { i =>
          val t0 = System.nanoTime()
          try graft.streaming.StreamingOps.runToTable(
            graft.streaming.StreamingOps.readEventsStream(spark, warmDir)
              .select("event_id"),
            spark, s"bench_stream_noop_$i", "append").count()
          catch { case _: Throwable => }
          (System.nanoTime() - t0) / 1e9
        }.min
      } else 0.0

    // Best-of-N timing (min per query across passes): a query's cost
    // is a property of the plan, not of whatever else the host was
    // doing during one pass; the pass count is reported in the JSON.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    require(passes >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $passes")
    // Banding-tuner attribution: per (pass, key), how many tuner
    // sampling runs vs memo hits the query triggered and what the
    // runs cost. A healthy steady state shows runs only in pass 1
    // (memo hits after); runs in pass >= 2 mean one-off tuning cost
    // is leaking into the best-of-N min (the r9 d14 regression
    // pattern — see BENCH_NOTES.md).
    val tunerByPass =
      collection.mutable.Map.empty[String, Vector[(Long, Long, Double)]]
    val timings = (1 to passes).map { _ =>
      catalog.map { case (name, fn) =>
        val tb = graft.dedup.Dedup.tunerStats
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
              false
          }
        // Per-query persists must not accumulate across the run —
        // cached tables from one query would squeeze executor memory
        // for the next (untimed bookkeeping, after the clock stops).
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val td = graft.dedup.Dedup.tunerStats - tb
        // Every pass appends (quiet passes as zeros) so vector index
        // == pass number stays truthful; keys that never touched the
        // tuner are filtered out at emission.
        tunerByPass(name) = tunerByPass.getOrElse(name, Vector.empty) :+
          ((td.runs, td.memoHits, td.nanos / 1e9))
        (name, dt, ok)
      }
    }
    val results = timings.transpose.map { rs =>
      val raw = rs.map(_._2).min
      val net = if (streamingKeys(rs.head._1))
        math.max(raw - streamStartup, 0.0) else raw
      (rs.head._1, net, rs.forall(_._3))
    }
    // Tuner-net timings (r14 verdict #8): the raw per-key min can
    // still alias a tuner run when EVERY pass paid one (a memo miss
    // per pass) or when passes == 1. Publish, per key, the min over
    // passes of (wall − that pass's attributed tuner seconds) next to
    // the raw column, so bench deltas separate plan cost from tuner
    // drift without changing the headline metric's meaning.
    val netOfTuner = timings.transpose.map { rs =>
      val name = rs.head._1
      val perPass = rs.zipWithIndex.map { case ((_, dt, _), i) =>
        val tune = tunerByPass.get(name).flatMap(_.lift(i)).map(_._3)
          .getOrElse(0.0)
        math.max(dt - tune, 0.0)
      }
      val raw = perPass.min
      (name, if (streamingKeys(name)) math.max(raw - streamStartup, 0.0)
        else raw)
    }.toMap
    // µs resolution (locale-independent): full double precision only
    // padded the headline line the driver's tail capture kept
    // truncating; nothing downstream reads past the microsecond.
    def r6(v: Double): String = (math.round(v * 1e6) / 1e6).toString
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + r6(v) }
      .mkString("{", ",", "}")
    val qsNet = results.map { case (k, _, _) =>
      s"\"" + k + "\":" + r6(netOfTuner(k)) }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val tuner = tunerByPass.toSeq.sortBy(_._1)
      .filter(_._2.exists(v => v._1 > 0 || v._2 > 0))
      .map { case (k, vs) =>
        val runs = vs.map(_._1).mkString("[", ",", "]")
        val hits = vs.map(_._2).mkString("[", ",", "]")
        // locale-independent formatting: an f"%.3f" under a
        // comma-decimal locale would corrupt the machine-parsed JSON
        val secs = vs.map(v => (math.round(v._3 * 1000) / 1000.0).toString)
          .mkString("[", ",", "]")
        s"\"" + k + s"\":{\"runs\":$runs,\"memo_hits\":$hits,\"tune_sec\":$secs}"
      }.mkString("{", ",", "}")
    // Testdata provenance: the driver regenerated /root/testdata
    // mid-round-10 (ts encoding changed), which makes cross-generation
    // bench comparisons silently meaningless. Fingerprint the input
    // files (name, size, mtime-ms — content-stable enough to detect a
    // regeneration, cheap enough to run every bench) so any two
    // BENCH_*.json are comparable iff their fingerprints match.
    val fp = {
      val files = Option(new java.io.File(canon(sfDir)).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val desc = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .mkString("\n")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(desc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.map("%02x".format(_)).mkString
    }
    // Steady-state ingest-gate soak (r14 verdict #7): c28 times the
    // catalog entry — two in-query index builds plus ONE epoch — so
    // regressions in the production hot loop (per-epoch foreachBatch
    // gate latency at a FIXED index size) were invisible round over
    // round. Build the indexes once over the ingested slice (the c28
    // convention, untimed amortized cost), then gate the arrival
    // slice in 4 equal epochs and publish each epoch's wall plus the
    // median. Skipped when the filter deselects it or documents are
    // absent.
    val gateSoak: String =
      if ((only.isEmpty || only("gate_soak")) &&
          new java.io.File(s"$sfDir/documents.parquet").exists) {
        try {
          import org.apache.spark.sql.functions._
          val docs = graft.queries.QueryUtil.spread(
            spark.read.parquet(s"$sfDir/documents.parquet"))
          val ingested = docs.filter(col("doc_id") % 10 =!= 0)
          val spanIdx = graft.engine.Scratch.dir("graft_soak_span_")
          val ivfIdx = graft.engine.Scratch.dir("graft_soak_ivf_")
          val out = graft.engine.Scratch.dir("graft_soak_out_")
          graft.dedup.Dedup.buildSpanIndex(ingested, "doc_id", "text",
            spanIdx, width = 8)
          val n = ingested.count()
          graft.similarity.Similarity.buildIvfIndex(
            graft.functions.HashEmbed.embed(ingested, "doc_id", "text", 16)
              .select(col("doc_id"), col("emb").as("ev")),
            "doc_id", "ev", ivfIdx,
            kCentroids = graft.similarity.Similarity.sqrtKc(n))
          val cfg = graft.streaming.StreamingOps.IngestGateConfig(
            weights = graft.queries.TrainingDataQueries.d41Weights(spark),
            weightDim = graft.queries.TrainingDataQueries.d41Dim,
            thresholdPm = -1800L, minNovelPm = 900L,
            rebuildFactor = 0.0) // fixed index size: no drift rebuild
          val counter = new java.util.concurrent.atomic.AtomicLong(-1L)
          val arrivals = docs.filter(col("doc_id") % 10 === 0)
            .withColumn("__ep",
              (pmod(col("doc_id"), lit(40)) / lit(10)).cast("int"))
            .persist()
          arrivals.count()
          val epochSecs = (0 until 4).map { ep =>
            val b = arrivals.filter(col("__ep") === ep).drop("__ep")
            val t0 = System.nanoTime()
            graft.streaming.StreamingOps.ingestGateEpoch(b, ep.toLong,
              "doc_id", "text", spanIdx, ivfIdx, cfg, out, counter)
            (System.nanoTime() - t0) / 1e9
          }
          arrivals.unpersist()
          spark.catalog.clearCache()
          Seq(spanIdx, ivfIdx, out).foreach(graft.engine.Scratch.delete)
          val sorted = epochSecs.sorted
          val med = (sorted(1) + sorted(2)) / 2
          // First-touch attribution (r15 verdict #6): the first 1-2
          // epochs pay the index's cold file/page-cache touch (sf10
          // measured 57.9/40.3 vs 19.5/17.5 s) and the all-epoch
          // median can mask a real trailing trend behind that spike —
          // publish the steady-state epochs' (2..3) mean alongside,
          // so scale reads compare trailing-vs-trailing.
          val medTrail = (epochSecs(2) + epochSecs(3)) / 2
          s"""{"epoch_sec":[${epochSecs.mkString(",")}],"median":$med,"median_trailing":$medTrail}"""
        } catch { case e: Throwable =>
          System.err.println(s"BENCH gate_soak failed: ${e.getMessage}")
          "null"
        }
      } else "null"
    // Two-line output (r17; r16 verdict #7): every BENCH_r01..r15.json
    // the driver captured was truncated mid-line — the ~9 KB single
    // JSON line lost its tail and the round-over-round comparison has
    // been structurally empty for 15 rounds. Line 1 is the driver
    // contract ({"metric",...,"queries",...,"sf"}) kept as short as
    // possible (~5 KB at 141 keys); the diagnostic payloads that grew
    // the line (tuner attribution, gate_soak epochs, tuner-net
    // timings) move to line 2. `cpus` is new on line 1 (r16 ADVICE:
    // the committed sf0.1 artifact silently switched core counts —
    // the config must travel with the numbers).
    val head = s""""metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"passes":$passes,"cpus":$cpus,"sf":"$sfDir","testdata_fp":"$fp""""
    val detail = s""""queries_net":$qsNet,"stream_startup":$streamStartup,"tuner":$tuner,"gate_soak":$gateSoak"""
    println(s"{$head}")
    println(s"{$detail}")
    // Persist the complete output as ONE JSON object (repo tools
    // json.load these files): stdout capture can truncate (round-3's
    // file lost the tail of the 90-key line), a file can't.
    // The default filename carries the SF-dir basename (BENCH_sf0.1
    // .json, BENCH_sf1.0.json, ...) so a run at one SF can never
    // silently clobber the committed baseline of another — the exact
    // gotcha BENCH_NOTES.md documents from rounds 6 and 7.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_${new java.io.File(canon(sfDir)).getName}.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (s"{$head,$detail}" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
