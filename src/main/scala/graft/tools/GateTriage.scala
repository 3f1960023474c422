package graft.tools

import org.apache.spark.sql.functions._

/** One-off stage-level timing of the c26/c28 ingest-gate composition
  * (the two most expensive bench keys at r17 start): span-index
  * build, corpus count, IVF build (kmeans quantizer vs lists write),
  * stream startup, and the gate epoch itself — so optimization
  * effort lands where the seconds are (guide §1).
  *
  *   sbt "runMain graft.tools.GateTriage [sfDir] [cpus]"
  */
object GateTriage {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 1) args(1).toInt
      else graft.engine.Session.cpus()
    val spark = graft.engine.Session
      .builder(master = s"local[$cpus]", shufflePartitions = cpus,
        appName = "graft-gate-triage")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.similarity.Similarity

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[triage] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    // warm the JIT/codegen on the smallest SF first
    val warm = "/root/testdata/sf0.001"
    for (round <- Seq("warm@" + warm, "timed@" + sfDir)) {
      val dir = if (round.startsWith("warm")) warm else sfDir
      println(s"== $round ==")
      val spanIdx = graft.engine.Scratch.dir("graft_triage_span_")
      val ivfIdx = graft.engine.Scratch.dir("graft_triage_ivf_")
      val out = graft.engine.Scratch.dir("graft_triage_out_")
      val docsAll = graft.queries.QueryUtil.spread(
        spark.read.parquet(s"$dir/documents.parquet"))
      val ingested = docsAll.filter(col("doc_id") % 10 =!= 0)
      t("buildSpanIndex") {
        graft.dedup.Dedup.buildSpanIndex(ingested, "doc_id", "text",
          spanIdx, width = 8)
      }
      val n = t("count(ingested)") {
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 10 =!= 0).count()
      }
      val emb = graft.functions.HashEmbed.embed(ingested, "doc_id", "text", 16)
        .select(col("doc_id"), col("emb").as("ev"))
      t("buildIvfIndex(total)") {
        Similarity.buildIvfIndex(emb, "doc_id", "ev", ivfIdx,
          kCentroids = Similarity.sqrtKc(n))
      }
      // buildIvfIndex internals, replayed standalone
      locally {
        val ivf2 = graft.engine.Scratch.dir("graft_triage_ivf2_")
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val v = emb.select(col("doc_id").as("vid"), col("ev").as("v"))
          .withColumn("nrm", Similarity.norm2(col("v")))
          .filter(col("nrm") > 0)
          .persist(lvl)
        val nValid = t("  build: v.count (persist)") { v.count() }
        val kc = Similarity.sqrtKc(nValid)
        val cents = t("  build: kmeans plan") {
          graft.similarity.SimilarityTriage.kmeans(v, kc).persist(lvl)
        }
        t("  build: centroids write") {
          cents.coalesce(1).write.mode("overwrite")
            .parquet(s"$ivf2/gen-0/centroids")
        }
        t("  build: lists write") {
          v.join(graft.similarity.SimilarityTriage.assign(v, cents), "vid")
            .repartition(col("cid"))
            .write.mode("overwrite").partitionBy("cid")
            .parquet(s"$ivf2/gen-0/lists")
        }
        t("  build: meta write") {
          import spark.implicits._
          Seq(("kmeans", 1, kc, nValid, 0))
            .toDF("quantizer", "lloyd_iters", "k_centroids", "n_build", "gen")
            .coalesce(1).write.mode("overwrite").parquet(s"$ivf2/meta")
        }
        cents.unpersist(); v.unpersist()
        graft.engine.Scratch.delete(ivf2)
      }
      val cfg = graft.streaming.StreamingOps.IngestGateConfig(
        weights = graft.queries.TrainingDataQueries.d41Weights(spark),
        weightDim = graft.queries.TrainingDataQueries.d41Dim,
        thresholdPm = -1800L, minNovelPm = 900L, rebuildFactor = 0.0)
      val counter = new java.util.concurrent.atomic.AtomicLong(-1L)
      val arrivals = docsAll.filter(col("doc_id") % 10 === 0)
      t("ingestGateEpoch(one epoch)") {
        graft.streaming.StreamingOps.ingestGateEpoch(arrivals, 0L,
          "doc_id", "text", spanIdx, ivfIdx, cfg, out, counter)
      }
      // epoch sub-steps, replayed standalone on a second epoch dir
      locally {
        val out2 = graft.engine.Scratch.dir("graft_triage_out2_")
        val batch = arrivals
        val id = "doc_id"; val text = "text"
        val scored = t("  epoch: scorePm(plan)") {
          graft.functions.HashedLinear.scorePm(
            batch, cfg.weights, cfg.weightDim, id, text, cfg.thresholdPm)
        }
        val pass1 = batch.join(
          scored.filter(col("keep")).select(col(id)), Seq(id), "left_semi")
        val kc2 = t("  epoch: ivfIndexMeta") {
          Similarity.ivfIndexMeta(spark, ivfIdx)._3
        }
        val emb1 = graft.functions.HashEmbed
          .embed(pass1, id, text, cfg.embedDim)
          .select(col(id), col("emb").as("__ev"))
        val cos = t("  epoch: litIndexCandidates(plan+collect)") {
          Similarity.litIndexCandidates(spark, emb1, ivfIdx, id,
            "__ev", nprobe = Similarity.adaptiveNprobe(kc2))
            .groupBy(col(id)).agg(max(col("cos")).as("max_cos"))
        }
        val pass2 = pass1.join(
          cos.filter(col("max_cos") >= cfg.maxCos).select(col(id)),
          Seq(id), "left_anti")
        val nov = t("  epoch: spanNovelty(plan)") {
          graft.dedup.Dedup.spanNovelty(pass2, id, text, spanIdx)
            .select(col(id), col("novel_pm"))
        }
        t("  epoch: fates write") {
          scored.select(col(id), col("n_tokens"), col("score_pm"))
            .join(cos, Seq(id), "left")
            .join(nov, Seq(id), "left")
            .select(col(id),
              when(col("score_pm") < cfg.thresholdPm, "low_quality")
                .when(col("max_cos") >= cfg.maxCos, "near_dup")
                .when(col("novel_pm") < cfg.minNovelPm, "span_dup")
                .otherwise("admitted").as("fate"),
              col("n_tokens"), col("score_pm"), col("max_cos"),
              col("novel_pm"))
            .write.mode("overwrite").parquet(s"$out2/epoch=0")
        }
        val admitted = batch.join(
          spark.read.parquet(s"$out2/epoch=0")
            .filter(col("fate") === "admitted").select(col(id)),
          Seq(id), "left_semi").persist()
        t("  epoch: admitted count") { admitted.count() }
        t("  epoch: appendSpanIndex") {
          graft.dedup.Dedup.appendSpanIndex(admitted, id, text, spanIdx)
        }
        t("  epoch: appendIvfIndex") {
          Similarity.appendIvfIndex(
            graft.functions.HashEmbed.embed(admitted, id, text, cfg.embedDim)
              .select(col(id), col("emb").as("__ev")),
            id, "__ev", ivfIdx)
        }
        t("  epoch: maybeRebuild seed count") {
          Similarity.ivfLists(spark, ivfIdx).count()
        }
        admitted.unpersist()
        graft.engine.Scratch.delete(out2)
      }
      spark.catalog.clearCache()
      Seq(spanIdx, ivfIdx, out).foreach(graft.engine.Scratch.delete)
    }
    spark.stop()
  }
}
