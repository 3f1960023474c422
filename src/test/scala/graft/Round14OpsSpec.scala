package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.engine.IndexStore
import graft.streaming.StreamingOps

/** Round-14 contracts: crash-retry convergence of the ingest loops
  * (the re-delivered-epoch window where the first attempt already
  * mutated the index), the staged span-index rebuild, and the
  * defensive content guard on the MinHash index append.
  */
class Round14OpsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_r14_").toString

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def streamDocsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, text) =>
      (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def sinkIds(outDir: String): Set[Long] =
    spark.read.option("basePath", outDir).parquet(s"$outDir/epoch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("spanIngestEpoch: a re-delivered epoch converges to the first attempt's admitted set") {
    // The ADVICE-r13 loss window: attempt 1 admits a doc, appends its
    // spans, then crashes before the checkpoint commit. The replayed
    // epoch re-gates against the MUTATED index — without retry
    // awareness the admitted doc scores novel_pm = 0, is dropped from
    // the overwrite, and is gone from the sink forever. Calling the
    // epoch function twice with the same epochId IS the replay.
    val idx = scratch()
    val out = scratch()
    Dedup.buildSpanIndex(docsDf(Seq(1L -> "a b c d")),
      "doc_id", "text", idx, width = 2)
    val batch = streamDocsDf(Seq(
      10L -> "p q r s",   // fresh -> admitted
      11L -> "a b c d"))  // pre-ingested -> rejected
    val n1 = StreamingOps.spanIngestEpoch(batch, 0L, "doc_id", "text",
      idx, out, minNovelPm = 500L)
    assert(n1 == 1L)
    assert(sinkIds(out) == Set(10L))
    // replay: same epoch, same rows, index already mutated by attempt 1
    val n2 = StreamingOps.spanIngestEpoch(batch, 0L, "doc_id", "text",
      idx, out, minNovelPm = 500L)
    assert(n2 == 1L, "replay must converge, not re-gate the admission away")
    assert(sinkIds(out) == Set(10L),
      "the sink must still carry attempt 1's admitted doc after replay")
    // and the index gained nothing on replay (append idempotence)
    val keys = Dedup.spanIndexKeys(spark, idx).count()
    val n3 = StreamingOps.spanIngestEpoch(batch, 0L, "doc_id", "text",
      idx, out, minNovelPm = 500L)
    assert(n3 == 1L && Dedup.spanIndexKeys(spark, idx).count() == keys)
    // a takedown between the attempts: doc 11 was rejected as a copy
    // of doc 1, which is now removed — a re-gate would admit it, but
    // the replay must keep attempt 1's committed verdict verbatim
    Dedup.removeFromSpanIndex(docsDf(Seq(1L -> "a b c d")),
      "doc_id", "text", idx)
    val n4 = StreamingOps.spanIngestEpoch(batch, 0L, "doc_id", "text",
      idx, out, minNovelPm = 500L)
    assert(n4 == 1L && sinkIds(out) == Set(10L),
      "a replay after a takedown must not admit what attempt 1 rejected")
  }

  test("spanIngestLoop: literal kill-restart — a deleted commit marker replays the epoch losslessly") {
    // The end-to-end form of the case above: run the loop, then
    // simulate a crash between appendSpanIndex and the checkpoint
    // commit by deleting the commit marker; a restart from the same
    // checkpoint re-delivers that epoch for real.
    val srcDir = scratch(); val outDir = scratch()
    val ckpt = scratch(); val idx = scratch()
    Dedup.buildSpanIndex(docsDf(Seq(1L -> "a b c d")),
      "doc_id", "text", idx, width = 2)
    streamDocsDf(Seq(10L -> "p q r s", 11L -> "a b c d"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val q = StreamingOps.spanIngestLoop(
        spark.readStream.schema(StreamingOps.documentsSchema).parquet(srcDir),
        "doc_id", "text", idx, outDir, ckpt)
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    }
    run()
    assert(sinkIds(outDir) == Set(10L))
    // crash simulation: the epoch's effects (sink write + index
    // append) happened, the commit did not
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty, "the run must have committed at least one epoch")
    val last = commits.maxBy(_.getName.toLong)
    assert(last.delete(), s"could not delete commit marker $last")
    // the checksum sidecar too, or the replayed commit's rename fails
    val crc = new java.io.File(last.getParent, s".${last.getName}.crc")
    if (crc.exists) crc.delete()
    run() // restart: the uncommitted epoch is re-delivered
    assert(sinkIds(outDir) == Set(10L),
      "kill-restart replay must keep attempt 1's admitted doc in the sink")
    val novel = Dedup.spanNovelty(docsDf(Seq(30L -> "p q")),
      "doc_id", "text", idx).head().getLong(2)
    assert(novel == 0L, "the admitted doc's spans stay ingested across replay")
  }

  test("buildSpanIndex rebuild is staged: the new index swaps in whole, and meta-without-spans refuses") {
    val idx = scratch()
    Dedup.buildSpanIndex(docsDf(Seq(1L -> "a b c d")),
      "doc_id", "text", idx, width = 2)
    // rebuild over the live index (different corpus, different width)
    Dedup.buildSpanIndex(docsDf(Seq(2L -> "w x y z")),
      "doc_id", "text", idx, width = 4)
    val out = Dedup.spanNovelty(docsDf(Seq(9L -> "w x y z")),
      "doc_id", "text", idx).head()
    assert(out.getLong(2) == 0L, "the rebuilt index must own the new corpus")
    // half-built index: meta present, spans gone -> probes must refuse
    // loudly instead of declaring an empty table ('everything novel')
    Dedup.deleteSpanIndex(spark, idx)
    Dedup.buildSpanIndex(docsDf(Seq(3L -> "m n o k")),
      "doc_id", "text", idx, width = 2)
    spark.sql(s"DROP TABLE IF EXISTS ${spark.catalog.listTables()
      .filter(col("name").startsWith("graft_span_idx_")).collect()
      .map(_.name)
      .find(n => spark.table(n).inputFiles.exists(_.contains(
        new java.io.File(idx).getName))).get}")
    graft.engine.Scratch.delete(s"${IndexStore.liveDir(spark, idx)}/spans")
    val e = intercept[IllegalStateException] {
      Dedup.spanNovelty(docsDf(Seq(9L -> "m n")), "doc_id", "text", idx)
    }
    assert(e.getMessage.contains("no span data files"))
  }

  // --- the IVF ingest loop (r14: the embedding gate's feedback) ---

  import graft.similarity.Similarity

  private def vecsDf(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "vec")
  }

  /** Deterministic 16-dim gaussian vector per id (seeded — distinct
    * ids are near-orthogonal, so only exact dups cross the 0.95
    * admission bar).
    */
  private def tv(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i * 2654435761L)
    Seq.fill(16)(r.nextGaussian())
  }

  private val vecSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("vec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))

  private def freshCounter() = new java.util.concurrent.atomic.AtomicLong(-1L)

  private def vecSinkIds(outDir: String): Set[Long] =
    spark.read.option("basePath", outDir).parquet(s"$outDir/epoch=*")
      .select("vec_id").collect().map(_.getLong(0)).toSet

  test("ivfIngestEpoch: a re-delivered epoch converges to the first attempt's admitted set") {
    // Same ADVICE-r13 loss window as the span loop, on the embedding
    // gate: attempt 1 admits a vector and appends it to the index;
    // the replayed epoch re-probes the MUTATED index, scores the
    // admission cos = 1.0 against itself, and without retry awareness
    // would drop it from the sink forever.
    val idx = scratch(); val out = scratch()
    Similarity.buildIvfIndex(
      vecsDf((0L until 30L).map(i => i -> tv(i))), "vec_id", "vec", idx,
      kCentroids = 16)
    val batch = vecsDf(Seq(
      100L -> tv(500L), // fresh -> admitted
      101L -> tv(3L)))  // exact dup of an ingested vector -> rejected
    def epoch(): Long = StreamingOps.ivfIngestEpoch(batch, 0L,
      "vec_id", "vec", idx, out, maxCos = 0.95, rebuildFactor = 0.0,
      ingested = freshCounter())
    val n1 = epoch()
    assert(n1 == 1L && vecSinkIds(out) == Set(100L))
    val n2 = epoch()
    assert(n2 == 1L, "replay must converge, not re-gate the admission away")
    assert(vecSinkIds(out) == Set(100L),
      "the sink must still carry attempt 1's admitted vector after replay")
    // append idempotence: the replay added nothing to the lists
    val lists = Similarity.ivfLists(spark, idx).count()
    epoch()
    assert(Similarity.ivfLists(spark, idx).count() == lists)
    // a takedown between the attempts: 101 was rejected as a copy of
    // vector 3, which is now removed — the replay keeps the verdict
    Similarity.removeFromIvfIndex(vecsDf(Seq(3L -> tv(3L))), "vec_id", idx)
    assert(epoch() == 1L && vecSinkIds(out) == Set(100L),
      "a replay after a takedown must not admit what attempt 1 rejected")
  }

  test("ivfIngestLoop: later micro-batches see earlier admissions, and rejection resolves to the admitted id") {
    val srcDir = scratch(); val outDir = scratch()
    val ckpt = scratch(); val idx = scratch()
    Similarity.buildIvfIndex(
      vecsDf((0L until 30L).map(i => i -> tv(i))), "vec_id", "vec", idx,
      kCentroids = 16)
    val b1 = Seq(100L -> tv(500L),  // fresh -> admitted
      101L -> tv(3L))               // ingested dup -> rejected
    val b2 = Seq(200L -> tv(500L),  // dup of ADMITTED 100 -> rejected
      201L -> tv(700L))             // fresh -> admitted
    vecsDf(b1).coalesce(1).write.mode("append").parquet(srcDir)
    val q = StreamingOps.ivfIngestLoop(
      spark.readStream.schema(vecSchema).parquet(srcDir),
      "vec_id", "vec", idx, outDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      vecsDf(b2).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination() }
    assert(vecSinkIds(outDir) == Set(100L, 201L),
      "the loop must admit exactly the novel vectors")
    // the batch-2 rejection resolves to the batch-1 ADMITTED id: the
    // probe's best candidate for 200's vector is 100 at cos 1.0
    val best = Similarity.litIndexCandidates(spark,
        vecsDf(Seq(999L -> tv(500L))), idx, "vec_id", "vec", nprobe = 4)
      .orderBy(col("cos").desc, col("n_id")).select("n_id").head().getLong(0)
    assert(best == 100L,
      s"the near-dup must resolve to the admitted batch-1 id, got $best")
  }

  test("ivfIngestLoop honors the drift contract mid-stream: a 4x-grown index rebuilds with kc resized to sqrt(N)") {
    val srcDir = scratch(); val outDir = scratch()
    val ckpt = scratch(); val idx = scratch()
    // build small: 20 vectors at the kc floor (16); n_build = 20
    Similarity.buildIvfIndex(
      vecsDf((0L until 20L).map(i => i -> tv(i))), "vec_id", "vec", idx,
      kCentroids = 16)
    assert(Similarity.ivfMetaFull(spark, idx)._5 == 0, "fresh build is gen-0")
    // one epoch of 300 fresh vectors: ingested 320 >= 4 x 20 -> rebuild
    vecsDf((1000L until 1300L).map(i => i -> tv(i)))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q = StreamingOps.ivfIngestLoop(
      spark.readStream.schema(vecSchema).parquet(srcDir),
      "vec_id", "vec", idx, outDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      val (_, _, kc1, nBuild1, gen1) = Similarity.ivfMetaFull(spark, idx)
      assert(gen1 == 1, s"the drift rebuild must commit a new generation, got $gen1")
      assert(kc1 == Similarity.sqrtKc(nBuild1) && kc1 > 16,
        s"rebuild must resize kc to sqrt(N): kc=$kc1 nBuild=$nBuild1")
      assert(nBuild1 >= 300L)
      // the loop keeps gating correctly THROUGH the rebuild: a dup of
      // a pre-rebuild admission is rejected by the rebuilt index
      vecsDf(Seq(5000L -> tv(1100L), 5001L -> tv(9999L)))
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(!vecSinkIds(outDir).contains(5000L),
        "a dup of a pre-rebuild admission must be rejected post-rebuild")
      assert(vecSinkIds(outDir).contains(5001L))
    } finally { q.stop(); q.awaitTermination() }
    // the old generation was swept after the commit
    assert(!new java.io.File(s"$idx/gen-0").exists(),
      "the pre-rebuild generation must be swept after the meta commit")
  }

  test("IVF meta commit is self-healing: a crash between delete and rename recovers on the next read") {
    val idx = scratch()
    Similarity.buildIvfIndex(
      vecsDf((0L until 25L).map(i => i -> tv(i))), "vec_id", "vec", idx,
      kCentroids = 16)
    val before = Similarity.ivfProbe(vecsDf(Seq(900L -> tv(3L))), idx,
      "vec_id", "vec", k = 1).collect().toSeq
    // simulate the one residual commit window: meta deleted, meta.next
    // fully written but not yet renamed
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/meta"),
      new org.apache.hadoop.fs.Path(s"$idx/meta.next")))
    val after = Similarity.ivfProbe(vecsDf(Seq(900L -> tv(3L))), idx,
      "vec_id", "vec", k = 1).collect().toSeq
    assert(after == before, "the reader must complete the crashed swap")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/meta")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$idx/meta.next")))
  }

  test("rebuildIvfIndex is non-destructive: content identical, generation bumped, old generation swept") {
    val idx = scratch()
    val corpus = (0L until 60L).map(i => i -> tv(i))
    Similarity.buildIvfIndex(vecsDf(corpus), "vec_id", "vec", idx,
      kCentroids = 4)
    val vidsBefore = Similarity.ivfLists(spark, idx)
      .select("vid").collect().map(_.getLong(0)).toSet
    Similarity.rebuildIvfIndex(spark, idx) // policy kc: sqrtKc(60) = 16
    val (_, _, kc, nBuild, gen) = Similarity.ivfMetaFull(spark, idx)
    assert(gen == 1 && kc == 16 && nBuild == 60L)
    val vidsAfter = Similarity.ivfLists(spark, idx)
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(vidsAfter == vidsBefore,
      "a rebuild must carry every indexed vector across")
    assert(!new java.io.File(s"$idx/gen-0").exists())
    // exact self-probe still resolves through the new quantizer
    val hit = Similarity.ivfProbe(vecsDf(Seq(900L -> tv(7L))), idx,
      "vec_id", "vec", k = 1).select("n_id").head().getLong(0)
    assert(hit == 7L)
  }

  // --- the composed ingest gate (c28's engine) ---

  /** All-ones weight table: every token weighs 1, so score_pm is
    * exactly 1000 for every doc — quality passes at threshold 1000
    * and fails at 1001, giving the specs a deterministic knob.
    */
  private def onesWeights = spark.range(0, 64)
    .select(col("id").as("feature"), lit(1L).as("weight"))

  private def gateCfg(thresholdPm: Long) = StreamingOps.IngestGateConfig(
    weights = onesWeights, weightDim = 64, thresholdPm = thresholdPm,
    embedDim = 16, maxCos = 0.95, minNovelPm = 900L, rebuildFactor = 0.0)

  private def gateBase(spanIdx: String, ivfIdx: String): Unit = {
    val base = streamDocsDf((0L until 20L).map(i =>
      i -> s"b${i}a b${i}b b${i}c b${i}d b${i}e b${i}f b${i}g b${i}h"))
    Dedup.buildSpanIndex(base, "doc_id", "text", spanIdx, width = 2)
    Similarity.buildIvfIndex(
      graft.functions.HashEmbed.embed(base, "doc_id", "text", 16)
        .select(col("doc_id"), col("emb").as("ev")),
      "doc_id", "ev", ivfIdx, kCentroids = 4)
  }

  private def gateFates(outDir: String): Map[Long, String] =
    spark.read.option("basePath", outDir).parquet(s"$outDir/epoch=*")
      .select("doc_id", "fate").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("ingestGateLoop: composed fates with BOTH indexes' feedback across micro-batches") {
    val srcDir = scratch(); val outDir = scratch(); val ckpt = scratch()
    val spanIdx = scratch(); val ivfIdx = scratch()
    gateBase(spanIdx, ivfIdx)
    val baseText0 = "b0a b0b b0c b0d b0e b0f b0g b0h"
    val freshText = "fq1 fq2 fq3 fq4 fq5 fq6 fq7 fq8"
    val b1 = Seq(100L -> freshText,   // fresh -> admitted
      101L -> baseText0)              // exact copy of ingested -> near_dup
    val b2 = Seq(
      200L -> freshText,              // dup of ADMITTED 100 -> near_dup (IVF feedback)
      // one width-2 span of 100's text + six fresh words: novel_pm =
      // 750 < 900 but embedding far from anything -> span_dup — and
      // 100's spans entered the index only via the loop's append
      // (span feedback)
      201L -> "fq1 fq2 zz1 zz2 zz3 zz4 zz5 zz6",
      202L -> "aa1 aa2 aa3 aa4 aa5 aa6 aa7 aa8") // fresh -> admitted
    streamDocsDf(b1).coalesce(1).write.mode("append").parquet(srcDir)
    val q = StreamingOps.ingestGateLoop(
      spark.readStream.schema(StreamingOps.documentsSchema).parquet(srcDir),
      "doc_id", "text", spanIdx, ivfIdx, gateCfg(thresholdPm = 1000L),
      outDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      streamDocsDf(b2).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination() }
    val fates = gateFates(outDir)
    assert(fates == Map(100L -> "admitted", 101L -> "near_dup",
      200L -> "near_dup", 201L -> "span_dup", 202L -> "admitted"),
      s"got $fates")
    // evidence columns honor the short-circuit: the near-dup carries
    // max_cos ~ 1.0 and a NULL novel_pm; the span_dup carries its
    // novelty per-mille
    val rows = spark.read.option("basePath", outDir)
      .parquet(s"$outDir/epoch=*")
      .select("doc_id", "max_cos", "novel_pm").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(rows(200L)._1.exists(c => c.asInstanceOf[Double] > 0.999) &&
      rows(200L)._2.isEmpty)
    assert(rows(201L)._2.contains(750L))
  }

  test("ingestGateEpoch: a committed epoch replays verbatim — no re-gate, convergent appends") {
    val outDir = scratch(); val spanIdx = scratch(); val ivfIdx = scratch()
    gateBase(spanIdx, ivfIdx)
    val batch = streamDocsDf(Seq(
      100L -> "fr1 fr2 fr3 fr4 fr5 fr6 fr7 fr8", // admitted
      101L -> "b0a b0b b0c b0d b0e b0f b0g b0h")) // near_dup
    def epoch(): Long = StreamingOps.ingestGateEpoch(batch, 0L,
      "doc_id", "text", spanIdx, ivfIdx, gateCfg(thresholdPm = 1000L),
      outDir, freshCounter())
    val n1 = epoch()
    assert(n1 == 1L)
    val fates1 = gateFates(outDir)
    assert(fates1 == Map(100L -> "admitted", 101L -> "near_dup"))
    val spanKeys = Dedup.spanIndexKeys(spark, spanIdx).count()
    val listRows = Similarity.ivfLists(spark, ivfIdx).count()
    // replay: the first attempt already appended 100 to both indexes —
    // a re-gate would flip it to near_dup/span_dup and lose it
    val n2 = epoch()
    assert(n2 == 1L, "replay must honor the committed fates")
    assert(gateFates(outDir) == fates1)
    assert(Dedup.spanIndexKeys(spark, spanIdx).count() == spanKeys &&
      Similarity.ivfLists(spark, ivfIdx).count() == listRows,
      "replayed appends must converge, not duplicate")
  }

  test("ingestGateEpoch: an all-rejected epoch appends nothing") {
    val outDir = scratch(); val spanIdx = scratch(); val ivfIdx = scratch()
    gateBase(spanIdx, ivfIdx)
    val spanKeys = Dedup.spanIndexKeys(spark, spanIdx).count()
    val listRows = Similarity.ivfLists(spark, ivfIdx).count()
    // threshold 1001 > the all-ones model's uniform 1000 -> everything
    // low_quality; the probe gates and appends must all no-op
    val n = StreamingOps.ingestGateEpoch(
      streamDocsDf(Seq(100L -> "fr1 fr2 fr3 fr4")), 0L,
      "doc_id", "text", spanIdx, ivfIdx, gateCfg(thresholdPm = 1001L),
      outDir, freshCounter())
    assert(n == 0L)
    assert(gateFates(outDir) == Map(100L -> "low_quality"))
    assert(Dedup.spanIndexKeys(spark, spanIdx).count() == spanKeys &&
      Similarity.ivfLists(spark, ivfIdx).count() == listRows)
  }

  test("appendIndex drops already-indexed content before deriving sig/band deltas") {
    // Contract violation guard: a caller passing a row whose CONTENT
    // hash is already indexed must not double-represent that content
    // in the LSH tables under the new id.
    val idx = scratch()
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    Dedup.buildIndex(docsDf(Seq(1L -> txt)), "doc_id", "text", idx,
      numPerms = 16)
    Dedup.appendIndex(docsDf(Seq(
        7L -> txt,                                         // exact_index dup
        8L -> "fresh uniq1 uniq2 uniq3 uniq4 uniq5 uniq6") // genuinely new
      ), "doc_id", "text", idx)
    val sigIds = spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 8L),
      s"the dup's sig must not land under the new id, got $sigIds")
    val bandIds = spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/bands")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!bandIds.contains(7L),
      "the dup's band keys must not land under the new id")
  }
}
