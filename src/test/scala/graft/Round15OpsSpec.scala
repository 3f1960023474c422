package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.streaming.StreamingOps

/** Round-15 contracts. Early r15: the c28 single-epoch oracle
  * invariant under a multi-file arrival corpus, kill-restart
  * convergence of the composed gate across the half-appended window
  * (crash BETWEEN appendSpanIndex and appendIvfIndex), the d49
  * bloom gate, and the d50/d51 PQ family. Late r15: d55 islands,
  * d57 ADC re-rank, d58 SPANN closure lists, d60 winnowing, d61/c31
  * KMV sketches, c30 CDC-chunk gate shift-robustness, d65 recall
  * curve, d66 hard negatives.
  */
class Round15OpsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_r15_").toString

  private def streamDocsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, text) =>
      (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

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

  private def filesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Set.empty
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toSet
    } finally s.close()
  }

  test("ingestGateLoop: a multi-file arrival corpus still gates in exactly ONE epoch (the c28 oracle invariant)") {
    // The c28 oracle models admission vs the INGESTED corpus only —
    // it is exact iff the whole arrival slice lands as one
    // micro-batch. The file source with no maxFilesPerTrigger takes
    // every available file in the first batch; this pins that
    // behavior under the exact condition the oracle worries about
    // (a driver corpus that splits into multiple parquet files).
    val srcDir = scratch(); val outDir = scratch(); val ckpt = scratch()
    val spanIdx = scratch(); val ivfIdx = scratch()
    gateBase(spanIdx, ivfIdx)
    // three separate files, written before the stream starts
    streamDocsDf(Seq(100L -> "fa1 fa2 fa3 fa4 fa5 fa6 fa7 fa8"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    streamDocsDf(Seq(101L -> "fb1 fb2 fb3 fb4 fb5 fb6 fb7 fb8"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    streamDocsDf(Seq(102L -> "fa1 fa2 fa3 fa4 fa5 fa6 fa7 fa8")) // dup of 100
      .coalesce(1).write.mode("append").parquet(srcDir)
    val nFiles = new java.io.File(srcDir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 3, s"setup must produce >=3 source files, got $nFiles")
    val q = StreamingOps.ingestGateLoop(
      spark.readStream.schema(StreamingOps.documentsSchema).parquet(srcDir),
      "doc_id", "text", spanIdx, ivfIdx, gateCfg(thresholdPm = 1000L),
      outDir, ckpt)
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    val epochs = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(epochs.length == 1,
      s"all source files must land in one epoch, got " +
        epochs.map(_.getName).mkString(","))
    // single-epoch semantics: 102 is an intra-batch copy of 100 —
    // admission is vs the INGESTED corpus, so BOTH admit (what the
    // oracle computes); cross-epoch feedback would have rejected 102
    val fates = gateFates(outDir)
    assert(fates == Map(100L -> "admitted", 101L -> "admitted",
      102L -> "admitted"), s"got $fates")
  }

  test("ingestGateEpoch: crash BETWEEN the two appends — fates committed, span mutated, IVF not — converges on retry") {
    // The r14 verdict's new window: appendSpanIndex ran, the process
    // died before appendIvfIndex. The retry must (a) honor the
    // committed fates verbatim, (b) re-append spans idempotently
    // (no duplicate keys), (c) land the missing IVF rows — ending in
    // exactly the state an uninterrupted epoch produces.
    val outDir = scratch(); val spanIdx = scratch(); val ivfIdx = scratch()
    gateBase(spanIdx, ivfIdx)
    val batch = streamDocsDf(Seq(
      100L -> "fr1 fr2 fr3 fr4 fr5 fr6 fr7 fr8", // admitted
      101L -> "b0a b0b b0c b0d b0e b0f b0g b0h")) // near_dup of ingested
    val counter = new java.util.concurrent.atomic.AtomicLong(-1L)
    def epoch(): Long = StreamingOps.ingestGateEpoch(batch, 0L,
      "doc_id", "text", spanIdx, ivfIdx, gateCfg(thresholdPm = 1000L),
      outDir, counter)
    // attempt 1 runs to completion, then the IVF append's effect is
    // surgically removed (delete every file it added): byte-for-byte
    // the state of a crash after appendSpanIndex committed and before
    // appendIvfIndex committed anything to the index location (its
    // one write job commits its file only when it finishes).
    val ivfBefore = filesUnder(ivfIdx)
    val n1 = epoch()
    assert(n1 == 1L)
    val fates1 = gateFates(outDir)
    assert(fates1 == Map(100L -> "admitted", 101L -> "near_dup"))
    val spanKeysAfter1 = Dedup.spanIndexKeys(spark, spanIdx).count()
    val ivfRowsAfter1 = Similarity.ivfLists(spark, ivfIdx).count()
    (filesUnder(ivfIdx) -- ivfBefore).foreach { f =>
      assert(new java.io.File(f).delete(), s"could not delete $f")
    }
    assert(Similarity.ivfLists(spark, ivfIdx).count() == ivfRowsAfter1 - 1,
      "the crash simulation must remove exactly the appended vector")
    // the retry: committed fates are the source of truth — no re-gate
    // (a re-gate would flip 100 to span_dup against its own spans)
    val n2 = epoch()
    assert(n2 == 1L, "retry must honor the committed fates")
    assert(gateFates(outDir) == fates1, "fates must replay verbatim")
    assert(Dedup.spanIndexKeys(spark, spanIdx).count() == spanKeysAfter1,
      "span re-append must converge, not duplicate")
    assert(Similarity.ivfLists(spark, ivfIdx).count() == ivfRowsAfter1,
      "the missing IVF rows must land on retry")
    val vids = Similarity.ivfLists(spark, ivfIdx)
      .filter(col("vid") === 100L).count()
    assert(vids == 1L, s"vid 100 must appear exactly once, got $vids")
    // and a third call (retry of a fully-converged epoch) is a no-op
    val n3 = epoch()
    assert(n3 == 1L &&
      Similarity.ivfLists(spark, ivfIdx).count() == ivfRowsAfter1 &&
      Dedup.spanIndexKeys(spark, spanIdx).count() == spanKeysAfter1)
  }

  // ---- d49_bloom_decontam ---------------------------------------------

  test("Bloom.might_contain has no false negatives") {
    import spark.implicits._
    val keys = (0L until 5000L).map(i => i * 1000003L % 999999937L)
    val bloom = graft.functions.Bloom.buildLong(keys.toDF("g"), "g")
    val missed = keys.toDF("g")
      .where(!graft.functions.Bloom.might_contain(bloom, col("g"))).count()
    assert(missed == 0L, s"bloom dropped $missed inserted keys")
    // and it actually prunes: a disjoint probe set mostly fails
    val fp = (0L until 5000L).map(i => 777 + i * 999999893L % 999999937L)
      .toDF("g")
      .where(graft.functions.Bloom.might_contain(bloom, col("g"))).count()
    assert(fp < 500L, s"bloom passed $fp of 5000 non-members (fpp ~1%)")
  }

  test("d49 equals its bloom-free replay (the bloom prunes, never changes results)") {
    import graft.functions.TextHash
    val dir = SparkTestBase.sf
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("bucket",
        pmod(TextHash.poly_hash(concat(col("text"), lit("|split"))), lit(1000)))
    def grams(d: org.apache.spark.sql.DataFrame, idCol: String) = d.select(
      col("doc_id").as(idCol),
      explode(TextHash.word_gram_hashes(col("text"), 5, distinct = true)).as("g"))
    val testG = grams(base.filter(col("bucket") >= 950), "test_id")
    val trainAll = grams(base.filter(col("bucket") < 900), "train_id")
    val inTest = trainAll.join(testG.select("g").distinct(), "g")
    val capped = inTest.groupBy("g").agg(count(lit(1)).as("tdf"))
      .filter(col("tdf") <= 200).select("g")
    val expected = inTest.join(capped, "g").join(testG, "g")
      .groupBy("train_id", "test_id").agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = SparkEntry.queries("d49_bloom_decontam")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "sf0.001 must exercise at least one contaminated pair")
  }

  test("d49's bloom predicate prunes map-side: no exchange below the filter") {
    import graft.functions.TextHash
    val dir = SparkTestBase.sf
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("bucket",
        pmod(TextHash.poly_hash(concat(col("text"), lit("|split"))), lit(1000)))
    val bloom = graft.functions.Bloom.buildLong(
      spark.range(3).select(col("id").as("g")), "g")
    val trainG = base.filter(col("bucket") < 900).select(
        col("doc_id").as("train_id"),
        explode(TextHash.word_gram_hashes(col("text"), 5, distinct = true)).as("g"))
      .where(graft.functions.Bloom.might_contain(bloom, col("g")))
    val p = trainG.queryExecution.executedPlan.toString()
    assert(p.contains("might_contain"),
      "the bloom predicate must survive into the physical plan")
    assert(!p.contains("Exchange"),
      "the pruned gram stream must be scan -> explode -> filter with " +
        "NO exchange: the bloom runs before anything shuffles")
  }

  // ---- d50_pq_ann -------------------------------------------------------

  /** 8 tight clusters × 25 vectors in 64 dims, fully deterministic:
    * a small positive floor everywhere (every 16-dim PQ slice keeps
    * positive norm) plus cluster c's energy block at [8c, 8c+8) with
    * a per-member magnitude wiggle — within-cluster cosine ~1.0,
    * cross-cluster ~0.1.
    */
  private def clusteredVecs = {
    import spark.implicits._
    (0 until 8).flatMap { c =>
      (0 until 25).map { j =>
        val e = Array.fill(64)(0.05f)
        (0 until 8).foreach { d =>
          e(c * 8 + d) = 1.0f + 0.01f * ((j * 7 + d * 3) % 5) }
        ((c * 25 + j).toLong, e.toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  test("d50: PQ encode is total and draws codes from the trained codebooks") {
    import graft.similarity.Pq
    val v = clusteredVecs
    val cbs = Pq.trainCodebooks(v, "vec_id", "embedding",
      m = 4, subDim = 16, kc = 16)
    val validCids = cbs.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val enc = Pq.encode(v, "vec_id", "embedding", cbs, m = 4, subDim = 16)
      .collect()
    assert(enc.length == 200, "every vector must receive codes")
    enc.foreach { r =>
      (0 until 4).foreach { mi =>
        assert(validCids.contains((mi, r.getLong(1 + mi))),
          s"code ${r.getLong(1 + mi)} of subspace $mi is not a trained cid")
      }
    }
    // determinism: a second train+encode is bit-identical
    val enc2 = Pq.encode(v, "vec_id", "embedding",
      Pq.trainCodebooks(v, "vec_id", "embedding", m = 4, subDim = 16, kc = 16),
      m = 4, subDim = 16).collect()
    assert(enc.map(_.toSeq).toSet == enc2.map(_.toSeq).toSet)
  }

  test("d50: ADC top-k stays inside the query's cluster on clustered data") {
    import graft.similarity.Pq
    val v = clusteredVecs
    val cbs = Pq.trainCodebooks(v, "vec_id", "embedding",
      m = 4, subDim = 16, kc = 16)
    val enc = Pq.encode(v, "vec_id", "embedding", cbs, m = 4, subDim = 16)
    val queries = v.filter(col("vec_id") % 50 === 0)
    val top = Pq.adcTopK(queries, enc, cbs, "vec_id", "embedding",
      m = 4, subDim = 16, k = 4).collect()
    assert(top.nonEmpty)
    val wrong = top.count(r => r.getLong(0) / 25 != r.getLong(2) / 25)
    assert(wrong == 0,
      s"$wrong of ${top.length} ADC neighbors crossed a cluster boundary " +
        "(disjoint component blocks: cross-cluster cosine is exactly 0)")
  }

  test("d51: IVFADC stays inside the query's cluster and returns full top-k") {
    import graft.similarity.Pq
    val v = clusteredVecs
    val top = Pq.ivfAdcTopK(v.filter(col("vec_id") % 50 === 0), v,
      "vec_id", "embedding", m = 4, subDim = 16, kc = 16,
      kcCoarse = 8, nprobe = 2, k = 4).collect()
    assert(top.length == 4 * 4,
      s"4 queries x top-4 expected, got ${top.length} (a probed-list " +
        "route that loses the query's own cluster would come up short)")
    val wrong = top.count(r => r.getLong(0) / 25 != r.getLong(2) / 25)
    assert(wrong == 0,
      s"$wrong of ${top.length} IVFADC neighbors crossed a cluster boundary")
  }

  test("d57: with the cluster inside the shortlist, re-rank equals EXACT brute-force top-k") {
    import graft.similarity.Pq
    val v = clusteredVecs
    val queries = v.filter(col("vec_id") % 50 === 0)
    // kShort=24 >= own-cluster size (25 incl. self) - self, and nprobe=2
    // keeps the route inside the winning lists: the shortlist then
    // contains every exact top-4 candidate, so the refinement must
    // reproduce brute force BIT-EXACTLY (same dot/norm folds) even
    // where ADC's quantized ordering disagrees.
    val rr = Pq.ivfAdcRerank(queries, v, "vec_id", "embedding",
      m = 4, subDim = 16, kc = 16, kcCoarse = 8, nprobe = 2,
      kShort = 24, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val exact = Similarity.bruteForceTopK(queries, v, "vec_id", "embedding", k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rr.size == 4 * 4)
    assert(rr == exact,
      "re-ranked top-4 must equal the exact top-4 (ids, ranks, AND scores)")
  }

  test("d57: re-rank output is a subset of the ADC shortlist") {
    import graft.similarity.Pq
    val v = clusteredVecs
    val queries = v.filter(col("vec_id") % 50 === 0)
    val short = Pq.ivfAdcTopK(queries, v, "vec_id", "embedding",
      m = 4, subDim = 16, kc = 16, kcCoarse = 8, nprobe = 2, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Pq.ivfAdcRerank(queries, v, "vec_id", "embedding",
      m = 4, subDim = 16, kc = 16, kcCoarse = 8, nprobe = 2,
      kShort = 8, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rr.nonEmpty && rr.subsetOf(short),
      "the refinement may only re-order shortlist members, never add candidates")
  }

  test("d50: vectors with a zero-norm subspace slice are excluded, not NaN-ranked") {
    import spark.implicits._
    import graft.similarity.Pq
    val zeroSlice = (900L, Array.fill(64)(0.0f).updated(0, 1.0f).toSeq)
    val v = clusteredVecs.union(Seq(zeroSlice).toDF("vec_id", "embedding"))
    val cbs = Pq.trainCodebooks(v, "vec_id", "embedding",
      m = 4, subDim = 16, kc = 16)
    val enc = Pq.encode(v, "vec_id", "embedding", cbs, m = 4, subDim = 16)
    assert(enc.filter(col("vid") === 900L).count() == 0,
      "a zero-norm slice has no spherical code; the vector must drop")
    assert(enc.count() == 200)
  }

  // ---- d65_recall_curve -----------------------------------------------------

  test("d65: recall is monotone in nprobe, and probing every list IS exact (1000 permille)") {
    val dir = SparkTestBase.sf
    val curve = SparkEntry.queries("d65_recall_curve")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(curve.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      s"recall must not decrease with nprobe: $curve")
    // nprobe = kCentroids probes every inverted list: the probe IS
    // the exact search, bit for bit
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") % 40 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rk", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = pairs(Similarity.ivfTopK(q, e, "vec_id", "embedding",
      k = 4, kCentroids = 16, nprobe = 16)
      .withColumn("rk", col("rk").cast("long")))
    val exact = pairs(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 4)
      .withColumn("rk", col("rk").cast("long")))
    assert(full == exact, "nprobe=kc must reproduce brute force exactly")
  }

  // ---- d66_hard_negatives ---------------------------------------------------

  test("d66: positives share the query's label, hard negatives never do, ranks are dense") {
    val dir = SparkTestBase.sf
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("d66_hard_negatives")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, kind, rk, n, _) =>
      if (kind == "pos") {
        assert(rk == 1L)
        assert(labels(q) == labels(n), s"positive $n must share $q's label")
      } else {
        assert(rk >= 1L && rk <= 3L)
        assert(labels(q) != labels(n), s"negative $n must differ from $q's label")
      }
    }
    val byQ = rows.groupBy(_._1)
    byQ.foreach { case (q, rs) =>
      assert(rs.count(_._2 == "pos") <= 1)
      val negs = rs.filter(_._2 == "neg").sortBy(_._3)
      assert(negs.map(_._3).toSeq == (1L to negs.length.toLong).toSeq,
        s"dense neg ranks for $q")
      assert(negs.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"neg cosines must be non-increasing in rank for $q")
    }
  }

  // ---- d61_kmv_sketch -------------------------------------------------------

  private def kmvDocs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.map { case (id, text, src) =>
      (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def runKmv(df: org.apache.spark.sql.DataFrame) = {
    val dir = scratch()
    df.coalesce(1).write.parquet(s"$dir/__kmv")
    val f = new java.io.File(s"$dir/__kmv").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    graft.queries.TrainingDataQueries.queries("d61_kmv_sketch")(spark, dir)
  }

  test("d61: the KMV estimate lands within the ~1/sqrt(k) band of the exact count") {
    val docs = (0L until 5000L).map(i => (i, s"kmv doc $i payload${i * 7}", "web"))
    val row = runKmv(kmvDocs(docs)).collect().head
    val (nDistinct, est, errPm) =
      (row.getLong(2), row.getLong(4), row.getLong(5))
    assert(nDistinct == 5000L)
    assert(!row.isNullAt(3), "5000 distinct docs must fill the k=256 sketch")
    assert(errPm <= 200L,
      s"KMV at k=256 is ~6%-accurate; err $errPm permille (est $est vs 5000) " +
        "is far outside the band")
  }

  test("d61: a source below k distinct docs reports the exact count, NULL kth_hash") {
    val docs = (0L until 40L).map(i => (i, s"small source doc $i", "tiny")) ++
      Seq((100L, "small source doc 5", "tiny")) // duplicate content
    val row = runKmv(kmvDocs(docs)).collect().head
    assert(row.getLong(1) == 41L, "n_docs counts rows")
    assert(row.getLong(2) == 40L, "n_distinct collapses the duplicate")
    assert(row.isNullAt(3), "below-k sketch has no kth hash")
    assert(row.getLong(4) == 40L && row.getLong(5) == 0L,
      "below k the estimate IS the exact count")
  }

  test("c31: the streaming sketch equals the batch KMV on the same corpus") {
    val dir = SparkTestBase.sf
    val got = SparkEntry.queries("c31_stream_cardinality")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSet
    // batch replay: exact distinct + the same estimator arithmetic
    import graft.functions.TextHash
    val kP = 255L * TextHash.P
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        TextHash.poly_hash(lower(trim(col("text")))).as("h"))
      .distinct()
    val want = d.groupBy("source").agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("h"))).as("hs"))
      .collect().map { r =>
        val hs = r.getSeq[Long](2)
        val kth = if (hs.length >= 256) hs(255) else -1L
        val est = if (kth >= 0) kP / kth else hs.length.toLong
        (r.getString(0), math.min(hs.length, 256).toLong, kth, est)
      }.toSet
    assert(got == want, "stream sketch must equal the batch KMV bit-for-bit")
  }

  test("d61: the sketch is partitioning-invariant (associative heap merge)") {
    val docs = (0L until 3000L).map(i =>
      (i, s"part inv ${i} x${i % 17}", if (i % 2 == 0) "a" else "b"))
    def rows(parts: Int) = runKmv(kmvDocs(docs).repartition(parts))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSet
    assert(rows(1) == rows(13),
      "bottom-k merge must be exact under any partitioning")
  }

  // ---- c30_stream_chunk_gate ----------------------------------------------

  test("c30: a head-edited re-crawl is near-total duplicate under CDC chunks, 'novel' under fixed spans") {
    import graft.functions.TextHash
    val toks = (0 until 400).map(i => s"ck${i}x$i")
    val nBounds = toks.count(t => TextHash.polyHashStr(t) % 16 == 0)
    assert(nBounds >= 5, s"test corpus needs boundaries, got $nBounds")
    val base = toks.mkString(" ")
    val corpus = streamDocsDf(Seq(1L -> base))
    val arrival = streamDocsDf(Seq(10L -> s"freshhead $base"))
    val cidx = Dedup.cdcChunks(corpus, "doc_id", "text", 16)
      .select("h1", "h2", "chunk_len").distinct()
    val aChunks = Dedup.cdcChunks(arrival, "doc_id", "text", 16)
    val n = aChunks.count()
    val dup = aChunks.join(cidx, Seq("h1", "h2", "chunk_len")).count()
    assert(n >= 5)
    assert(dup >= n - 1,
      s"a head edit may disturb ONE chunk; $dup of $n matched (re-alignment failed)")
    // the same arrival against the same corpus at fixed-stride spans:
    // every 8-token window shifts by one -> nothing re-aligns
    val idx = scratch()
    try {
      Dedup.buildSpanIndex(corpus, "doc_id", "text", idx, width = 8)
      val sp = Dedup.spanNovelty(arrival, "doc_id", "text", idx)
        .collect().head
      val spanNovelPm = sp.getAs[Long]("novel_pm")
      val chunkNovelPm = (n - dup) * 1000 / n
      assert(spanNovelPm >= 900,
        s"fixed spans must read the shifted re-crawl as novel, got $spanNovelPm")
      assert(chunkNovelPm <= 200,
        s"CDC chunks must read it as duplicate, got $chunkNovelPm")
    } finally Dedup.deleteSpanIndex(spark, idx)
  }

  test("c30: the streaming gate equals its batch bloom-free replay") {
    val dir = SparkTestBase.sf
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val cidx = Dedup.cdcChunks(base.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", 16)
      .select("h1", "h2", "chunk_len").distinct()
    val expected = Dedup.cdcChunks(base.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 16)
      .join(cidx.withColumn("__hit", lit(1L)),
        Seq("h1", "h2", "chunk_len"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("dup"))
      .collect().map { r =>
        val (n, dup) = (r.getLong(1), r.getLong(2))
        val pm = (n - dup) * 1000 / n
        r.getLong(0) -> ((n, dup, pm, pm >= 500))
      }.toMap
    val got = SparkEntry.queries("c30_stream_chunk_gate")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == expected, "stream + bloom must change nothing vs the batch replay")
    assert(got.nonEmpty && got.exists(_._2._4) ,
      "sf0.001 must exercise at least one admitted arrival")
  }

  // ---- d60_winnow_pairs ---------------------------------------------------

  test("d60: a shared run of >= window+gramK-1 tokens is GUARANTEED a shared fingerprint, unaligned") {
    val run = (0 until 12).map(i => s"shared$i").mkString(" ")
    val a = s"aonly1 aonly2 aonly3 $run atail1 atail2"
    val b = s"bx1 $run btail9 btail8 btail7" // different offset: grams shift, winnowing still fires
    val c = "cw1 cw2 cw3 cw4 cw5 cw6 cw7 cw8 cw9 cw10"
    val out = Dedup.winnowPairs(streamDocsDf(Seq(1L -> a, 2L -> b, 3L -> c)),
        "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L),
      "the winnowing theorem guarantees >= 1 shared print for a 12-token shared run")
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc shares nothing")
  }

  test("d60: identical docs pair with multiple shared prints; the df cap silences boilerplate") {
    val text = (0 until 40).map(i => s"tok${i * 13 % 29}w$i").mkString(" ")
    val dup = Dedup.winnowPairs(
        streamDocsDf(Seq(1L -> text, 2L -> text)), "doc_id", "text")
      .collect()
    assert(dup.length == 1 && dup(0).getLong(2) >= 2,
      "two identical docs must pair on >= 2 shared fingerprints")
    // 25 copies: every fingerprint has df=25 > dfCap=20 -> the whole
    // clique is silenced (boilerplate must not explode into pairs)
    val boiler = Dedup.winnowPairs(
        streamDocsDf((0L until 25L).map(i => i -> text)), "doc_id", "text")
      .collect()
    assert(boiler.isEmpty,
      s"df-capped fingerprints must emit no pairs, got ${boiler.length}")
  }

  // ---- d58_spann_ann ----------------------------------------------------

  private def unitVec(hot: Seq[(Int, Double)]): Seq[Double] = {
    val e = Array.fill(16)(0.0)
    hot.foreach { case (i, x) => e(i) = x }
    e.toSeq
  }

  test("d58: closure assignment replicates boundary vectors, keeps interior ones single") {
    import spark.implicits._
    val v = Seq(
      (1L, unitVec(Seq(0 -> 1.0))),                 // interior of centroid 10
      (2L, unitVec(Seq(0 -> 1.0, 8 -> 1.0))),       // exact midpoint: both
      (3L, unitVec(Seq(8 -> 1.0)))                  // interior of centroid 20
    ).toDF("vid", "v").withColumn("nrm", Similarity.norm2(col("v")))
    val cents = Seq(
      (10L, unitVec(Seq(0 -> 1.0)), 1.0),
      (20L, unitVec(Seq(8 -> 1.0)), 1.0)
    ).toDF("cid", "cv", "cnrm")
    val got = Similarity.closureAssign(v, cents, deltaMilli = 100, maxAssign = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) == Set(10L), "interior vector must stay single-assigned")
    assert(got(3L) == Set(20L))
    assert(got(2L) == Set(10L, 20L),
      "a vector equidistant to two centroids must join BOTH lists")
  }

  test("d58: closure rank-1 equals argmax assignment; maxAssign caps replication") {
    import spark.implicits._
    val v = Seq(
      (1L, unitVec(Seq(0 -> 1.0, 1 -> 0.2))),
      (2L, unitVec(Seq(0 -> 0.9, 1 -> 0.9))),
      (3L, unitVec(Seq(1 -> 1.0)))
    ).toDF("vid", "v").withColumn("nrm", Similarity.norm2(col("v")))
    // three near-identical centroids: closure wants all three, the cap allows 2
    val cents = Seq(
      (10L, unitVec(Seq(0 -> 1.0, 1 -> 0.50)), 0.0),
      (20L, unitVec(Seq(0 -> 1.0, 1 -> 0.51)), 0.0),
      (30L, unitVec(Seq(0 -> 1.0, 1 -> 0.52)), 0.0)
    ).toDF("cid", "cv", "cnrm")
      .withColumn("cnrm", Similarity.norm2(col("cv")))
    val closure = Similarity.closureAssign(v, cents, deltaMilli = 900, maxAssign = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(closure.groupBy(_._1).forall(_._2.length <= 2),
      "maxAssign=2 must cap per-vector replication")
    val rank1 = Similarity.closureAssign(v, cents, deltaMilli = 0, maxAssign = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vv = v.select(col("vid"), col("v"), col("nrm"))
    val argmax = Similarity.argmaxAssign(vv, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rank1 == argmax,
      "closure at delta=0/maxAssign=1 must degenerate to the argmax rule")
  }

  test("d58: closure assignment is map-side — no exchange in its physical plan") {
    import spark.implicits._
    val v = clusteredVecs
      .select(col("vec_id").as("vid"), Similarity.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm2(col("v")))
    val cents = Seq(
      (10L, (0 until 64).map(i => if (i < 8) 1.0 else 0.05), 0.0),
      (20L, (0 until 64).map(i => if (i >= 8 && i < 16) 1.0 else 0.05), 0.0)
    ).toDF("cid", "cv", "cnrm")
      .withColumn("cnrm", Similarity.norm2(col("cv")))
    val p = Similarity.closureAssign(v, cents, deltaMilli = 50, maxAssign = 2)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"),
      "closure assignment must be scan -> project/sort-in-row -> explode " +
        "with NO exchange: the centroid table is an array literal, not a join side")
    assert(!p.contains("Window"), "and no window either")
  }

  test("d58: spannTopK candidates at nprobe=1 are a superset of single-assignment IVF's") {
    val v = clusteredVecs
    val queries = v.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val spann = pairs(Similarity.spannTopK(queries, v, "vec_id", "embedding",
      k = 30, kCentroids = 8, deltaMilli = 150, maxAssign = 2, nprobe = 1))
    val single = pairs(Similarity.ivfTopK(queries, v, "vec_id", "embedding",
      k = 30, kCentroids = 8, nprobe = 1))
    assert(single.subsetOf(spann),
      "closure lists contain the argmax lists: spann@nprobe=1 can only ADD reachable neighbors")
    // in-cluster dominance holds only within the cluster's size (24
    // non-self members): ranks beyond that are exactly the
    // closure-replicated boundary vectors SPANN exists to reach
    val top20 = Similarity.spannTopK(queries, v, "vec_id", "embedding",
        k = 20, kCentroids = 8, deltaMilli = 150, maxAssign = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val wrong = top20.count { case (q, n) => q / 25 != n / 25 }
    assert(wrong == 0, s"$wrong of ${top20.length} top-20 spann neighbors crossed a cluster boundary")
  }

  // ---- d55_dup_intervals ------------------------------------------------

  private def dupOut(rows: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long)] =
    Dedup.dupIntervals(streamDocsDf(rows), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap

  test("d55: a copied 12-token run at UNALIGNED offsets is one exact island in both docs") {
    val run = (0 until 12).map(i => s"dup$i")
    val d0 = ((0 until 5).map(i => s"a$i") ++ run ++
      (0 until 3).map(i => s"z$i")).mkString(" ")
    val d1 = ((0 until 2).map(i => s"q$i") ++ run ++
      (0 until 4).map(i => s"y$i")).mkString(" ")
    val out = dupOut(Seq(0L -> d0, 1L -> d1))
    // 12 duplicated tokens -> 5 sliding seeds (12-8+1), coalescing
    // into ONE island of exactly 12 tokens — at offset 5 in doc 0 and
    // offset 2 in doc 1, neither on d39's 8-token grid.
    assert(out(0L) == ((5L, 1L, 12L, 12L)), s"doc 0: ${out(0L)}")
    assert(out(1L) == ((5L, 1L, 12L, 12L)), s"doc 1: ${out(1L)}")
  }

  test("d55: WITHIN-doc repetition is a duplicate — two islands, no cross-doc copy needed") {
    val rep = (0 until 8).map(i => s"r$i")
    val doc = (rep ++ Seq("x0", "x1", "x2") ++ rep).mkString(" ")
    val out = dupOut(Seq(0L -> doc, 1L -> "lonely unique text here"))
    assert(out(0L) == ((2L, 2L, 16L, 8L)), s"doc 0: ${out(0L)}")
    assert(out(1L) == ((0L, 0L, 0L, 0L)), s"doc 1: ${out(1L)}")
  }

  test("d55: ADJACENT duplicated blocks merge into one contiguous island") {
    val b1 = (0 until 8).map(i => s"p$i")
    val b2 = (0 until 8).map(i => s"w$i")
    // doc 0 carries B1 then B2 back-to-back; docs 1/2 duplicate each
    // block separately. In doc 0 the junction grams (spanning p..w)
    // are unique, so seeds sit at pos 2 and pos 10 only — pos 10
    // == prev island end, i.e. the duplicated regions are contiguous
    // tokens and must coalesce into ONE 16-token island.
    val d0 = (Seq("u0", "u1") ++ b1 ++ b2).mkString(" ")
    val d1 = (Seq("m0") ++ b1 ++ Seq("m1", "m2")).mkString(" ")
    val d2 = (Seq("n0", "n1", "n2") ++ b2).mkString(" ")
    val out = dupOut(Seq(0L -> d0, 1L -> d1, 2L -> d2))
    assert(out(0L) == ((2L, 1L, 16L, 16L)), s"doc 0: ${out(0L)}")
    assert(out(1L) == ((1L, 1L, 8L, 8L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((1L, 1L, 8L, 8L)), s"doc 2: ${out(2L)}")
  }

  test("d55: short and zero-dup docs report zero rows-with-zeros, not missing rows") {
    val out = dupOut(Seq(
      0L -> "only three tokens",
      1L -> (0 until 20).map(i => s"solo$i").mkString(" ")))
    assert(out(0L) == ((0L, 0L, 0L, 0L)))
    assert(out(1L) == ((0L, 0L, 0L, 0L)))
  }

  test("d55: seed counting is a partial-agg groupBy + equi-join, not a gram-partitioned window") {
    val df = Dedup.dupIntervals(
      streamDocsDf(Seq(0L -> "a b c d e f g h i j")), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString()
    // exactly the two island windows (running max-end + island id
    // share one Window frame spec each); a gram-keyed window would
    // add a third and pile every occurrence of a hot boilerplate
    // gram into one partition with no partial aggregation.
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows <= 2, s"expected <= 2 Window nodes, got $windows:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      "the corpus-wide gram count must partial-aggregate map-side")
  }
}
