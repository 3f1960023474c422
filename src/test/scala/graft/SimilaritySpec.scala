package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

class SimilaritySpec extends AnyFunSuite {
  import SparkTestBase._

  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val v = Similarity.toDouble(col("embedding"))
    val cos = emb.limit(5).select(Similarity.cosine(v, v).as("c"))
      .as[Double].collect()
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("ANN LSH recall@3 vs brute force is usable") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annTopK(queries, emb, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // quality contract, not a smoke test: multi-probe defaults
    // (adaptive planes, 4 tables, Hamming-≤2 probes) measured well
    // above this on the unclustered (worst-case) corpus — round-8
    // sweep in the annTopK scaladoc; 0.6 leaves noise margin without
    // letting a selectivity regression slip through
    assert(recall >= 0.6, s"recall@3 = $recall")
    // and every approximate neighbor shares a probed bucket by
    // construction — spot-check it returns at most k rows per query
    val counts = Similarity.annTopK(queries, emb, "vec_id", "embedding", 3)
      .groupBy("q_id").count().select("count").collect().map(_.getLong(0))
    assert(counts.forall(_ <= 3))
  }

  test("ANN LSH candidate set is sublinear in corpus size") {
    // The scale contract: with adaptive planes the per-query
    // candidate count grows ~P²·occupancy (polylog), not ~N. Measure
    // the candidate fraction of the corpus at two sizes (500 → 2000
    // vectors): if candidates grew linearly the fraction would stay
    // flat; multi-probe must make it strictly fall, with margin.
    def avgCandPerQuery(sfDir: String): (Double, Long) = {
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val n = corpus.count()
      val queries = corpus.filter(col("vec_id") < 10)
      val planes = Similarity.adaptivePlanes(n)
      val cands = Similarity.annCandidates(queries, corpus, "vec_id",
        "embedding", planes, tables = 8, probeRadius = 2).count()
      (cands.toDouble / 10, n)
    }
    val (candSmall, nSmall) = avgCandPerQuery("/root/testdata/sf0.01")
    val (candLarge, nLarge) = avgCandPerQuery("/root/testdata/sf0.1")
    val fracSmall = candSmall / nSmall
    val fracLarge = candLarge / nLarge
    assert(fracLarge < fracSmall * 0.85,
      s"candidate fraction did not shrink: $fracSmall ($nSmall rows) -> " +
        s"$fracLarge ($nLarge rows)")
  }

  test("ANN/IVF routing fires at the corpus-size boundary and not below it") {
    // decision function: exact boundary semantics
    assert(!Similarity.routesToIvf(Similarity.AnnMaxCorpus))
    assert(Similarity.routesToIvf(Similarity.AnnMaxCorpus + 1))
    assert(!Similarity.routesToIvf(200000L), "measured envelope must stay LSH")
    // end-to-end with a pinned boundary: below -> LSH plan (equals
    // annTopK at the same adaptive knobs), above -> IVF plan (equals
    // ivfTopK) — proving the route actually switches executors, not
    // just the log line.
    val queries = emb.filter(col("vec_id") < 5)
    val n = emb.count()
    val viaAnn = Similarity.annOrIvfTopK(queries, emb, "vec_id", "embedding",
      k = 3, annMaxCorpus = n) // n <= bound: stays LSH
    val p = Similarity.adaptivePlanes(n)
    val annRef = Similarity.annTopK(queries, emb, "vec_id", "embedding", 3,
      planes = p, tables = Similarity.adaptiveTables(p))
    assert(viaAnn.collect().toSet == annRef.collect().toSet)
    val viaIvf = Similarity.annOrIvfTopK(queries, emb, "vec_id", "embedding",
      k = 3, annMaxCorpus = n - 1) // n > bound: routes to IVF
    val kc = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val ivfRef = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 3,
      kCentroids = kc, nprobe = Similarity.adaptiveNprobe(kc))
    assert(viaIvf.collect().toSet == ivfRef.collect().toSet)
    spark.catalog.clearCache()
  }

  test("routed IVF probes sqrt(kc) lists — the r11 nprobe-scaling rule") {
    // fixed nprobe=4 measured 0.137-0.168 recall@3 on hard corpora at
    // the routed kc=sqrt(N) (GATE_SF1.md's round-11 IVF recall
    // table) — the rule is probed
    // fraction kc^(-1/2), floor 4, and these pins keep it deployed
    assert(Similarity.adaptiveNprobe(16) == 4)
    assert(Similarity.adaptiveNprobe(142) == 12)
    assert(Similarity.adaptiveNprobe(448) == 22)
    assert(Similarity.adaptiveNprobe(1000) == 32)
    assert(Similarity.adaptiveNprobe(65536) == 256)
  }

  test("knownCount suppresses the adaptive-sizing/routing count job") {
    // Proof by poison: a corpus whose evaluation throws. Any eager
    // job over the corpus during planning fails the call itself, so
    // if annTopK / annOrIvfTopK return a plan at all, no count job
    // ran. (The returned plan is never executed here — the poison
    // only guards the planning phase.)
    val boom = udf { () =>
      throw new RuntimeException("count job ran over the corpus"); true
    }
    val poisoned = emb.filter(boom())
    val queries = emb.filter(col("vec_id") < 5)
    val n = emb.count()
    // with knownCount: both entries plan without touching data
    Similarity.annTopK(queries, poisoned, "vec_id", "embedding", 3,
      knownCount = Some(n))
    Similarity.annOrIvfTopK(queries, poisoned, "vec_id", "embedding", 3,
      knownCount = Some(n))
    // (routing past the boundary with a supplied size is covered by
    // the boundary test above via routesToIvf — the IVF side's eager
    // centroid build would touch the poison, so only the LSH-side
    // plans are asserted here)
    // without knownCount: the sizing count runs and hits the poison
    intercept[Exception] {
      Similarity.annOrIvfTopK(queries, poisoned, "vec_id", "embedding", 3)
    }
    intercept[Exception] {
      Similarity.annTopK(queries, poisoned, "vec_id", "embedding", 3)
    }
  }

  test("persisted IVF index: probe equals fused ivfTopK, meta contradictions throw") {
    val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivfidx_spec_${java.lang.ProcessHandle.current().pid()}").toString
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, kCentroids = 8)
    val queries = emb.filter(col("vec_id") % 30 === 0)
    val viaIndex = Similarity.ivfProbe(queries, idx, "vec_id", "embedding",
      k = 3, nprobe = 2, expectQuantizer = "kmeans", expectKCentroids = 8,
      expectLloydIters = 1)
    val fused = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 3, kCentroids = 8, nprobe = 2)
    // bit-identical: index round-tripping must not change results
    assert(viaIndex.collect().toSet == fused.collect().toSet)
    // the probed-lists read is partition-pruned: the cid equi-join
    // against the broadcast probe set plants a dynamic pruning
    // subquery on the lists scan, so probe I/O is the probed
    // directories, not the corpus
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"lists scan is not partition-pruned:\n$plan")
    // parameters travel with the index: contradiction throws
    intercept[IllegalStateException] {
      Similarity.ivfProbe(queries, idx, "vec_id", "embedding", 3,
        expectKCentroids = 16)
    }
    intercept[IllegalStateException] {
      Similarity.ivfProbe(queries, idx, "vec_id", "embedding", 3,
        expectQuantizer = "lowid")
    }
    spark.catalog.clearCache()
  }

  /** `(query id, candidate id, cosine)` of every vector in each
    * query's `nprobe` nearest lists of the index at `idx` — a naive
    * reference computed on the driver from the index's own centroid
    * and list parquet, ties to the smallest cid.
    */
  private def driverProbe(queries: org.apache.spark.sql.DataFrame, idx: String,
      nprobe: Int): Set[(Long, Long, Double)] = {
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def doubles(xs: scala.collection.Seq[Any]): IndexedSeq[Double] =
      xs.map(_.asInstanceOf[Number].doubleValue).toIndexedSeq
    val cents = Similarity.ivfCentroids(spark, idx).collect()
      .map(r => (r.getLong(0), doubles(r.getSeq[Any](1)), r.getDouble(2)))
    val lists = Similarity.ivfLists(spark, idx).collect()
      .map(r => (r.getAs[Number]("cid").longValue, r.getAs[Long]("vid"),
        doubles(r.getAs[scala.collection.Seq[Any]]("v")), r.getAs[Double]("nrm")))
    queries.collect().flatMap { qr =>
      val qid = qr.getLong(0)
      val qv = doubles(qr.getSeq[Any](1))
      val qn = math.sqrt(dot(qv, qv))
      if (qn == 0) Array.empty[(Long, Long, Double)] else {
        val probed = cents
          .map { case (cid, cv, cn) => (-dot(qv, cv) / (qn * cn), cid) }
          .sorted.take(nprobe).map(_._2).toSet
        lists.filter(l => probed(l._1))
          .map(l => (qid, l._2, dot(qv, l._3) / (qn * l._4)))
      }
    }.toSet
  }

  private def candidates(queries: org.apache.spark.sql.DataFrame, idx: String,
      nprobe: Int): Set[(Long, Long, Double)] =
    Similarity.litIndexCandidates(spark, queries, idx, "vec_id", "embedding", nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("litIndexCandidates equals a driver-side probe of the same index") {
    // the streaming-safe literal-centroid probe must select exactly
    // the vectors of the nprobe nearest lists per query, scored with
    // the same cosine
    val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_litprobe_spec_${java.lang.ProcessHandle.current().pid()}").toString
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, kCentroids = 8)
    val queries = emb.filter(col("vec_id") % 40 === 0)
    assert(candidates(queries, idx, nprobe = 3) == driverProbe(queries, idx, 3))
    // the probe plan must be window-free — the property that makes
    // it legal on a streaming frame
    assert(!Similarity
      .litIndexCandidates(spark, queries, idx, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString.contains("Window"))
    spark.catalog.clearCache()
  }

  test("litIndexCandidates equals a driver-side probe at 640 centroids, past the janino expression cliff") {
    // More centroids than an array of one expression literal per
    // centroid compiles comfortably (janino's method-size cliff is at
    // ~736 elements), at a size the sqrt-kc policy reaches: the boxed
    // centroid literal must still rank exactly.
    import spark.implicits._
    val n = 2000
    val dim = 8
    val vecs = (0 until n).map { i =>
      val rnd = new scala.util.Random(i * 7919)
      (i.toLong, Array.fill(dim)(rnd.nextDouble() - 0.5))
    }.toDF("vec_id", "embedding")
    val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_kc640_spec_${java.lang.ProcessHandle.current().pid()}").toString
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", idx,
      kCentroids = 640)
    val kcBuilt = Similarity.ivfCentroids(spark, idx).count()
    assert(kcBuilt > 600, s"test needs more than 600 centroids, got $kcBuilt")
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val nprobe = Similarity.adaptiveNprobe(kcBuilt.toInt)
    val got = candidates(queries, idx, nprobe)
    assert(got.nonEmpty && got == driverProbe(queries, idx, nprobe),
      "the boxed ranking must stay exact at 640 centroids")
    spark.catalog.clearCache()
  }

  test("cluster report and balanced sample from a persisted index equal the fused forms") {
    // The d37 amortization applied to the clustering surface: one
    // index build serves search (probe), composition report (d42),
    // and rebalance (d43) — the index-backed forms must be
    // bit-identical to a fresh quantizer build at the same params,
    // and must not touch the embedding payloads (assignment only).
    val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_clidx_spec_${java.lang.ProcessHandle.current().pid()}").toString
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, kCentroids = 8)
    val repIdx = Similarity.clusterReportFromIndex(
      spark, idx, emb, "vec_id", "label")
    assert(repIdx.collect().toSet ==
      Similarity.clusterReport(emb, "vec_id", "embedding", "label",
        kCentroids = 8).collect().toSet)
    val sampIdx = Similarity.clusterBalancedSampleFromIndex(
      spark, idx, "vec_id")
    assert(sampIdx.collect().toSet ==
      Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
        kCentroids = 8).collect().toSet)
    // assignment-only reads: neither index-backed plan scans the
    // vector payload column of the lists
    Seq(repIdx, sampIdx).foreach { df =>
      val scans = df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("FileScan parquet") && l.contains("lists"))
        .toSeq
      assert(scans.nonEmpty && scans.forall(!_.contains("nrm")),
        "index-backed cluster ops must read (cid, vid) only, not payloads")
    }
    spark.catalog.clearCache()
  }

  test("kmeans quantizer adapts to clustered data where lowid centroids cannot") {
    // The d19 upgrade contract, demonstrated where it matters: a
    // corpus whose low id range is BIASED (all 16 lowest ids sit in
    // just 2 of 32 clusters — the realistic lowid failure: ids
    // correlate with ingest order, ingest order correlates with
    // source). lowid's 16 near-parallel centroids fragment routing;
    // the seeded-kmeans quantizer's md5-spread seeds + Lloyd step
    // move centroids onto the occupied clusters. On UNCLUSTERED data
    // the two measure at parity within noise (GATE_SF1.md's round-11
    // IVF recall table at 200k:
    // kmeans 0.58-0.60 vs lowid 0.61; sf0.001/sf0.1: kmeans ahead by
    // 0.01-0.05) — this test pins the clustered case, where the
    // adaptation is the whole point.
    import spark.implicits._
    val rnd = new java.util.Random(4242L)
    val dims = 64
    val centers = Array.fill(32)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    def member(c: Int): Array[Float] = {
      val ctr = centers(c)
      Array.tabulate(dims)(d => ctr(d) + 0.15f * rnd.nextGaussian().toFloat)
    }
    val rows = (0 until 2000).map { i =>
      val cluster = if (i < 16) i % 2 else i % 32
      (i.toLong, member(cluster))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(q: String): Double = {
      val got = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding", 3,
        kCentroids = 16, nprobe = 4, quantizer = q)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache()
      (exact & got).size.toDouble / exact.size
    }
    val rKmeans = recall("kmeans")
    val rLowid = recall("lowid")
    info(s"clustered corpus recall@3: kmeans=$rKmeans lowid=$rLowid")
    assert(rKmeans > rLowid,
      s"kmeans must beat biased-lowid on clustered data: $rKmeans vs $rLowid")
    assert(rKmeans >= 0.6, s"kmeans ivf recall too low: $rKmeans")
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(queries, corpus, "vec_id", "embedding", 3,
        quantizer = "nope").collect()
    }
  }

  test("near-dup pairs are symmetric-free and above threshold") {
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", "label", 0.3)
      .collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.3))
  }
}
