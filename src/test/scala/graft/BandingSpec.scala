package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** The MinHash banding auto-tuner (Dedup.chooseBanding / AutoPerms):
  * broad-vocabulary corpora must resolve to the classic 16/4 layout
  * (that is what keeps the auto-tuned d7/d13/d14/d18/d24/d30 oracle
  * SQL — which bakes 16 perms — valid), narrow-vocabulary corpora
  * must escalate perms-per-band BEFORE paying the measured 5×
  * false-positive-candidate cliff (GATE_SF1.md round-8 addendum),
  * and the decision must be deterministic and waste-driven — real
  * near-duplicate collisions (jac ≥ 0.5) must NOT count against a
  * corpus.
  */
class BandingSpec extends AnyFunSuite {
  import SparkTestBase._

  private def docsDF = spark.read.parquet(s"$sf/documents.parquet")

  /** Templated corpus: every doc = one shared 280-char boilerplate
    * head + a 160-char doc-unique random tail, so unrelated pairs
    * sit at exact Jaccard ≈ 0.47 — high enough that 4-perm bands
    * collide broadly (waste), low enough that no pair is a true
    * (jac ≥ 0.5) near-duplicate. The boilerplate is shingle-distinct
    * (random chars): repeated natural phrases would collapse under
    * array_distinct and halve the real overlap.
    */
  private def templated(n: Int) = {
    val brnd = new java.util.Random(9999L)
    val boiler = Array.fill(280)(('a' + brnd.nextInt(26)).toChar).mkString
    val rows = (0 until n).map { i =>
      val rnd = new java.util.Random(i.toLong)
      val tail = Array.fill(160)(('a' + rnd.nextInt(26)).toChar).mkString
      (i.toLong, boiler + tail)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("broad-vocab corpus resolves to the classic 16 perms (oracle parity)") {
    val c = Dedup.chooseBanding(docsDF, "doc_id", "text")
    assert(c.numPerms == 16, s"expected 16 on broad vocab, got $c")
    assert(c.bands == 4)
    assert(c.stat(16).predictedWasteRatio <= 8.0)
  }

  test("narrow-vocab templated corpus escalates perms-per-band") {
    val c = Dedup.chooseBanding(templated(1400), "doc_id", "text")
    assert(c.numPerms > 16,
      s"templated corpus must escalate selectivity, got $c")
    // Every wider banding must measure less wasteful than the default
    // it replaces (strict monotonicity across widths is NOT implied:
    // a band's collision odds are a product over its specific rows,
    // so on structured corpora 20 perms can beat 24).
    assert(c.stat(16).predictedWasteRatio > 8.0)
    assert(c.stats.filter(_.numPerms > 16)
      .forall(_.predictedWasteRatio < c.stat(16).predictedWasteRatio), s"$c")
    // When no candidate meets the target, the LEAST wasteful one wins.
    assert(c.numPerms == c.stats.minBy(_.predictedWasteRatio).numPerms, s"$c")
  }

  test("waste-driven, not collision-driven: true near-dups do not escalate") {
    // 300 base docs (broad vocab via random tails, no boilerplate)
    // each with 3 exact-ish near copies: plenty of REAL collisions,
    // zero baseline similarity. The tuner must keep 16.
    val rows = (0 until 300).flatMap { i =>
      val rnd = new java.util.Random(1000L + i)
      val base = Array.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString
      (0 until 4).map(c => ((i * 4 + c).toLong, base + ("!" * c)))
    }
    import spark.implicits._
    val c = Dedup.chooseBanding(rows.toDF("doc_id", "text"), "doc_id", "text")
    assert(c.numPerms == 16, s"real dup families must not de-tune recall: $c")
  }

  test("deterministic: repeated calls resolve identically") {
    val corpus = templated(1400)
    val a = Dedup.chooseBanding(corpus, "doc_id", "text")
    val b = Dedup.chooseBanding(corpus, "doc_id", "text")
    assert(a == b)
  }

  test("auto minhashVerifiedPairs equals the explicitly-resolved run") {
    val corpus = templated(600)
    val p = Dedup.chooseBanding(corpus, "doc_id", "text").numPerms
    val auto = Dedup.minhashVerifiedPairs(corpus, "doc_id", "text")
      .orderBy("d1", "d2").collect()
    val explicit = Dedup.minhashVerifiedPairs(corpus, "doc_id", "text",
      numPerms = p).orderBy("d1", "d2").collect()
    assert(auto.sameElements(explicit))
  }

  test("buildIndex persists its banding meta; incremental adopts it") {
    val dir = java.nio.file.Files.createTempDirectory("banding_idx").toString
    Dedup.buildIndex(docsDF, "doc_id", "text", dir)
    assert(Dedup.readIndexMeta(spark, dir) == ((8, 16, 4, 512)))
    // Default (AutoPerms) probe adopts the stored parameters and runs.
    val fates = Dedup.incremental(
      docsDF.filter(col("doc_id") % 7 === 0), "doc_id", "text", dir)
    assert(fates.count() > 0)
    assert(fates.filter(col("fate") === "exact_index").count() > 0)
  }

  test("explicit banding params that contradict the index meta throw") {
    val dir = java.nio.file.Files.createTempDirectory("banding_idx2").toString
    Dedup.buildIndex(docsDF, "doc_id", "text", dir, numPerms = 16)
    val e = intercept[IllegalArgumentException] {
      Dedup.incremental(docsDF, "doc_id", "text", dir, numPerms = 24)
    }
    assert(e.getMessage.contains("probes would never match"))
  }

  test("auto path degrades cleanly on empty and single-doc corpora") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((1L, "just one document of text here")).toDF("doc_id", "text")
    // tuner early-returns the narrowest width without running jobs
    assert(Dedup.chooseBanding(empty, "doc_id", "text").numPerms == 16)
    assert(Dedup.chooseBanding(one, "doc_id", "text").numPerms == 16)
    // and the auto pipeline runs end-to-end producing zero pairs
    assert(Dedup.minhashVerifiedPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minhashVerifiedPairs(one, "doc_id", "text").count() == 0)
  }

  test("string ids tune, not silently degrade: the sample keys on a hash of the raw id") {
    // Same templated shape that must escalate — but keyed by UUID-ish
    // STRING ids. A tuner sampling via cast-to-long would see an
    // all-null key column, sample nothing, and fall back to 16 with
    // no warning (the r9 advice finding); hashing the raw id keeps
    // the sample intact, so the escalation decision must match the
    // long-id corpus exactly.
    import spark.implicits._
    val longIds = templated(1400)
    val strIds = longIds.select(
      concat(lit("doc-"), md5(col("doc_id").cast("string"))).as("doc_id"),
      col("text"))
    val c = Dedup.chooseBanding(strIds, "doc_id", "text")
    assert(c.sampledReps > 2, s"string-id sample must be non-empty: $c")
    assert(c.numPerms == Dedup.chooseBanding(longIds, "doc_id", "text").numPerms,
      s"string-id corpus must resolve like its long-id twin: $c")
  }

  test("a memoized curate launches no tuner sampling jobs") {
    // Second curate over the same input must answer banding from the
    // memo: runs stays flat, memoHits moves. This is the guard that
    // keeps one-off tuning cost out of steady-state bench minimums
    // (the r9 d14 regression diagnosis — BENCH_NOTES.md).
    val docs = docsDF
    def run() = graft.dedup.Curator.curate(spark, docs).count()
    run() // first call may tune
    val before = Dedup.tunerStats
    run()
    val d = Dedup.tunerStats - before
    assert(d.runs == 0, s"memoized curate re-ran tuner sampling: $d")
    assert(d.memoHits > 0, s"curate did not consult the banding memo: $d")
    spark.catalog.clearCache()
  }

  test("degenerate corpora memoize their fallback too") {
    import spark.implicits._
    val one = Seq((1L, "just one document of text here")).toDF("doc_id", "text")
    Dedup.chooseBanding(one, "doc_id", "text")
    val before = Dedup.tunerStats
    Dedup.chooseBanding(one, "doc_id", "text")
    val d = Dedup.tunerStats - before
    assert(d.runs == 0 && d.memoHits == 1,
      s"<2-row fallback must be memoized, not re-proven per call: $d")
  }

  test("estMin default scales with the resolved signature width") {
    // A 24-perm index: the default probe adopts 24 perms from meta,
    // so estMin resolves to 12, not the 8 of a 16-perm default. Checked
    // indirectly: the same corpus probed against it finds its exact
    // copies (the exact path is banding-independent) and the probe
    // runs at the stored width without a contradiction.
    val dir = java.nio.file.Files.createTempDirectory("banding_idx3").toString
    Dedup.buildIndex(docsDF, "doc_id", "text", dir, numPerms = 24)
    assert(Dedup.readIndexMeta(spark, dir)._2 == 24)
    val fates = Dedup.incremental(docsDF.limit(50), "doc_id", "text", dir)
    assert(fates.filter(col("fate") === "exact_index").count() == 50)
  }
}
