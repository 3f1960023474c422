package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.engine.IndexStore

/** Round-12 operators: incremental span dedup (d46 — the d30
  * build-once/probe-many amortization applied to d39's span grain)
  * and its index contracts.
  */
class Round12OpsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_spanidx_").toString

  test("spanDedupIncremental: indexed spans lose, batch firsts win, rebuild is exact") {
    import spark.implicits._
    val ingested = Seq(
      (1L, "a b c d"),
      (2L, "e f g h")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b x y"),   // "a b" ingested -> drops; "x y" fresh first
      (11L, "x y c d"),   // "x y" second in batch; "c d" ingested
      (12L, "p q p q")    // intra-batch repeat: second drops
    ).toDF("doc_id", "text")
    val idx = scratch()
    Dedup.buildSpanIndex(ingested, "doc_id", "text", idx, width = 2)
    val out = Dedup.spanDedupIncremental(batch, "doc_id", "text", idx)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(10L) == ((2L, 1L, md5hex("x y"))))
    assert(out(11L) == ((2L, 0L, md5hex(""))))
    assert(out(12L) == ((2L, 1L, md5hex("p q"))))
  }

  test("incremental equals batch-global spanDedup when ingestion order matches id order") {
    // The documented coincidence: with every ingested id below every
    // batch id, the incremental result must equal global spanDedup
    // over the union, restricted to the batch — on a corpus with
    // cross-slice, intra-batch, and intra-doc span sharing.
    import spark.implicits._
    val mk = (i: Long) => {
      val shared = s"s${i % 7} t${i % 7}"            // cross-doc shared span
      val cohort = s"c${i / 10} k${i / 10}"          // 10-doc cohort span
      val unique = s"u$i v$i w$i z$i"                // two unique spans
      (i, s"$shared $cohort $unique")
    }
    val all = (0L until 120L).map(mk).toDF("doc_id", "text")
    val ingested = all.filter(col("doc_id") < 80)
    val batch = all.filter(col("doc_id") >= 80)
    val idx = scratch()
    Dedup.buildSpanIndex(ingested, "doc_id", "text", idx, width = 2)
    val inc = Dedup.spanDedupIncremental(batch, "doc_id", "text", idx)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val global = Dedup.spanDedup(all, "doc_id", "text", width = 2)
      .filter(col("doc_id") >= 80)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(inc == global)
    assert(inc.values.exists(_._2 > 0) && inc.values.exists(v => v._2 < v._1),
      "fixture must exercise both kept and dropped spans")
  }

  test("fullCurate: every stage claims its forced documents, fates partition, stages only on kept") {
    import spark.implicits._
    import graft.functions.TextHash
    // dim-2 model: bucket-0 tokens score +5, bucket-1 tokens -5 —
    // docs composed purely of one bucket force the quality gate
    val weights = Seq((0L, 5L), (1L, -5L)).toDF("feature", "weight")
    val (good, bad) = (0 until 200).map(i => s"t$i")
      .partition(t => TextHash.polyHashStr(t) % 2 == 0)
    def text(pool: Seq[String], n: Int, off: Int) =
      (0 until n).map(i => pool((off + i) % pool.size)).mkString(" ")
    val base = text(good, 16, 0)                      // 2 full spans
    val docs = Seq(
      (1L, base, "big"),                              // span owner
      (2L, base.toUpperCase + "!", "big"),            // norm-dup of 1
      (3L, base + " " + text(good, 8, 50), "big"),    // 2 of 3 spans owned by 1 -> span_dup
      (4L, text(bad, 16, 0), "big"),                  // all-negative -> low_quality
      // a heavy source to force thinning plus a light one kept whole
      (5L, text(good, 40, 20), "big"),
      (6L, text(good, 40, 60), "big"),
      (7L, text(good, 40, 100), "big"),
      (8L, text(good, 40, 140), "big"),
      (9L, text(good, 8, 90), "small")
    ).toDF("doc_id", "text", "source")
    val out = graft.dedup.Curator
      .fullCurate(docs, weights, dim = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(out.size == 9, "fates must partition the corpus")
    assert(out(2L)._1 == "norm_dup")
    assert(out(3L)._1 == "span_dup")
    assert(out(4L)._1 == "low_quality")
    assert(out(9L)._1 == "kept" || out(9L)._1 == "mix_out")
    // the heavy source must be thinned: its budget share is far
    // below its token mass, so not every big survivor stays
    val bigSurvivors = Seq(1L, 5L, 6L, 7L, 8L).map(out(_)._1)
    assert(bigSurvivors.contains("mix_out"),
      s"equal-share mixing must thin the heavy source: $bigSurvivors")
    // stage nullability: exactly the kept docs carry a stage 0..3
    out.foreach { case (id, (fate, stage)) =>
      if (fate == "kept")
        assert(stage.exists(st => st >= 0 && st <= 3), s"doc $id: $stage")
      else assert(stage.isEmpty, s"non-kept doc $id carries stage $stage")
    }
  }

  test("span index: probe adopts the meta width; a contradiction throws; append extends the set") {
    import spark.implicits._
    val idx = scratch()
    Dedup.buildSpanIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", "text", idx, width = 2)
    val e = intercept[IllegalStateException] {
      Dedup.spanDedupIncremental(
        Seq((2L, "a b")).toDF("doc_id", "text"), "doc_id", "text", idx,
        width = 4)
    }
    assert(e.getMessage.contains("width=2"))

    // append: batch-2 survivors become index members for batch 3
    Dedup.appendSpanIndex(Seq((2L, "x y a b")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val out = Dedup.spanDedupIncremental(
      Seq((3L, "x y q r")).toDF("doc_id", "text"), "doc_id", "text", idx)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(3L) == ((2L, 1L, md5hex("q r"))),
      "appended span 'x y' must now suppress batch-3 occurrences")
    // the append must not have duplicated already-present keys
    val spans = s"${IndexStore.liveDir(spark, idx)}/spans"
    val n = spark.read.parquet(spans).count()
    val distinctN = spark.read.parquet(spans).distinct().count()
    assert(n == distinctN, "span index must stay a set after append")
  }
}
