package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.dedup.Dedup
import graft.engine.IndexStore

/** The span index's file layout: its bucket count is the building
  * session's shuffle width, recorded in `meta/`, and an append adds at
  * most one file per bucket, so an ingest loop's index grows by the
  * session's width per epoch. An index keeps its recorded count when a
  * session of another width probes and appends it.
  */
class SpanLayoutSpec extends AnyFunSuite {
  import SparkTestBase._

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** `n` documents of disjoint vocabulary tagged `tag`, from id `from`. */
  private def corpus(tag: String, from: Long, n: Int): DataFrame =
    docs((from until from + n).map(i => i -> (1 to 8).map(w => s"$tag${i}w$w").mkString(" ")))

  /** Build under shuffle width `width`, restoring the session's own. */
  private def buildAt(width: Int, df: DataFrame, idx: String): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    try Dedup.buildSpanIndex(df, "doc_id", "text", idx, width = 2)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def buckets(idx: String): Int =
    spark.read.parquet(s"$idx/meta").head().getAs[Int]("buckets")

  private def dataFiles(idx: String): Set[String] =
    Option(new java.io.File(s"${IndexStore.liveDir(spark, idx)}/spans").list())
      .fold(Set.empty[String])(
        _.filter(f => f.endsWith(".parquet") && !f.startsWith(".")).toSet)

  private def novelty(batch: DataFrame, idx: String): Map[Long, (Long, Long)] =
    Dedup.spanNovelty(batch, "doc_id", "text", idx).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("the bucket count is the building session's shuffle width") {
    val idx = graft.engine.Scratch.dir("graft_spanlayout_")
    try {
      buildAt(4, corpus("a", 0L, 40), idx)
      assert(buckets(idx) == 4)
      buildAt(6, corpus("a", 0L, 40), idx)
      assert(buckets(idx) == 6, "a rebuild records its own session's width")
    } finally Dedup.deleteSpanIndex(spark, idx)
  }

  test("one append adds at most one data file per bucket") {
    val idx = graft.engine.Scratch.dir("graft_spanlayout_")
    try {
      buildAt(4, corpus("a", 0L, 40), idx)
      val before = dataFiles(idx)
      // 160 new span keys: every bucket receives some
      Dedup.appendSpanIndex(corpus("b", 100L, 40), "doc_id", "text", idx)
      val added = dataFiles(idx) -- before
      assert(added.nonEmpty && added.size <= 4, s"append added ${added.size} files")
    } finally Dedup.deleteSpanIndex(spark, idx)
  }

  test("an index built at width 8 probes and appends at width 4 like a fresh build") {
    val (old, fresh) =
      (graft.engine.Scratch.dir("graft_spanlayout_"), graft.engine.Scratch.dir("graft_spanlayout_"))
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      val base = corpus("a", 0L, 40)
      val admitted = corpus("b", 100L, 20)
      buildAt(8, base, old)
      Dedup.appendSpanIndex(admitted, "doc_id", "text", old)
      assert(buckets(old) == 8, "an append keeps the recorded bucket count")
      buildAt(4, base.unionByName(admitted), fresh)
      // half-known, fully known and unseen arrivals
      val batch = docs(Seq(
        900L -> "a3w1 a3w2 a3w3 a3w4 q1 q2 q3 q4",
        901L -> "b105w1 b105w2 b105w3 b105w4 b105w5 b105w6",
        902L -> "z1 z2 z3 z4"))
      val got = novelty(batch, old)
      assert(got == novelty(batch, fresh))
      assert(got == Map(900L -> (4L, 2L), 901L -> (3L, 0L), 902L -> (2L, 2L)))
    } finally { Dedup.deleteSpanIndex(spark, old); Dedup.deleteSpanIndex(spark, fresh) }
  }
}
