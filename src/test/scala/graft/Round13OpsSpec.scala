package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan

import graft.dedup.Dedup

/** Round-13 scale contracts of the span-index family: the bucketed
  * index layout (the probe join must never re-shuffle the
  * corpus-sized key set), staged crash-safe appends, cross-session
  * re-attach, and the multi-batch gate→admit→append ingest loop.
  */
class Round13OpsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_spanidx13_").toString

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def spansScan(p: SparkPlan, idx: String): Seq[FileSourceScanExec] =
    p.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(idx)) =>
        f
    }

  test("span index probes never re-shuffle the index side (bucketed scan)") {
    // The 100x contract behind c27/d46: the index is the big side at
    // scale, so its scan must satisfy the join's distribution from
    // the bucketed file layout — only the arrival side exchanges.
    // Broadcast disabled so the at-scale (non-broadcast) plan is the
    // one asserted.
    val idx = scratch()
    // the index takes its bucket count from the building session's
    // shuffle width: build at 8 buckets, probe at the suite's width
    val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      Dedup.buildSpanIndex(
        docsDf((0L until 200L).map(i => (i, s"a$i b$i c$i d$i"))),
        "doc_id", "text", idx, width = 2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevWidth)
    val batch = docsDf(Seq(1000L -> "a1 b1 q r", 1001L -> "s t u v"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // plain (non-adaptive) tree so collect() sees every node; AQE
      // only re-optimizes — the static shape is the contract
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (frame <- Seq(
          Dedup.spanNovelty(batch, "doc_id", "text", idx),
          Dedup.spanDedupIncremental(batch, "doc_id", "text", idx))) {
        val p = frame.queryExecution.executedPlan
        val scans = spansScan(p, idx)
        assert(scans.nonEmpty, s"no index scan found in:\n$p")
        assert(scans.forall(_.bucketedScan), "index scan must be bucketed")
        // an Exchange may sit ABOVE the probe join (the per-doc agg
        // shuffles join output); what must never happen is an
        // Exchange between the index scan and the join — i.e. one
        // whose subtree holds the scan but not the join
        val offenders = p.collect {
          case e: ShuffleExchangeExec
              if spansScan(e, idx).nonEmpty && e.collect {
                case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
              }.isEmpty => e
        }
        assert(offenders.isEmpty,
          s"index scan re-shuffled before the probe join:\n$p")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("appendSpanIndex is idempotent: re-running a batch leaves the key set unchanged") {
    // The crash-retry contract: a retry after any prefix of a
    // partially visible append converges to the same key set with no
    // duplicates (the anti-join re-derives only the missing delta).
    val idx = scratch()
    Dedup.buildSpanIndex(docsDf(Seq(1L -> "a b c d")),
      "doc_id", "text", idx, width = 2)
    val batch = docsDf(Seq(2L -> "x y a b", 3L -> "x y z w"))
    Dedup.appendSpanIndex(batch, "doc_id", "text", idx)
    val after1 = Dedup.spanIndexKeys(spark, idx)
      .collect().map(_.getString(0)).sorted.toSeq
    Dedup.appendSpanIndex(batch, "doc_id", "text", idx)
    val after2 = Dedup.spanIndexKeys(spark, idx)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(after1 == after2, "second append of the same batch must be a no-op")
    assert(after1.distinct == after1, "the index must stay a set")
    // expected: {"a b","c d"} from build + {"x y","z w"} from batch
    assert(after1.size == 4)
  }

  test("a span index built in one session re-attaches in another (catalog drop)") {
    val idx = scratch()
    Dedup.buildSpanIndex(docsDf(Seq(1L -> "a b c d", 2L -> "e f g h")),
      "doc_id", "text", idx, width = 2)
    // simulate a fresh session: the catalog no longer knows the table
    val tbl = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_span_idx_")).collect()
      .map(_.name)
      .find(n => spark.table(n).inputFiles.exists(_.contains(
        new java.io.File(idx).getName)))
    assert(tbl.isDefined, "build must register the index table")
    spark.sql(s"DROP TABLE ${tbl.get}")
    // probe re-declares the table over the existing bucketed files
    val out = Dedup.spanNovelty(docsDf(Seq(9L -> "a b q r")),
        "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out(9L) == 1L, "re-attached index must still suppress 'a b'")
    val scans = spansScan(Dedup.spanNovelty(docsDf(Seq(9L -> "a b q r")),
      "doc_id", "text", idx).queryExecution.executedPlan, idx)
    assert(scans.forall(_.bucketedScan),
      "re-attached table must keep the bucketed layout")
  }

  test("embedding ingest loop: gate, admit, appendIvfIndex — later dups of admitted docs are caught") {
    // The c26 production loop's IVF side: the gate probes the index,
    // admitted arrivals are appended under the frozen quantizer, and
    // a later near-dup of an ADMITTED doc (never in the build corpus)
    // must be rejected. Plus the append idempotence contract.
    import graft.functions.HashEmbed
    import graft.similarity.Similarity
    val dim = 16
    val idx = scratch()
    def embed(df: org.apache.spark.sql.DataFrame) =
      HashEmbed.embed(df, "doc_id", "text", dim)
        .select(col("doc_id"), col("emb").as("ev"))
    val base = docsDf((0L until 50L).map(i =>
      (i, s"base$i alpha$i beta$i gamma$i delta$i")))
    Similarity.buildIvfIndex(embed(base), "doc_id", "ev", idx,
      kCentroids = 8)

    def gate(batch: org.apache.spark.sql.DataFrame): Map[Long, Boolean] = {
      val reported = Similarity
        .litIndexCandidates(spark, embed(batch), idx, "doc_id", "ev",
          nprobe = 4)
        .groupBy("doc_id").agg(max(col("cos")).as("max_cos"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1) < 0.95)).toMap
      // absent from the report = no candidates at all = admitted
      batch.select("doc_id").collect()
        .map(r => r.getLong(0) -> reported.getOrElse(r.getLong(0), true))
        .toMap
    }

    val freshText = "novel uniq1 uniq2 uniq3 uniq4"
    val b1 = docsDf(Seq(100L -> freshText))
    val g1 = gate(b1)
    assert(g1(100L), "fresh content admits")
    Similarity.appendIvfIndex(embed(b1), "doc_id", "ev", idx)

    val listCount = Similarity.ivfLists(spark, idx).count()
    Similarity.appendIvfIndex(embed(b1), "doc_id", "ev", idx)
    assert(Similarity.ivfLists(spark, idx).count() == listCount,
      "re-appending the same batch must be a no-op")

    val b2 = docsDf(Seq(200L -> freshText,             // dup of admitted 100
      201L -> "other fresh9 fresh8 fresh7 fresh6"))    // genuinely new
    val g2 = gate(b2)
    assert(!g2(200L), "dup of an ADMITTED doc must be caught post-append")
    assert(g2(201L), "fresh content still admits")
    // the appended vector landed under the frozen quantizer: probing
    // found it at cosine 1.0 via its assigned list, and centroid count
    // is unchanged
    assert(Similarity.ivfCentroids(spark, idx).count() == 8L)
  }

  test("fullCurateRun: release deletes the staged artifact after materialization") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"tok$i alpha beta gamma delta epsilon zeta eta theta", "web"))
      .toDF("doc_id", "text", "source")
    val weights = Seq((0, 1L)).toDF("feature", "weight")
    val before = graft.engine.Scratch.liveCount
    val run = graft.dedup.Curator.fullCurateRun(docs, weights, dim = 64)
    assert(graft.engine.Scratch.liveCount == before + 1,
      "the staged artifact must be registered for the exit sweep")
    val fates = run.result.collect()
    assert(fates.length == 40)
    run.release()
    assert(graft.engine.Scratch.liveCount == before,
      "release must deregister and delete the scratch artifact")
  }

  test("multi-batch ingest loop: gate, admit, append — batch-2 dups of batch-1 admissions are caught") {
    // The production loop the streaming gates feed (verdict r12 #6):
    // each batch is judged against the index, its ADMITTED documents'
    // spans are appended, and the next batch must see them. Three
    // batches; admission = novel_pm >= 500.
    val idx = scratch()
    Dedup.buildSpanIndex(docsDf(Seq(1L -> "a b c d", 2L -> "e f g h")),
      "doc_id", "text", idx, width = 2)

    def runBatch(batch: Seq[(Long, String)]): Map[Long, Boolean] = {
      val df = docsDf(batch)
      val admits = Dedup.spanNovelty(df, "doc_id", "text", idx)
        .withColumn("admit", col("novel_pm") >= 500)
        .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      val admitted = df.filter(
        col("doc_id").isin(admits.filter(_._2).keys.toSeq: _*))
      if (!admitted.isEmpty)
        Dedup.appendSpanIndex(admitted, "doc_id", "text", idx)
      admits
    }

    val b1 = runBatch(Seq(10L -> "p q r s", 11L -> "a b c d"))
    assert(b1(10L), "fresh content admits")
    assert(!b1(11L), "pre-ingested content is rejected")

    // batch 2: 20 duplicates batch-1's ADMITTED doc 10 — must now be
    // rejected even though doc 10 was never in the build corpus;
    // 21 duplicates batch-1's REJECTED doc 11's content (still
    // rejected — it was ingested at build); 22 is fresh.
    val b2 = runBatch(Seq(20L -> "p q r s", 21L -> "a b c d",
      22L -> "m n o k"))
    assert(!b2(20L), "batch-2 dup of an ADMITTED batch-1 doc must be caught")
    assert(!b2(21L))
    assert(b2(22L))

    // batch 3: rejected docs' spans were NOT appended — half-novel
    // doc mixing batch-2-admitted spans with fresh ones sits at the
    // boundary (2 of 4 novel -> admit at 500)
    val b3 = runBatch(Seq(30L -> "m n o k w1 w2 w3 w4"))
    assert(b3(30L), "exactly half novel admits at the 500 boundary")
    val b3b = runBatch(Seq(31L -> "m n o k w1 w2 x9 y9"))
    assert(!b3b(31L), "below half novel is rejected")
  }
}
