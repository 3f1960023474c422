package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.engine.IndexStore

/** Incremental corpus dedup ([[Dedup.buildIndex]]/[[Dedup.incremental]],
  * d30): fates on a constructed two-snapshot corpus, idempotence of
  * re-running a batch against an unchanged index, and fate
  * completeness at sf0.001.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  import SparkTestBase._

  private def freshIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_inc_$tag").toString

  test("constructed two-snapshot corpus lands every fate") {
    import spark.implicits._
    val old = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "completely different corpus text about spark partitions and shuffles"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again"),
      // one appended char: shingle set gains one tail shingle, the
      // minhash signature is unchanged (verified by the hash-twin
      // arithmetic), so this is a guaranteed band hit + est 16/16 —
      // deterministic near_index, unlike a multi-word mutation whose
      // band collision is a coin flip at J≈0.9 (the 13/15 pair below
      // exercises the partial-agreement path at est 12/16)
      (12L, "the quick brown fox jumps over the lazy dog again and again!"),
      (13L, "a wholly novel document with fresh unseen content and original words"),
      (14L, "a wholly novel document with fresh unseen content and original words"),
      (15L, "a wholly novel document with fresh unseen content and original words plus"), // est 12/16, 1 common band vs 13
      (16L, "tiny"))
      .toDF("doc_id", "text")
    val idx = freshIdx("fates")
    Dedup.buildIndex(old, "doc_id", "text", idx)
    val fates = Dedup.incremental(batch, "doc_id", "text", idx)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(fates(10L) == (("exact_index", 0L)))
    assert(fates(11L) == (("exact_index", 0L)))
    // tail-append near-dup of an indexed doc: high Jaccard, verified
    // on signature agreement against the stored index signature
    assert(fates(12L) == (("near_index", 0L)))
    assert(fates(13L) == (("kept", -1L)))
    assert(fates(14L) == (("exact_batch", 13L)))
    assert(fates(15L) == (("near_batch", 13L)))
    // below shingle length: no signature, can only be exact/kept
    assert(fates(16L) == (("kept", -1L)))
    spark.catalog.clearCache()
  }

  test("re-running the same batch against an unchanged index is idempotent") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val old = d.filter(col("doc_id") % 10 < 6)
    val batch = d.filter(col("doc_id") % 10 >= 6)
    val idx = freshIdx("idem")
    Dedup.buildIndex(old, "doc_id", "text", idx)
    def run() = Dedup.incremental(batch, "doc_id", "text", idx)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1)
    val first = run()
    spark.catalog.clearCache()
    val second = run()
    assert(first.sameElements(second))
    assert(first.length == batch.count())
    spark.catalog.clearCache()
  }

  test("fates are internally consistent at sf0.001") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val oldIds = d.filter(col("doc_id") % 10 < 6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val idx = freshIdx("consist")
    Dedup.buildIndex(d.filter(col("doc_id") % 10 < 6), "doc_id", "text", idx)
    val rows = Dedup.incremental(
      d.filter(col("doc_id") % 10 >= 6), "doc_id", "text", idx).collect()
    rows.foreach { r =>
      val (id, fate) = (r.getLong(0), r.getString(1))
      fate match {
        case "kept" => assert(r.isNullAt(2), s"kept doc $id has a match")
        case "exact_index" | "near_index" =>
          assert(oldIds.contains(r.getLong(2)),
            s"$fate doc $id matched non-index id ${r.getLong(2)}")
        case "exact_batch" | "near_batch" =>
          assert(r.getLong(2) < id && !oldIds.contains(r.getLong(2)),
            s"$fate doc $id matched ${r.getLong(2)}")
        case other => fail(s"unknown fate $other")
      }
    }
    // the testdata's duplicate structure must actually exercise the
    // dedup fates, not just 'kept'
    val byFate = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byFate.getOrElse("kept", 0) > 0)
    assert(byFate.collect { case (k, v) if k != "kept" => v }.sum > 0,
      s"no duplicates detected: $byFate")
    spark.catalog.clearCache()
  }

  test("appendIndex closes the loop: batch-2 dups of batch-1 admissions are caught; re-append is a no-op") {
    import spark.implicits._
    val old = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "an entirely fresh admitted document about stream processing"),
      (11L, "the quick brown fox jumps over the lazy dog again and again"), // exact_index -> NOT admitted
      (12L, "tiny")) // kept but below shingle length: no sig/bands land
      .toDF("doc_id", "text")
    val idx = freshIdx("append")
    Dedup.buildIndex(old, "doc_id", "text", idx)
    val f1 = Dedup.incremental(b1, "doc_id", "text", idx)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f1(10L) == "kept" && f1(11L) == "exact_index" && f1(12L) == "kept")
    val kept1 = b1.filter(col("doc_id").isin(
      f1.filter(_._2 == "kept").keys.toSeq: _*))
    Dedup.appendIndex(kept1, "doc_id", "text", idx)

    def tableCounts() = Seq("content", "sigs", "bands")
      .map(t => t -> spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/$t").count()).toMap
    val after1 = tableCounts()
    Dedup.appendIndex(kept1, "doc_id", "text", idx)
    assert(tableCounts() == after1,
      "re-appending the same admitted batch must change nothing")
    // content gained both kept hashes; sigs/bands only the long doc
    assert(after1("content") == 1 + 2)

    val b2 = Seq(
      (20L, "an entirely fresh admitted document about stream processing"),  // exact copy of ADMITTED 10
      (21L, "an entirely fresh admitted document about stream processing!"), // tail-append near-dup of 10
      (22L, "the quick brown fox jumps over the lazy dog again and again"),  // still caught vs the build corpus
      (23L, "yet another unrelated novel snippet of completely new words"))
      .toDF("doc_id", "text")
    val f2 = Dedup.incremental(b2, "doc_id", "text", idx)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(f2(20L) == (("exact_index", 10L)),
      "exact copy of a batch-1 ADMISSION must match its batch-1 id")
    assert(f2(21L) == (("near_index", 10L)),
      "near-dup of a batch-1 ADMISSION must match its batch-1 id")
    assert(f2(22L) == (("exact_index", 0L)))
    assert(f2(23L)._1 == "kept")
    spark.catalog.clearCache()
  }

  test("append equals rebuild: batch-2 fates match a from-scratch index over corpus + admissions") {
    // On an id-ordered ingestion with no bucket at cap — the common
    // case — appending batch-1's kept docs must leave the index
    // OBSERVATIONALLY identical to rebuilding it over
    // old ∪ kept: every batch-2 fate and match id agrees. (At cap
    // the two diverge by design: rebuild keeps globally smallest
    // ids, append is ingestion-faithful — the capping test below
    // pins that side.) numPerms pinned so the tuner cannot resolve
    // differently on the two build corpora.
    import spark.implicits._
    val mk = (i: Long) => {
      val shared = s"sh${i % 5} ared${i % 5} tail${i % 5} common words here"
      val unique = s"u$i v$i w$i x$i y$i z$i filler$i more$i text$i pad$i"
      (i, if (i % 7 == 0) shared else s"$shared $unique")
    }
    val all0 = (0L until 100L).map(mk).toMap
    // plant batch-2 dups of batch-1 UNIQUE (hence kept) docs: 96/97
    // copy 61/62 exactly, 98 near-dups 64 (one appended token)
    val all = all0 ++ Map(96L -> all0(61L), 97L -> all0(62L),
      98L -> (all0(64L) + " zz"))
    val old = all.toSeq.filter(_._1 < 60).toDF("doc_id", "text")
    val b1 = all.toSeq.filter(t => t._1 >= 60 && t._1 < 80)
      .toDF("doc_id", "text")
    val b2 = all.toSeq.filter(_._1 >= 80).toDF("doc_id", "text")

    val idxA = freshIdx("eqA")
    Dedup.buildIndex(old, "doc_id", "text", idxA, numPerms = 16)
    // materialize the kept ids BEFORE appending: a lazy kept frame
    // re-evaluated after the append would probe the mutated index
    // and see its own docs as exact_index (the trap d48's entry
    // stages its batch-1 report to parquet to avoid)
    val keptIds = Dedup.incremental(b1, "doc_id", "text", idxA)
      .filter(col("fate") === "kept").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val kept1 = b1.filter(col("doc_id").isin(keptIds: _*))
    Dedup.appendIndex(kept1, "doc_id", "text", idxA)

    val idxB = freshIdx("eqB")
    Dedup.buildIndex(old.unionByName(kept1), "doc_id", "text", idxB,
      numPerms = 16)

    def fates(idx: String) = Dedup.incremental(b2, "doc_id", "text", idx)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val a = fates(idxA)
    assert(a == fates(idxB),
      "appended index must be observationally identical to a rebuild")
    // and the corpus actually exercised cross-batch matching
    assert(a.exists { case (_, fate, m) =>
      fate != "kept" && m >= 60 && m < 80 },
      s"no batch-2 doc matched a batch-1 admission: $a")
    spark.catalog.clearCache()
  }

  test("appendIndex band capping is ingestion-ordered: a full bucket takes nothing") {
    import spark.implicits._
    // maxBucket=2 at build; the build corpus already fills the shared
    // bucket(s) of this repeated-text family with ids 0,1 — batch
    // entries that land in the same buckets must NOT be appended
    // (existing entries keep their slots), while novel-bucket entries
    // append normally.
    val mkText = (tag: String) =>
      s"shared boilerplate navigation header text $tag"
    val old = Seq(
      (0L, mkText("alpha")), (1L, mkText("beta")), (2L, mkText("gamma")))
      .toDF("doc_id", "text")
    val idx = freshIdx("cap")
    Dedup.buildIndex(old, "doc_id", "text", idx, maxBucket = 2)
    val bandsBefore = spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/bands")
      .groupBy("band", "band_hash").count().collect()
      .map(r => (r.getAs[Number]("band").longValue(),
        r.getAs[Number]("band_hash").longValue()) -> r.getLong(2)).toMap
    assert(bandsBefore.values.forall(_ <= 2))
    Dedup.appendIndex(
      Seq((10L, mkText("delta"))).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val bandsAfter = spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/bands")
      .groupBy("band", "band_hash").count().collect()
      .map(r => (r.getAs[Number]("band").longValue(),
        r.getAs[Number]("band_hash").longValue()) -> r.getLong(2)).toMap
    assert(bandsAfter.values.forall(_ <= 2),
      s"append must respect the bucket cap: $bandsAfter")
    // every pre-existing entry survived (ingestion order: old wins)
    bandsBefore.foreach { case (k, n) =>
      assert(bandsAfter.getOrElse(k, 0L) >= n,
        s"append evicted existing entries from $k")
    }
    spark.catalog.clearCache()
  }
}
