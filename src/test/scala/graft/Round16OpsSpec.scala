package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.engine.IndexStore
import graft.similarity.Similarity

/** Round-16 contracts: DELETION (takedown/opt-out) on the three
  * persisted index families — the r15 verdict's production gap
  * ("corpora DELETE documents and today the indexes only grow").
  * Per family: remove → probe excludes immediately (tombstone
  * sidecar, no rebuild needed); removal is idempotent; appends that
  * would resurrect dead rows are refused loudly (IVF/MinHash by id)
  * or revive exactly (span — content-addressed keys); the fold
  * action (IVF drift rebuild / MinHash compaction / span rebuild)
  * removes the rows physically, clears the sidecar, and re-arms the
  * ids. The engine-vs-oracle half of the contract is the
  * d68_index_delete catalog entry (full DuckDB replay).
  */
class Round16OpsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_r16_$tag").toString

  private def vecsDf(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "vec")
  }

  /** Deterministic near-orthogonal 16-dim vector per id (the
    * Round14OpsSpec generator).
    */
  private def tv(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i * 2654435761L)
    Seq.fill(16)(r.nextGaussian())
  }

  private def idsDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("vec_id")
  }

  // --- IVF family -------------------------------------------------

  test("removeFromIvfIndex: probe excludes tombstoned vids immediately; next-best live candidates replace them") {
    val idx = scratch("ivf_rm")
    // vid 100 duplicates vid 7's vector: 7's exact nearest neighbor
    // is 100 (cos = 1.0) while 100 is indexed; after removing 100,
    // the probe MUST return some other vid — exclusion is observable
    // in the top-1, not just in absence.
    val corpus = (0L until 40L).map(i => i -> tv(i)) :+ (100L -> tv(7L))
    Similarity.buildIvfIndex(vecsDf(corpus), "vec_id", "vec", idx,
      kCentroids = 4)
    val q = vecsDf(Seq(7L -> tv(7L)))
    val before = Similarity.ivfProbe(q, idx, "vec_id", "vec", k = 1)
      .select("n_id").head().getLong(0)
    assert(before == 100L)
    Similarity.removeFromIvfIndex(idsDf(Seq(100L)), "vec_id", idx)
    val afterTop = Similarity.ivfProbe(q, idx, "vec_id", "vec", k = 5)
      .select("n_id").collect().map(_.getLong(0)).toSet
    assert(!afterTop.contains(100L),
      "tombstoned vid still served by the probe")
    assert(afterTop.nonEmpty, "probe must fall through to live candidates")
  }

  test("removeFromIvfIndex is idempotent; append refuses tombstoned vids; rebuild folds, clears, re-arms") {
    val idx = scratch("ivf_fold")
    Similarity.buildIvfIndex(
      vecsDf((0L until 30L).map(i => i -> tv(i))), "vec_id", "vec", idx,
      kCentroids = 4)
    Similarity.removeFromIvfIndex(idsDf(Seq(5L, 6L)), "vec_id", idx)
    Similarity.removeFromIvfIndex(idsDf(Seq(5L, 6L)), "vec_id", idx) // retry
    val tombRows = spark.read.parquet(s"$idx/tombstones").collect()
    assert(tombRows.map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L),
      "a re-delivered removal must not duplicate sidecar rows")
    // dead vids are invisible to the list reader but still physical
    val liveVids = Similarity.ivfLists(spark, idx)
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(!liveVids.contains(5L) && !liveVids.contains(6L))
    // re-adding a tombstoned vid is refused loudly
    val ex = intercept[IllegalStateException] {
      Similarity.appendIvfIndex(vecsDf(Seq(5L -> tv(5L))),
        "vec_id", "vec", idx)
    }
    assert(ex.getMessage.contains("rebuildIvfIndex"))
    // appending FRESH vids still works with a sidecar present
    Similarity.appendIvfIndex(vecsDf(Seq(200L -> tv(200L))),
      "vec_id", "vec", idx)
    assert(Similarity.ivfLists(spark, idx).filter(col("vid") === 200L)
      .count() == 1L)
    // the drift rebuild folds removals out physically and re-arms
    Similarity.rebuildIvfIndex(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists(),
      "rebuild must clear the sidecar")
    val rebuilt = Similarity.ivfLists(spark, idx)
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(!rebuilt.contains(5L) && rebuilt.contains(200L))
    Similarity.appendIvfIndex(vecsDf(Seq(5L -> tv(5L))),
      "vec_id", "vec", idx) // re-armed
    assert(Similarity.ivfLists(spark, idx).filter(col("vid") === 5L)
      .count() == 1L)
  }

  // --- MinHash family ---------------------------------------------

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val takedownText =
    "the quick brown fox jumps over the lazy dog again and again"

  test("removeFromIndex: a removed document stops matching; same content under a fresh id re-ingests; compaction folds and re-arms") {
    val idx = scratch("mh_rm")
    Dedup.buildIndex(docsDf(Seq(
      0L -> takedownText,
      1L -> "completely different corpus text about spark partitions and shuffles")),
      "doc_id", "text", idx)
    def fate(batchId: Long): (String, Long) = {
      val r = Dedup.incremental(docsDf(Seq(batchId -> takedownText)),
        "doc_id", "text", idx).head()
      spark.catalog.clearCache()
      (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))
    }
    assert(fate(10L) == (("exact_index", 0L)))
    Dedup.removeFromIndex(docsDf(Seq(0L -> "")).select("doc_id"),
      "doc_id", idx)
    Dedup.removeFromIndex(docsDf(Seq(0L -> "")).select("doc_id"),
      "doc_id", idx) // idempotent retry
    assert(spark.read.parquet(s"$idx/tombstones").count() == 1L,
      "a re-delivered removal must not duplicate sidecar rows")
    // the takedown is live immediately: content no longer "ingested"
    assert(fate(11L) == (("kept", -1L)))
    // re-using the dead id is refused loudly
    val ex = intercept[IllegalStateException] {
      Dedup.appendIndex(docsDf(Seq(0L -> "anything")), "doc_id", "text", idx)
    }
    assert(ex.getMessage.contains("compactIndex"))
    // the supported re-ingest: same CONTENT, fresh id — lands under
    // the new keeper while the dead row stays filtered
    Dedup.appendIndex(docsDf(Seq(20L -> takedownText)), "doc_id", "text", idx)
    assert(fate(12L) == (("exact_index", 20L)))
    // compaction: physical removal, sidecar cleared, id re-armed
    Dedup.compactIndex(spark, "doc_id", idx)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/sigs")
      .filter(col("doc_id") === 0L).count() == 0L)
    assert(spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/bands")
      .filter(col("doc_id") === 0L).count() == 0L)
    assert(spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/content")
      .filter(col("keeper_id") === 0L).count() == 0L)
    Dedup.appendIndex(docsDf(Seq(
      0L -> "a wholly novel document with fresh unseen content and original words")),
      "doc_id", "text", idx) // re-armed
    val f0 = Dedup.incremental(docsDf(Seq(
      30L -> "a wholly novel document with fresh unseen content and original words")),
      "doc_id", "text", idx).head()
    assert(f0.getString(1) == "exact_index" && f0.getLong(2) == 0L)
    spark.catalog.clearCache()
  }

  // --- span family ------------------------------------------------

  test("removeFromSpanIndex: spans read novel again immediately; a re-ingesting append revives them without duplicating keys; rebuild clears") {
    val idx = scratch("span_rm")
    val doc = 0L -> "w1 w2 w3 w4 w5 w6 w7 w8"
    val other = 1L -> "x1 x2 x3 x4 x5 x6 x7 x8"
    Dedup.buildSpanIndex(docsDf(Seq(doc, other)), "doc_id", "text", idx,
      width = 2)
    def noveltyOf(id: Long, text: String): Long =
      Dedup.spanNovelty(docsDf(Seq(id -> text)), "doc_id", "text", idx)
        .select("novel_pm").head().getLong(0)
    assert(noveltyOf(10L, doc._2) == 0L, "ingested spans must suppress")
    Dedup.removeFromSpanIndex(docsDf(Seq(doc)), "doc_id", "text", idx)
    Dedup.removeFromSpanIndex(docsDf(Seq(doc)), "doc_id", "text", idx)
    assert(spark.read.parquet(s"$idx/tombstones").count() == 4L,
      "4 distinct width-2 spans, once each — idempotent retry")
    assert(noveltyOf(11L, doc._2) == 1000L,
      "removed spans must read fully novel")
    assert(noveltyOf(12L, other._2) == 0L,
      "unrelated ingested spans stay suppressed")
    // a batch re-ingesting two of the four spans revives exactly those
    Dedup.appendSpanIndex(docsDf(Seq(20L -> "w1 w2 w3 w4")),
      "doc_id", "text", idx)
    assert(noveltyOf(13L, "w1 w2 w3 w4") == 0L, "revived spans suppress")
    assert(noveltyOf(14L, "w5 w6 w7 w8") == 1000L,
      "spans the batch did not carry stay dead")
    assert(spark.read.parquet(s"$idx/tombstones").count() == 2L,
      "revive must rewrite the sidecar minus the batch's keys")
    // the physical key set gained nothing: all four keys pre-existed
    val rawKeys = spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/spans").count()
    Dedup.appendSpanIndex(docsDf(Seq(21L -> "w1 w2 w3 w4")),
      "doc_id", "text", idx) // replay: no physical duplicates either
    assert(spark.read.parquet(s"${IndexStore.liveDir(spark, idx)}/spans").count() == rawKeys,
      "re-appending physically-present keys must not duplicate rows")
    // full rebuild over the live corpus clears the sidecar
    Dedup.buildSpanIndex(docsDf(Seq(doc, other)), "doc_id", "text", idx,
      width = 2)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(noveltyOf(15L, doc._2) == 0L)
  }

  // --- r16 widening: URL canonicalization + token-grain decontam ---

  test("Urls.canonicalize collapses scheme/www/port/tracking/order/slash variants, preserves path case and real params") {
    import spark.implicits._
    import graft.functions.Urls
    val canon = Seq(
      "HTTPS://WWW.Site.Example.com:443/Articles/Item-7/?utm_source=x&b=2&a=1#frag",
      "http://site.example.com/Articles/Item-7?a=1&b=2",
      "https://site.example.com/Articles/Item-7/",
      "https://site.example.com/articles/item-7", // path case differs
      "http://site.example.com:80/Articles/Item-7?gclid=123&fbclid=9")
      .toDF("url")
      .select(Urls.canonicalize(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    // variants 1/2: full rule battery → identical canonical form
    assert(canon(0) == "site.example.com/Articles/Item-7?a=1&b=2")
    assert(canon(1) == canon(0))
    // 3/5: no real params → bare canonical path
    assert(canon(2) == "site.example.com/Articles/Item-7")
    assert(canon(4) == canon(2))
    // 4: the PATH stays case-sensitive (RFC 3986 — only
    // scheme/authority case-normalize)
    assert(canon(3) == "site.example.com/articles/item-7")
    assert(canon(3) != canon(2))
  }

  test("token-grain grams see subword overlap that word-grain 5-grams miss (the d69 contract)") {
    import spark.implicits._
    import graft.functions.{Bpe, TextHash}
    // merges: none apply to "window", so the FOUR-word shared phrase
    // "window window window window" is 24 single-char-ish tokens —
    // nine 16-token grams land fully inside it, while a word-level
    // 5-gram needs five shared words and never fires on this pair
    // (d69's catalog grain on both sides: word n=5, token n=16).
    val ms = Seq(("v", "a"), ("va", "l"))
    def grams(text: String, tokenGrain: Boolean): Set[Long] = {
      val toks = flatten(transform(
        Bpe.encodeDelimited(col("text"), ms),
        f => filter(split(f, "\\|"), t => length(t) > 0)))
      val (unit, n) =
        if (tokenGrain) (array_join(toks, " "), 16) else (col("text"), 5)
      Seq(text).toDF("text")
        .select(TextHash.word_gram_hashes(unit, n, distinct = true).as("g"))
        .head().getSeq[Long](0).toSet
    }
    val a = "alpha beta window window window window gamma delta epsilon"
    val b = "zeta eta window window window window theta iota kappa"
    assert((grams(a, tokenGrain = false) & grams(b, tokenGrain = false)).isEmpty,
      "word 5-grams must NOT fire on a four-word shared phrase")
    val sharedTok = grams(a, tokenGrain = true) & grams(b, tokenGrain = true)
    assert(sharedTok.size >= 2,
      s"token 16-grams must see the 24-token shared run, got ${sharedTok.size}")
  }
}
