package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.engine.IndexStore
import graft.similarity.Similarity

/** The persisted-index lifecycle shared by the MinHash, span and IVF
  * families ([[graft.engine.IndexStore]]), run through each family's
  * public calls:
  *  - takedown: remove → the probe excludes → compaction or rebuild
  *    folds the rows out physically and the sidecar is gone;
  *  - crash windows: a `meta.next`-only and a `tombstones.next`-only
  *    state heal on the next read; a rebuild (or MinHash compaction)
  *    whose meta commit fails leaves the old index probing as before,
  *    and re-running it converges; a MinHash append whose last table
  *    commit fails converges on retry;
  *  - the size contract: a removal past the broadcast bound is refused
  *    and leaves the sidecar unchanged, a takedown-sized one lands;
  *  - re-adding a tombstoned id is refused loudly (MinHash, IVF);
  *  - the meta memo: one entry per index dir, dropped with the index,
  *    and pinned MinHash reads that launch no inference job;
  *  - the layout rule: a directory without meta, or with a meta that
  *    lacks a column the family writes today, is refused by every
  *    entry point, naming the family's build call, and left as it was.
  */
class IndexLifecycleSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_life_$tag").toString

  private val fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())
  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** Ids of the Spark jobs `body` launched on this thread. */
  private def jobsLaunchedBy(body: => Any): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "jobs under test")
    try body finally sc.clearJobGroup()
    // Job events reach the status store in submission order, so once
    // a later fence job is visible, every job `body` launched is too.
    val fence = s"$group-fence"
    sc.setJobGroup(fence, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty,
      "fence job never reached the status store")
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  // --- fixtures: 12 documents of disjoint vocabulary ------------------

  private val ids = 0L until 12L
  private def text(i: Long): String = (1 to 8).map(w => s"d${i}w$w").mkString(" ")
  private def vec(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i * 2654435761L)
    Seq.fill(16)(r.nextGaussian())
  }

  private def docs(s: SparkSession, xs: Seq[Long], offset: Long = 0L): DataFrame = {
    import s.implicits._
    xs.map(i => (i + offset) -> text(i)).toDF("doc_id", "text")
  }

  private def vecs(s: SparkSession, xs: Seq[Long], offset: Long = 0L): DataFrame = {
    import s.implicits._
    xs.map(i => (i + offset) -> vec(i)).toDF("vec_id", "vec")
  }

  /** One index family seen through its public calls. `live` probes
    * every fixture document and returns the ids the index still
    * matches; `readd` appends ids again. `rebuild` replaces the index
    * with new parameters, after which `live` is `rebuilt`.
    */
  private case class Family(name: String, build: String => Unit,
      remove: (SparkSession, String, Seq[Long]) => Unit,
      live: String => Set[Long], fold: String => Unit,
      physical: String => Set[Long], readd: Option[(String, Seq[Long]) => Unit],
      route: String, entryPoints: Seq[(String, String => Any)],
      rebuild: (SparkSession, String) => Unit, rebuilt: Set[Long])

  /** The path of `table` in the live generation of the index at `idx`. */
  private def liveTable(idx: String, table: String): String =
    s"${IndexStore.liveDir(spark, idx)}/$table"

  private val minhash = Family("minhash",
    idx => Dedup.buildIndex(docs(spark, ids), "doc_id", "text", idx),
    (s, idx, xs) => Dedup.removeFromIndex(docs(s, xs).select("doc_id"), "doc_id", idx),
    idx => {
      val r = Dedup.incremental(docs(spark, ids, offset = 1000L), "doc_id", "text", idx)
        .filter(col("fate") === "exact_index").select("match_id").collect()
        .map(_.getLong(0)).toSet
      spark.catalog.clearCache()
      r
    },
    idx => Dedup.compactIndex(spark, "doc_id", idx),
    idx => spark.read.parquet(liveTable(idx, "sigs")).select("doc_id").collect()
      .map(_.getLong(0)).toSet,
    Some((idx, xs) => Dedup.appendIndex(docs(spark, xs), "doc_id", "text", idx)),
    "buildIndex",
    Seq(
      "incremental" -> (idx => Dedup.incremental(docs(spark, ids), "doc_id", "text", idx)),
      "appendIndex" -> (idx => Dedup.appendIndex(docs(spark, ids), "doc_id", "text", idx)),
      "removeFromIndex" -> (idx =>
        Dedup.removeFromIndex(docs(spark, ids).select("doc_id"), "doc_id", idx)),
      "compactIndex" -> (idx => Dedup.compactIndex(spark, "doc_id", idx)),
      "readIndexMeta" -> (idx => Dedup.readIndexMeta(spark, idx))),
    (s, idx) => Dedup.buildIndex(docs(s, ids.take(6)), "doc_id", "text", idx,
      numPerms = 32),
    ids.take(6).toSet)

  private val span: Family = Family("span",
    idx => Dedup.buildSpanIndex(docs(spark, ids), "doc_id", "text", idx, width = 2),
    (s, idx, xs) => Dedup.removeFromSpanIndex(docs(s, xs), "doc_id", "text", idx),
    idx => Dedup.spanNovelty(docs(spark, ids), "doc_id", "text", idx)
      .filter(col("novel_pm") === 0L).select("doc_id").collect()
      .map(_.getLong(0)).toSet,
    // the span family folds by rebuilding over the live corpus
    idx => {
      val gone = ids.toSet -- span.live(idx)
      Dedup.buildSpanIndex(docs(spark, ids.filterNot(gone)), "doc_id", "text",
        idx, width = 2)
    },
    // a document is physically indexed while all its span keys are
    idx => {
      val keys = spark.read.parquet(liveTable(idx, "spans")).collect().map(_.getString(0)).toSet
      ids.filter(i => spanKeys(i).subsetOf(keys)).toSet
    },
    None,
    "buildSpanIndex",
    Seq(
      "spanNovelty" -> (idx => Dedup.spanNovelty(docs(spark, ids), "doc_id", "text", idx)),
      "spanDedupIncremental" -> (idx =>
        Dedup.spanDedupIncremental(docs(spark, ids), "doc_id", "text", idx)),
      "appendSpanIndex" -> (idx =>
        Dedup.appendSpanIndex(docs(spark, ids), "doc_id", "text", idx)),
      "removeFromSpanIndex" -> (idx =>
        Dedup.removeFromSpanIndex(docs(spark, ids), "doc_id", "text", idx)),
      "spanIndexKeys" -> (idx => Dedup.spanIndexKeys(spark, idx))),
    (s, idx) => Dedup.buildSpanIndex(docs(s, ids.take(6)), "doc_id", "text", idx,
      width = 4),
    ids.take(6).toSet)

  /** The width-2 span keys of fixture document `i`. */
  private def spanKeys(i: Long): Set[String] =
    text(i).split(" ").grouped(2).map(g => md5(g.mkString(" "))).toSet

  private def md5(x: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val ivf = Family("ivf",
    idx => Similarity.buildIvfIndex(vecs(spark, ids), "vec_id", "vec", idx,
      kCentroids = 4),
    (s, idx, xs) => Similarity.removeFromIvfIndex(vecs(s, xs).select("vec_id"),
      "vec_id", idx),
    // every list probed: the top-1 of a copy of an indexed vector is
    // that vector
    idx => Similarity.ivfProbe(vecs(spark, ids, offset = 1000L), idx, "vec_id",
      "vec", k = 1, nprobe = 4).filter(col("q_id") === col("n_id") + 1000L)
      .select("n_id").collect().map(_.getLong(0)).toSet,
    idx => Similarity.rebuildIvfIndex(spark, idx, kCentroids = 4),
    // the live generation's base lists, unfiltered
    idx => Similarity.ivfMeta(spark, idx).read(spark, "lists").select("vid")
      .collect().map(_.getLong(0)).toSet,
    Some((idx, xs) => Similarity.appendIvfIndex(vecs(spark, xs), "vec_id", "vec", idx)),
    "buildIvfIndex",
    Seq(
      "ivfLists" -> (idx => Similarity.ivfLists(spark, idx)),
      "ivfCentroids" -> (idx => Similarity.ivfCentroids(spark, idx)),
      "ivfProbe" -> (idx =>
        Similarity.ivfProbe(vecs(spark, ids), idx, "vec_id", "vec", k = 1)),
      "litIndexCandidates" -> (idx => Similarity.litIndexCandidates(spark,
        vecs(spark, ids), idx, "vec_id", "vec", nprobe = 1)),
      "ivfLiveCount" -> (idx => Similarity.ivfLiveCount(spark, idx)),
      "appendIvfIndex" -> (idx =>
        Similarity.appendIvfIndex(vecs(spark, ids), "vec_id", "vec", idx)),
      "removeFromIvfIndex" -> (idx =>
        Similarity.removeFromIvfIndex(vecs(spark, ids).select("vec_id"), "vec_id", idx)),
      "rebuildIvfIndex" -> (idx => Similarity.rebuildIvfIndex(spark, idx))),
    (s, idx) => Similarity.rebuildIvfIndex(s, idx, kCentroids = 4),
    ids.toSet)

  private val families = Seq(minhash, span, ivf)

  private def sidecarRows(idx: String): Long =
    if (exists(s"$idx/tombstones")) spark.read.parquet(s"$idx/tombstones").count()
    else 0L

  families.foreach { f =>
    test(s"${f.name}: remove -> probe excludes -> fold removes the rows and the sidecar") {
      val idx = scratch(s"${f.name}_takedown")
      f.build(idx)
      assert(f.live(idx) == ids.toSet)
      f.remove(spark, idx, Seq(1L, 2L))
      f.remove(spark, idx, Seq(1L, 2L)) // a re-delivered removal is a no-op
      assert(f.live(idx) == ids.toSet -- Set(1L, 2L))
      assert(f.physical(idx).contains(1L), "removal is logical until the fold")
      f.readd.foreach { readd =>
        val e = intercept[IllegalStateException](readd(idx, Seq(2L)))
        assert(e.getMessage.contains("tombstoned"), e.getMessage)
      }
      f.fold(idx)
      assert(!exists(s"$idx/tombstones") && !exists(s"$idx/tombstones.next"))
      assert(f.physical(idx) == ids.toSet -- Set(1L, 2L))
      assert(f.live(idx) == ids.toSet -- Set(1L, 2L))
      f.readd.foreach { readd => // the fold re-arms the ids
        readd(idx, Seq(2L))
        assert(f.live(idx) == ids.toSet - 1L)
      }
    }

    test(s"${f.name}: a crash between delete and rename heals for meta and tombstones") {
      val idx = scratch(s"${f.name}_heal")
      f.build(idx)
      f.remove(spark, idx, Seq(3L))
      Seq("meta", "tombstones").foreach { d =>
        assert(fs.rename(new Path(s"$idx/$d"), new Path(s"$idx/$d.next")))
      }
      IndexStore.forget(spark, idx)
      // the next read completes both renames: the index still serves
      // and the removal is still in force
      assert(f.live(idx) == ids.toSet - 3L)
      Seq("meta", "tombstones").foreach { d =>
        assert(exists(s"$idx/$d") && !exists(s"$idx/$d.next"), d)
      }
    }

    test(s"${f.name}: a removal past the broadcast bound is refused and leaves the sidecar unchanged") {
      val idx = scratch(s"${f.name}_bound")
      f.build(idx)
      // sidecar rows per removed document, and their column's size
      val (perDoc, width) =
        if (f == span) (4, StringType.defaultSize) else (1, LongType.defaultSize)
      val takedown = Seq(0L, 1L)
      // a session whose threshold admits the takedown plus one row
      val s = spark.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((takedown.size * perDoc + 1) * width).toString)
      f.remove(s, idx, takedown)
      assert(sidecarRows(idx) == takedown.size * perDoc)
      val e = intercept[IllegalArgumentException](f.remove(s, idx, Seq(5L, 6L)))
      assert(e.getMessage.contains(f.route) &&
        e.getMessage.contains("autoBroadcastJoinThreshold"), e.getMessage)
      assert(sidecarRows(idx) == takedown.size * perDoc, "a refused removal wrote rows")
      assert(f.live(idx) == ids.toSet -- takedown)
    }

    test(s"${f.name}: a rebuild that fails at its meta commit leaves the old index probing as before, and re-running converges") {
      val idx = scratch(s"${f.name}_crash")
      f.build(idx)
      def state = (f.live(idx), IndexStore.meta(spark, idx).get.row)
      val before = state
      val e = intercept[Exception](
        f.rebuild(FailingCommitProtocol.session(spark, "meta.next"), idx))
      assert(FailingCommitProtocol.injected(e), e)
      IndexStore.forget(spark, idx)
      assert(state == before)
      f.rebuild(spark, idx)
      assert(f.live(idx) == f.rebuilt)
      assert(IndexStore.meta(spark, idx).get.gen == 1)
      assert(new java.io.File(idx).list().filter(_.startsWith("gen-")).toSeq == Seq("gen-1"))
    }
  }

  test("minhash: a compaction that fails at its meta commit leaves the rows and the sidecar in force, and re-running converges") {
    val idx = scratch("minhash_compact_crash")
    minhash.build(idx)
    minhash.remove(spark, idx, Seq(1L, 2L))
    val e = intercept[Exception](Dedup.compactIndex(
      FailingCommitProtocol.session(spark, "meta.next"), "doc_id", idx))
    assert(FailingCommitProtocol.injected(e), e)
    IndexStore.forget(spark, idx)
    assert(minhash.live(idx) == ids.toSet -- Set(1L, 2L))
    assert(minhash.physical(idx) == ids.toSet && sidecarRows(idx) == 2L)
    Dedup.compactIndex(spark, "doc_id", idx)
    assert(!exists(s"$idx/tombstones"))
    assert(minhash.physical(idx) == ids.toSet -- Set(1L, 2L))
    assert(minhash.live(idx) == ids.toSet -- Set(1L, 2L))
  }

  test("minhash: an append whose content commit fails converges on retry to the tables of a clean append") {
    val (idx, clean) = (scratch("minhash_append_crash"), scratch("minhash_append_clean"))
    // the batch: six new documents, one of them a copy of an indexed one
    def batch(s: SparkSession) =
      docs(s, ids.drop(6)).unionByName(docs(s, Seq(0L), offset = 100L))
    Seq(idx, clean).foreach(i =>
      Dedup.buildIndex(docs(spark, ids.take(6)), "doc_id", "text", i))
    val e = intercept[Exception](Dedup.appendIndex(
      batch(FailingCommitProtocol.session(spark, "content")), "doc_id", "text", idx))
    assert(FailingCommitProtocol.injected(e), e)
    assert(spark.read.parquet(liveTable(idx, "content")).count() == 6L,
      "the content commit failed")
    assert(spark.read.parquet(liveTable(idx, "sigs")).count() == 12L,
      "sigs landed before the failure")
    Dedup.appendIndex(batch(spark), "doc_id", "text", idx)
    Dedup.appendIndex(batch(spark), "doc_id", "text", clean)
    Seq("sigs", "bands", "content").foreach { t =>
      def rows(i: String) =
        spark.read.parquet(liveTable(i, t)).collect().map(_.toString).sorted.toSeq
      assert(rows(idx) == rows(clean), t)
    }
  }

  test("span: two rebuilds and a delete leave no catalog table of the index") {
    val idx = scratch("span_catalog")
    def tables: Set[String] = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_span_idx_")).toSet
    val before = tables
    span.build(idx)
    val first = tables -- before
    assert(first.size == 1, first)
    span.build(idx)
    span.build(idx)
    val third = tables -- before
    assert(third.size == 1 && third != first, s"$first, $third")
    assert(span.live(idx) == ids.toSet)
    Dedup.deleteSpanIndex(spark, idx)
    assert(tables == before)
  }

  // --- the layout rule ----------------------------------------------

  /** Every file under `dir`, relative to it. */
  private def files(dir: String): Set[String] = {
    val root = fs.makeQualified(new Path(dir)).toString
    val it = fs.listFiles(new Path(dir), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
      .map(_.stripPrefix(root)).toSet
  }

  /** `call` over `idx` throws IllegalStateException naming `build`, and
    * leaves every file under `idx` as it was.
    */
  private def assertRefused(idx: String, what: String, build: String)(call: => Any): Unit = {
    val before = files(idx)
    val e = intercept[IllegalStateException](call)
    assert(e.getMessage.contains(build), s"$what: ${e.getMessage}")
    assert(files(idx) == before, s"$what changed the files under $idx")
  }

  families.foreach { f =>
    test(s"${f.name}: a directory without meta is refused by every entry point") {
      val idx = scratch(s"${f.name}_nometa")
      f.entryPoints.foreach { case (what, call) =>
        assertRefused(idx, what, f.route)(call(idx))
      }
      assert(files(idx).isEmpty)
    }
  }

  test("ivf: a hand-written meta without gen or n_build is refused by ivfLists, appendIvfIndex and buildIvfIndex, and its files stay") {
    // and a MinHash or span meta without gen, by every entry point
    Seq((ivf, "gen", "lists"), (ivf, "n_build", "lists"), (minhash, "gen", "sigs"),
        (span, "gen", "spans")).foreach { case (f, dropped, table) =>
      val idx = scratch(s"${f.name}_old_$dropped")
      f.build(idx)
      spark.read.parquet(s"$idx/meta").drop(dropped)
        .coalesce(1).write.parquet(s"$idx/meta.hand")
      assert(fs.delete(new Path(s"$idx/meta"), true))
      assert(fs.rename(new Path(s"$idx/meta.hand"), new Path(s"$idx/meta")))
      IndexStore.forget(spark, idx)
      (f.entryPoints :+ (f.route -> f.build)).foreach { case (what, call) =>
        assertRefused(idx, s"${f.name} $what without $dropped", f.route)(call(idx))
      }
      assert(files(idx).exists(_.startsWith(s"/gen-0/$table/")), files(idx))
    }
  }

  test("minhash: incremental over an index whose meta was deleted is refused") {
    val idx = scratch("minhash_nometa")
    minhash.build(idx)
    val tables = Seq("sigs", "bands", "content").map(liveTable(idx, _))
    assert(fs.delete(new Path(s"$idx/meta"), true))
    assertRefused(idx, "incremental", "buildIndex")(
      Dedup.incremental(docs(spark, ids), "doc_id", "text", idx))
    assert(tables.forall(exists))
  }

  // --- the meta memo -------------------------------------------------

  private def entries(idx: String): Int = IndexStore.memoKeys.count(_.endsWith(idx))

  test("meta memo: five IVF rebuilds of one dir leave exactly one entry") {
    val idx = scratch("memo_ivf")
    ivf.build(idx)
    (1 to 5).foreach { n =>
      Similarity.rebuildIvfIndex(spark, idx, kCentroids = 4)
      assert(Similarity.ivfMetaFull(spark, idx)._5 == n)
    }
    assert(entries(idx) == 1)
  }

  test("meta memo: deleteSpanIndex drops its dir's entry") {
    val idx = scratch("memo_span")
    span.build(idx)
    assert(span.live(idx) == ids.toSet)
    assert(entries(idx) == 1)
    Dedup.deleteSpanIndex(spark, idx)
    assert(entries(idx) == 0)
  }

  test("meta memo: a meta.next-only index heals, memoizes, and the next read launches no job") {
    val idx = scratch("memo_heal")
    minhash.build(idx)
    val params = Dedup.readIndexMeta(spark, idx)
    assert(fs.rename(new Path(s"$idx/meta"), new Path(s"$idx/meta.next")))
    IndexStore.forget(spark, idx)
    assert(Dedup.readIndexMeta(spark, idx) == params)
    assert(exists(s"$idx/meta") && !exists(s"$idx/meta.next"))
    assert(entries(idx) == 1)
    val jobs = jobsLaunchedBy(Dedup.readIndexMeta(spark, idx))
    assert(jobs.isEmpty, s"a memoized meta read launched jobs $jobs")
  }

  test("pinned MinHash reads: a second incremental launches no job, and pinned schemas match inference for int and long ids") {
    Seq(IntegerType, LongType).foreach { idType =>
      val idx = scratch(s"pinned_$idType")
      def typed(df: DataFrame) = df.withColumn("doc_id", col("doc_id").cast(idType))
      Dedup.buildIndex(typed(docs(spark, ids)), "doc_id", "text", idx)
      Dedup.removeFromIndex(typed(docs(spark, Seq(4L))).select("doc_id"), "doc_id", idx)
      val batch = typed(docs(spark, ids, offset = 1000L))
      // the check sees jobs at all: the first call reads meta and infers
      assert(jobsLaunchedBy(Dedup.incremental(batch, "doc_id", "text", idx)).nonEmpty)
      val jobs = jobsLaunchedBy(Dedup.incremental(batch, "doc_id", "text", idx))
      assert(jobs.isEmpty, s"a second incremental launched jobs $jobs")
      val m = IndexStore.meta(spark, idx).get
      Seq(liveTable(idx, "content"), liveTable(idx, "sigs"), liveTable(idx, "bands"),
          s"$idx/tombstones").foreach { t =>
        val st = m.schema(spark, t)
        assert(st == spark.read.parquet(t).schema, t)
        assert(st.fields.exists(_.dataType == idType), s"$t: $st")
      }
      val fates = Dedup.incremental(batch, "doc_id", "text", idx)
        .filter(col("fate") === "exact_index").count()
      assert(fates == ids.size - 1)
      spark.catalog.clearCache()
    }
  }
}
