package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Similarity

/** Round-17 contracts (optimization round): every restructure that
  * changed an operator's internals is pinned against a reference
  * implementation or an invariant —
  *  - the d21/d69 one-pass bloom+bounded-agg core reproduces the old
  *    three-join formulation exactly (hot grams past the cap, docs
  *    in all three bucket classes, the >= 2 evidence floor);
  *  - the span revive swap's residual crash window (tombstones
  *    deleted, tombstones.next not yet renamed) self-heals on the
  *    next read (r16 verdict #8);
  *  - the meta memos (IVF + span + MinHash) invalidate on rebuild —
  *    stale parameters can never serve a probe;
  *  - ivfLiveCount's meta/tail fast path equals the exact
  *    tombstone-filtered count in every index state;
  *  - Parallel.run executes every task, propagates failures, and
  *    never returns while an interrupted caller's tasks, or the
  *    Spark jobs they submitted, still run.
  */
class Round17OpsSpec extends AnyFunSuite {
  import SparkTestBase._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_r17_$tag").toString

  private def tv(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i * 2654435761L)
    Seq.fill(16)(r.nextGaussian())
  }

  private def vecsDf(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "vec")
  }

  // --- d21/d69 one-pass restructure -------------------------------

  test("rareGramContamPairs == the three-join reference (hot grams, all bucket classes, evidence floor)") {
    import spark.implicits._
    // hand-built gram stream: gram 1 is HOT (df 60 > cap, spans
    // train+test — must vanish); gram 2 rare, shared by 2 trains and
    // 1 test; gram 3 rare, same (train 10, test 900) pair again —
    // together they clear the >= 2 floor; gram 4 rare but shared
    // once only (below floor); gram 5 only mid-bucket docs (neither
    // side); gram 6 test-only.
    val rows =
      (0L until 60L).map(i => (i, if (i % 2 == 0) 100L else 960L, 1L)) ++
        Seq((10L, 100L, 2L), (11L, 200L, 2L), (900L, 970L, 2L),
          (10L, 100L, 3L), (900L, 970L, 3L),
          (12L, 300L, 4L), (901L, 980L, 4L),
          (50L, 920L, 5L), (51L, 930L, 5L),
          (902L, 990L, 6L))
    val g = rows.toDF("doc_id", "bucket", "g")
    val got = graft.queries.TrainingDataQueries
      .rareGramContamPairs(g, dfCap = 50, outName = "shared")
      .orderBy("train_id", "test_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference: the pre-r17 persist+join formulation
    val rare = g.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("g")
    val gr = g.join(rare, "g")
    val want = gr.filter(col("bucket") < 900)
      .select(col("doc_id").as("train_id"), col("g"))
      .join(gr.filter(col("bucket") >= 950)
        .select(col("doc_id").as("test_id"), col("g")), "g")
      .groupBy("train_id", "test_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      .orderBy("train_id", "test_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    assert(got.toSeq == Seq((10L, 900L, 2L))) // the engineered pair
  }

  // --- span revive swap: residual crash window heals ---------------

  test("span tombstone swap: crash between delete(tombstones) and rename(next) self-heals; probe stays correct") {
    import spark.implicits._
    val idx = scratch("span_heal")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text")
    Dedup.buildSpanIndex(docs, "doc_id", "text", idx, width = 8)
    // tombstone doc 1's spans: a re-arrival of its text scores fully
    // novel again
    Dedup.removeFromSpanIndex(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", idx)
    val probe = Seq((9L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val novBefore = Dedup.spanNovelty(probe, "doc_id", "text", idx)
      .select("novel_pm").head().getLong(0)
    assert(novBefore == 1000L)
    // inject the crash window: the revive rewrite has produced
    // tombstones.next and deleted tombstones, but the rename never
    // ran (kill -9 between the two fs calls)
    val conf = spark.sessionState.newHadoopConf()
    val live = new org.apache.hadoop.fs.Path(s"$idx/tombstones")
    val next = new org.apache.hadoop.fs.Path(s"$idx/tombstones.next")
    val fs = live.getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, next, false, conf))
    fs.delete(live, true)
    assert(!fs.exists(live) && fs.exists(next))
    // next read heals: rename completes, the removal is still in
    // force (doc 1's spans stay novel), nothing resurrects
    val novAfter = Dedup.spanNovelty(probe, "doc_id", "text", idx)
      .select("novel_pm").head().getLong(0)
    assert(novAfter == 1000L)
    assert(fs.exists(live) && !fs.exists(next))
    // and a real re-ingesting append still revives exactly
    Dedup.appendSpanIndex(probe, "doc_id", "text", idx)
    val novRevived = Dedup.spanNovelty(probe, "doc_id", "text", idx)
      .select("novel_pm").head().getLong(0)
    assert(novRevived == 0L)
  }

  // --- meta memos invalidate on rebuild ----------------------------

  test("IVF meta memo: rebuild with a different kc is visible immediately (fingerprint invalidation)") {
    val idx = scratch("ivf_memo")
    val corpus = (0L until 64L).map(i => i -> tv(i))
    Similarity.buildIvfIndex(vecsDf(corpus), "vec_id", "vec", idx,
      kCentroids = 4)
    assert(Similarity.ivfIndexMeta(spark, idx)._3 == 4)
    assert(Similarity.ivfIndexMeta(spark, idx)._3 == 4) // memo hit
    Similarity.rebuildIvfIndex(spark, idx, kCentroids = 8)
    assert(Similarity.ivfIndexMeta(spark, idx)._3 == 8) // invalidated
  }

  test("span meta memo: rebuild with a different width is visible immediately") {
    import spark.implicits._
    val idx = scratch("span_memo")
    val docs = Seq((1L, "a b c d e f g h i j k l m n o p"))
      .toDF("doc_id", "text")
    Dedup.buildSpanIndex(docs, "doc_id", "text", idx, width = 8)
    val n8 = Dedup.spanNovelty(docs, "doc_id", "text", idx)
      .select("n_spans").head().getLong(0)
    assert(n8 == 2L) // 16 tokens / width 8
    Dedup.buildSpanIndex(docs, "doc_id", "text", idx, width = 4)
    val n4 = Dedup.spanNovelty(docs, "doc_id", "text", idx)
      .select("n_spans").head().getLong(0)
    assert(n4 == 4L) // stale memo would still say width 8
  }

  // --- ivfLiveCount fast path --------------------------------------

  test("ivfLiveCount: meta/tail fast path equals the exact count in every index state") {
    val idx = scratch("ivf_live")
    val corpus = (0L until 40L).map(i => i -> tv(i))
    Similarity.buildIvfIndex(vecsDf(corpus), "vec_id", "vec", idx,
      kCentroids = 4)
    def exact: Long = Similarity.ivfLists(spark, idx).count()
    assert(Similarity.ivfLiveCount(spark, idx) == exact) // base only
    Similarity.appendIvfIndex(
      vecsDf((100L until 110L).map(i => i -> tv(i))), "vec_id", "vec", idx)
    assert(Similarity.ivfLiveCount(spark, idx) == exact) // base + tail
    Similarity.removeFromIvfIndex(
      { import spark.implicits._; Seq(3L, 104L).toDF("vec_id") },
      "vec_id", idx)
    // sidecar present: must fall back to the tombstone-filtered count
    assert(Similarity.ivfLiveCount(spark, idx) == exact)
    assert(Similarity.ivfLiveCount(spark, idx) == 48L)
  }

  // --- Parallel ----------------------------------------------------

  test("Parallel.run executes every task and propagates the first failure unwrapped") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.engine.Parallel.run(
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () })
    assert(hits.get() == 3)
    val e = intercept[IllegalStateException] {
      graft.engine.Parallel.run(
        () => { hits.incrementAndGet(); () },
        () => throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(hits.get() == 4)
  }

  test("Parallel.run: an interrupted caller cancels its tasks, keeps its interrupt, and returns only after they exit") {
    val live = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(2)
    val cancelled = new java.util.concurrent.atomic.AtomicInteger(0)
    // a writer that takes a moment to wind down once interrupted
    def writer(): () => Unit = () => {
      live.incrementAndGet()
      started.countDown()
      try Thread.sleep(60000)
      catch {
        case _: InterruptedException =>
          cancelled.incrementAndGet()
          Thread.sleep(300)
      } finally { live.decrementAndGet(); () }
    }
    @volatile var thrown: Throwable = null
    @volatile var liveAtReturn = -1
    @volatile var interruptedAfter = false
    val caller = new Thread(() => {
      try graft.engine.Parallel.run(writer(), writer())
      catch { case t: Throwable => thrown = t }
      liveAtReturn = live.get()
      interruptedAfter = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive, "Parallel.run did not return after the interrupt")
    assert(thrown.isInstanceOf[InterruptedException], s"threw $thrown")
    assert(cancelled.get() == 2, "both running tasks must be interrupted")
    assert(liveAtReturn == 0, "returned while a task was still running")
    assert(interruptedAfter, "the caller's interrupt status must survive")
  }

  test("Parallel.run: an interrupted caller cancels the Spark jobs its tasks submitted") {
    val sc = spark.sparkContext
    val tags = Seq("r17-slow-a", "r17-slow-b")
    // a job whose tasks run until killed (or a minute passes)
    def slowJob(tag: String): () => Unit = () => {
      sc.addJobTag(tag)
      sc.parallelize(1 to 2, 2).foreach { _ =>
        val tc = org.apache.spark.TaskContext.get()
        val end = System.currentTimeMillis() + 60000L
        while (!tc.isInterrupted() && System.currentTimeMillis() < end)
          Thread.sleep(20)
      }
    }
    def running(tag: String): Boolean = {
      val active = sc.statusTracker.getActiveJobIds().toSet
      sc.statusTracker.getJobIdsForTag(tag).exists(active)
    }
    @volatile var runningAtReturn = Seq.empty[String]
    val caller = new Thread(() => {
      try graft.engine.Parallel.run(tags.map(slowJob): _*)
      catch { case _: Throwable => () }
      runningAtReturn = tags.filter(running)
    })
    caller.start()
    val deadline = System.currentTimeMillis() + 30000L
    while (!tags.forall(running) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(tags.forall(running), "both slow jobs must be running")
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive, "Parallel.run did not return after the interrupt")
    assert(runningAtReturn.isEmpty,
      s"jobs still running when Parallel.run returned: $runningAtReturn")
  }
}
