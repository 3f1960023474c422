package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Stage-split timing for the d30 incremental-dedup shape (the r14
  * verdict's triage ask: 3.5 → 18.3 s at sf0.1 with no code change,
  * across a driver testdata regeneration). Replays d30's exact
  * composition — tuner → [[Dedup.buildIndex]] on the 60% "ingested"
  * slice → [[Dedup.incremental]] on the 40% batch — but times each
  * index table write and each probe stage separately, and prints the
  * index-side band-bucket occupancy histogram (the candidate-blowup
  * diagnostic: near-dup verify work is quadratic in bucket
  * occupancy, capped at maxBucket).
  *
  * Measurement tooling, not query surface. Usage:
  *   runMain graft.tools.D30Triage [<sfDir>] (default /root/testdata/sf0.1)
  */
object D30Triage {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.engine.Session.cpus()
    val spark = graft.engine.Session
      .builder(master = s"local[$cpus]", shufflePartitions = cpus,
        appName = "graft-d30-triage")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"D30TRIAGE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val d = spark.read.parquet(s"$dir/documents.parquet")
    val old = d.filter(col("doc_id") % 10 < 6)
    val newB = d.filter(col("doc_id") % 10 >= 6)
    println(s"D30TRIAGE corpus=${d.count()} old=${old.count()} new=${newB.count()}")

    // Stage 0: the tuner, exactly as buildIndex's resolvePerms runs it
    val choice = t("tuner(chooseBanding old)") {
      Dedup.chooseBanding(old, "doc_id", "text")
    }
    println(s"D30TRIAGE banding numPerms=${choice.numPerms} " +
      s"estReps=${choice.estReps} " +
      choice.stats.map(s =>
        f"p=${s.numPerms}:waste=${s.sampleWasted}/${s.sampleCandidates}:" +
          f"ratio=${s.predictedWasteRatio}%.2f").mkString(" "))
    val np = choice.numPerms
    val (shK, nb, mb) = (8, 4, 512)

    val idx = graft.engine.Scratch.dir("graft_d30_triage_")
    t("buildIndex(total)") {
      Dedup.buildIndex(old, "doc_id", "text", idx, numPerms = np)
    }

    // Index shape: band-bucket occupancy histogram (post-cap)
    val bands = spark.read.parquet(s"$idx/bands")
    val occ = bands.groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
      .groupBy("n").agg(count(lit(1)).as("buckets"))
      .orderBy(col("n").desc).collect()
    val pairsImplied = occ.map(r => r.getLong(1) * r.getLong(0) * (r.getLong(0) - 1) / 2).sum
    println(s"D30TRIAGE index bands rows=${bands.count()} " +
      s"bucketsTop=${occ.take(8).map(r => s"${r.getLong(0)}x${r.getLong(1)}").mkString(",")} " +
      s"pairsImplied=$pairsImplied")

    // Incremental, stage by stage (mirrors Dedup.incrementalResolved)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val em = np / 2
    val idxContent = spark.read.parquet(s"$idx/content")
    val idxBands = spark.read.parquet(s"$idx/bands")
      .withColumnRenamed("doc_id", "__old")
    val idxSigs = spark.read.parquet(s"$idx/sigs")
      .withColumnRenamed("doc_id", "__old").withColumnRenamed("sig", "__osig")
    val withCh = newB.select(col("doc_id"), col("text"))
      .withColumn("__ch", Dedup.contentHash(col("text")))
      .persist(lvl)
    t("inc: exact_index probe") {
      withCh.join(idxContent, withCh("__ch") === idxContent("content_hash")).count()
    }
    val rest = withCh.join(
      idxContent.select(col("content_hash").as("__ch")), Seq("__ch"), "left_anti")
      .withColumn("__m", min(col("doc_id")).over(Window.partitionBy("__ch")))
      .persist(lvl)
    val nReps = t("inc: batch reps (exact win)") {
      rest.filter(col("doc_id") === col("__m")).count()
    }
    val reps = rest.filter(col("doc_id") === col("__m"))
      .select(col("doc_id"), col("text"))
    val repSigs = reps
      .filter(length(lower(trim(col("text")))) >= shK)
      .select(col("doc_id"),
        Dedup.minhashSignature(col("text"), shK, np).as("sig"))
      .persist(lvl)
    t("inc: batch signatures") { repSigs.count() }
    val repBandRows = repSigs
      .select(col("doc_id"), explode(array(
        Dedup.bandKeyCols(col("sig"), np, nb): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.band_hash").as("band_hash"))
    val candIdx = t("inc: band probe vs index") {
      repBandRows.join(idxBands, Seq("band", "band_hash"))
        .select(col("doc_id"), col("__old")).distinct().persist(lvl)
    }
    println(s"D30TRIAGE nearIdx candidates=${candIdx.count()} (reps=$nReps)")
    t("inc: near_index sig verify") {
      candIdx.join(repSigs, Seq("doc_id"))
        .join(idxSigs, Seq("__old"))
        .filter(Dedup.estMatches(col("sig"), col("__osig")) >= em)
        .groupBy(col("doc_id")).agg(min(col("__old")).as("m3")).count()
    }
    val batchPairs = t("inc: batch pair gen") {
      repBandRows
        .groupBy("band", "band_hash")
        .agg(Dedup.cappedBucket(col("doc_id"), mb).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(explode(Dedup.bucketPairs(col("ds"))).as("p"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .distinct().persist(lvl)
    }
    println(s"D30TRIAGE batch pairs=${batchPairs.count()}")
    t("inc: near_batch sig verify") {
      batchPairs
        .join(repSigs.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
        .join(repSigs.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
        .filter(Dedup.estMatches(col("s1"), col("s2")) >= em)
        .groupBy(col("d2")).agg(min(col("d1")).as("m4")).count()
    }
    spark.catalog.clearCache()

    // End-to-end replay for the headline number (memo-warm tuner)
    t("d30 end-to-end (replay)") {
      val idx2 = graft.engine.Scratch.dir("graft_d30_triage2_")
      Dedup.buildIndex(old, "doc_id", "text", idx2, numPerms = Dedup.AutoPerms)
      Dedup.incremental(newB, "doc_id", "text", idx2).count()
      graft.engine.Scratch.delete(idx2)
    }
    graft.engine.Scratch.delete(idx)
    spark.stop()
  }
}
