package graft.perfbench

import graft.functions.TextHash

/** Seeded input generators with planted ground truth.
  *
  * Everything here is a pure function of the seed: the same seed gives
  * byte-identical inputs and the same truth on any host. Generation
  * runs on the driver before any timing starts; a workload's `stage` writes the
  * inputs to parquet once per seed.
  */
object Gen {

  /** Bumped whenever a generator changes what it emits; part of the
    * fingerprint every result records.
    */
  val Version = 3

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def double(): Double = r.nextDouble()
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  }

  def fingerprint(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update((Version +: parts).mkString("|").getBytes("UTF-8"))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- sensors

  final case class Tag(id: Int, tagpath: String, description: String,
      unit: String)
  final case class Reading(tagid: Int, t_stamp: Long, value: Double,
      dataintegrity: Int)

  /** Per-tagpath state of the job's output: rows, min and max
    * `datetime` in epoch milliseconds.
    */
  final case class TagTruth(rows: Long, minMs: Long, maxMs: Long)

  final case class SensorRun(name: String, readings: Array[Reading],
      incremental: Boolean, truth: Map[String, TagTruth])

  final case class SensorInputs(tags: Seq[Tag], patterns: Seq[String],
      startDate: String, runs: Seq[SensorRun], fingerprint: String)

  object Sensor {
    val Sites = 2
    val Lines = 5
    val Kinds = Seq("temp", "flow", "pressure", "vibration")
    val UnknownTags = 4
    val StepMs = 30000L
    val DayMs = 86400000L
    val BackfillDays = 2
    val IncrementalDays = 2
    val OverlapSteps = 240
    /** Invalid readings and duplicated `(tagid, t_stamp)` readings per
      * tag in each extraction. The events table that stands in for
      * sensor readings in the test data (sf0.1, 100k rows) has no
      * invalid value and a 0.001% duplicate share, so both kinds are
      * planted at this floor: enough for the checks to see the filter
      * and the dedup act, too few to change the job's cost.
      */
    val PlantedPerTag = 3
    val StartMs = 1709251200000L // 2024-03-01T00:00:00Z
    val StartDate = "2024-03-01"
    val IntegrityMin = 0.0
    val IntegrityMax = 1e6
    /** Matches every site-0 tag and the site-1 temperature tags. */
    val Patterns = Seq("^site0\\.", "\\.temp$")
  }

  def sensor(seed: Long): SensorInputs = {
    import Sensor._
    val rng = new Rng(seed * 31 + 1)
    val tags = for {
      s <- 0 until Sites; l <- 0 until Lines; (k, ki) <- Kinds.zipWithIndex
    } yield {
      val id = 1 + (s * Lines + l) * Kinds.size + ki
      Tag(id, s"site$s.line$l.$k", s"$k sensor on line $l of site $s",
        Seq("C", "l/min", "bar", "mm/s")(ki))
    }
    val tagIds = tags.map(_.id) ++ (1 to UnknownTags).map(tags.size + _)
    val pathOf = tags.map(t => t.id -> t.tagpath).toMap
    val patterns = Patterns.map(_.r)
    val matched: Set[Int] = tags.filter(t =>
      patterns.exists(_.findFirstIn(t.tagpath).isDefined)).map(_.id).toSet
    val stepsPerDay = (DayMs / StepMs).toInt
    val base = tagIds.map(id => id -> (10.0 + rng.int(900))).toMap

    def reading(id: Int, ts: Long, invalid: Boolean): Reading = {
      val v =
        if (invalid) rng.int(3) match {
          case 0 => Double.NaN
          case 1 => -1.0 - rng.int(100)
          case _ => IntegrityMax * 10
        }
        else base(id) + rng.double() * 10
      Reading(id, ts, v, if (v.isNaN) 0 else 1)
    }
    // One extraction: every tag's grid points in [fromMs, toMs), with
    // PlantedPerTag invalid readings and PlantedPerTag duplicated ones
    // (a second reading with the same tagid and t_stamp) per tag.
    def extract(fromMs: Long, toMs: Long): Array[Reading] = {
      val steps = ((toMs - fromMs) / StepMs).toInt
      def plant(): Map[Int, Set[Int]] = tagIds.map(id => id ->
        Iterator.continually(rng.int(steps)).distinct.take(PlantedPerTag).toSet).toMap
      val invalid = plant()
      val dup = plant()
      val out = Array.newBuilder[Reading]
      (0 until steps).foreach { s =>
        val ts = fromMs + s * StepMs
        tagIds.foreach { id =>
          out += reading(id, ts, invalid(id)(s))
          if (dup(id)(s)) out += reading(id, ts, invalid = false)
        }
      }
      val a = out.result()
      // shuffle so no file is ordered by time
      var i = a.length - 1
      while (i > 0) {
        val j = rng.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
      }
      a
    }
    def valid(r: Reading): Boolean = !r.value.isNaN &&
      r.value >= IntegrityMin && r.value <= IntegrityMax

    // Simulates the job's documented contract: pattern select,
    // integrity filter, cutoff (>= start on a backfill, >= the output's
    // max datetime on an incremental run), keep one row per
    // (tagid, datetime), append.
    var state = Map.empty[String, TagTruth]
    def apply(rs: Array[Reading], incremental: Boolean): Map[String, TagTruth] = {
      val cutoff =
        if (incremental) state.values.map(_.maxMs).max else StartMs
      val kept = rs.iterator
        .filter(r => matched(r.tagid) && valid(r) && r.t_stamp >= cutoff)
        .map(r => (r.tagid, r.t_stamp)).toSet
      val prev = if (incremental) state else Map.empty[String, TagTruth]
      state = kept.groupBy(k => pathOf(k._1)).foldLeft(prev) {
        case (acc, (path, keys)) =>
          val ts = keys.iterator.map(_._2).toSeq
          val add = TagTruth(keys.size.toLong, ts.min, ts.max)
          acc.updated(path, acc.get(path).fold(add)(o =>
            TagTruth(o.rows + add.rows, math.min(o.minMs, add.minMs),
              math.max(o.maxMs, add.maxMs))))
      }
      state
    }

    // The backfill also re-extracts the day before the start date,
    // which the cutoff must drop.
    val backfill = extract(StartMs - DayMs, StartMs + BackfillDays * DayMs)
    val runs = Seq.newBuilder[SensorRun]
    runs += SensorRun("backfill", backfill, incremental = false,
      apply(backfill, incremental = false))
    (0 until IncrementalDays).foreach { d =>
      val dayStart = StartMs + (BackfillDays + d) * DayMs
      val rs = extract(dayStart - OverlapSteps * StepMs, dayStart + DayMs)
      runs += SensorRun(s"day${d + 1}", rs, incremental = true,
        apply(rs, incremental = true))
    }
    require(stepsPerDay > OverlapSteps)
    SensorInputs(tags, Patterns, StartDate, runs.result(),
      fingerprint("sensor", seed, Sites, Lines, UnknownTags, StepMs,
        BackfillDays, IncrementalDays, OverlapSteps, PlantedPerTag))
  }

  // ---------------------------------------------------------------- corpora

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String)

  /** The documents table of the test data (sf0.1: 5,000 docs), as
    * `tools/gen_sf1.py` generates it and profiling confirmed: this
    * word vocabulary, 10 to 100 words a doc, 0.2% exact copies of an
    * earlier doc, 4.8% near copies (1 to 3 words dropped from or added
    * to the tail of an earlier doc), the rest novel; this language
    * mix and 20 sources.
    */
  object Corpus {
    val Vocab = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val MinWords = 10
    val MaxWords = 100
    val ExactShare = 0.002
    val NearShare = 0.048
    val Langs = IndexedSeq("en", "de", "es", "fr", "zh")
    val LangP = IndexedSeq(0.41, 0.1475, 0.1475, 0.1475, 0.1475)
    val Sources = 20
  }

  /** Stopwords of `Curator.curate`'s quality gate. */
  val Stopwords = Set("the", "a", "of", "and", "to", "in")
  /** Hashed feature space of the benchmark's quality model. */
  val WeightDim = 8192
  val SpamWeight = -200L

  private def feature(w: String): Int =
    java.lang.Math.floorMod(TextHash.polyHashStr(w), WeightDim.toLong).toInt

  /** Spam words of one seed, chosen so their hashed features collide
    * with no vocabulary word, which makes every document's quality
    * score exactly computable here.
    */
  final class Lexicon(seed: Long) {
    private val rng = new Rng(seed * 31 + 7)
    private def word(): String =
      (0 until rng.between(3, 9)).map(_ => ('a' + rng.int(26)).toChar).mkString
    private val used = Corpus.Vocab.map(feature).toSet
    val spam: IndexedSeq[String] = Iterator.continually(word())
      .filter(w => !Corpus.Vocab.contains(w) && !used(feature(w)))
      .distinct.take(8).toIndexedSeq
    val spamFeatures: Set[Int] = spam.map(feature).toSet

    /** `(feature, weight)` rows of the quality model. */
    def weights: Seq[(Long, Long)] = (0 until WeightDim).map(f =>
      (f.toLong, if (spamFeatures(f)) SpamWeight else 1L))

    /** The model's `score_pm`, computed as HashedLinear.scorePm does. */
    def scorePm(text: String): Long = {
      val toks = text.trim.toLowerCase.split("\\s+")
      val s = toks.map(t => if (spamFeatures(feature(t))) SpamWeight else 1L).sum
      s * 1000 / toks.length
    }
  }

  /** The quality predicate of `Curator.curate`, computed exactly. */
  def curatorQualityOk(text: String): Boolean = {
    val toks = text.trim.toLowerCase.split("\\s+")
    val n = toks.length.toLong
    val distinct = toks.distinct.length.toLong
    val stop = toks.count(Stopwords.contains).toLong
    distinct * 10000 / n > 3000 && stop * 10000 / n < 4000 && n >= 5 && n <= 10000
  }

  final class TextGen(lex: Lexicon, rng: Rng) {
    import Corpus._
    private def words(n: Int): Seq[String] = (0 until n).map(_ => rng.pick(Vocab))
    def novel(): String = words(rng.between(MinWords, MaxWords)).mkString(" ")
    /** Mostly spam words: scores far below the gate's threshold. */
    def spam(): String = {
      val pool = (0 until 6).map(_ => rng.pick(lex.spam)) ++ words(6)
      (0 until rng.between(MinWords, MaxWords)).map(_ => rng.pick(pool)).mkString(" ")
    }
    /** The profiled near copy: 1 to 3 words dropped from the tail when
      * the doc is long enough and a coin says so, else 1 to 3 added.
      */
    def nearCopy(text: String): String = {
      val ws = text.split(" ").toSeq
      val k = rng.between(1, 3)
      (if (rng.chance(0.5) && ws.length > k + 5) ws.dropRight(k) else ws ++ words(k))
        .mkString(" ")
    }
    def lang(): String = {
      var u = rng.double()
      val i = LangP.indexWhere { p => u -= p; u < 0 }
      Langs(if (i < 0) Langs.length - 1 else i)
    }
    def source(): String = s"src${rng.int(Sources)}"
  }

  // ---------------------------------------------------------------- gate

  object Gate {
    val Ingested = 1000
    val Batches = 24
    val BatchDocs = 150
    val FirstArrival = 1000000L
    /** Docs of each planted kind in every batch, at least: spam and
      * span copies do not occur in the profiled corpus, and its exact
      * share rounds to 0 in a batch, so these are planted at this
      * floor for the checks to have cases; near copies come at the
      * profiled 4.8%.
      */
    val Floor = 3
    val ThresholdPm = 0L
    val MaxCos = 0.95
    val MinNovelPm = 500L
  }

  /** One arrival batch and its planted exact copies of ingested docs. */
  final case class Arrivals(docs: IndexedSeq[Doc], exactCopies: Set[Long])

  final case class GateInputs(ingested: IndexedSeq[Doc],
      batches: IndexedSeq[Arrivals],
      warmBatch: Arrivals, weights: Seq[(Long, Long)],
      lowQuality: Set[Long], fingerprint: String)

  def gate(seed: Long): GateInputs = {
    import Gate._
    val lex = new Lexicon(seed)
    val rng = new Rng(seed * 31 + 13)
    val tg = new TextGen(lex, rng)
    // the ingested corpus is drawn as the profiled documents table is
    val ingested = (0 until Ingested).foldLeft(Vector.empty[Doc]) { (acc, i) =>
      val r = rng.double()
      val text =
        if (i > 10 && r < Corpus.ExactShare) rng.pick(acc).text
        else if (i > 10 && r < Corpus.ExactShare + Corpus.NearShare)
          tg.nearCopy(rng.pick(acc).text)
        else tg.novel()
      acc :+ Doc(i.toLong, text, tg.lang(), tg.source())
    }
    val spanSources = ingested.filter(_.text.split(" ").length >= 8)
    def arrivals(n: Int, firstId: Long): Arrivals = {
      val exact = Set.newBuilder[Long]
      // every batch carries the same planted counts, in a seeded order:
      // spam, exact copies, near copies, span copies; the rest novel
      val counts = Seq(Floor,
        math.max(Floor, (Corpus.ExactShare * n).round.toInt),
        math.max(Floor, (Corpus.NearShare * n).round.toInt), Floor)
      val kinds = (counts.zipWithIndex.flatMap { case (c, k) => Seq.fill(c)(k) } ++
        Seq.fill(n - counts.sum)(4)).toArray
      (kinds.length - 1 to 1 by -1).foreach { i =>
        val j = rng.int(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      }
      val docs = (0 until n).map { i =>
        val id = firstId + i
        val text = kinds(i) match {
          case 0 => tg.spam()
          case 1 => exact += id; rng.pick(ingested).text
          case 2 => tg.nearCopy(rng.pick(ingested).text)
          case 3 =>
            // whole width-8 spans lifted from several ingested docs
            (0 until rng.between(2, 12)).map { _ =>
              val ws = rng.pick(spanSources).text.split(" ")
              val k = rng.int(ws.length / 8)
              ws.slice(8 * k, 8 * k + 8).mkString(" ")
            }.mkString(" ")
          case _ => tg.novel()
        }
        Doc(id, text, tg.lang(), tg.source())
      }
      Arrivals(docs, exact.result())
    }
    val batches = (0 until Batches).map(b =>
      arrivals(BatchDocs, FirstArrival + b.toLong * BatchDocs))
    // gated by the warm-up, before the loop: full-size, so the loop's
    // first epoch is not the first over a batch of this size
    val warmBatch = arrivals(BatchDocs, 900000L)
    val lowQuality = (batches :+ warmBatch).flatMap(_.docs)
      .filter(d => lex.scorePm(d.text) < ThresholdPm).map(_.doc_id).toSet
    GateInputs(ingested, batches, warmBatch, lex.weights,
      lowQuality,
      fingerprint("gate", seed, Ingested, Batches, BatchDocs,
        Floor, Corpus.ExactShare, Corpus.NearShare))
  }
}
