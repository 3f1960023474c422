package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation (SURVEY §2.D14): the
  * composition an LLM data pipeline actually runs —
  *
  *  1. exact dedup: keep the smallest doc id per normalized content
  *     hash;
  *  2. near-dup removal: MinHash-LSH candidate pairs among the
  *     exact-dedup survivors, verified by exact shingle Jaccard;
  *     the larger id of each pair >= `jacPmThreshold` is dropped
  *     (greedy, deterministic);
  *  3. quality gate: lexical-diversity / stopword per-milles and a
  *     token-count range.
  *
  * Every stage is an equi-join on a derived key — the whole
  * pipeline is shuffle-bounded and scales with corpus size, not
  * pair count.
  *
  * Cache lifecycle: both [[curate]] and [[fates]] persist the
  * exact-dedup survivor frame because the PLAN they return reads it
  * (near-dup stage + final join) — they cannot unpersist it before
  * the caller materializes the result. Long-lived sessions running
  * many curation batches must call `spark.catalog.clearCache()`
  * between batches (the bench harness does; Verify runs one batch
  * per session).
  */
object Curator {

  def curate(spark: SparkSession, docs: DataFrame,
      jacPmThreshold: Int = 500,
      minTokens: Int = 5, maxTokens: Int = 10000,
      numPerms: Int = Dedup.AutoPerms): DataFrame = {
    // Resolve AutoPerms on the RAW input, not the survivor frame:
    // chooseBanding content-dedups within its sample, so both frames
    // resolve identically (GATE_SF1.md, "Curator at the 100× octave":
    // same per-width waste stats), but the raw frame's count is
    // metadata-only on a plain scan and its memo entry is SHARED
    // with d7/d13, which tune the same scan — one tuning pass per
    // session instead of one per derived frame.
    val np = Dedup.resolvePerms(docs, "doc_id", "text", 8, numPerms, 4, 512)
    // 1. exact dedup: keep the min-id row per content hash with a
    // window filter — one shuffle over the corpus, no agg+join pair.
    // Persisted: the survivors feed the near-dup candidate pipeline
    // AND the final anti-join — without this the content-hash window
    // would re-run per use. The cache lives until the caller's
    // clearCache (documented in the object scaladoc): the returned
    // plan still reads it, so curate cannot unpersist it eagerly.
    val uniqueDocs = docs
      .withColumn("content_hash", Dedup.contentHash(col("text")))
      .withColumn("__keep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("content_hash")))
      .filter(col("doc_id") === col("__keep"))
      .drop("content_hash", "__keep")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 2. near-dup drop among survivors (stage 1 already dedup'd —
    // skip minhashVerifiedPairs' internal prefilter)
    val nearDup = Dedup.minhashVerifiedPairs(uniqueDocs, "doc_id", "text",
        numPerms = np, prededup = false)
      .filter(col("jac_pm") >= jacPmThreshold)
      .select(col("d2").as("doc_id")).distinct()
    val deduped = uniqueDocs.join(nearDup, Seq("doc_id"), "left_anti")

    // 3. quality gate — NULL-predicate rows (e.g. null text) must be
    // dropped as low-quality, and [[fates]] must classify them the
    // same way: coalesce to false on BOTH paths, not just here.
    deduped
      .withColumn("ws_tokens", qualityTokens)
      .withColumn("n_distinct", qualityDistinct)
      .withColumn("n_stop", qualityStop)
      .filter(coalesce(qualityOk(minTokens, maxTokens), lit(false)))
      .select(col("doc_id"), col("lang"), col("ws_tokens"))
  }

  private def toks = split(trim(lower(col("text"))), "\\s+")
  private def qualityTokens = size(toks).cast("long")
  private def qualityDistinct = size(array_distinct(toks)).cast("long")
  private def qualityStop = size(filter(toks,
    t => t.isin(Seq("the", "a", "of", "and", "to", "in").map(lit(_)): _*)))
    .cast("long")
  private def qualityOk(minTokens: Int, maxTokens: Int) =
    expr("n_distinct * 10000 div ws_tokens") > 3000 &&
      expr("n_stop * 10000 div ws_tokens") < 4000 &&
      col("ws_tokens").between(minTokens, maxTokens)

  /** The FULL production curation DAG as one operator (SURVEY
    * §2.D47). LONG-LIVED SESSIONS: use [[fullCurateRun]] and call
    * `release()` after materializing — this handle-less overload
    * defers scratch cleanup to the JVM-exit sweep, so repeated calls
    * accumulate one narrow-corpus parquet copy on disk per call
    * until exit. The DAG is the ordering a crawl pipeline actually
    * runs, cheap passes first, with per-document fate attribution:
    *
    *  1. `norm_dup`     — d35 normalization dedup (md5 of the
    *                      case/punct/whitespace-canonicalized text,
    *                      min-id keeper);
    *  2. `span_dup`     — d39 span dedup over the norm survivors:
    *                      a document keeping fewer than
    *                      `minSpanKeepPm` per-mille of its width-8
    *                      spans is mostly duplicated content;
    *  3. `low_quality`  — d41 hashed-linear model gate
    *                      (caller-supplied weights, none bundled),
    *                      `score_pm < thresholdPm` drops (a NULL
    *                      score — empty text — drops here too, the
    *                      Curator coalesce rule);
    *  4. `mix_out`      — d40 equal-share source mixing over the
    *                      stage-3 survivors' token mass
    *                      (`budgetNumer/budgetDenom` of it),
    *                      selection by the d20 content-hash
    *                      per-mille;
    *  5. `kept`         — survivors, each also assigned its d45
    *                      curriculum stage (exact score quartiles
    *                      over the KEPT population; NULL for
    *                      non-kept rows).
    *
    * Output: `(id, fate, score_pm, stage)` — one row per input
    * document.
    *
    * Scale shape: the raw corpus text is read exactly twice, both
    * times inside BUILD-time staging jobs — scan 1 materializes the
    * pass-1 narrow projection (score, norm hash, mix per-mille: all
    * map-side column arithmetic plus the one norm-keeper window
    * shuffle) to a scratch parquet; scan 2 is the span stage, which
    * segments norm survivors (ids semi-joined from the STAGED frame,
    * never re-derived from text) and lands the joined narrow
    * per-doc frame (no text column) in the same scratch dir.
    * Everything downstream — the ≤ #sources rates collect, the
    * quartile-bound literals
    * ([[graft.sampling.Sampler.quartileStages]]), and the returned
    * fate plan — reads that staged artifact, so NO session-lifetime
    * cache exists (r13: replaces the persisted frame +
    * documented-clearCache convention). Lifecycle is mechanical:
    * [[fullCurateRun]] returns the frame behind a handle whose
    * `release()` deletes the scratch artifact once the caller has
    * materialized what it needs; this entry defers cleanup to the
    * [[graft.engine.Scratch]] JVM-exit sweep (the d37/d46 pattern
    * for lazily-consumed artifacts).
    */
  def fullCurate(docs: DataFrame, weights: DataFrame, dim: Int,
      id: String = "doc_id", text: String = "text",
      source: String = "source", thresholdPm: Long = 0L,
      minSpanKeepPm: Long = 500L, spanWidth: Int = 8,
      budgetNumer: Long = 1L, budgetDenom: Long = 2L,
      mixSalt: String = "curate"): DataFrame =
    fullCurateRun(docs, weights, dim, id, text, source, thresholdPm,
      minSpanKeepPm, spanWidth, budgetNumer, budgetDenom, mixSalt).result

  /** A staged curation result: `result` is the fate frame (lazy,
    * reading the scratch-staged narrow artifact); `release()` deletes
    * the artifact — call it after materializing `result` (acting on
    * the frame afterwards fails; hold the handle as long as the
    * frame). The mechanical replacement for the session-cache +
    * clearCache convention.
    */
  final class CurationRun private[dedup] (val result: DataFrame,
      scratchDir: String) {
    def release(): Unit = graft.engine.Scratch.delete(scratchDir)
  }

  /** [[fullCurate]] with an explicit artifact-lifecycle handle. */
  def fullCurateRun(docs: DataFrame, weights: DataFrame, dim: Int,
      id: String = "doc_id", text: String = "text",
      source: String = "source", thresholdPm: Long = 0L,
      minSpanKeepPm: Long = 500L, spanWidth: Int = 8,
      budgetNumer: Long = 1L, budgetDenom: Long = 2L,
      mixSalt: String = "curate"): CurationRun = {
    require(budgetNumer >= 0 && budgetDenom > 0,
      s"budget fraction must be >= 0 with a positive denominator, " +
        s"got $budgetNumer/$budgetDenom")
    val s = docs.sparkSession
    import s.implicits._
    val normed = trim(regexp_replace(
      regexp_replace(lower(col(text)), "[^a-z0-9\\s]", " "), "\\s+", " "))
    val flags = graft.functions.HashedLinear
      .scorePm(docs, weights, dim, id, text, thresholdPm,
        passthrough = Seq(source, text))
      .withColumn("norm_hash", md5(normed.cast("binary")))
      .withColumn("samp_pm", pmod(graft.functions.TextHash.poly_hash(
        concat(col(text), lit("|" + mixSalt))), lit(1000L)))
      .withColumn("__keeper", min(col(id)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("norm_hash")))
      .withColumn("norm_dup", col(id) =!= col("__keeper"))
      .drop(text, "norm_hash", "__keeper", "keep")
    // stage the pass-1 narrow frame: raw-text scan #1 happens HERE,
    // once — the span stage's survivor semi-join and every later
    // consumer read the parquet, not the text lineage (the pre-r13
    // persist version re-evaluated the flags subtree inside the
    // semi-join: three text scans, and a cache pinned for the
    // session)
    val scratch = graft.engine.Scratch.dir("graft_curate_")
    flags.write.parquet(s"$scratch/flags")
    val flagsP = s.read.parquet(s"$scratch/flags")
    // stage 2: span coverage of norm survivors — the second (and
    // last) read of the raw text, landed with the join so the
    // returned plan and both eager passes below never touch text
    flagsP.join(
        Dedup.spanDedup(
            docs.join(flagsP.filter(!col("norm_dup")).select(col(id)),
              Seq(id), "left_semi"),
            id, text, spanWidth)
          .select(col(id),
            expr(s"kept_spans * 1000 div n_spans").as("span_keep_pm")),
        Seq(id), "left")
      .write.parquet(s"$scratch/curated")
    val curated = s.read.parquet(s"$scratch/curated")
    val surv3 = curated.filter(!col("norm_dup") &&
      col("span_keep_pm") >= minSpanKeepPm &&
      col("score_pm") >= thresholdPm)
    // stage 4 rates: ≤ #sources rows — dim-class eager collect, the
    // d40 integer arithmetic verbatim
    val rateRows = surv3.groupBy(source)
      .agg(sum(col("n_tokens")).as("__toks")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val tot = rateRows.map(_._2).sum
    val ns = math.max(rateRows.length.toLong, 1L)
    val rates = rateRows.toSeq.map { case (src, toks) =>
      (src, math.min(1000L,
        tot * budgetNumer / (budgetDenom * ns) * 1000L / math.max(toks, 1L)))
    }.toDF(source, "rate_pm")
    val kept = surv3.join(broadcast(rates), Seq(source))
      .filter(col("samp_pm") < col("rate_pm"))
    // stage 5: d45 quartile staging over the kept population
    val staged = graft.sampling.Sampler
      .quartileStages(kept.select(col(id), col("score_pm")), id, "score_pm")
      .select(col(id), col("stage"))
    val fates = curated
      .join(broadcast(rates), Seq(source), "left")
      .join(staged, Seq(id), "left")
      .select(col(id),
        when(col("norm_dup"), "norm_dup")
          .when(col("span_keep_pm") < minSpanKeepPm, "span_dup")
          .when(!coalesce(col("score_pm") >= thresholdPm, lit(false)),
            "low_quality")
          .when(!(col("samp_pm") < col("rate_pm")), "mix_out")
          .otherwise("kept").as("fate"),
        col("score_pm"), col("stage"))
    new CurationRun(fates, scratch)
  }

  /** Curation observability: every document's fate — `kept`,
    * `exact_dup`, `near_dup`, or `low_quality` — with identical
    * stage semantics to [[curate]] (the `kept` count equals
    * curate's row count by construction), attributed in one pass
    * and aggregated per fate. This is the per-stage drop report a
    * production pipeline ships to its monitoring, as the same
    * shuffle-bounded plan shape as the curation itself.
    */
  def fates(spark: SparkSession, docs: DataFrame,
      jacPmThreshold: Int = 500,
      minTokens: Int = 5, maxTokens: Int = 10000,
      numPerms: Int = Dedup.AutoPerms): DataFrame = {
    // Used twice — as the near-dup stage's input (via uniqueDocs)
    // and as the fate join's left side. Without the persist the
    // content-hash window over the whole corpus runs twice.
    val flagged = docs
      .withColumn("content_hash", Dedup.contentHash(col("text")))
      .withColumn("__keep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("content_hash")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uniqueDocs = flagged.filter(col("doc_id") === col("__keep"))
      .drop("content_hash", "__keep")
    // Same raw-input banding resolution as [[curate]] — shares the
    // session memo entry with curate/d7/d13 rather than re-sampling
    // the flagged derived frame.
    val np = Dedup.resolvePerms(docs, "doc_id", "text", 8, numPerms, 4, 512)
    val nearDup = Dedup.minhashVerifiedPairs(uniqueDocs, "doc_id", "text",
        numPerms = np, prededup = false)
      .filter(col("jac_pm") >= jacPmThreshold)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("__near", lit(true))
    flagged
      .join(nearDup, Seq("doc_id"), "left")
      .withColumn("ws_tokens", qualityTokens)
      .withColumn("n_distinct", qualityDistinct)
      .withColumn("n_stop", qualityStop)
      .select(
        when(col("doc_id") =!= col("__keep"), "exact_dup")
          .when(col("__near"), "near_dup")
          // coalesce mirrors curate's filter: a NULL quality
          // predicate (null text) is a drop there, so it must be
          // low_quality here — otherwise the when-chain would fall
          // through to 'kept' and break kept == curate-count.
          .when(!coalesce(qualityOk(minTokens, maxTokens), lit(false)),
            "low_quality")
          .otherwise("kept").as("fate"))
      .groupBy("fate").agg(count(lit(1)).as("n"))
  }
}
