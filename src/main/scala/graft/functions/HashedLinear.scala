package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Hashed-feature linear document scorer (SURVEY §2.D — the
  * model-based quality-filter stage of a curation pipeline).
  *
  * Production corpora gate documents on a learned quality classifier
  * (a fastText-style linear model over hashed token features — the
  * CCNet / LLaMA / RefinedWeb recipe). The learned weights are an
  * input, not something this library ships: the caller supplies a
  * `(feature BIGINT, weight BIGINT)` table over a fixed hashed
  * feature space of size `dim`, and the operator scores each
  * document as the sum of the weights of its token features,
  * reported per-token as an exact integer per-mille.
  *
  * Semantics (pinned, deterministic):
  *   - tokens: whitespace split of `lower(trim(text))` — the d2/d3
  *     token unit
  *   - feature of a token: `poly_hash(token) mod dim` (the shared
  *     [[TextHash]] arithmetic, so the oracle can reproduce it)
  *   - score: sum over token OCCURRENCES (not distinct tokens —
  *     fastText averages occurrence embeddings) of the feature's
  *     weight, missing features weighing 0
  *   - `score_pm = score * 1000 div n_tokens`; integer `div`
  *     truncates toward zero identically in Spark and DuckDB, so
  *     negative scores stay engine-stable
  *   - `keep = score_pm >= thresholdPm`
  *
  * Execution shape: the weight table is collected once on the driver
  * (`dim` rows — a model is dim-table sized, the same class of
  * collect as [[Bpe]]'s merge table) and baked into the plan as ONE
  * dense `array<long>` literal; scoring is then
  * `aggregate(transform(tokens, element_at(weights, hash+1)))` —
  * pure codegen'd column arithmetic, zero shuffle, no UDFs and no
  * per-token join. The explode+join formulation this replaces would
  * shuffle one row per token occurrence; here the corpus is read
  * once and never leaves its input partitioning.
  */
object HashedLinear {

  /** Score `docs` with the supplied weight table. `weights` must
    * have `(feature, weight)` integer columns with
    * `0 <= feature < dim`; duplicate feature rows are rejected.
    * Output: `(id, passthrough..., n_tokens, score_pm, keep)` —
    * `passthrough` names extra input columns to carry along (e.g.
    * `source` for a per-source gate roll-up), kept in the same
    * zero-shuffle projection.
    */
  def scorePm(docs: DataFrame, weights: DataFrame, dim: Int,
      id: String, text: String, thresholdPm: Long = 0L,
      passthrough: Seq[String] = Nil): DataFrame =
    scoreWith(docs, denseWeights(weights, dim), dim, id, text,
      thresholdPm, passthrough)

  /** The weight table as [[scorePm]]'s dense `array<long>` literal —
    * the one collect of the scorer. Callers that score many batches
    * with one model build it once and pass it to [[scoreWith]].
    */
  private[graft] def denseWeights(weights: DataFrame, dim: Int): Column = {
    require(dim >= 1, s"feature dim must be >= 1, got $dim")
    val dense = new Array[Long](dim)
    val seen = new java.util.BitSet(dim)
    weights.select(col("feature").cast("long"), col("weight").cast("long"))
      .collect().foreach { case Row(f: Long, w: Long) =>
        require(f >= 0 && f < dim, s"feature $f outside [0, $dim)")
        require(!seen.get(f.toInt), s"duplicate weight row for feature $f")
        seen.set(f.toInt)
        dense(f.toInt) = w
      }
    typedLit(dense.toSeq)
  }

  /** [[scorePm]] over a literal built by [[denseWeights]] for `dim`. */
  private[graft] def scoreWith(docs: DataFrame, wLit: Column, dim: Int,
      id: String, text: String, thresholdPm: Long,
      passthrough: Seq[String]): DataFrame = {
    val toks = split(trim(lower(col(text))), "\\s+")
    val carry = passthrough.map(col)
    docs
      .select((col(id) +: carry) ++ Seq(
        size(toks).cast("long").as("n_tokens"),
        aggregate(
          transform(toks, t => element_at(wLit,
            (pmod(TextHash.poly_hash(t), lit(dim.toLong)) + 1).cast("int"))),
          lit(0L), (acc, w) => acc + w).as("__score")): _*)
      .select((col(id) +: carry) ++ Seq(col("n_tokens"),
        expr("__score * 1000 div n_tokens").as("score_pm")): _*)
      .withColumn("keep", col("score_pm") >= thresholdPm)
  }
}
