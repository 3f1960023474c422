package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashEmbed
import graft.similarity.Similarity

/** Ground-truth admission recall of the c26 gate on planted
  * near-duplicates, under the deployed sizing policy
  * (`kc = Similarity.sqrtKc(n)`, `nprobe = adaptiveNprobe(kc)`).
  * GATE_SF1.md's "AdmissionScale: the c26 recall/scale table" holds
  * the octave measurements taken with this harness.
  *
  * Corpus: deterministic 30-token texts over a 5000-word vocabulary
  * (xxhash64-derived — no RNG state). Arrivals are `nDup` PLANTED
  * near-dups (an ingested doc's text plus one appended token, cosine
  * ≈ 0.99 against its source) then `nFresh` fresh documents. A
  * near-dup is CAUGHT when the gate rejects it; a fresh arrival is
  * admitted unless rejected.
  */
object AdmissionRecall {

  final case class Result(kc: Int, nprobe: Int, caught: Long,
      admitted: Long)

  /** Deterministic text for a seed id; `salt` partitions the
    * generator into independent streams (ingested vs fresh texts).
    */
  private def docText(seed: Column, salt: Int): Column =
    concat_ws(" ", (0 until 30).map(j =>
      concat(lit("w"), pmod(xxhash64(seed, lit(j), lit(salt)),
        lit(5000L)))): _*)

  /** The ingested corpus: `(doc_id, text)`, ids `[0, n)`. */
  private def ingested(s: SparkSession, n: Long): DataFrame =
    s.range(0L, n, 1L, 32).select(col("id").as("doc_id"),
      docText(col("id"), salt = 0).as("text"))

  /** Arrival batch: `nDup` planted near-dups (source doc
    * `doc_id mod n`, text + one appended token) then `nFresh` fresh
    * docs; arrival ids start at `n`.
    */
  private def arrivals(s: SparkSession, n: Long, nDup: Int,
      nFresh: Int): DataFrame = {
    val dups = s.range(n, n + nDup).select(col("id").as("doc_id"),
      concat(docText(pmod(col("id"), lit(n)), salt = 0), lit(" zz"))
        .as("text"), lit(true).as("is_dup"))
    val fresh = s.range(n + nDup, n + nDup + nFresh)
      .select(col("id").as("doc_id"), docText(col("id"), salt = 7)
        .as("text"), lit(false).as("is_dup"))
    dups.unionByName(fresh)
  }

  /** One admission cycle: build the IVF index over `n` ingested docs,
    * probe the arrivals, and count rejections per arrival kind.
    * `nprobeOverride > 0` replaces the adaptive probe budget.
    */
  def run(s: SparkSession, n: Long, nDup: Int, nFresh: Int,
      nprobeOverride: Int = 0): Result = {
    val idx = graft.engine.Scratch.dir("graft_admrecall_")
    try {
      def embed(df: DataFrame) = HashEmbed.embed(df, "doc_id", "text", 16)
        .select(col("doc_id"), col("emb").as("ev"))
      val kc = Similarity.sqrtKc(n)
      val np = if (nprobeOverride > 0) nprobeOverride
        else Similarity.adaptiveNprobe(kc)
      Similarity.buildIvfIndex(embed(ingested(s, n)), "doc_id", "ev", idx,
        kCentroids = kc)
      val arr = arrivals(s, n, nDup, nFresh)
      val rejected = Similarity
        .litIndexCandidates(s, embed(arr), idx, "doc_id", "ev", nprobe = np)
        .groupBy("doc_id")
        .agg(max(col("cos")).as("max_cos"))
        .filter(col("max_cos") >= 0.95)
        .join(arr.select(col("doc_id"), col("is_dup")), "doc_id")
        .groupBy("is_dup").count()
        .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      Result(kc, np, caught = rejected.getOrElse(true, 0L),
        admitted = nFresh - rejected.getOrElse(false, 0L))
    } finally graft.engine.Scratch.delete(idx)
  }
}
