package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Merge-table-driven byte-pair encoding (SURVEY §2.D — the
  * tokenizer-faithful upgrade of d2's whitespace/regex proxy).
  *
  * Real training pipelines budget documents by TOKENIZER tokens, not
  * whitespace words — sequence packing (d26), context-length
  * filtering, and cost estimates all shift when "token" means what
  * the model's tokenizer would produce. This operator implements the
  * public BPE algorithm (Sennrich et al. 2016) parameterized by a
  * caller-supplied merge table — no vocabulary ships with the
  * library; the semantics are defined entirely by the input table,
  * and a tiny test vocab exercises them in the catalog.
  *
  * Semantics (pinned, deterministic):
  *   - pre-tokenize: lowercase, words = maximal `[a-z0-9]+` runs,
  *     each word truncated to `wordCap` chars (real tokenizers also
  *     cap pathological words); everything else is a boundary and
  *     contributes no tokens
  *   - initial symbols: single characters
  *   - merges apply in rank order; each merge replaces EVERY
  *     adjacent (left, right) symbol pair before the next rank
  *     proceeds, and a merge never reaches across a word boundary.
  *     `left != right` is required (validated): with distinct sides
  *     occurrences are provably disjoint and merging them is
  *     order-independent, so "replace every occurrence" is a unique
  *     normal form — the canonical Sennrich semantics. A same-symbol
  *     merge (e.g. (a,a) over a run "aaaa") has order-SENSITIVE
  *     pairing that a declarative fold cannot pin down, so it is
  *     rejected rather than silently mis-paired.
  *
  * Scope of the "canonical" claim: this repo's semantics — each rank
  * visited once, in table order, to its fixpoint — coincide with
  * greedy lowest-matchable-rank-first BPE apply on LEARNED merge
  * tables, because a table produced by BPE training orders merges
  * consistently (a merge producing symbol `lr` always outranks every
  * merge consuming `lr`, so no lower rank first becomes matchable
  * after a higher one fires). On HAND-MADE adversarial tables that
  * violate this ordering, greedy apply CAN revisit a low rank whose
  * turn has passed here; both the fold and the kernel deliberately
  * leave it un-applied (rank order is a single forward pass), and
  * BpeSpec pins that deviation explicitly. "Canonical Sennrich"
  * therefore means: exact greedy-BPE token counts on any learned
  * table, and a well-defined deterministic extension on arbitrary
  * ones.
  *
  * Execution shape — the whole computation is codegen'd Column
  * arithmetic, no UDFs and no custom expressions: a word travels as
  * a `|`-delimited symbol string (`"|t|a|b|"`; safe because the
  * alphabet is `[a-z0-9]`), one merge pass is a single
  * non-overlapping left-to-right `replace("|l|r|" -> "|lr|")`, and
  * the rank-ordered fixpoint loop is `aggregate` over a constant
  * merge array with each merge repeated [[Passes]] times. One
  * replace pass cannot merge back-to-back occurrences (the shared
  * delimiter is consumed), but it removes >= 1/3 of remaining
  * occurrences, so [[Passes]] >= log_1.5(wordCap) passes reach the
  * per-merge fixpoint — BpeSpec property-checks this bound against a
  * naive Scala reference. Per row the cost is
  * O(words x merges x Passes) string scans with zero shuffle; the
  * merge table is collected once on the driver (a tokenizer vocab is
  * dim-table sized — 10k-100k rows — the same class of collect as a
  * broadcast dim) and baked into the plan as a literal.
  */
object Bpe {

  /** Per-merge replace passes baked into the fold: reaches the
    * all-merged normal form for any word up to [[WordCapDefault]]
    * symbols (class doc; 20 > log2(256) with margin).
    */
  val Passes = 20

  val WordCapDefault = 256

  /** `|`-delimited single-character symbol string of a word:
    * "tab" -> "|t|a|b|". */
  def delimit(word: Column): Column =
    concat(lit("|"), regexp_replace(word, "(.)", "$1|"))

  /** The constant (search, replace) fold array for a rank-ordered
    * merge list: each merge expanded to [[Passes]] consecutive
    * passes, merge-major (all passes of rank 0, then rank 1, ...).
    */
  private def mergeLit(merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty && l != r && (l + r).matches("[a-z0-9]+")
    }, "merge sides must be non-empty, distinct [a-z0-9]+ strings " +
      "(same-symbol merges have order-sensitive pairing — see scaladoc)")
    typedLit(merges.flatMap { case (l, r) =>
      Seq.fill(Passes)((s"|$l|$r|", s"|$l$r|"))
    })
  }

  /** Per-document token accounting under a caller-supplied merge
    * table (`rank`, `left`, `right` columns; rank defines merge
    * order): (id, n_words, n_tokens). The merge table is collected
    * to the driver (vocab-sized by contract) and ships as ONE
    * reference object inside the native [[BpeTokenCount]] kernel —
    * executors never shuffle or join it.
    *
    * r12: the kernel replaced the replace-fold in this hot path. The
    * fold's cost is O(words × merges × Passes) string scans per row
    * REGARDLESS of which merges fire — at a real tokenizer's 32k
    * merges that is 640k scans per word (measured ~minutes per 1k
    * docs; GATE_SF1.md's "BpeScale: the d38 vocab-octave table"
    * carries the octaves). The kernel's
    * rank-cursor scan costs O(L²) pair lookups per word (L =
    * wordCap), INDEPENDENT of vocab size, and is proven equivalent
    * to the fold on every table — including adversarial rank orders
    * — in BpeSpec's randomized cross-validation.
    * [[encodeDelimited]] keeps the declarative fold as the
    * test/debug twin.
    */
  def tokenCount(docs: DataFrame, merges: DataFrame, id: String,
      text: String, wordCap: Int = WordCapDefault): DataFrame = {
    val ms = collectMerges(merges)
    docs
      .select(col(id),
        regexp_extract_all(lower(col(text)), lit("[a-z0-9]+"), lit(0))
          .as("__words"))
      .select(col(id),
        size(col("__words")).cast("long").as("n_words"),
        bpe_token_count(col("__words"), ms, wordCap).as("n_tokens"))
  }

  /** Column face of [[BpeTokenCount]] (validates the merge table
    * like the fold does).
    */
  def bpe_token_count(words: Column, merges: Seq[(String, String)],
      wordCap: Int = WordCapDefault): Column = {
    require(merges.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty && l != r && (l + r).matches("[a-z0-9]+")
    }, "merge sides must be non-empty, distinct [a-z0-9]+ strings " +
      "(same-symbol merges have order-sensitive pairing — see scaladoc)")
    org.apache.spark.sql.graftshims.SparkShims.column(
      BpeTokenCount(
        org.apache.spark.sql.graftshims.SparkShims.expression(words),
        merges.toIndexedSeq, wordCap))
  }

  /** The rank-ordered (left, right) merge list of a merge table. */
  def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges.select("rank", "left", "right").collect()
      .sortBy(_.getAs[Number]("rank").longValue())
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
      .toSeq

  /** BPE TRAINING (Sennrich et al. 2016 §3.2): learn `numMerges`
    * merges from the corpus itself — the other half of the tokenizer
    * story (d38/[[tokenCount]] APPLY a given table; this produces
    * one). Per round: count adjacent symbol pairs over the corpus
    * (weighted by word frequency), pick the most frequent, merge it
    * everywhere, repeat. Output: (rank, left, right, pair_n) — the
    * learned merge table, directly feedable to [[tokenCount]].
    *
    * Semantics (pinned, deterministic):
    *   - pre-tokenize/wordCap/delimiting exactly as [[tokenCount]]
    *   - candidate pairs are DISTINCT-sided only (l != r) — the
    *     library's apply contract rejects same-symbol merges as
    *     order-sensitive (class doc), so training never learns one;
    *     with distinct sides, adjacent occurrences are provably
    *     disjoint and the pair count is the plain adjacent-index
    *     count
    *   - argmax tie-break: highest count, then (left, right)
    *     lexicographic — total order, no randomness
    *   - a learned table is automatically "consistently ordered" in
    *     the class-doc sense (a merge producing `lr` is learned
    *     before any merge consuming `lr` can exist), so greedy apply
    *     == rank-order apply on everything this returns
    *   - fewer than `numMerges` learnable pairs (tiny corpora) stops
    *     early and returns the rounds that exist
    *
    * Scale shape: the corpus is scanned ONCE into a distinct-word
    * frequency frame (the classic BPE-training reduction — pair
    * statistics are identical on (word, freq) and the frame is
    * corpus-VOCABULARY-sized, orders of magnitude below the corpus);
    * that frame persists for the loop, and each round is one
    * partial-agg pair count over it plus a ONE-ROW argmax collect
    * (dim-class, like a centroid collect). The merge is applied
    * lazily as a [[Passes]]-pass replace fold stacked on the frame —
    * at numMerges rounds the round-i count re-evaluates i·Passes
    * replaces per VOCAB row, trivial beside the corpus scan it
    * replaced. Nothing corpus-sized is ever collected or re-read.
    */
  def train(docs: DataFrame, text: String, numMerges: Int = 8,
      wordCap: Int = WordCapDefault): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs
      .select(explode(
        regexp_extract_all(lower(col(text)), lit("[a-z0-9]+"), lit(0)))
        .as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__freq"))
      .select(delimit(substring(col("__w"), 1, wordCap)).as("__st"),
        col("__freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val learned = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    try {
      var state = vocab.select(col("__st"), col("__freq"))
      var rank = 0L
      var exhausted = false
      while (rank < numMerges && !exhausted) {
        val top = state
          .select(col("__freq"),
            filter(split(col("__st"), "\\|"), s => s =!= "").as("__sy"))
          .filter(size(col("__sy")) >= 2)
          .select(col("__freq"), explode(transform(
            sequence(lit(1), size(col("__sy")) - 1),
            i => struct(
              element_at(col("__sy"), i).as("l"),
              element_at(col("__sy"), i + 1).as("r")))).as("__p"))
          .select(col("__p.l").as("l"), col("__p.r").as("r"), col("__freq"))
          .filter(col("l") =!= col("r"))
          .groupBy("l", "r").agg(sum("__freq").as("n"))
          .orderBy(desc("n"), asc("l"), asc("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, n) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          learned += ((rank, l, r, n))
          val (pat, rep) = (s"|$l|$r|", s"|$l$r|")
          state = state.withColumn("__st",
            (1 to Passes).foldLeft(col("__st"))((c, _) =>
              replace(c, lit(pat), lit(rep))))
          rank += 1
        }
      }
    } finally vocab.unpersist()
    learned.toSeq.toDF("rank", "left", "right", "pair_n")
  }

  /** The BPE symbol sequence per word (test/debug surface — the
    * catalog path only needs counts): array over words of the
    * folded delimited string.
    */
  def encodeDelimited(text: Column, merges: Seq[(String, String)],
      wordCap: Int = WordCapDefault): Column = {
    val ml = mergeLit(merges)
    val words = regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))
    transform(words, w => aggregate(ml, delimit(substring(w, 1, wordCap)),
      (acc, m) => replace(acc, m("_1"), m("_2"))))
  }
}

/** Native BPE token-count kernel: per row, sum of per-word token
  * counts of an `array<string>` word column under a fixed merge
  * table (reference object — the [[HashedProjection]] shipping
  * pattern).
  *
  * Algorithm (rank-cursor scan — PROVABLY the replace-fold's
  * semantics): maintain the word as a symbol array and a rank
  * cursor; repeatedly find the minimal-rank adjacent pair at or
  * above the cursor, merge every occurrence in one left-to-right
  * scan, and advance the cursor past that rank. One scan reaches the
  * per-rank fixpoint because a distinct-sided merge never creates a
  * new occurrence of itself (`lr` differs from both `l` and `r`),
  * and new adjacencies only ever involve the freshly created symbol
  * — so the sequence of (rank, fixpoint) applications is exactly the
  * rank-ordered sequence the fold executes, skipped ranks being
  * absent in the identical intermediate state in both. Holds for ANY
  * table, including adversarial rank orders where a low-rank merge
  * only becomes matchable after a high-rank one (both formulations
  * leave it un-applied: its turn has passed). BpeSpec cross-validates
  * kernel vs fold vs a naive reference on randomized tables.
  *
  * Cost: O(L) rank-map lookups per applied merge, ≤ L merges, so
  * O(L²) with L = `wordCap` — independent of merge-table size, where
  * the fold pays O(merges × Passes) full-string scans per word
  * whether or not a merge fires.
  */
case class BpeTokenCount(child: Expression,
    merges: IndexedSeq[(String, String)], wordCap: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  // (left -> right -> position-in-rank-order); duplicate pairs keep
  // their first (lowest) position, exactly as the fold's first pass
  // consumes them
  @transient private lazy val rankOf:
      java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    var i = 0
    while (i < merges.length) {
      val (l, r) = merges(i)
      val inner = m.computeIfAbsent(l,
        _ => new java.util.HashMap[String, Integer]())
      if (!inner.containsKey(r)) inner.put(r, Integer.valueOf(i))
      i += 1
    }
    m
  }

  private def countWord(w0: String): Int = {
    val w = if (w0.length > wordCap) w0.substring(0, wordCap) else w0
    var n = w.length
    if (n <= 1) return n
    val syms = new Array[String](n)
    var i = 0
    while (i < n) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var cursor = 0
    while (n > 1) {
      var best = Int.MaxValue
      i = 0
      while (i < n - 1) {
        val inner = rankOf.get(syms(i))
        if (inner != null) {
          val r = inner.get(syms(i + 1))
          if (r != null && r.intValue() >= cursor && r.intValue() < best)
            best = r.intValue()
        }
        i += 1
      }
      if (best == Int.MaxValue) return n
      val (l, r) = merges(best)
      val lr = l + r
      var src = 0
      var dst = 0
      while (src < n) {
        if (src + 1 < n && syms(src) == l && syms(src + 1) == r) {
          syms(dst) = lr; src += 2
        } else { syms(dst) = syms(src); src += 1 }
        dst += 1
      }
      n = dst
      cursor = best + 1
    }
    n
  }

  def compute(words: ArrayData): Long = {
    var total = 0L
    var i = 0
    val n = words.numElements()
    while (i < n) {
      // null elements contribute nothing (the fold twin null-
      // propagates through aggregate; tokenCount's regexp_extract_all
      // never yields them, but bpe_token_count is a public Column API
      // and a caller-built array may carry nulls — skip, don't NPE)
      if (!words.isNullAt(i))
        total += countWord(words.getUTF8String(i).toString)
      i += 1
    }
    total
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeTokenCount", this,
      classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): BpeTokenCount =
    copy(child = c)
}
