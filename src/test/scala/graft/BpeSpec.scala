package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Bpe

/** Merge-table-driven BPE (d38): the declarative replace-fold must
  * agree with a naive per-word Scala reference on randomized words
  * and randomized (progressively compounded) merge tables — the
  * all-merged normal form is unique for distinct-sided merges, so
  * token SEQUENCES (not just counts) must match exactly.
  */
class BpeSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Canonical reference: merges in rank order; each merge replaces
    * adjacent pairs left-to-right, repeated to fixpoint (equivalent
    * to merge-every-occurrence, since distinct sides make
    * occurrences disjoint).
    */
  private def applyMerge(syms: Vector[String], l: String,
      r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def naive(word: String, merges: Seq[(String, String)],
      cap: Int = Bpe.WordCapDefault): Vector[String] =
    merges.foldLeft(word.take(cap).map(_.toString).toVector) {
      case (s, (l, r)) =>
        var cur = s
        var nxt = applyMerge(cur, l, r)
        while (nxt != cur) { cur = nxt; nxt = applyMerge(cur, l, r) }
        nxt
    }

  private def sparkTokens(words: Seq[String],
      merges: Seq[(String, String)]): Map[String, Vector[String]] = {
    import spark.implicits._
    val df = words.toDF("text")
      .select(col("text"), Bpe.encodeDelimited(col("text"), merges).as("enc"))
    df.collect().map { r =>
      val enc = r.getSeq[String](1)
      assert(enc.length == 1, s"one word must stay one word: $enc")
      (r.getString(0),
        enc.head.split('|').filter(_.nonEmpty).toVector)
    }.toMap
  }

  test("replace-fold equals naive reference on random words and vocabs") {
    val rnd = new scala.util.Random(4711)
    val alphabet = Vector("a", "b", "c", "0")
    for (round <- 1 to 5) {
      // progressively compounded merge table, real-vocab style: later
      // merges reference earlier merged symbols
      var pool = alphabet
      val merges = (0 until 12).flatMap { _ =>
        val l = pool(rnd.nextInt(pool.size))
        val r = pool(rnd.nextInt(pool.size))
        if (l == r || (l + r).length > 6) None
        else { pool = pool :+ (l + r); Some((l, r)) }
      }
      // words biased toward long same-ish runs and merge-heavy chains
      val words = (1 to 40).map { _ =>
        val len = 1 + rnd.nextInt(if (rnd.nextBoolean()) 20 else 300)
        (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
      }.distinct
      val got = sparkTokens(words, merges)
      for (w <- words) {
        assert(got(w) == naive(w, merges),
          s"round=$round merges=$merges word=<$w>")
      }
      // the native kernel (r12 hot path) must count the identical
      // normal form the fold produces
      import spark.implicits._
      val kc = words.toDF("text")
        .select(col("text"), Bpe.bpe_token_count(
          regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)),
          merges).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for (w <- words) {
        assert(kc(w) == naive(w, merges).length.toLong,
          s"kernel != naive: round=$round merges=$merges word=<$w>")
      }
    }
  }

  test("kernel honors strict rank order on adversarial tables (low rank enabled by high rank)") {
    // (ab, c) at rank 0 is only matchable AFTER (a, b) at rank 1 has
    // fired — by then its turn has passed, so neither the fold nor
    // the kernel may apply it: "abc" must end as [ab, c], not [abc].
    val merges = Seq(("ab", "c"), ("a", "b"))
    assert(naive("abc", merges) == Vector("ab", "c"))
    assert(sparkTokens(Seq("abc"), merges)("abc") == Vector("ab", "c"))
    import spark.implicits._
    val n = Seq("abc").toDF("text")
      .select(Bpe.bpe_token_count(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)),
        merges).as("n")).head().getLong(0)
    assert(n == 2L, "kernel must not revisit a passed rank")
  }

  /** Deterministic WELL-FORMED merge table of `m` merges over
    * [a-z0-9]: breadth-first pairing of already-formable symbols
    * with single characters (the chained shape of a trained vocab),
    * so early merges are short pairs that actually fire on real
    * text. Distinct sides by construction.
    */
  private def syntheticMerges(m: Int): Seq[(String, String)] = {
    val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    val formed = scala.collection.mutable.ArrayBuffer[String](chars: _*)
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var i = 0
    while (out.length < m) {
      val l = formed(i)
      chars.foreach { r =>
        if (out.length < m && l != r) {
          out += ((l, r))
          formed += (l + r)
        }
      }
      i += 1
    }
    out.toSeq
  }

  test("kernel octave sanity: large merge tables stay cheap and agree with the fold at small scale") {
    // The fold costs O(merges × Passes) scans per word whether or
    // not a merge fires; the kernel is vocab-size independent. At 1k
    // synthetic merges both still run here — they must agree — and
    // the kernel at 32k merges must stay interactive (the fold at
    // 32k is minutes-per-1000-docs territory and is not exercised;
    // GATE_SF1.md's "BpeScale: the d38 vocab-octave table" carries
    // the measurements).
    import spark.implicits._
    val docs = (1 to 200).map(i =>
      (i.toLong, s"the quick brown fox jumps over lazy dog$i " * 4))
      .toDF("doc_id", "text")
    val mergesDf1k = syntheticMerges(1000).zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
    val a = Bpe.tokenCount(docs, mergesDf1k, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val fold = docs.select(col("doc_id"),
      Bpe.encodeDelimited(col("text"), syntheticMerges(1000)).as("enc"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[String](1).map(e =>
          e.split('|').count(_.nonEmpty).toLong).sum
      }.toMap
    assert(a == fold, "kernel and fold disagree at 1k merges")
    // smoke only: the 32k-merge kernel run must COMPLETE (the fold
    // extrapolates to minutes here). No wall-clock assertion — that
    // measured machine speed, not correctness, and flaked on loaded
    // hosts; GATE_SF1.md's "BpeScale: the d38 vocab-octave table"
    // carries the measurements.
    val merges32k = syntheticMerges(32000).zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
    val rows32k = Bpe.tokenCount(docs, merges32k, "doc_id", "text").count()
    assert(rows32k == 200L)
  }

  test("kernel skips null word-array elements instead of NPEing") {
    import spark.implicits._
    val merges = Seq((0L, "a", "b")).toDF("rank", "left", "right")
    val mergePairs = Bpe.collectMerges(merges)
    val n = Seq(Tuple1(Seq[String]("ab", null, "c"))).toDF("ws")
      .select(Bpe.bpe_token_count(col("ws"), mergePairs).as("n"))
      .head().getLong(0)
    // "ab" merges to 1 token, null contributes nothing, "c" is 1
    assert(n == 2L)
  }

  test("tokenCount: counts, word caps, empty and no-word docs") {
    import spark.implicits._
    val merges = Seq((0L, "a", "b"), (1L, "ab", "c")).toDF("rank", "left", "right")
    val docs = Seq(
      (1L, "abc abc xyz"),       // abc -> 1 token each, xyz -> 3
      (2L, "ABC, a-b!c"),        // case-folded; punctuation splits words
      (3L, "!!! ..."),           // no [a-z0-9] words at all
      (4L, ""),                  // empty text
      (5L, "a" * 600)            // capped at 256 symbols, no merges fire
    ).toDF("doc_id", "text")
    val out = Bpe.tokenCount(docs, merges, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, 5L)))      // 1 + 1 + 3
    // "abc" merges to 1; "a" 1; "b" 1; "c" 1
    assert(out(2L) == ((4L, 4L)))
    assert(out(3L) == ((0L, 0L)))
    assert(out(4L) == ((0L, 0L)))
    assert(out(5L) == ((1L, 256L)))
  }

  test("same-symbol merges are rejected (order-sensitive pairing)") {
    import spark.implicits._
    val merges = Seq((0L, "a", "a")).toDF("rank", "left", "right")
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Bpe.tokenCount(docs, merges, "doc_id", "text").collect()
    }
  }

  test("rank order matters and is honored") {
    import spark.implicits._
    // (b,c) first starves (a,b): "abc" -> a + bc; reversed ranks give
    // ab + c
    val m1 = Seq((0L, "b", "c"), (1L, "a", "b")).toDF("rank", "left", "right")
    val m2 = Seq((0L, "a", "b"), (1L, "b", "c")).toDF("rank", "left", "right")
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val t1 = Bpe.tokenCount(docs, m1, "doc_id", "text").head().getLong(2)
    val t2 = Bpe.tokenCount(docs, m2, "doc_id", "text").head().getLong(2)
    assert(t1 == 2L && t2 == 2L)
    val e1 = docs.select(Bpe.encodeDelimited(col("text"),
      Bpe.collectMerges(m1)).as("e")).head().getSeq[String](0).head
    val e2 = docs.select(Bpe.encodeDelimited(col("text"),
      Bpe.collectMerges(m2)).as("e")).head().getSeq[String](0).head
    assert(e1 == "|a|bc|")
    assert(e2 == "|ab|c|")
  }

  // ---- training (d56) -----------------------------------------------

  private def trainOn(texts: Seq[String], numMerges: Int = 8) = {
    import spark.implicits._
    Bpe.train(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"), "text", numMerges)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  test("train: frequency argmax, multi-char symbol formation, early stop") {
    // freq(ab)=3, freq(cd)=2: rank 0 = (a,b,3); then "ab" is one
    // symbol and (c,d,2) follows; then no pairs remain -> early stop
    // at 2 of the 8 requested merges.
    val got = trainOn(Seq("ab ab", "ab cd", "cd"))
    assert(got == Seq((0L, "a", "b", 3L), (1L, "c", "d", 2L)), got.toString)
  }

  test("train: a learned merge chains into later rounds ('ab' + 'c')") {
    val got = trainOn(Seq("abc abc"))
    // round 1: (a,b)=2 ties (b,c)=2, lexicographic pick (a,b);
    // round 2: the FORMED symbol pairs (ab,c)=2.
    assert(got == Seq((0L, "a", "b", 2L), (1L, "ab", "c", 2L)), got.toString)
  }

  test("train: same-symbol pairs are never candidates (apply-contract consistency)") {
    // "aaaa" is wall-to-wall (a,a) pairs; only (b,c) is learnable.
    val got = trainOn(Seq("aaaa aaaa aaaa bc"))
    assert(got == Seq((0L, "b", "c", 1L)), got.toString)
  }

  test("train: weights are WORD-frequency sums, pre-tokenized like tokenCount") {
    // "Ab-ab!" lowercases and splits to two 'ab' words: freq(a,b)=4.
    val got = trainOn(Seq("Ab-ab!", "ab AB"))
    assert(got.head == ((0L, "a", "b", 4L)), got.toString)
  }

  test("train: learned table round-trips through tokenCount") {
    import spark.implicits._
    val docs = Seq((1L, "river rider"), (2L, "river river raid"))
      .toDF("doc_id", "text")
    val table = Bpe.train(docs, "text", numMerges = 6)
    // every learned merge is valid under the apply contract
    // (distinct-sided, [a-z0-9]+), so tokenCount must accept the
    // table as-is and counts must only SHRINK vs character count
    val counts = Bpe.tokenCount(docs, table, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(counts(1L)._2 < 10L && counts(1L)._2 >= 2L, counts.toString)
    assert(counts(2L)._2 < 15L && counts(2L)._2 >= 3L, counts.toString)
  }

  test("train: empty and no-word corpora return an empty table, not a crash") {
    assert(trainOn(Seq("", "!!! ???")).isEmpty)
  }
}
