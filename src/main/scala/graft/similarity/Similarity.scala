package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.engine.IndexStore
import graft.functions.TextHash

/** Embedding similarity search (SURVEY §2.D9-D11).
  *
  * Scale design: the brute-force path broadcasts the (small) query
  * set against the corpus — one scan, no shuffle of the corpus; the
  * ANN path buckets vectors by random-hyperplane sign bits so the
  * pair join is an equi-join on bucket id. Dot products are a
  * left-fold in double precision (float elements widened per
  * element by [[graft.functions.VecDot]]) so results are
  * reproducible across engines (no SIMD reassociation surprises in
  * the contract).
  */
object Similarity {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Element-wise double cast — float inputs promoted exactly. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product: deterministic summation order
    * (left fold), evaluated by the native [[graft.functions.VecDot]]
    * expression — no per-element lambda interpretation.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshims.SparkShims.column(
      graft.functions.VecDot(
        org.apache.spark.sql.graftshims.SparkShims.expression(a),
        org.apache.spark.sql.graftshims.SparkShims.expression(b)))

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Brute-force top-k cosine neighbors of each query vector.
    * Queries are broadcast; the corpus is scanned once; per-query
    * ranking is a window over the (queries × corpus) frame.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    // zero-norm vectors excluded: 0/0 cosine is NaN and engines
    // disagree on NaN ordering/comparison
    // raw (possibly float) arrays go straight into VecDot, which
    // widens per element — same values as a toDouble pre-pass, minus
    // the interpreted ArrayTransform it would inline into every
    // consumer (see VecDot's scaladoc)
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"))
      .withColumn("q_norm", norm2(col("q_vec")))
      .filter(col("q_norm") > 0)
    val c = corpus.select(col(id).as("n_id"), col(vec).as("n_vec"))
      .withColumn("n_norm", norm2(col("n_vec")))
      .filter(col("n_norm") > 0)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
          .as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * in [-0.5, 0.5), reproducible anywhere (canonical formula in
    * [[graft.functions.LshPlanes]], shared with the native kernel).
    */
  def planeWeight(plane: Int, dim: Int, dims: Int): Double =
    graft.functions.LshPlanes.planeWeight(plane, dim, dims)

  /** All `tables` hyperplane bucket ids of a vector at once, as an
    * Array[Long] column — one native kernel evaluation per row (see
    * [[graft.functions.HyperplaneBuckets]] for why this is not a
    * composition of [[lshBucket]] columns).
    */
  def hyperplaneBuckets(vec: Column, planes: Int, tables: Int,
      dims: Int): Column =
    org.apache.spark.sql.graftshims.SparkShims.column(
      graft.functions.HyperplaneBuckets(
        org.apache.spark.sql.graftshims.SparkShims.expression(vec),
        planes, tables, dims))

  /** Random-hyperplane bucket id for one hash table: one sign bit
    * per plane; `table` offsets the plane family so tables are
    * independent.
    */
  def lshBucket(vec: Column, table: Int, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      // constant array literal (not per-row CreateArray)
      val weights = typedLit(
        (0 until dims).map(i => planeWeight(table * planes + p, i, dims)))
      when(dot(vec, weights) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** XOR masks for a Hamming ball of the given radius over `planes`
    * sign bits: the identity mask, every 1-bit flip, and (radius 2)
    * every 2-bit flip — 1 + P + P(P-1)/2 masks. Multi-probe LSH
    * probes `bucket ^ mask` for each mask, trading a polynomial (in
    * P) number of probes for the exponential table count plain
    * OR-amplification would need at the same recall.
    */
  def probeMasks(planes: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, s"probe radius 0..2, got $radius")
    val r1 = if (radius >= 1) (0 until planes).map(i => 1L << i) else Seq.empty
    val r2 = if (radius >= 2)
      for { i <- 0 until planes; j <- (i + 1) until planes }
        yield (1L << i) | (1L << j)
    else Seq.empty
    0L +: (r1 ++ r2)
  }

  /** Plane count that keeps expected bucket occupancy near
    * `targetOccupancy` as the corpus grows: P = ceil(log2(N/target)),
    * clamped to [4, 18]. Hyperplane sign bits split a random corpus
    * roughly in half per plane, so occupancy ~ N / 2^P — growing P
    * with log N is what makes the candidate set sublinear in N
    * (probes grow as P², occupancy stays flat).
    */
  def adaptivePlanes(corpusSize: Long, targetOccupancy: Int = 32): Int = {
    val raw = math.ceil(math.log(
      math.max(corpusSize, 1L).toDouble / math.max(targetOccupancy, 1)) /
      math.log(2.0)).toInt
    math.min(18, math.max(4, raw))
  }

  /** Table count that holds the recall contract as planes grow: the
    * Hamming-≤2 probe ball covers (1+P+P(P−1)/2)/2^P of bucket
    * space, a fraction that shrinks as adaptive P grows with log N —
    * per-table recall falls with it, and recall across tables is
    * 1−(1−r₁)^T. Doubling T to 16 once P reaches 12 (N ≈ 2^12·32 =
    * 131k at the default occupancy) buys back what the deeper
    * hashing costs, bounded: measured at N=200k unclustered
    * (GATE_SF1.md, "Multi-probe ANN at the fourth octave"),
    * defaults-with-8-tables recall@3 = 0.47 vs 0.60
    * at 16 tables (candidate fraction 0.20 → 0.235). One doubling
    * is the whole ladder — beyond N ~ 10⁶ unclustered, hyperplane
    * LSH's recall keeps sliding at any affordable T and the routing
    * answer is [[ivfTopK]] (d19), not more tables.
    */
  def adaptiveTables(planes: Int): Int = if (planes >= 12) 16 else 8

  /** Candidate pairs for multi-probe LSH: the corpus is hashed once
    * per table (one bucket row per vector per table); each query
    * probes its own bucket plus every bucket within Hamming distance
    * `probeRadius`, as an exploded (tbl, bkt) equi-join with the
    * query side broadcast. Exposed separately from [[annTopK]] so the
    * sublinearity contract — candidates per query grow ~P²·occupancy,
    * not ~N — is directly measurable (SimilaritySpec asserts it at
    * two corpus sizes).
    */
  /** Pre-dedup (tbl, bkt) matches with the CORPUS vector attached —
    * the shared probe join behind [[annCandidates]] and [[annTopK]].
    * The broadcast probe rows carry (q_id, tbl, bkt) ONLY: at the
    * adaptive P=10 each query expands to tables × (1+P+P(P−1)/2)
    * probe rows, so duplicating the query vector into the fan-out
    * would inflate the broadcast by two orders of magnitude over the
    * vector payload itself — callers that score re-attach q_vec by a
    * second, fan-out-free broadcast join on q_id. Callers score or
    * project BEFORE deduplicating so the dedup shuffle never carries
    * the 64-double vectors.
    */
  private def annMatches(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, planes: Int, tables: Int, probeRadius: Int,
      dims: Int): DataFrame = {
    val masks = probeMasks(planes, probeRadius)
    // all table buckets in one kernel call per vector, then
    // posexplode: pos IS the table id
    val c = corpus
      .select(col(id).as("n_id"), col(vec).as("n_vec"))
      .select(col("n_id"), col("n_vec"),
        posexplode(hyperplaneBuckets(col("n_vec"), planes, tables, dims)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bkt")
    // exact buckets computed once, then XOR'd per mask — the probe
    // fan-out is arithmetic on a computed column, not tables × masks
    // re-hashes of the vector. Two SMALL generates (tables, then a
    // literal mask array) instead of one tables×masks struct-array
    // literal: at the adaptive P=13 the latter is a 736-element
    // expression tree whose generated consume method overflows
    // janino's method-size limit and silently drops the stage to
    // interpreted execution.
    val q0 = queries.select(col(id).as("q_id"),
      hyperplaneBuckets(col(vec), planes, tables, dims).as("_bs"))
    val q = q0
      .select(col("q_id"), posexplode(col("_bs")))
      .select(col("q_id"), col("pos").as("tbl"), col("col").as("b0"),
        explode(typedLit(masks.toArray)).as("m"))
      .select(col("q_id"), col("tbl"),
        col("b0").bitwiseXOR(col("m")).as("bkt"))
    c.join(broadcast(q), Seq("tbl", "bkt"))
      .filter(col("n_id") =!= col("q_id"))
  }

  def annCandidates(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, planes: Int, tables: Int, probeRadius: Int,
      dims: Int = 64): DataFrame =
    annMatches(queries, corpus, id, vec, planes, tables, probeRadius, dims)
      .select("q_id", "n_id")
      .dropDuplicates("q_id", "n_id")

  /** Multi-probe LSH approximate top-k — the scale-honest ANN entry.
    *
    * Round 7's 4-plane × 16-table OR-amplification reached recall
    * 0.70 only by letting each query's candidate set approach O(N):
    * 16 buckets per table means ~N/16 candidates per table, OR'd
    * across 16 tables. This version holds occupancy flat instead:
    * `planes` grows with log₂(corpus) (default adaptive, see
    * [[adaptivePlanes]]) so buckets stay ~`targetOccupancy` deep, and
    * recall is recovered by probing the full Hamming-≤2 ball around
    * the query's bucket (multi-probe: Lv et al., VLDB'07) across a
    * small number of tables. Candidates per query ≈
    * tables · (1 + P + P(P−1)/2) · occupancy — polylog in N, vs the
    * old linear — and the probe fan-out lives on the broadcast query
    * side; the corpus is still hashed exactly `tables` times.
    *
    * Measured on the synthetic unclustered corpus (worst case for
    * hyperplane LSH — no cluster structure to exploit; GATE_SF1.md,
    * "Multi-probe ANN at the fourth octave"): recall@3 at the
    * adaptive defaults is
    * 1.00 at N=500 (P=4, T=8), 0.97 at N=2000 (P=6, T=8), 0.80 at
    * N=20000 (P=10, T=8), 0.60 at N=200000 (P=13, T=16 — the
    * [[adaptiveTables]] doubling), while the candidate fraction of
    * the corpus falls 0.98 → 0.79 → 0.31 → 0.235. Recall on
    * unclustered data declines slowly as N grows — that is
    * hyperplane LSH's information-theoretic limit when there is no
    * neighbor gap, not a tuning artifact (the r7 config only avoided
    * it by scanning ~the whole corpus); clustered corpora hold
    * recall higher at the same selectivity. `planes = 0` /
    * `tables = 0` mean adaptive; pass explicit values to pin
    * selectivity. Past N ~ 10⁶ unclustered the corpus-partitioned
    * [[ivfTopK]] (d19) is the contract-holding path.
    *
    * Note: adaptive sizing runs one `corpus.count()` (parquet
    * metadata-only when the corpus is a plain scan, a full job on a
    * filtered/derived plan) before planning — callers that already
    * hold the size pass `knownCount` to skip it (same escape-hatch
    * shape as [[graft.dedup.Dedup.chooseBanding]]).
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      k: Int, planes: Int = 0, tables: Int = 0, probeRadius: Int = 2,
      targetOccupancy: Int = 32, dims: Int = 64,
      knownCount: Option[Long] = None): DataFrame = {
    val p = if (planes > 0) planes
      else adaptivePlanes(knownCount.getOrElse(corpus.count()), targetOccupancy)
    val t = if (tables > 0) tables else adaptiveTables(p)
    // cosine is scored on the pre-dedup matches (a duplicate match
    // re-scores one 64-dim dot — cheap) so the dedup shuffle moves
    // (q_id, n_id, cos) triples, not 0.5 KB vector payloads; the
    // duplicates then collapse with dropDuplicates (cos is
    // deterministic per pair, so any survivor is identical). q_vec
    // arrives by its own broadcast join on q_id — one vector per
    // query in the broadcast, independent of the probe fan-out.
    val scored = annMatches(queries, corpus, id, vec, p, t,
        probeRadius, dims)
      .join(broadcast(queries.select(col(id).as("q_id"),
        col(vec).as("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("cos"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
  }

  /** Corpus size past which multi-probe hyperplane LSH can no longer
    * hold its recall envelope at any affordable table count and the
    * routing answer is IVF: the point where [[adaptivePlanes]] at the
    * default occupancy would exceed its 18-plane clamp
    * (2^18 · 32 = 2^23 ≈ 8.4M vectors). Below it the measured
    * recall@3 curve (GATE_SF1.md's multi-probe ANN table, four
    * octaves to 200k) stays ≥ 0.6;
    * past it occupancy — and with it the candidate count — grows
    * linearly again while recall keeps sliding.
    */
  val AnnMaxCorpus: Long = 1L << 23

  /** Decision function behind [[annOrIvfTopK]], exposed so the
    * boundary is testable without building a boundary-sized corpus.
    */
  def routesToIvf(corpusSize: Long, annMaxCorpus: Long = AnnMaxCorpus): Boolean =
    corpusSize > annMaxCorpus

  /** Probed-list count for the routed IVF configuration: √kc, floor
    * 4. A FIXED nprobe collapses on hard corpora as kc grows with √N
    * — measured (GATE_SF1.md, "Round-11 addendum: IVF recall at the
    * ROUTED configuration", 64-dim synthetic): at nprobe=4 the
    * probed fraction is 4/kc and unclustered recall@3 falls 0.168
    * (200k, kc=448) → 0.137 (1M, kc=1000), an order below the LSH
    * side's 0.6 contract — the router would route INTO a worse
    * operator. √kc holds the probed fraction at kc^(-1/2) = N^(-1/4):
    * per-query work nprobe·N/kc ≈ N^(3/4) stays sublinear, worst-case
    * unclustered recall recovers to 0.448/0.457 at the same two
    * scales, and clustered corpora — the realistic regime past the
    * 2^23 boundary, where vectors have neighbor structure worth
    * finding — measure 1.000 at both nprobe=4 and √kc (1M, 1024
    * clusters). On unclustered data NO sublinear configuration holds
    * 0.6 (probing 25% of 1M only reaches 0.64): that is the
    * no-neighbor-gap information limit the LSH scaladoc documents,
    * not a tuning artifact; √kc buys the best recall the sublinear
    * budget admits. GATE_SF1.md carries the full r11 table.
    */
  def adaptiveNprobe(kCentroids: Int): Int =
    math.max(4, math.ceil(math.sqrt(kCentroids.toDouble)).toInt)

  /** Scale-routed ANN: multi-probe LSH ([[annTopK]]) while the corpus
    * is inside its measured recall envelope, IVF ([[ivfTopK]]) past
    * it. annTopK alone would not fail loudly at 10⁷ vectors — it
    * would return quietly degraded recall (its scaladoc documents the
    * envelope but nothing enforced it); this entry makes the
    * documented routing real. One `corpus.count()` decides (metadata-
    * only on a plain scan, a full job on a filtered/derived plan —
    * callers already holding the size pass `knownCount` and no count
    * job runs) and is reused as the adaptive-plane input on the LSH
    * side, so routing adds no extra job. The counted frame is the RAW
    * corpus: null/zero-norm vectors that both paths subsequently
    * exclude are counted, so on a dirty corpus the boundary is
    * approximate by the dirty fraction — acceptable because the
    * envelope edge itself is an order-of-magnitude measurement, not a
    * precise cliff; count the pre-filtered frame (and pass it as both
    * `corpus` and `knownCount`) when precision near the boundary
    * matters. The route taken is logged either way; `annMaxCorpus`
    * overrides the boundary (tests pin a small one).
    */
  def annOrIvfTopK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int, probeRadius: Int = 2, targetOccupancy: Int = 32,
      dims: Int = 64, kCentroids: Int = 0, nprobe: Int = 0,
      annMaxCorpus: Long = AnnMaxCorpus,
      knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(corpus.count())
    if (routesToIvf(n, annMaxCorpus)) {
      // sqrt(N) centroids keep expected list depth ~sqrt(N); probed
      // lists scale as sqrt(kc) ([[adaptiveNprobe]] — nprobe=0 means
      // adaptive; a FIXED nprobe was measured routing into sub-LSH
      // recall on hard corpora), so per-query probe work is
      // nprobe·N/kc ≈ N^(3/4) — sublinear — while the build stays
      // one broadcast-argmax pass.
      val kc = if (kCentroids > 0) kCentroids
        else math.min(KCentroidsMax.toLong, math.max(16L,
          math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
      val np = if (nprobe > 0) nprobe else adaptiveNprobe(kc)
      logger.info(s"ANN routing: corpus n=$n > $annMaxCorpus — " +
        s"hyperplane LSH cannot hold recall here; routing to IVF " +
        s"(kCentroids=$kc, nprobe=$np)")
      ivfTopK(queries, corpus, id, vec, k, kCentroids = kc, nprobe = np)
    } else {
      val p = adaptivePlanes(n, targetOccupancy)
      logger.info(s"ANN routing: corpus n=$n <= $annMaxCorpus — " +
        s"multi-probe LSH (planes=$p, tables=${adaptiveTables(p)})")
      annTopK(queries, corpus, id, vec, k, planes = p,
        tables = adaptiveTables(p), probeRadius = probeRadius,
        targetOccupancy = targetOccupancy, dims = dims)
    }
  }

  /** Map-side argmax assignment of each vector to its
    * highest-cosine centroid (ties to the smallest centroid id —
    * the same ordering a SQL oracle's row_number uses): struct-max
    * aggregation over the broadcast (vectors × centroids) expansion,
    * no window shuffle. The shared idiom of [[ivfTopK]] and d32's
    * semantic dedup.
    */
  private[graft] def argmaxAssign(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .select(col("vid"), struct(
        (dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("csim"),
        (-col("cid")).as("negc")).as("sc"))
      .groupBy("vid").agg(max(col("sc")).as("best"))
      .select(col("vid"), (-col("best.negc")).as("cid"))

  /** Deterministic seeded k-means coarse quantizer (one exact Lloyd
    * step — the d32 SemDeDup machinery): seeds are the `kCentroids`
    * vectors with the smallest md5(id) (content-hash-stable uniform
    * spread over ids, unlike lowest-k which inherits whatever the
    * low id range contains), each vector is argmax-assigned to its
    * seed, and the refined centroid is the per-component mean of its
    * members computed over milli-unit-quantized integers — an exact
    * BIGINT sum with ONE double division, so the centroid doubles
    * (and everything downstream of them) are bit-reproducible in any
    * engine regardless of summation order. Empty seeds simply drop
    * out of the refined table (both engines agree).
    *
    * Deliberately NOT unified with d32's
    * [[graft.queries.TrainingDataQueries.semanticDedupImpl]] lloyd/
    * assign, which implements the same math with one intentional
    * difference: d32 assigns in the QUANTIZED space (its e is
    * derived from xi, so its oracle is exact end-to-end), while this
    * quantizer assigns on RAW vectors (search scoring stays in raw
    * space) and quantizes only the mean. A change to either's
    * quantization scale, tie-break, or NaN guard must be mirrored
    * consciously, not inherited silently.
    */
  private[graft] def kmeansCentroids(v: DataFrame, kCentroids: Int,
      lloydIters: Int = 1): DataFrame = {
    require(lloydIters >= 1, s"lloydIters must be >= 1: $lloydIters")
    val seeds = v
      .orderBy(md5(col("vid").cast("string")), col("vid")).limit(kCentroids)
      .select(col("vid").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val xi = v.select(col("vid"),
      transform(col("v"),
        x => floor(x.cast("double") * 1000).cast("long")).as("xi"))
    def step(cents: DataFrame): DataFrame = argmaxAssign(v, cents)
      .join(xi, "vid")
      .select(col("cid"), posexplode(col("xi")))
      .groupBy("cid", "pos")
      .agg(sum(col("col")).as("sx"), count(lit(1)).as("cn"))
      .withColumn("comp",
        col("sx").cast("double") / col("cn").cast("double") / 1000.0)
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        t => t("comp")).as("cv"))
      .withColumn("cnrm", norm2(col("cv")))
    (1 to lloydIters).foldLeft(seeds) { (c, _) => step(c) }
  }

  /** IVF (inverted-file) approximate top-k — the scale path for
    * similarity search: a small coarse-quantizer table partitions the
    * corpus into `kCentroids` inverted lists; a query probes only its
    * `nprobe` nearest lists and brute-forces those. Corpus cost per
    * query drops from O(N) to O(N·nprobe/kCentroids) expected.
    *
    * `quantizer` picks the centroid construction: `"kmeans"`
    * (default) is the seeded one-Lloyd-step quantizer
    * ([[kmeansCentroids]] — deterministic AND data-adapted: centroids
    * move to the occupied region of embedding space, which evens out
    * list sizes and raises probed-list recall); `"lowid"` keeps the
    * legacy `kCentroids` lowest-id corpus vectors (centroids are then
    * whatever those rows happen to be — kept for comparison, measured
    * against kmeans in GATE_SF1.md's "d19 quantizer leg"). Both are
    * exactly
    * reproducible, so the operator carries a full SQL oracle either
    * way.
    *
    * Scale shape: centroids broadcast everywhere (assignment is a
    * map-side argmax with partial aggregation — no per-vector
    * shuffle); the probe join is centroid-id equi-join with the
    * (small) probe set broadcast. Ties break on centroid/vector id.
    * The kmeans quantizer costs two extra broadcast passes over the
    * (persisted) corpus — a build-time cost, amortized over queries.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      k: Int, kCentroids: Int = 16, nprobe: Int = 4,
      quantizer: String = "kmeans", lloydIters: Int = 1): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Zero-norm vectors are excluded up front: 0/0 cosine is NaN,
    // whose ordering is engine-divergent (same guard as d17).
    // Vectors keep their source element type (float halves the
    // persisted bytes; VecDot widens per element — same arithmetic).
    val v = corpus.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .filter(col("nrm") > 0)
      .persist(lvl)
    val cents = (quantizer match {
      case "kmeans" => kmeansCentroids(v, kCentroids, lloydIters)
      case "lowid" => v.orderBy("vid").limit(kCentroids)
        .select(col("vid").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
      case other => throw new IllegalArgumentException(
        s"unknown quantizer: $other (kmeans|lowid)")
      // kCentroids rows, used by assignment AND probes: without the
      // persist each broadcast exchange would re-run the quantizer's
      // corpus passes.
    }).persist(lvl)
    val lists = v.join(argmaxAssign(v, cents), "vid")
    probeTopK(queries, cents, lists, id, vec, k, nprobe)
  }

  /** Shared probe stage of [[ivfTopK]] and [[ivfProbe]]:
    * [[probeScores]] then [[windowTopK]].
    */
  private def probeTopK(queries: DataFrame, cents: DataFrame,
      lists: DataFrame, id: String, vec: String, k: Int,
      nprobe: Int): DataFrame =
    windowTopK(probeScores(queries, cents, lists, id, vec, nprobe), k)

  /** Rank the broadcast centroids per query, keep the `nprobe`
    * nearest lists, equi-join the (small, broadcast) probe set against
    * the inverted lists on cid and score exact cosines within:
    * `(q_id, n_id, cos)`. `lists` must carry (cid, vid, v, nrm) with
    * zero-norm vectors already excluded; `cents` (cid, cv, cnrm).
    */
  private def probeScores(queries: DataFrame, cents: DataFrame,
      lists: DataFrame, id: String, vec: String,
      nprobe: Int): DataFrame = {
    val q = queries.select(col(id).as("q_id"), col(vec).as("qv"))
      .withColumn("qnrm", norm2(col("qv")))
      .filter(col("qnrm") > 0)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("qnrm"), col("cid"),
        (dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).as("csim"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("csim").desc, col("cid"))))
      .filter(col("crk") <= nprobe)
      .select("q_id", "qv", "qnrm", "cid")
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("q_id"))
      .select(col("q_id"), col("vid").as("n_id"),
        (dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
  }

  /** Per-query window top-k of `(q_id, n_id, cos)` scores, ties to the
    * smaller `n_id`: `(q_id, rk, n_id, cos)`.
    */
  private def windowTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
  }

  /** SPANN-style closure multi-assignment (Chen et al., "SPANN:
    * Highly-efficient Billion-scale Approximate Nearest Neighbor
    * Search", NeurIPS 2021 §3.2 — posting lists with closure): a
    * vector joins its argmax list AND every list whose centroid
    * cosine is within `deltaMilli`/1000 of the best, capped at
    * `maxAssign` replicas (rank by csim DESC, cid — the argmaxAssign
    * tie rule). Boundary vectors — the ones a single-assignment
    * probe at small nprobe systematically misses — are thereby
    * present in every list they border, so recall at nprobe=1
    * approaches multi-probe recall while the probe still reads ONE
    * inverted list. Replication is bounded: list bytes grow by at
    * most maxAssign×, and in practice by the fraction of vectors
    * within delta of a boundary.
    *
    * Scale shape: the centroid table is a dim-class collect that
    * re-enters as ONE array-of-struct literal (the d52 idiom), so
    * assignment is fully map-side — per row: kc in-row cosine folds,
    * one in-row sort, a ≤maxAssign slice — NO crossJoin expansion,
    * NO per-vector shuffle, NO window. Output (vid, cid), 1..maxAssign
    * rows per vid; bit-reproducible (double compares + the shared
    * tie rule), so the whole construction carries a SQL oracle.
    */
  private[graft] def closureAssign(v: DataFrame, cents: DataFrame,
      deltaMilli: Long, maxAssign: Int): DataFrame = {
    val centRows = cents
      .select(col("cid").cast("long"), toDouble(col("cv")), col("cnrm").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq
    val centsLit = typedLit(centRows)
    val sims = transform(centsLit, c => struct(
      (dot(col("v"), c.getField("_2")) / (col("nrm") * c.getField("_3")))
        .as("csim"),
      c.getField("_1").as("cid")))
    val ranked = array_sort(sims, (l, r) =>
      when(l.getField("csim") > r.getField("csim"), -1)
        .when(l.getField("csim") < r.getField("csim"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .when(l.getField("cid") > r.getField("cid"), 1)
        .otherwise(0))
    v.select(col("vid"), ranked.as("ranked"))
      .select(col("vid"),
        element_at(col("ranked"), 1).getField("csim").as("best"),
        explode(slice(col("ranked"), 1, maxAssign)).as("sc"))
      .filter(col("sc.csim") >= col("best") - lit(deltaMilli.toDouble / 1000.0))
      .select(col("vid"), col("sc.cid").as("cid"))
  }

  /** SPANN-layout top-k: closure-assigned inverted lists probed at
    * `nprobe` (=1 by default — the SPANN operating point: boundary
    * duplication substitutes for multi-probe). Same quantizer,
    * zero-norm guard, scoring fold, and tie rules as [[ivfTopK]];
    * candidates are deduped before ranking (a closure-replicated
    * vector is reachable through more than one probed list when
    * nprobe > 1 — the dedup is a partial-agg distinct over the
    * candidate sliver, nothing corpus-sized).
    */
  def spannTopK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int, kCentroids: Int = 16, deltaMilli: Long = 50,
      maxAssign: Int = 2, nprobe: Int = 1): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val v = corpus.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .filter(col("nrm") > 0)
      .persist(lvl)
    val cents = kmeansCentroids(v, kCentroids)
    val lists = v.join(closureAssign(v, cents, deltaMilli, maxAssign), "vid")
    windowTopK(
      probeScores(queries, cents, lists, id, vec, nprobe).distinct(), k)
  }

  /** Build the persisted IVF index a production similarity service
    * probes many times without rebuilding — the amortization split
    * d30 proved for the dedup index, applied to d19 (whose kmeans
    * quantizer costs two broadcast corpus passes per [[ivfTopK]]
    * call, the most expensive build step in the family). Layout at
    * `indexDir` (all parquet, GENERATION-versioned so a build over an
    * existing index is non-destructive):
    *
    *   gen-<g>/centroids/ (cid, cv, cnrm) — the coarse quantizer,
    *              kCentroids rows, broadcast at probe time
    *   gen-<g>/lists/ (vid, v, nrm) PARTITIONED BY (cid) — the
    *              inverted lists as parquet partitions: a probe's
    *              cid equi-join prunes to the probed directories
    *              (dynamic partition pruning), so probe I/O is
    *              O(nprobe/kCentroids) of the corpus, not a full
    *              scan — the actual IVF win at 100 TB, where the
    *              corpus does not fit an executor cache
    *   meta/      (quantizer, lloyd_iters, k_centroids, n_build,
    *              gen) — the build parameters plus the indexed count
    *              and the LIVE generation; [[ivfProbe]] validates
    *              caller expectations against this row, so an index
    *              built under one configuration cannot silently
    *              serve another. Meta is written LAST
    *              ([[graft.engine.IndexStore]] GENERATION COMMIT):
    *              readers see either the complete old index or the
    *              complete new one, never a half-built generation, a
    *              crash mid-build leaves the live index intact, and
    *              the commit clears the tombstone sidecar. A directory
    *              whose meta lacks any of these columns is refused,
    *              not rebuilt over ([[graft.engine.IndexStore]] LAYOUT
    *              RULE).
    * Per-generation directory count equals kCentroids (≤ 65536 at
    * the router's √N clamp) — at boundary scale each list holds
    * ≥ √N ≈ 2900 vectors, well above small-file territory. Zero-norm
    * vectors are excluded at build (the [[ivfTopK]] NaN guard).
    * `kCentroids = 0` (the default) sizes by the deployed policy
    * `clamp(⌈√N⌉, 16, KCentroidsMax)` ([[sqrtKc]]) over the valid
    * corpus — the same rule [[rebuildIvfIndex]] applies, so a
    * fresh build and a drift rebuild of the same corpus produce the
    * same quantizer size; pass an explicit count to pin it.
    */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String,
      indexDir: String, kCentroids: Int = 0, quantizer: String = "kmeans",
      lloydIters: Int = 1): Unit = {
    val s = corpus.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    IndexStore.commitGeneration(s, indexDir, IvfLayout) { (dataDir, _) =>
      val v = corpus.select(col(id).as("vid"), col(vec).as("v"))
        .withColumn("nrm", norm2(col("v")))
        .filter(col("nrm") > 0)
        .persist(lvl)
      try {
        // ONE count serves both kc sizing and the meta n_build row (the
        // r16 verdict flagged the duplicate: kc's count and the nBuild
        // count at commit were two jobs over the same persisted frame).
        // kCentroids = 0 → the deployed [[sqrtKc]] policy over the
        // VALID (norm-filtered) corpus — the same count the rebuild
        // path sizes from, so build and drift-rebuild agree on the rule
        val nValid = v.count()
        val kc = if (kCentroids > 0) kCentroids else sqrtKc(nValid)
        val cents = (quantizer match {
          case "kmeans" => kmeansCentroids(v, kc, lloydIters)
          case "lowid" => v.orderBy("vid").limit(kc)
            .select(col("vid").as("cid"), col("v").as("cv"),
              col("nrm").as("cnrm"))
          case other => throw new IllegalArgumentException(
            s"unknown quantizer: $other (kmeans|lowid)")
        }).persist(lvl)
        cents.coalesce(1).write.mode("overwrite")
          .parquet(s"$dataDir/centroids")
        // co-locate each inverted list in one task before the
        // partitioned write: without this every task opens a writer
        // per cid it happens to hold (tasks × kCentroids small files —
        // measured as the dominant build cost at kc≈200), with it the
        // file count is one per list
        v.join(argmaxAssign(v, cents), "vid")
          .repartition(col("cid"))
          .write.mode("overwrite").partitionBy("cid")
          .parquet(s"$dataDir/lists")
        cents.unpersist()
        import s.implicits._
        Seq((quantizer, lloydIters, kc, nValid)).toDF(
          "quantizer", "lloyd_iters", "k_centroids", "n_build")
      } finally v.unpersist()
    }
  }

  /** REBUILD a persisted IVF index from its own inverted lists under
    * a fresh quantizer — the drift-contract action
    * ([[appendIvfIndex]]: appends deepen lists at frozen kc; once
    * ingestion roughly quadruples the corpus, kc lags √N by 2× and
    * probe cost degrades toward linear). `kCentroids = 0` (the
    * default) resizes by the deployed policy `clamp(⌈√N⌉, 16,
    * KCentroidsMax)` over the CURRENT corpus size.
    *
    * Non-destructive: the new generation is built while the live one
    * keeps serving reads (the build's input is the live lists
    * themselves — their files persist until the post-commit sweep),
    * and the meta swap is the single commit point. A crash mid-
    * rebuild leaves the prior index fully intact; re-running
    * converges. NOT safe under concurrent probes in OTHER sessions
    * that resolved the generation before the commit and read after
    * the sweep — single-writer ingest loops (the intended caller)
    * re-resolve per epoch.
    */
  def rebuildIvfIndex(s: org.apache.spark.sql.SparkSession,
      indexDir: String, kCentroids: Int = 0): Unit = {
    val (quant, iters, _, _, _) = ivfMetaFull(s, indexDir)
    // ivfLists is tombstone-filtered, so the new generation simply
    // never contains removed vids — the rebuild IS the physical half
    // of [[removeFromIvfIndex]]'s contract.
    buildIvfIndex(ivfLists(s, indexDir), "vid", "v", indexDir, kCentroids,
      quant, iters)
  }

  /** The deployed centroid-count policy shared by the batch router,
    * c26, and the ingest-loop rebuild: `clamp(⌈√N⌉, 16,
    * KCentroidsMax)` — build cost N^1.5, list depth ~√N, probed work
    * ~N^(3/4) at [[adaptiveNprobe]].
    */
  def sqrtKc(n: Long): Int =
    math.min(KCentroidsMax.toLong,
      math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** The live generation, resolved from the index's meta entry
    * ([[graft.engine.IndexStore.meta]]): the meta row `(quantizer,
    * lloydIters, kCentroids, nBuild, gen)` plus the generation's read
    * schemas, pinned in that entry. A generation's `centroids` and
    * `lists` never change after its meta commit (appends land in
    * `tail/`), so each is inferred once per entry. The `tail` schema is
    * derived, not inferred: [[appendIvfIndex]] writes tail files as the
    * base lists' columns with `cid` as long.
    */
  private[graft] final class IvfMeta(val row: (String, Int, Int, Long, Int),
      val dataDir: String, entry: IndexStore.Meta) {

    /** The read schema of `table` (`centroids`, `lists` or `tail`). */
    def schema(s: org.apache.spark.sql.SparkSession,
        table: String): StructType = table match {
      case "tail" => StructType(schema(s, "lists").map(f =>
        if (f.name == "cid") f.copy(dataType = LongType) else f))
      case _ => entry.schema(s, s"$dataDir/$table")
    }

    def read(s: org.apache.spark.sql.SparkSession,
        table: String): DataFrame =
      s.read.schema(schema(s, table)).parquet(s"$dataDir/$table")

    /** The generation's centroids as ONE literal array of `(cid, cv,
      * cnrm)` structs (`cid` long, `cv` double), plus its length —
      * collected on the first call and pinned on the meta entry, so
      * later probes and appends of the same generation launch no
      * collect job. A rebuild commits new meta, hence a new entry and
      * a fresh collect.
      */
    def centroids(s: org.apache.spark.sql.SparkSession): (Column, Int) =
      entry.pin("centroids") {
        val rows = read(s, "centroids")
          .select(col("cid").cast("long"), toDouble(col("cv")).as("cv"),
            col("cnrm"))
          .collect()
        (typedLit(rows.map(r =>
          (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq), rows.length)
      }
  }

  /** The IVF index's meta columns ([[buildIvfIndex]]). */
  private val IvfLayout = IndexStore.Layout("IVF", "buildIvfIndex",
    Seq("quantizer", "lloyd_iters", "k_centroids", "n_build", "gen"))

  private def ivfRow(m: IndexStore.Meta): (String, Int, Int, Long, Int) = {
    val r = m.row
    (r.getAs[String]("quantizer"), r.getAs[Int]("lloyd_iters"),
      r.getAs[Int]("k_centroids"), r.getAs[Long]("n_build"), r.getAs[Int]("gen"))
  }

  private[graft] def ivfMetaFull(s: org.apache.spark.sql.SparkSession,
      indexDir: String): (String, Int, Int, Long, Int) =
    ivfMeta(s, indexDir).row

  private[graft] def ivfMeta(s: org.apache.spark.sql.SparkSession,
      indexDir: String): IvfMeta = {
    val m = IndexStore.committed(s, indexDir, IvfLayout)
    new IvfMeta(ivfRow(m), IndexStore.liveDir(s, indexDir), m)
  }

  /** The live generation's centroid table (kCentroids rows), read
    * under the generation's pinned schema ([[IvfMeta]]).
    */
  def ivfCentroids(s: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    ivfMeta(s, indexDir).read(s, "centroids")

  /** The live generation's inverted lists `(vid, v, nrm, cid)` —
    * the cid-partitioned base table plus, when [[appendIvfIndex]]
    * has run since the last (re)build, the unpartitioned `tail/`
    * segment unioned in. Both read under the generation's pinned
    * schemas ([[IvfMeta]]): the base as first inferred, the tail as
    * the base's columns with `cid` long, cast to the base's `cid`
    * type for the union. Probes joining on `cid` keep dynamic
    * partition pruning on the base branch; the tail branch is a
    * plain filter over a segment bounded by the drift-rebuild
    * contract. When no tail exists (every batch-built index, and
    * every index right after a rebuild) this returns the base read
    * alone, which is what the d19/d37 plan-pruning assertions pin.
    */
  def ivfLists(s: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val raw = listsAndTail(s, ivfMeta(s, indexDir))
    // Tombstoned vids ([[removeFromIvfIndex]]) are dead to every
    // reader — probes, drift rebuilds, ingest-loop stats — from the
    // moment the sidecar lands; their rows stay physical until the
    // next rebuild folds them out. No-sidecar fast path: the plan is
    // bit-identical to pre-tombstone (what the d19/d37 pruning
    // assertions pin). The sidecar anti-join side is HINTED broadcast
    // (r17, the span family's posture adopted): the sidecar is
    // takedown-sized by contract (see removeFromIvfIndex), and
    // without the hint a size-estimate miss would re-shuffle the
    // corpus-sized lists by vid just to drop a handful of rows.
    IndexStore.tombstones(s, indexDir, TombstoneSchema)
      .fold(raw)(t => raw.join(broadcast(t), Seq("vid"), "left_anti"))
  }

  /** The sidecar's one column: [[removeFromIvfIndex]] writes vids
    * cast to long. The sidecar lives at the index ROOT (not inside a
    * generation): removal survives an append and applies to whatever
    * generation is live; the rebuild that physically drops the rows
    * clears it.
    */
  private val TombstoneSchema = Some(StructType.fromDDL("vid BIGINT"))

  /** DELETE vectors from a persisted IVF index — the takedown/opt-out
    * action the ingest-loop family needs (corpora delete documents;
    * an index that only grows serves removed content forever).
    * Logical removal is immediate: the vids land in a `tombstones/`
    * sidecar that [[ivfLists]] anti-joins out of every read, so
    * probes stop returning them in the same call-ordering sense as
    * an append becoming visible. Physical removal is deferred to the
    * next [[rebuildIvfIndex]] (whose input is the tombstone-filtered
    * [[ivfLists]], so the new generation simply never contains the
    * rows — and the commit clears the sidecar), matching the
    * generation-versioned machinery the drift contract already runs.
    *
    * Idempotent: already-tombstoned vids are anti-joined out of the
    * delta before it lands (a retry after a partial write converges;
    * the sidecar never gains duplicate vids), and removing a vid the
    * index never held is a no-op. The delta is staged to scratch
    * before anything writes to the index location
    * ([[graft.engine.IndexStore.addTombstones]]).
    *
    * Re-adding a removed vid is refused by [[appendIvfIndex]] until
    * a rebuild has folded the tombstone out: its dead rows are still
    * physical, so a same-vid append would resurrect BOTH copies.
    *
    * Takedown-sized removals only: past the broadcast bound the
    * removal is refused, and bulk removal builds fresh over the
    * filtered corpus ([[graft.engine.IndexStore]] SIZE CONTRACT).
    */
  def removeFromIvfIndex(ids: DataFrame, id: String,
      indexDir: String): Unit = {
    IndexStore.committed(ids.sparkSession, indexDir, IvfLayout)
    IndexStore.addTombstones(
      ids.select(col(id).cast("long").as("vid")).distinct(), indexDir,
      TombstoneSchema, "filter the corpus and run buildIvfIndex over it")
  }

  /** Live row count of the index — the drift-check seed
    * ([[graft.streaming.StreamingOps]]). Fast path (r17): with no
    * tombstone sidecar, live rows = meta's `n_build` (the base lists'
    * exact row count, stamped at commit) + the tail segment's count —
    * a footer-metadata job over the few per-epoch tail files instead
    * of a scan-plan over kCentroids partition directories. Falls back
    * to the exact tombstone-filtered [[ivfLists]].count() whenever a
    * sidecar exists.
    */
  def ivfLiveCount(s: org.apache.spark.sql.SparkSession,
      indexDir: String): Long = {
    val m = ivfMeta(s, indexDir)
    val nBuild = m.row._4
    if (IndexStore.tombstones(s, indexDir, TombstoneSchema).nonEmpty)
      ivfLists(s, indexDir).count()
    else if (!IndexStore.hasParquet(s, s"${m.dataDir}/tail")) nBuild
    else nBuild + m.read(s, "tail").count()
  }

  private def listsAndTail(s: org.apache.spark.sql.SparkSession,
      m: IvfMeta): DataFrame = {
    val base = m.read(s, "lists")
    if (!IndexStore.hasParquet(s, s"${m.dataDir}/tail")) base
    else base.unionByName(castTo(m.read(s, "tail"), base.schema))
  }

  /** `df` projected onto `st`'s columns, each cast to its type. */
  private def castTo(df: DataFrame, st: StructType): DataFrame =
    df.select(st.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Append new vectors to a persisted IVF index under its FROZEN
    * quantizer — the ingest-loop step after an admission gate admits
    * a batch (gate → admit → append → next batch): each new vector
    * is argmax-assigned to the EXISTING centroids and lands in that
    * list's partition; centroids, super-quantizer, and meta are
    * untouched, so concurrent probes keep their contract and the
    * assignment rule never shifts under a reader.
    *
    * Assignment is per row, against the generation's pinned centroid
    * literal ([[IvfMeta.centroids]]): `array_max` over the `(csim,
    * -cid)` structs of every centroid — the same ordering, ties (to
    * the smallest cid) and NaN handling as [[argmaxAssign]]'s
    * `max(struct)`, without its cross join, aggregation and join back.
    *
    * Idempotent and crash-safe: already-indexed vids are anti-joined
    * out (a vid-column-only read of the index — columnar, no payload
    * I/O), and the delta is ONE write job under the file commit
    * protocol, so a crash leaves at most part of it visible, and a
    * retry re-runs the anti-join against whatever landed — converging
    * without duplicating a vid.
    *
    * File layout (r15, the soak-measured fix): the delta lands as
    * ONE file per epoch (`coalesce(1)`) in the generation's
    * unpartitioned `tail/` segment, not as per-cid appends into the
    * partitioned base — a 250-epoch soak at 250k vectors measured the
    * per-cid layout accruing ~432 files/EPOCH (one per touched cid),
    * which made the per-epoch vid anti-join file-count-bound (2.5 s →
    * 5.4 s over 24 epochs while rows grew 2.4%) and would have put
    * ~10^5 files between drift rebuilds. With the tail segment, file
    * growth is exactly one per epoch and the vid scan stays flat.
    * [[ivfLists]] unions the tail in; probes keep partition pruning
    * on the base branch and pay a plain filter on the (small,
    * rebuild-bounded) tail; the drift rebuild — which reads
    * [[ivfLists]] — folds the tail into the next generation's
    * partitioned base, so the tail never outlives the 4x contract.
    *
    * Drift contract: kc was sized ⌈√N⌉ at build. Appends deepen
    * lists without adding centroids, so probe cost grows linearly in
    * appended volume at fixed kc — fine while the corpus stays
    * within a small factor of its build size; REBUILD the index
    * (one [[rebuildIvfIndex]] call — generation-staged, crash-safe)
    * once ingestion roughly quadruples the corpus (kc then lags √N
    * by 2×). [[graft.streaming.StreamingOps.ivfIngestLoop]] honors
    * this rule automatically mid-stream via meta's `n_build`. The
    * span index needs no such rule because its key set carries no
    * quantizer.
    */
  def appendIvfIndex(newVecs: DataFrame, id: String, vec: String,
      indexDir: String): Unit = {
    val s = newVecs.sparkSession
    // resolve the live generation ONCE; every read and the append
    // land in the same generation's dirs
    val m = ivfMeta(s, indexDir)
    // Refuse re-adding a tombstoned vid LOUDLY: its dead rows are
    // still physical, so the duplicate-guard anti-join below would
    // silently drop the new copy, and skipping the guard would
    // resurrect both copies. Rebuild first, then append.
    IndexStore.refuseTombstoned(newVecs.select(col(id).cast("long").as("vid")),
      IndexStore.tombstones(s, indexDir, TombstoneSchema),
      s"appendIvfIndex: batch re-adds vids tombstoned at $indexDir — " +
        "run rebuildIvfIndex first (folds removals out), then append")
    val cents = m.centroids(s)._1
    val best = array_max(transform(cents, c => struct(
      (dot(col("v"), c.getField("_2")) / (col("nrm") * c.getField("_3")))
        .as("csim"),
      negate(c.getField("_1")).as("negc"))))
    val fresh = newVecs.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .filter(col("nrm") > 0)
      .join(listsAndTail(s, m).select("vid"), Seq("vid"), "left_anti")
      .withColumn("cid", negate(best.getField("negc")))
    // Tail files are written in the tail's pinned schema (the base
    // lists' columns, cid as long) so every tail read can pass it.
    castTo(fresh, m.schema(s, "tail"))
      .coalesce(1)
      .write.mode("append").parquet(s"${m.dataDir}/tail")
  }

  /** The (quantizer, lloydIters, kCentroids) a persisted IVF index
    * was built with ([[buildIvfIndex]]'s meta row).
    */
  def ivfIndexMeta(s: org.apache.spark.sql.SparkSession,
      indexDir: String): (String, Int, Int) = {
    val (q, i, kc, _, _) = ivfMetaFull(s, indexDir)
    (q, i, kc)
  }

  /** Probe a persisted IVF index ([[buildIvfIndex]]) — identical
    * result to [[ivfTopK]] at the index's build parameters, with the
    * quantizer build amortized away: probe cost is one broadcast of
    * the kCentroids centroid rows plus a partition-pruned read of the
    * `nprobe` probed lists per query batch. `expectQuantizer` /
    * `expectKCentroids` / `expectLloydIters` (when supplied) are
    * validated against the index meta and a contradiction throws —
    * the d30 contract: parameters travel with the index, callers
    * assert rather than assume.
    */
  def ivfProbe(queries: DataFrame, indexDir: String, id: String, vec: String,
      k: Int, nprobe: Int = 0, expectQuantizer: String = "",
      expectKCentroids: Int = 0, expectLloydIters: Int = 0): DataFrame = {
    val s = queries.sparkSession
    val (mq, mi, mkc) = ivfIndexMeta(s, indexDir)
    def contradict(what: String, want: Any, got: Any): Nothing =
      throw new IllegalStateException(
        s"ivfProbe: index at $indexDir was built with $what=$got, " +
          s"caller expects $want — rebuild the index or fix the caller")
    if (expectQuantizer.nonEmpty && expectQuantizer != mq)
      contradict("quantizer", expectQuantizer, mq)
    if (expectKCentroids > 0 && expectKCentroids != mkc)
      contradict("kCentroids", expectKCentroids, mkc)
    if (expectLloydIters > 0 && expectLloydIters != mi)
      contradict("lloydIters", expectLloydIters, mi)
    // nprobe = 0 → the deployed [[adaptiveNprobe]] rule over the
    // index's OWN kc (read from meta) — probes follow the quantizer
    // they actually hit, not the one the caller remembers
    val np = if (nprobe > 0) nprobe else adaptiveNprobe(mkc)
    probeTopK(queries, ivfCentroids(s, indexDir), ivfLists(s, indexDir),
      id, vec, k, np)
  }

  /** The zero-norm-guarded `(vid, v, nrm)` projection every
    * clustering entry starts from.
    */
  private def vecFrame(corpus: DataFrame, id: String,
      vec: String): DataFrame =
    corpus.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .filter(col("nrm") > 0)

  /** Run the seeded k-means build EAGERLY and return the centroids
    * as a driver-local literal frame (kCentroids rows — the same
    * dim-table collect contract as [[litIndexCandidates]]). The
    * corpus projection is persisted only for the duration of the
    * build and unpersisted in a finally — the LAZY frames the
    * clustering entries return therefore depend on no cached state,
    * so a long-lived session leaks nothing (the one re-derivation
    * they pay is a single corpus scan + map-side argmax per action,
    * cheaper at scale than a corpus-sized cache pinned for the
    * lifetime of a result nobody may ever act on).
    */
  private def collectedCentroids(v: DataFrame, kCentroids: Int,
      lloydIters: Int): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val vp = v.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      kmeansCentroids(vp, kCentroids, lloydIters)
        .select(col("cid"), toDouble(col("cv")).as("cv"), col("cnrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .toSeq.toDF("cid", "cv", "cnrm")
    } finally { vp.unpersist(); () }
  }

  /** Topic-clustering report over an embedded corpus: cluster every
    * vector with the deterministic seeded k-means quantizer
    * ([[kmeansCentroids]] — the d19/d37 coarse quantizer reused as a
    * clustering operator in its own right) and summarize each
    * cluster against a categorical column: member count, distinct
    * labels, the majority label with its count, and an integer
    * `purity_pm = top_n * 1000 div n_vecs`. The corpus-composition
    * view a curation pipeline runs before mixture decisions ("what
    * topics are in here, and how coherent are they") and the
    * cluster-quality diagnostic for the IVF index (skewed or
    * label-impure lists → poor probed recall).
    *
    * The label keeps its NATIVE type (string topics are the common
    * case; the old long cast silently nulled them) — ties on the
    * majority label break to the smallest label in the type's
    * natural ordering, so the report is bit-stable and carries a SQL
    * oracle for any orderable label. Scale shape: the k-means build
    * runs eagerly (centroids return as a kCentroids-row literal —
    * [[collectedCentroids]], which also bounds cache residency);
    * assignment is map-side argmax; the label roll-up is two partial
    * aggregations on frames bounded by `kCentroids × #labels` —
    * nothing downstream of the one corpus scan is corpus-sized.
    */
  def clusterReport(corpus: DataFrame, id: String, vec: String,
      labelCol: String, kCentroids: Int = 16,
      lloydIters: Int = 1): DataFrame = {
    val v = vecFrame(corpus, id, vec)
    val cents = collectedCentroids(v, kCentroids, lloydIters)
    labelRollup(argmaxAssign(v, cents)
      .join(corpus.select(col(id).as("vid"), col(labelCol).as("__lbl")),
        "vid"))
  }

  /** [[clusterReport]] against a PERSISTED IVF index
    * ([[buildIvfIndex]]) instead of a fresh quantizer build: the
    * index's inverted lists already carry the (vid, cid) assignment,
    * so the report costs one pruned index read + the bounded
    * roll-up — no corpus pass, no centroid broadcast, no argmax.
    * The d37 build-once/probe-many amortization applied to the
    * clustering surface: build the index once, then search (d19),
    * report (d42), and rebalance (d43) against the same assignment.
    * `labels` supplies `(id, labelCol)` (e.g. the embeddings table).
    */
  def clusterReportFromIndex(s: org.apache.spark.sql.SparkSession,
      indexDir: String, labels: DataFrame, id: String,
      labelCol: String): DataFrame =
    labelRollup(ivfLists(s, indexDir)
      .select(col("cid"), col("vid"))
      .join(labels.select(col(id).as("vid"),
        col(labelCol).as("__lbl")), "vid"))

  /** Shared cluster×label roll-up of [[clusterReport]] and
    * [[clusterReportFromIndex]]: input `(cid, __lbl)` rows, output
    * the per-cluster report. Two partial aggregations on frames
    * bounded by `kCentroids × #labels`. The majority pick is
    * `min(struct(-n, label))` so it works — and tie-breaks by the
    * natural ascending order — for ANY orderable label type,
    * numeric or string.
    */
  private def labelRollup(assignWithLabel: DataFrame): DataFrame =
    assignWithLabel
      .groupBy("cid", "__lbl").agg(count(lit(1)).as("__n"))
      .groupBy("cid").agg(
        sum(col("__n")).as("n_vecs"),
        count(lit(1)).as("n_labels"),
        min(struct((-col("__n")).as("negn"), col("__lbl").as("lbl")))
          .as("__top"))
      .select(col("cid"), col("n_vecs"), col("n_labels"),
        col("__top.lbl").as("top_label"), (-col("__top.negn")).as("top_n"),
        expr("(-__top.negn) * 1000 div n_vecs").as("purity_pm"))

  /** Cluster-balanced sampling: assign vectors to k-means clusters
    * and emit the subset that downsamples every cluster toward an
    * EQUAL share of a `budgetNumer/budgetDenom` corpus budget — the
    * embedding-space twin of source-mixture balancing
    * ([[graft.sampling.Sampler.mixRates]]): where d40 balances on a
    * metadata column, this balances on CONTENT (over-represented
    * topics are thinned whatever their source says). Under-share
    * clusters keep everything (never upsamples).
    *
    * The keep decision is `poly_hash(id || "|cbal") per-mille
    * < rate_pm` — a pure function of the vector id (the d20/d40
    * content-hash rule, [[graft.functions.TextHash]]), so the sample
    * is reproducible across runs, shards, and engines. All budget
    * arithmetic is integer on a ≤ `kCentroids`-row frame. Output:
    * one row per surviving vector `(id, cid, samp_pm, rate_pm)`.
    */
  def clusterBalancedSample(corpus: DataFrame, id: String, vec: String,
      kCentroids: Int = 16, lloydIters: Int = 1,
      budgetNumer: Long = 1L, budgetDenom: Long = 2L): DataFrame = {
    require(budgetNumer >= 0 && budgetDenom > 0,
      s"budget fraction must be >= 0 with a positive denominator, " +
        s"got $budgetNumer/$budgetDenom")
    val v = vecFrame(corpus, id, vec)
    val cents = collectedCentroids(v, kCentroids, lloydIters)
    balancedSelect(argmaxAssign(v, cents), id, budgetNumer, budgetDenom)
  }

  /** [[clusterBalancedSample]] against a PERSISTED IVF index — same
    * amortization as [[clusterReportFromIndex]]: the (vid, cid)
    * assignment comes from the index's inverted lists, so
    * rebalancing an already-indexed corpus never rebuilds or
    * re-assigns the quantizer.
    */
  def clusterBalancedSampleFromIndex(s: org.apache.spark.sql.SparkSession,
      indexDir: String, id: String, budgetNumer: Long = 1L,
      budgetDenom: Long = 2L): DataFrame = {
    require(budgetNumer >= 0 && budgetDenom > 0,
      s"budget fraction must be >= 0 with a positive denominator, " +
        s"got $budgetNumer/$budgetDenom")
    // no persist: the assignment is a narrow (cid, vid) parquet read
    // the sizing pass and the lazy selection each re-read — cheaper
    // than pinning a cache for the lifetime of the returned frame
    balancedSelect(ivfLists(s, indexDir)
        .select(col("cid"), col("vid")),
      id, budgetNumer, budgetDenom)
  }

  /** Shared equal-share selection of [[clusterBalancedSample]] and
    * [[clusterBalancedSampleFromIndex]]: input `(cid, vid)`
    * assignment rows, output the surviving
    * `(id, cid, samp_pm, rate_pm)` rows. The per-cluster sizes are
    * collected EAGERLY (≤ kCentroids rows — dim-table class, same
    * contract as the centroid collect) and come back as a broadcast
    * literal, so the returned lazy frame depends on no cached state;
    * it re-derives the assignment once when acted on.
    */
  private def balancedSelect(assign: DataFrame, id: String,
      budgetNumer: Long, budgetDenom: Long): DataFrame = {
    val s = assign.sparkSession
    import s.implicits._
    val cidType = assign.schema("cid").dataType
    val sizes = assign.groupBy("cid").agg(count(lit(1)).as("__nc"))
      .collect()
      .map(r => (r.getAs[Number]("cid").longValue(), r.getLong(1)))
      .toSeq.toDF("cid", "__nc")
      // keep the join key in the assignment's own cid type (an index
      // read may surface the partition column as int)
      .select(col("cid").cast(cidType).as("cid"), col("__nc"))
    val totals = sizes.agg(sum(col("__nc")).as("__tot"),
      count(lit(1)).as("__nclusters"))
    val rates = sizes.crossJoin(totals)
      .withColumn("rate_pm", least(lit(1000L),
        expr(s"__tot * $budgetNumer div ($budgetDenom * __nclusters) " +
          "* 1000 div greatest(__nc, 1)")))
      .select(col("cid"), col("rate_pm"))
    assign
      .withColumn("samp_pm",
        // the d20/d40 per-mille rule on the id string: pure,
        // engine-mirrorable (the oracle reuses its duckHash twin)
        pmod(graft.functions.TextHash.poly_hash(
          concat(col("vid").cast("string"), lit("|cbal"))), lit(1000L)))
      .join(broadcast(rates), "cid")
      .filter(col("samp_pm") < col("rate_pm"))
      .select(col("vid").as(id), col("cid"), col("samp_pm"), col("rate_pm"))
  }

  /** Centroid-count ceiling for the √N kc policy (annOrIvfTopK, c26):
    * at the 2^23-vector routing boundary √N ≈ 2900 and lists hold
    * ~√N vectors each; 65536 leaves the policy headroom to ~4·10⁹
    * vectors per index before lists deepen past √N. The streaming
    * probe ([[litIndexCandidates]]) ranks any of these centroid counts
    * exactly, with a plan whose size does not grow with kc.
    */
  val KCentroidsMax: Int = 65536

  /** STREAMING-SAFE probe of a persisted IVF index
    * ([[buildIvfIndex]]): per query row, the cosine scores against
    * every vector in the query's `nprobe` nearest inverted lists.
    *
    * [[ivfProbe]]'s plan ranks probed centroids with a window — fine
    * in batch, unsupported on a streaming frame. Here the centroid
    * table is driver-collected (kCentroids rows — dim-table class,
    * the same collect contract as HashedLinear's weights; once per
    * generation, pinned by [[IvfMeta.centroids]]) and rides
    * the plan as ONE `typedLit` array value: a single Literal node
    * holding kc `(cid, cv, cnrm)` structs as boxed data. Per-row
    * ranking is `slice(array_sort(transform(...)), 1, nprobe)` over
    * it — pure per-row column arithmetic, no window, no sort, no extra
    * shuffle — followed by one equi-join against the static inverted
    * lists. The identical plan therefore runs on a batch OR streaming
    * query frame (stream ⋈ static joins are supported), which is what
    * a streaming near-dup admission gate needs.
    *
    * Plan size is independent of kc: generated code references the
    * literal as one object, so no per-centroid expression node grows
    * the generated methods (an `array(struct, struct, ...)` of one
    * expression literal per centroid hits janino's method-size cliff
    * at ~736 elements). The literal is data — ~9 MB at the
    * [[KCentroidsMax]] ceiling, serialized once per stage. Ranking
    * costs kc interpreted sims plus one kc-element sort per row,
    * subdominant by ~nprobe× to the codegen'd list scan (nprobe·N/kc
    * ≈ N^(3/4)) that follows. Selection is EXACT at every kc; two
    * hierarchical-pruning cuts measured short on planted-dup recall
    * (GATE_SF1.md, "AdmissionScale: the c26 recall/scale table").
    *
    * Ties in the centroid ranking break to the smallest cid (the
    * struct sorts ascending by (-sim, cid)), matching the SQL
    * oracle's `ORDER BY sim DESC, cid`. A corpus vector lives in
    * exactly one list, so no (query, candidate) pair is scored
    * twice. Zero-norm queries are dropped (NaN-cosine guard).
    * Output: `(id, n_id, cos)` candidate rows.
    */
  def litIndexCandidates(s: org.apache.spark.sql.SparkSession,
      queries: DataFrame, indexDir: String, id: String, vec: String,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val (centLit, kc) = ivfMeta(s, indexDir).centroids(s)
    queries
      .select(col(id), col(vec).as("__qv"))
      .withColumn("__qnrm", norm2(col("__qv")))
      .filter(col("__qnrm") > 0)
      .withColumn("__probe",
        explode(slice(array_sort(transform(centLit, c =>
          struct(
            (negate(dot(col("__qv"), c.getField("_2")))
              / (col("__qnrm") * c.getField("_3"))).as("negsim"),
            c.getField("_1").as("cid")))), 1,
          math.min(nprobe, kc))))
      .select(col(id), col("__qv"), col("__qnrm"), col("__probe.cid").as("cid"))
      .join(ivfLists(s, indexDir), "cid")
      .select(col(id), col("vid").as("n_id"),
        (dot(col("__qv"), col("v")) / (col("__qnrm") * col("nrm")))
          .as("cos"))
  }

  /** Near-duplicate pairs above a cosine threshold, blocked by a
    * coarse key (e.g. cluster label / LSH bucket) so the pair join
    * is an equi-join, not a cross join.
    */
  def nearDupPairs(vectors: DataFrame, id: String, vec: String,
      blockKey: String, minCos: Double): DataFrame = {
    // norms precomputed per vector (not per pair) and the table
    // materialized so the self-join probes cached rows; vectors stay
    // in their source element type (float halves the cached bytes —
    // VecDot widens per element, same arithmetic as a double cast)
    val v = vectors.select(col(id), col(blockKey).as("blk"),
        col(vec).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .filter(col("nrm") > 0) // NaN cosine guard, as in ivfTopK/d17
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    v.as("l").join(v.as("r"),
        col("l.blk") === col("r.blk") && col(s"l.$id") < col(s"r.$id"))
      .select(col(s"l.$id").as("id1"), col(s"r.$id").as("id2"),
        (dot(col("l.v"), col("r.v")) / (col("l.nrm") * col("r.nrm"))).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
