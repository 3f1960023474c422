package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's scale posture.
  *
  * Mirrors the reference pipeline's tuning surface
  * (/root/reference/main_pipeline.py:245-260 — AQE, skew-join
  * handling, dynamic allocation) re-expressed as Spark-4 conf:
  * AQE on (runtime coalesce + skew split), broadcast threshold for
  * dim tables, shuffle partitions sized to the cluster rather than
  * the 200 default.
  */
object Session {
  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's parallelismFirst default (split small shuffles to
      // ~defaultParallelism rather than the advisory byte target) is
      // deliberately KEPT (r17 measured both): honoring the byte
      // advisory instead collapses the engine's CPU-heavy,
      // small-BYTES stages (minhash signatures over text, pair
      // verification) to one task — d18 went 5.0 → 6.5 s at 32 cores
      // under parallelismFirst=false. The task-overhead problem on
      // genuinely tiny ITERATIVE shuffles is solved where the data
      // size is known instead: the star-CC loop derives its shuffle
      // partition count from the measured per-round edge count
      // ([[graft.dedup.Dedup]] — scale-adaptive, not a constant).
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // The 64 MB threshold above deliberately broadcasts MEDIUM
      // relations (pruned IVF lists, staged index deltas), whose
      // build side is a real job, not a dim-table lookup. The 300 s
      // default timeout then couples correctness to host load: the
      // sf10 spot gate's c26 stream died twice at exactly 300 s
      // under a contended host while the same plan completes quietly
      // otherwise. A slow broadcast should be slow, not fatal.
      .config("spark.sql.broadcastTimeout", "1800")
      // Typed aggregates run on ObjectHashAggregate, whose sort-based
      // fallback kicks in at a default of 128 distinct keys per
      // partition — far too eager for high-cardinality gram/band keys.
      // 32768 keys bounds worst-case hash-map state (every key at a
      // full TopKAgg cap of 512 entries ≈ 256 MB/partition) while
      // staying far above the per-partition band-key cardinality at
      // the tested scale factors (≈6k keys/partition at a 50k-doc
      // sf1.0 over 32 partitions) — so the capped-bucket
      // aggregations execute hash-based, which SkewStressSpec
      // asserts empirically via the operator's numTasksFallBacked
      // metric rather than on faith. Past this threshold the
      // fallback is a graceful slow path, not a correctness change;
      // a 1000-executor deployment with more partitions lowers
      // keys/partition proportionally. The one unbounded agg state —
      // chunked ewma/cusum per-(key, chunk) arrays — is bounded by
      // the chunk width, and groups by (sensor, time-chunk) whose
      // per-partition cardinality is modest.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "32768")
      // Generated-class cache (a static conf: the JVM-wide cache is
      // sized once, by the session that first generates code). The
      // default 100 entries are split over 4 LRU segments of 25, so
      // an ingest-gate epoch's working set (~75-85 distinct classes:
      // scoring, embedding, probe, fate aggregation, two appends,
      // the between-epoch checks) evicted itself every epoch and
      // every epoch recompiled it, C2 re-JITting Janino and the
      // planner along the way. A whole gate benchmark run compiles
      // 320 distinct classes; 2000 holds that with headroom. Cost: a
      // compiled class holds ~10 KB of metaspace (measured on JDK 17:
      // 1,200 compiles of small projection/filter stages, +12.6 MB),
      // more for join and aggregate stages, so a full cache is tens
      // of MB, reached only by a JVM that really generates 2000
      // distinct plans. A gate benchmark run ended +1.1 MB over the
      // default size.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet (older events.parquet generators) reads
      // as nanosecond longs, set once here rather than flipped by each
      // reader mid-session ([[graft.queries.QueryUtil.events]]).
      .config(NanosAsLong, "true")
      .config("spark.ui.enabled", "false")
      // Permissions on local files without forking `chmod` ([[LocalFs]]).
      .config(LocalFs.conf)

  /** The flag the event readers need on
    * ([[graft.queries.QueryUtil.requireNanosAsLong]]).
    */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The core count the CLI mains run `local[n]` with: the
    * `SPARK_GRAFT_CPUS` value (default 4), parsed once. Anything but a
    * positive integer fails fast instead of reaching the master URL
    * or a bench record as a raw string.
    */
  def cpus(raw: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    raw.map(_.trim).fold(4) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  def local(cores: Int = 4): SparkSession = {
    val s = builder(master = s"local[$cores]", shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
