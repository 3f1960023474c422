package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the query catalog.
  *
  * Determinism rules (SURVEY §5): event-time columns leave queries
  * as epoch-ms longs (`unix_millis`); money aggregates go through
  * exact DECIMAL sums and only then to DOUBLE; every rank has a
  * total-order tie-breaker.
  */
object QueryUtil {
  type QFn = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` column arrives in one of three parquet
    * encodings depending on the generator: TIMESTAMP(NANOS) read as
    * nanosecond longs (spark.sql.legacy.parquet.nanosAsLong),
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false (TimestampNTZType),
    * or a UTC-adjusted TimestampType. Normalize all three to a
    * µs-precision UTC TimestampType: the long path divides by 1000
    * as integers (exact floor, no doubles); the NTZ path reinterprets
    * wall time under the session's UTC zone (value-preserving — the
    * generator writes UTC instants either way). The long path needs
    * the nanosAsLong flag, which [[graft.engine.Session]] sets once
    * per session; a session without it is refused
    * ([[requireNanosAsLong]]).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    requireNanosAsLong(s)
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Refuse a session that reads TIMESTAMP(NANOS) parquet as an error
    * instead of as nanosecond longs. The event readers never set the
    * flag themselves: a mid-session flip would change how every other
    * reader of the session sees such files.
    */
  def requireNanosAsLong(s: SparkSession): Unit = {
    val flag = graft.engine.Session.NanosAsLong
    if (!s.conf.get(flag, "false").toBoolean) throw new IllegalStateException(
      s"$flag is off in this session — the events readers need it on; " +
        "build the session with graft.engine.Session.builder")
  }

  /** Event time as epoch milliseconds — stable across Spark's µs
    * truncation of parquet ns timestamps vs DuckDB's native ns.
    */
  def epochMs(ts: Column): Column = unix_millis(ts)

  /** Exact money sum: DOUBLE → DECIMAL(18,2) → sum (exact) → DOUBLE.
    * Bit-identical on any engine with exact decimal aggregation, no
    * float summation-order sensitivity.
    */
  def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Same, with 4-decimal quantization for derived money products. */
  def moneySum4(c: Column): Column =
    sum(c.cast("decimal(22,4)")).cast("double")

  /** Spread a narrow scan across the session's cores before a
    * CPU-heavy per-row kernel (hashing, signatures, regex). A
    * single-row-group parquet file reads as ONE partition — fine for
    * IO-bound plans, serializing for compute-bound ones. At cluster
    * scale inputs arrive with many splits and this is a no-op; the
    * round-robin exchange only fires when the scan has fewer
    * partitions than the session has cores.
    */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }
}
