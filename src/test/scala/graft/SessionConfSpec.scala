package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.engine.{Parallel, Session}
import graft.queries.QueryUtil
import graft.streaming.StreamingOps

/** Library calls leave the caller's session conf as they found it:
  * [[StreamingOps.runToTable]] runs at the session's shuffle width,
  * and the event readers neither set nor flip the nanosAsLong flag
  * that [[graft.engine.Session]] sets once per session.
  */
class SessionConfSpec extends AnyFunSuite {
  import SparkTestBase._

  test("a shuffle planned beside runToTable keeps the session's width of 12") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "12")
    val dir = java.nio.file.Files.createTempDirectory("graft_runtotable").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/lines.txt"),
      (1 to 50).map(i => "x" * i).mkString("\n").getBytes("UTF-8"))
    val widths = ConcurrentHashMap.newKeySet[Int]()
    val seen = ConcurrentHashMap.newKeySet[String]()
    @volatile var done = false
    Parallel.run(
      () => try {
        (1 to 5).foreach { i =>
          val counts = StreamingOps.runToTable(
            s.readStream.text(dir).groupBy((length(col("value")) % 3).as("k")).count(),
            s, s"graft_runtotable_$i", "complete")
          assert(counts.count() == 3)
        }
      } finally done = true,
      () => do {
        val df = s.range(0, 100).groupBy((col("id") % 7).as("k")).count()
        widths.addAll(new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeLike => e.numPartitions
        }.asJava)
      } while (!done),
      () => do seen.add(s.conf.get("spark.sql.shuffle.partitions")) while (!done))
    assert(widths.asScala == Set(12),
      s"shuffles planned beside runToTable ran at ${widths.asScala}")
    assert(seen.asScala == Set("12"),
      s"the session's width read ${seen.asScala} beside runToTable")
  }

  test("the event readers refuse a session with nanosAsLong off, naming the flag") {
    val prev = spark.conf.get(Session.NanosAsLong)
    assert(prev == "true", "graft.engine.Session sets the flag")
    spark.conf.set(Session.NanosAsLong, "false")
    try {
      Seq[() => Any](
        () => QueryUtil.events(spark, sf),
        () => StreamingOps.readEventsStream(spark, sf)).foreach { read =>
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains(Session.NanosAsLong), e.getMessage)
      }
      assert(spark.conf.get(Session.NanosAsLong) == "false", "a refused read set the flag")
    } finally spark.conf.set(Session.NanosAsLong, prev)
  }

  test("a TIMESTAMP(NANOS) file reads the same before and after events") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    writeNanosEvents(s"$dir/events.parquet")
    def plain = spark.read.parquet(s"$dir/events.parquet").collect().toSeq
    val before = plain
    assert(before.map(_.getAs[Long]("ts")) == Seq(1700000000123456789L, 1700000001987654321L))
    val viaEvents = QueryUtil.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaEvents == Map(1L -> 1700000000123456L, 2L -> 1700000001987654L))
    assert(plain == before)
  }

  /** Two events rows whose `ts` is INT64 TIMESTAMP(NANOS) — the encoding
    * older generators wrote and Spark cannot write itself.
    */
  private def writeNanosEvents(file: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001987654321L).foreach {
      case (id, ts) =>
        w.write(rows.newGroup().append("event_id", id).append("ts", ts)
          .append("user_id", 10L).append("event_type", "click")
          .append("value", 1.5).append("props", "{}"))
    } finally w.close()
  }
}
