package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.engine.Parallel

/** The connected-components loops size their shuffles per round
  * without touching the caller's session: work running beside a loop
  * under [[graft.engine.Parallel]] plans at the caller's shuffle width
  * the whole time, a plain shuffle and a span-index build alike.
  */
class CcLoopSessionSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Partition counts of the shuffles an executed `df` ran. */
  private def shuffleWidths(df: DataFrame): Seq[Int] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e.numPartitions
    }

  test("a CC loop under Parallel.run leaves concurrent shuffles and span builds at the caller's width") {
    import spark.implicits._
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a 40-node path: min-label takes ~10 actions, all at 1 partition
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("d1", "d2")
    val idx = graft.engine.Scratch.dir("graft_ccsession_")
    val shuffles = new ConcurrentLinkedQueue[Int]()
    val bucketCounts = new ConcurrentLinkedQueue[Int]()
    @volatile var done = false
    var labels = Map.empty[(String, Long), Long]
    try {
      Parallel.run(
        () => try {
          for ((algo, cc) <- Seq[(String, DataFrame => (DataFrame, Int))](
              "minlabel" -> Dedup.ccMinLabel, "star" -> Dedup.ccSmallLargeStar)) {
            val (l, _) = cc(edges)
            labels ++= l.collect().map(r => (algo, r.getLong(0)) -> r.getLong(1))
            l.unpersist()
          }
        } finally done = true,
        () => do {
          val df = spark.range(0, 2000).groupBy((col("id") % 13).as("k")).count()
          assert(df.collect().length == 13)
          shuffles.addAll(shuffleWidths(df).asJava)
        } while (!done),
        () => do {
          Dedup.buildSpanIndex(
            Seq(1L -> "a b c d", 2L -> "e f g h").toDF("doc_id", "text"),
            "doc_id", "text", idx, width = 2)
          bucketCounts.add(spark.read.parquet(s"$idx/meta").head().getAs[Int]("buckets"))
        } while (!done))
    } finally Dedup.deleteSpanIndex(spark, idx)
    assert(labels.size == 80 && labels.values.forall(_ == 0L))
    assert(shuffles.asScala.nonEmpty && shuffles.asScala.forall(_ == width),
      s"concurrent shuffle widths ${shuffles.asScala.toSeq.distinct}, caller's $width")
    assert(bucketCounts.asScala.nonEmpty && bucketCounts.asScala.forall(_ == width),
      s"concurrent span builds recorded ${bucketCounts.asScala.toSeq.distinct}, caller's $width")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == width)
  }
}
