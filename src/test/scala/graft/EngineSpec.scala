package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftExtensions
import graft.functions.TextHash
import graft.pipeline.PipelineConfig

class EngineSpec extends AnyFunSuite {
  import SparkTestBase._

  test("registered SQL functions evaluate like the Column API") {
    GraftExtensions.register(spark)
    val h = spark.sql("SELECT poly_hash('hello world') AS h").head().getLong(0)
    assert(h == TextHash.polyHashStr("hello world"))
    val sig = spark.sql(
      "SELECT minhash_sig(shingle_hashes('abcdefghijklmnop', 8), 4) AS s")
      .head().getSeq[Long](0)
    assert(sig.size == 4)
    val sh = spark.sql(
      "SELECT simhash(word_gram_hashes('a b c d e', 3), 30) AS s")
      .head().getLong(0)
    assert(sh >= 0L)
    val d = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
  }

  test("PipelineConfig round-trips from flat JSON") {
    val c = PipelineConfig.fromJson(
      """{"inputDir": "/in", "lookbackDays": 7, "useAqe": false,
        |"integrityMax": 500.5, "sensorPatterns": "a,b"}""".stripMargin)
    assert(c.lookbackDays == 7)
    assert(c.integrityMax == 500.5)
    assert(c.sensorPatterns == Seq("a", "b"))
    assert(c.writeMode == "overwrite") // default preserved
  }

  test("JDBC options carry partitioned-read settings") {
    val opts = graft.sources.Jdbc.connectionOptions(
      "jdbc:postgresql://host/db", "u", "p", PipelineConfig(jdbcNumPartitions = 4))
    assert(opts("numPartitions") == "4")
    assert(opts("partitionColumn") == "tagid")
    assert(opts("fetchsize") == "10000")
  }

  test("Scratch registers live dirs and delete deregisters them") {
    val before = graft.engine.Scratch.liveCount
    val a = graft.engine.Scratch.dir("graft_enginespec_")
    val b = graft.engine.Scratch.dir("graft_enginespec_")
    assert(graft.engine.Scratch.liveCount == before + 2)
    assert(new java.io.File(a).isDirectory && new java.io.File(b).isDirectory)
    graft.engine.Scratch.delete(a)
    assert(graft.engine.Scratch.liveCount == before + 1,
      "eager delete must deregister the path from the exit sweep")
    assert(!new java.io.File(a).exists())
    graft.engine.Scratch.delete(b)
    assert(graft.engine.Scratch.liveCount == before)
    // double delete is a no-op
    graft.engine.Scratch.delete(b)
    assert(graft.engine.Scratch.liveCount == before)
  }
}
