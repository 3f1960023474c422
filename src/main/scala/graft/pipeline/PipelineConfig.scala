package graft.pipeline

/** Runtime configuration for the sensor pipeline — the engine-side
  * twin of the reference's PipelineConfig dataclass
  * (/root/reference/main_pipeline.py:23-42). Orchestration-only
  * fields (AWS credentials, Airflow variable names) are out of
  * engine scope; everything that shapes a Spark plan is here.
  */
case class PipelineConfig(
    outputDir: String = "/tmp/out",
    sensorPatterns: Seq[String] = Seq(".*"),
    defaultStartDate: String = "2024-01-01",
    lookbackDays: Int = 30,
    jdbcFetchSize: Int = 10000,
    jdbcNumPartitions: Int = 8,
    writeMode: String = "overwrite",
    maxRecordsPerFile: Int = 100000,
    integrityMin: Double = 0.0,
    integrityMax: Double = 1e9)

object PipelineConfig {

  /** Read the config from a JSON file. The refresh analog of the
    * reference's Config_manager_dag → Airflow-variable push
    * (/root/reference/main_pipeline.py:44-73): instead of an
    * orchestrator pushing new values into a running job, the job
    * rereads this file at each micro-batch boundary
    * ([[SensorJob.streamWithConfigReload]]) — same operational
    * contract (update a small config document, the next batch sees
    * it) with no external scheduler in the loop.
    */
  def fromJsonFile(path: String): PipelineConfig =
    fromJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Minimal JSON loader (flat string/number/bool object — the
    * shape the reference stores in Airflow variables / Secrets
    * Manager). No external JSON dependency by design.
    */
  def fromJson(json: String): PipelineConfig = {
    val kv = raw""""(\w+)"\s*:\s*("([^"]*)"|[-0-9.eE]+|true|false)""".r
      .findAllMatchIn(json)
      .map(m => m.group(1) -> Option(m.group(3)).getOrElse(m.group(2)))
      .toMap
    def str(k: String, d: String) = kv.getOrElse(k, d)
    def int(k: String, d: Int) = kv.get(k).map(_.toInt).getOrElse(d)
    def dbl(k: String, d: Double) = kv.get(k).map(_.toDouble).getOrElse(d)
    val base = PipelineConfig()
    PipelineConfig(
      outputDir = str("outputDir", base.outputDir),
      sensorPatterns = kv.get("sensorPatterns").map(_.split(',').toSeq)
        .getOrElse(base.sensorPatterns),
      defaultStartDate = str("defaultStartDate", base.defaultStartDate),
      lookbackDays = int("lookbackDays", base.lookbackDays),
      jdbcFetchSize = int("jdbcFetchSize", base.jdbcFetchSize),
      jdbcNumPartitions = int("jdbcNumPartitions", base.jdbcNumPartitions),
      writeMode = str("writeMode", base.writeMode),
      maxRecordsPerFile = int("maxRecordsPerFile", base.maxRecordsPerFile),
      integrityMin = dbl("integrityMin", base.integrityMin),
      integrityMax = dbl("integrityMax", base.integrityMax))
  }
}
