package graft

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** A file commit protocol whose job commit throws for an output path
  * containing the fragment set under [[FailingCommitProtocol.Key]] —
  * a write job that ran every task and then failed to commit, as a
  * crash between the tasks and the commit leaves it. Installed on a
  * fresh session only ([[FailingCommitProtocol.session]]), so other
  * sessions write as usual.
  */
class FailingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    val fragment = jobContext.getConfiguration.get(FailingCommitProtocol.Key)
    if (fragment != null && path.contains(fragment))
      throw new java.io.IOException(s"${FailingCommitProtocol.Marker} $path")
    super.commitJob(jobContext, taskCommits)
  }
}

object FailingCommitProtocol {
  val Key = "graft.test.failCommitFor"
  val Marker = "injected commit failure:"

  /** A new session of `spark` whose write jobs to a path containing
    * `fragment` fail at their job commit.
    */
  def session(spark: SparkSession, fragment: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[FailingCommitProtocol].getName)
    s.conf.set(Key, fragment)
    s
  }

  /** Whether `e` or one of its causes is an injected failure. */
  def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(Marker)))
}
