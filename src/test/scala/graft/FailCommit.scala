package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import scala.util.Try

/** Commit protocol whose job commit throws when the output directory is
  * named `FailCommit.target`: the tasks have written their files, and the
  * job dies where a kill during that commit would leave it. */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (FailCommit.target.contains(new Path(path).getName))
      throw new java.io.IOException(s"injected failure committing $path")
    super.commitJob(jobContext, taskCommits)
  }
}

object FailCommit {
  @volatile private[graft] var target: Option[String] = None

  /** Run `body` with every job that commits into a directory named `dir`
    * failing; the session's commit protocol is restored afterwards. A
    * failure is returned, not thrown. */
  def during[T](spark: SparkSession, dir: String)(body: => T): Try[T] = {
    val key = "spark.sql.sources.commitProtocolClass"
    val old = spark.conf.get(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    target = Some(dir)
    try Try(body)
    finally {
      target = None
      spark.conf.set(key, old)
    }
  }
}
