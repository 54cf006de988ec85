package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
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

/** Commit protocol whose first task setup in a job writing into a
  * directory named `FailCommit.loseShuffleIn` fails as if the shuffle
  * it reads had lost its outputs (see `FailCommit.losingShuffleOnce`). */
class LosingShuffleCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupTask(taskContext: TaskAttemptContext): Unit = {
    if (FailCommit.loseShuffleIn.contains(new Path(path).getName) &&
        FailCommit.shuffleLost.compareAndSet(false, true))
      org.apache.spark.graftbridge.LostShuffle.fail()
    super.setupTask(taskContext)
  }
}

object FailCommit {
  @volatile private[graft] var target: Option[String] = None

  /** Run `body` with every job that commits into a directory named `dir`
    * failing; the session's commit protocol is restored afterwards. A
    * failure is returned, not thrown. */
  def during[T](spark: SparkSession, dir: String)(body: => T): Try[T] =
    withProtocol(spark, classOf[FailingCommitProtocol]) {
      target = Some(dir)
      try Try(body) finally target = None
    }

  @volatile private[graft] var loseShuffleIn: Option[String] = None
  private[graft] val shuffleLost = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Run `body` with the first write task that writes into a directory
    * named `dir` failing once: it drops the outputs of the shuffle it
    * reads and throws a fetch failure, so Spark re-runs that shuffle's
    * map stage and the write task. Returns `body`'s result and whether
    * the failure fired. */
  def losingShuffleOnce[T](spark: SparkSession, dir: String)(body: => T): (T, Boolean) =
    withProtocol(spark, classOf[LosingShuffleCommitProtocol]) {
      shuffleLost.set(false)
      loseShuffleIn = Some(dir)
      try (body, shuffleLost.get) finally loseShuffleIn = None
    }

  private def withProtocol[T](spark: SparkSession, protocol: Class[_])(body: => T): T = {
    val key = "spark.sql.sources.commitProtocolClass"
    val old = spark.conf.get(key)
    spark.conf.set(key, protocol.getName)
    try body finally spark.conf.set(key, old)
  }
}
