package kgbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Read-only views of a build directory written by `Checkpointed`. */
object Output {

  final case class Manifest(pk: Int, nPages: Long, nTriples: Long, runId: Long)

  private val field = """"(\w+)"\s*:\s*(-?\d+)""".r

  private def list(p: Path): List[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Every `_done/pk=N.json` manifest of the build. */
  def manifests(dir: String): Seq[Manifest] =
    list(Paths.get(dir, "_done")).filter(_.getFileName.toString.endsWith(".json")).map { f =>
      val kv = field.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      Manifest(kv("pk").toInt, kv("n_pages"), kv("n_triples"), kv("run_id"))
    }.sortBy(_.pk)

  private def walk(p: Path): List[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** On-disk bytes of every file under `p`. */
  def bytes(p: Path): Long = walk(p).map(Files.size).sum

  /** Parquet data files under `p`. */
  def parquetFiles(p: Path): Int = walk(p).count(_.getFileName.toString.endsWith(".parquet"))

  /** Bytes and parquet files of the `pk=` partitions `pks` of a table. */
  def partitions(dir: String, table: String, pks: Seq[Int]): (Long, Int) = {
    val ps = pks.map(pk => Paths.get(dir, table, s"pk=$pk"))
    (ps.map(bytes).sum, ps.map(parquetFiles).sum)
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
