package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.kernel.{JsonParser, JVal}
import graft.pipeline.DocRed.{DocLabel, DocMention}

/** DocRED-format ingest (S2 pattern, like WebNlg), as the reference's
  * evaluation example parses its `docred_sample.json`
  * (examples/docred_evaluation.rs:529-540). The repo's fixture is
  * repo-authored in the public DocRED corpus format
  * (id/sents/vertexSet/labels; see fixtures/README).
  *
  * wholetext gives one row per file, so the parse runs EXECUTOR-side and
  * parallelizes per file exactly as a many-file corpus would; a
  * malformed document is skipped, not fatal (O4 per-row tolerance). */
object DocRedJson {

  final case class RealDoc(id: String, title: String, n_sents: Int,
      vertexSet: Seq[Seq[DocMention]], labels: Seq[DocLabel])

  /** Relative to the repo root. */
  val fixturePath = "fixtures/docred_sample.json"

  def docs(spark: SparkSession, path: String = fixturePath): DataFrame = {
    import spark.implicits._
    import JVal._
    spark.read.option("wholetext", "true").textFile(path)
      .flatMap { content =>
        JsonParser.parse(content) match {
          case Right(JArr(items)) => items.flatMap { d =>
            try {
              val o = d.asInstanceOf[JObj]
              def str(v: Option[JVal]): String =
                v.collect { case JStr(s) => s }.getOrElse("")
              def num(v: Option[JVal]): Int =
                v.collect { case JNum(r) => r.toDouble.toInt }.getOrElse(0)
              val vs: Seq[Seq[DocMention]] = o.get("vertexSet") match {
                case Some(JArr(clusters)) => clusters.map {
                  case JArr(ms) => ms.collect { case m: JObj =>
                    DocMention(str(m.get("name")), num(m.get("sent_id")),
                      str(m.get("type")))
                  }
                  case _ => Vector.empty[DocMention]
                }
                case _ => Vector.empty
              }
              val ls: Seq[DocLabel] = o.get("labels") match {
                case Some(JArr(ll)) => ll.collect { case l: JObj =>
                  DocLabel(num(l.get("h")), num(l.get("t")), str(l.get("r")))
                }
                case _ => Vector.empty
              }
              val nSents = o.get("sents") match {
                case Some(JArr(ss)) => ss.length
                case _ => 0
              }
              Some(RealDoc(str(o.get("id")), str(o.get("title")), nSents, vs, ls))
            } catch { case _: Exception => None }
          }
          case _ => Vector.empty
        }
      }.toDF()
  }
}
