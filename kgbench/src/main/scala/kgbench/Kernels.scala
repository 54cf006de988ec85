package kgbench

import org.apache.spark.sql.Dataset
import graft.kernel.{Chunk, Chunker, Coref, HtmlText, PredDict, Relations, Slug}
import graft.pipeline.{Page, TripleRow}

/** Per-kernel busy time, measured in the benchmark's own per-page loop.
  * The loop calls the kernels exactly as `Kg.extractPage` composes them
  * (HtmlText → Chunker → Coref → Relations + Slug/PredDict normalize,
  * `likelyIncorrect` filter, first-wins dedup) with a clock read around
  * each call. The NLP kernels run fused inside one Spark stage, so task
  * metrics cannot tell them apart. */
object Kernels {

  final case class Totals(pages: Long, htmlNs: Long, htmlBytes: Long,
      chunkNs: Long, chunks: Long, corefNs: Long, corefChunks: Long,
      relNs: Long, relations: Long, kept: Long) {
    def +(o: Totals): Totals = Totals(pages + o.pages, htmlNs + o.htmlNs,
      htmlBytes + o.htmlBytes, chunkNs + o.chunkNs, chunks + o.chunks,
      corefNs + o.corefNs, corefChunks + o.corefChunks, relNs + o.relNs,
      relations + o.relations, kept + o.kept)
  }

  def run(pages: Dataset[Page]): Totals = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      var t = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      it.foreach { p =>
        if (p.lang == "en") try {
          val t0 = System.nanoTime()
          val text = HtmlText.extract(p.html)
          val t1 = System.nanoTime()
          val chunks =
            if (Chunker.estimateTokens(text) < Chunker.chunkThresholdTokens)
              Vector(Chunk(0, text, 0L, text.length.toLong))
            else Chunker.default.chunk(text)
          val t2 = System.nanoTime()
          var corefNs, relNs, relations, kept = 0L
          val seen = scala.collection.mutable.HashSet.empty[(String, String, String)]
          chunks.foreach { c =>
            val c0 = System.nanoTime()
            val resolved = Coref.resolve(c.text).resolvedText
            val c1 = System.nanoTime()
            val rels = Relations.extract(resolved)
            val rows = rels.iterator.map { rel =>
              TripleRow(p.url, Slug.slug(rel.subj), PredDict.canonical(rel.pred),
                rel.obj, if (rel.objIsEntity) Slug.slug(rel.obj) else "",
                rel.subj, rel.objIsEntity, rel.subjType, rel.objType,
                c.id, rel.sentIdx, rel.confidence, "rule-based",
                rel.sentStart, rel.sentEnd, rel.sourceText)
            }.filterNot(r => Relations.likelyIncorrect(r.pred))
              .count(r => seen.add((r.subj, r.pred, r.obj)))
            val c2 = System.nanoTime()
            corefNs += c1 - c0
            relNs += c2 - c1
            relations += rels.length
            kept += rows
          }
          t = t + Totals(1, t1 - t0, p.html.length.toLong, t2 - t1, chunks.length.toLong,
            corefNs, chunks.length.toLong, relNs, relations, kept)
        } catch { case _: Exception => () } // rows the program skips, skipped here too
      }
      Iterator.single(t)
    }.reduce(_ + _)
  }
}
