package graft.kernel

/** A chunk of a document (reference `DocumentChunk`,
  * /root/reference/src/chunking.rs:4-20). Offsets replicate the
  * reference's *estimate* arithmetic, not true positions. */
final case class Chunk(id: Int, text: String, startOffset: Long, endOffset: Long)

/** Sentence-boundary-aware greedy chunker.
  *
  * Matches the reference `SemanticChunker`
  * (/root/reference/src/chunking.rs:47-79): split at sentence boundaries,
  * pack greedily up to `maxChunkSize` characters, trim each chunk.
  * Defaults 3500/400 (chunking.rs:99-106). The offset bookkeeping
  * replicates the reference quirk exactly (chunking.rs:62-68): chunk 0
  * starts at 0; thereafter `start = current_offset`,
  * `end = start + len(chunk)`, `current_offset = end - overlap_chars`
  * (saturating) — i.e. offsets are estimates assuming overlap, even
  * though packed chunks never actually overlap.
  */
final class Chunker(val maxChunkSize: Int, val overlapChars: Int) extends Serializable {

  /** Split into sentence-ish units: each unit ends after a '.' and any
    * following whitespace (whitespace attached to the unit), so units
    * concatenate back to the original text. */
  private def sentenceUnits(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    val n = text.length
    while (i < n) {
      if (text.charAt(i) == '.') {
        var j = i + 1
        while (j < n && text.charAt(j).isWhitespace) j += 1
        out += text.substring(start, j)
        start = j
        i = j
      } else i += 1
    }
    if (start < n) out += text.substring(start, n)
    out.result()
  }

  /** Paragraph units (each ends after its "\n\n"+ separator), so units
    * concatenate back to the original text. */
  private def paragraphUnits(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    val n = text.length
    while (i < n) {
      if (text.charAt(i) == '\n' && i + 1 < n && text.charAt(i + 1) == '\n') {
        var j = i + 1
        while (j < n && text.charAt(j) == '\n') j += 1
        out += text.substring(start, j)
        start = j
        i = j
      } else i += 1
    }
    if (start < n) out += text.substring(start, n)
    out.result()
  }

  /** Semantic units, paragraph-first like the reference's text-splitter
    * crate (higher semantic level preferred; a paragraph that alone
    * exceeds maxChunkSize falls back to its sentences). */
  private def units(text: String): Vector[String] =
    paragraphUnits(text).flatMap { p =>
      if (p.trim.length <= maxChunkSize) Vector(p) else sentenceUnits(p)
    }

  def chunk(text: String): Vector[Chunk] = {
    if (text.isEmpty) return Vector.empty
    val us = units(text)
    // Greedy pack: add units while the trimmed concatenation stays within
    // maxChunkSize (text-splitter measures the trimmed chunk).
    val packed = Vector.newBuilder[String]
    val cur = new StringBuilder
    us.foreach { u =>
      if (cur.isEmpty) cur.append(u)
      else if ((cur.toString + u).trim.length <= maxChunkSize) cur.append(u)
      else { packed += cur.toString.trim; cur.clear(); cur.append(u) }
    }
    if (cur.nonEmpty) packed += cur.toString.trim
    // Reference offset arithmetic (chunking.rs:55-77).
    var currentOffset = 0L
    packed.result().zipWithIndex.map { case (t, idx) =>
      val start = if (idx == 0) 0L else currentOffset
      val end = start + t.length
      currentOffset = math.max(0L, end - overlapChars)
      Chunk(idx, t, start, end)
    }
  }

  /** Chunks a text of `length` chars splits into (chunking.rs:89-96). */
  def estimateChunkCount(length: Long): Long =
    if (length <= maxChunkSize) 1L
    else {
      val eff = maxChunkSize - overlapChars
      (length + eff - 1) / eff
    }
}

object Chunker {
  /** Reference defaults (chunking.rs:99-106). */
  val default = new Chunker(3500, 400)
  /** Chunk-threshold gate in tokens (len/4), reference extractor.rs:571-583
    * (`RDF_CHUNK_THRESHOLD`, default 2000 tokens). */
  val chunkThresholdTokens = 2000
  def estimateTokens(text: String): Int = text.length / 4
}
