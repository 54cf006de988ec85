package graft.kernel

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Kernel (Spark-free) forms of the portable primitives every engine
  * re-derives bit-identically — the DuckDB oracles included. Their
  * column forms live in `ops.Dedup` (`md5Long`, `md5Long64`,
  * `normalized`, `tokens`); OpsSpec's kernel == spec tests compare the
  * two forms. Digest-taking functions reuse the caller's
  * `MessageDigest`, one per partition or per call, never one per hash. */
object Toolbox {

  def newMd5(): MessageDigest = MessageDigest.getInstance("MD5")

  /** The raw 16-byte md5 of `s`'s UTF-8 bytes. */
  def md5Bytes(s: String, md: MessageDigest): Array[Byte] = {
    md.reset()
    md.digest(s.getBytes(UTF_8))
  }

  /** Full 64-bit key: the first 8 md5 bytes big-endian — bit-identical
    * to `Dedup.md5Long64` and to Long.parseUnsignedLong of the 16
    * leading hex chars. */
  def md5Long64(s: String, md: MessageDigest): Long = {
    val d = md5Bytes(s, md)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** 60-bit key: the first 15 md5 hex chars, never negative —
    * bit-identical to `Dedup.md5Long`, i.e.
    * conv(substring(md5(s),1,15),16,10). */
  def md5Long60(s: String, md: MessageDigest): Long = md5Long64(s, md) >>> 4

  /** Lower-case md5 hex of `s`, as Spark's and DuckDB's md5(). */
  def md5Hex(s: String, md: MessageDigest): String = {
    val d = md5Bytes(s, md)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** Lower-cased text with every whitespace run collapsed to one
    * space (`Dedup.normalized`). */
  def normalize(text: String): String = text.toLowerCase.replaceAll("\\s+", " ")

  /** `normalize`d text split on single spaces, trailing empties kept as
    * Spark's split keeps them (`Dedup.tokens`). */
  def tokens(text: String): Array[String] = normalize(text).split(" ", -1)

  /** `x` rounded to 4 places HALF_UP, as Spark's and DuckDB's
    * round(x, 4). */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
