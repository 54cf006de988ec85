package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The byte-frozen benchmark harness: `Bench.scala`, `Verify.scala` and
  * the oracle SQL of `Oracles.all` define what every timing and every
  * DuckDB comparison means, so none of them may change. These digests
  * turn that rule into a failing test instead of a review note. */
class FrozenHarnessSpec extends AnyFunSuite {

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  private def fileSha256(path: String): String = {
    val p = Paths.get(path)
    assert(Files.exists(p), s"$path not found (run from the repository root)")
    sha256(Files.readAllBytes(p))
  }

  test("Bench.scala and Verify.scala are byte-frozen") {
    assert(fileSha256("src/main/scala/graft/Bench.scala") ==
      "2b9ade102e7a1aa82c3ea78b1c83287d15f249e225094cca2c7746002f6a53c1")
    assert(fileSha256("src/main/scala/graft/Verify.scala") ==
      "4efebe5618bc22d91106418d7c80541d7e7f3b1d8817f3ffaa41c49759cd6bc9")
  }

  test("the Oracles.all SQL is frozen (one digest over the entries sorted by name)") {
    val text = Oracles.all.toSeq.sortBy(_._1)
      .map { case (name, sql) => s"$name\u0000$sql\u0000" }.mkString
    val (n, digest) = (Oracles.all.size, sha256(text.getBytes(UTF_8)))
    assert(n == 85)
    assert(digest == "93a03a91dba46eff469a6f72e2c4c53a0b7d4c4c05ceb52ae4454751787e94ed")
  }
}
