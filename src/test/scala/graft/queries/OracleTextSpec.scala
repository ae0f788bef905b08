package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The oracle SQL is the contract the engine is checked against: a
  * refactor of the query files may move how a string is assembled, never
  * a byte of what it says. The hash was measured before the oracle
  * strings were folded into shared fragments.
  */
class OracleTextSpec extends AnyFunSuite {

  private val expectedSha256 = "be7189a22e562e6c85c64b40b6c8b9b31c7b94781c8f0f07302ed77533863522"

  test("every oracle string is byte-identical and 384 queries are registered") {
    val digest = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, text) =>
      digest.update(s"$name\u0000$text\n".getBytes(UTF_8))
    }
    val hex = digest.digest().map(b => f"$b%02x").mkString
    assert(SparkEntry.queries.size == 384)
    assert(hex == expectedSha256)
  }
}
