package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins every DuckDB oracle string byte for byte. An oracle changes only
  * when an operator's contract changes on purpose; update the pinned hash
  * in that change and record why.
  */
class OracleFingerprintSpec extends AnyFunSuite {
  private val Pinned =
    "91bd95cf5599639eab2838fabdb65c2c65685071e5416086f8d263803b22420f"

  test("oracle SQL is keyed by the query registry and unchanged") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(sql.getBytes(UTF_8)); md.update(0.toByte)
    }
    val got = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(got === Pinned)
  }
}
