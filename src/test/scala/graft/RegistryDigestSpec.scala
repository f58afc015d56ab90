package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry byte for byte: every oracle string, the
  * name set, and the order `queries` iterates in (the order `Bench`
  * and `Verify` run the queries in). A refactor of how the registry
  * is written must leave all three digests as they are. */
class RegistryDigestSpec extends AnyFunSuite {

  private def sha256(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    for (p <- parts) {
      md.update(p.getBytes(UTF_8))
      md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("oracle SQL per query is unchanged") {
    val pairs = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .flatMap { case (n, sql) => Seq(n, sql) }
    assert(sha256(pairs) ==
      "14d72c7d124cad0083dc2001766f22d4bf9ed68b38922b19cacc05c7f8beb1c4")
  }

  test("the registered name set is unchanged") {
    assert(sha256(SparkEntry.queries.keys.toSeq.sorted) ==
      "0284cb50a21f898aa711febcbc26bf7c5c1d2b578e85d490c68d866405767850")
  }

  test("queries iterate in an unchanged order") {
    assert(sha256(SparkEntry.queries.keys) ==
      "d9bfefdead9ec12838c17a56f46054805e54f381947f32f1bb8d53f35f3e425b")
  }
}
