package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import SparkEntry.{Check, Oracle, QuerySpec, Twin, validated}

/** The query registry's construction check: every row is declared once,
  * and every twin names an oracled row. Planted registries prove each
  * failure fires and names the offending rows. */
class RegistrySpec extends AnyFunSuite {

  private val neverRun: (SparkSession, String) => DataFrame =
    (_, _) => throw new UnsupportedOperationException("planted row")
  private def row(name: String, check: Check) = QuerySpec(name, neverRun, check)

  test("validated keeps a well-formed registry as declared, rendering no oracle") {
    val rows = Seq(row("q_a", Oracle(sys.error("oracle text rendered"))), row("q_b", Twin("q_a")))
    assert(validated(rows) == rows)
  }

  test("validated rejects a name declared twice, naming it") {
    val e = intercept[IllegalArgumentException](validated(Seq(
      row("q_a", Oracle("SELECT 1")), row("q_b", Twin("q_a")), row("q_a", Oracle("SELECT 2")))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"), e.getMessage)
  }

  test("validated rejects a twin of a twin, naming both rows") {
    val e = intercept[IllegalArgumentException](validated(Seq(
      row("q_a", Oracle("SELECT 1")), row("q_b", Twin("q_a")), row("q_c", Twin("q_b")))))
    assert(e.getMessage.contains("q_c -> q_b"), e.getMessage)
  }

  test("validated rejects a twin of an undeclared name, naming both") {
    val e = intercept[IllegalArgumentException](validated(Seq(
      row("q_a", Oracle("SELECT 1")), row("q_b", Twin("q_gone")))))
    assert(e.getMessage.contains("q_b -> q_gone"), e.getMessage)
  }

  test("every twin in the registry names an oracled row") {
    val checks = SparkEntry.registry.map(r => r.name -> r.check).toMap
    val bad = SparkEntry.registry.collect {
      case QuerySpec(n, _, Twin(of), _) if !checks.get(of).exists(_.isInstanceOf[Oracle]) => n
    }
    assert(bad.isEmpty, s"twins without an oracled target: $bad")
  }
}
