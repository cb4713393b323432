package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Op

/** The operator registry's invariants: every key is declared once across
  * all modules (a repeated key would silently replace another module's
  * operator in `SparkEntry.queries`), and the DuckDB oracle gate covers
  * every operator except the value-pinned one.
  */
class RegistrySpec extends AnyFunSuite {

  private def repeatedNames(ops: Seq[Op]): Set[String] =
    ops.groupBy(_.name).collect { case (name, same) if same.size > 1 => name }.toSet

  test("op names are unique across all modules") {
    assert(repeatedNames(SparkEntry.ops).isEmpty)
    // the check itself catches an injected duplicate
    val dup = SparkEntry.ops.head
    assert(repeatedNames(SparkEntry.ops :+ dup) == Set(dup.name))
  }

  test("only txt8 has no oracle (ValuePinSpec pins its values)") {
    assert(SparkEntry.ops.filter(_.oracle.isEmpty).map(_.name) == Seq("txt8_compression_ratio"))
  }

  test("the registry holds 279 queries and 278 oracles") {
    assert(SparkEntry.ops.size == 279)
    assert(SparkEntry.queries.size == 279)
    assert(SparkEntry.oracleSql.size == 278)
  }
}
