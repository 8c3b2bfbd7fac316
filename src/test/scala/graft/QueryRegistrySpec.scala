package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryDef, QueryRegistry}

/** The query registry's shape: every driver query is declared once, in one
  * of the 15 families, with a non-blank oracle. Builds the registry and
  * its views only; runs no query. */
class QueryRegistrySpec extends AnyFunSuite {

  private val families = QueryRegistry.families

  test("15 families, none empty") {
    assert(families.size == 15)
    assert(families.forall(_.defs.nonEmpty))
  }

  test("every query name is declared in exactly one family") {
    val names = families.flatMap(_.defs.map(_.name))
    val declaredTwice = names.groupBy(identity).collect {
      case (n, ns) if ns.size > 1 => n
    }
    assert(declaredTwice.isEmpty)
    assert(names.toSet == SparkEntry.queries.keySet)
  }

  test("every query has exactly one oracle, and none is blank") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.oracleSql.collect {
      case (n, sql) if sql.trim.isEmpty => n
    }
    assert(blank.isEmpty)
  }

  test("a registry with a name declared twice throws") {
    val d = QueryDef("q_twice", (_, _) => null, "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      QueryRegistry.index(Seq(d, d.copy(oracle = "SELECT 2")))
    }
    assert(e.getMessage.contains("q_twice"))
  }
}
