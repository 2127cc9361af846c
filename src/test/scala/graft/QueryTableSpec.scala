package graft

import org.scalatest.funsuite.AnyFunSuite

/** Holds the shape of [[SparkEntry.queryTable]] without running a query:
  * every row carries a distinct name and an oracle that DuckDB can run.
  * A `null` oracle means a row reads a shared oracle helper declared after
  * the table, before that helper is initialised. */
class QueryTableSpec extends AnyFunSuite {
  private val table = SparkEntry.queryTable

  test("the table has exactly 82 rows") {
    assert(table.size == 82)
  }

  test("names are distinct and match q_[a-z0-9_]+") {
    val names = table.map(_.name)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    names.foreach(n => assert(n.matches("q_[a-z0-9_]+"), n))
  }

  test("every oracle is non-null and starts with SELECT or WITH") {
    table.foreach { spec =>
      assert(spec.oracleSql != null, spec.name)
      assert(spec.oracleSql.startsWith("SELECT ") || spec.oracleSql.startsWith("WITH "), spec.name)
    }
  }
}
