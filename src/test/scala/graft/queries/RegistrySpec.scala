package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The query registry behind `SparkEntry.{queries, oracleSql}`: one name
  * per query, an oracle for every query, and a name list that does not
  * drift (perfbench picks its suite by sorted position). */
class RegistrySpec extends AnyFunSuite {

  private def query(name: String) = Query(name, (s, _) => s.emptyDataFrame, () => "SELECT 1")

  test("a registry with a duplicate name fails, naming the duplicate") {
    val e = intercept[IllegalArgumentException](
      Query.byName(Seq(query("q_once"), query("q_twice"), query("q_twice"))))
    assert(e.getMessage.contains("q_twice"))
    assert(!e.getMessage.contains("q_once"))
  }

  test("queries and oracleSql share the same 123 names, every oracle non-empty") {
    val oracles = SparkEntry.oracleSql
    assert(SparkEntry.queries.keySet == oracles.keySet)
    assert(oracles.size == 123)
    assert(oracles.collect { case (name, sql) if sql.trim.isEmpty => name }.isEmpty)
  }

  test("the sorted query names are pinned (count + md5 of the comma-joined list)") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(names.mkString(",").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(names.size == 123)
    assert(md5 == "342f9669b9a188e678a9a34161d3ac05")
  }
}
