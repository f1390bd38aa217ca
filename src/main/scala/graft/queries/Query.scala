package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded query: its Spark plan `run(spark, sfDir)` and the DuckDB SQL
  * that grades it. `oracle` is a thunk, so building the registry builds
  * no SQL (some oracles embed fixture indexes or generated literals). */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracle: () => String)

object Query {
  /** `qs` keyed by name; fails naming every name given more than once. */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.toSeq.sorted
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
