package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.SpatialJoin
import graft.queries._
import graft.{functions => gf}

/**
 * Driver contract (SURVEY.md §7): `entry` = flagship spatial join;
 * `queries` = one entry per implemented operator (SURVEY.md §2);
 * `oracleSql` = DuckDB-equivalent SQL for every query. Both maps are views
 * of one registry: each [[graft.queries.Query]] holds a query's closure
 * and its oracle side by side, in the module of its family.
 *
 * Oracle-parity rules used throughout (so value hashes match DuckDB):
 *  - money/quantity sums go through DECIMAL(18,2) (exact, order-independent)
 *    then CAST to DOUBLE;
 *  - double arithmetic keeps the exact same expression shape on both sides;
 *  - every aggregate/computed column is aliased identically on both sides.
 */
object SparkEntry {

  /** Pages amplification for correctness queries (bench uses its own). */
  final val Amp = Common.Amp
  /** Synthetic course count for correctness queries. */
  final val NCourses = Common.NCourses

  /** Flagship: page -> containing course hole + tile assignments, sf0.001.
    * Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val p = Common.pages(spark, sfDir)
    val b = Common.boundsDf(spark)
    SpatialJoin.assignPages(p, b)
      .select(col("url"), col("clubId"), col("courseId"), col("holeNumber"),
        gf.tile_x(col("lon"), lit(15)).as("tx"),
        gf.tile_y(col("lat"), lit(15)).as("ty"),
        gf.quadkey(lit(15), gf.tile_x(col("lon"), lit(15)), gf.tile_y(col("lat"), lit(15))).as("qk"),
        gf.cell_id(col("lon"), col("lat"), lit(15)).as("cell"))
  }

  private val registry: Map[String, Query] = Query.byName(
    RelationalQueries.queries ++ GeoQueries.queries ++ TextQueries.queries ++
      SketchQueries.queries ++ AnnQueries.queries ++ StreamingQueries.queries ++
      SourceQueries.queries)

  /** Every closure registers the graft SQL functions first (idempotent
    * per session), so a query can call them by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) =>
      name -> ((s: SparkSession, d: String) => { graft.functions.registerAll(s); q.run(s, d) })
    }

  /** Each query's oracle SQL, built when called: the registry holds only
    * the thunks. */
  def oracleSql: Map[String, String] = registry.map { case (name, q) => name -> q.oracle() }
}
