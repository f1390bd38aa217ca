package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The Common-Crawl-style pages table mandated by BASELINE.json
 * `input_hint`: (url, warc_ts, html, text, lang) + deterministic geocode
 * (lon, lat) derived from `doc_id` by pure integer/float arithmetic.
 *
 * Derivation is ARITHMETIC-ONLY (multiply / mod / add — no engine hash
 * functions) so the DuckDB oracle can reproduce every column bit-for-bit:
 * [[Pages.sqlView]] is the same derivation as ANSI SQL. Geocodes cluster
 * around 9 city centers with city 0 receiving ~50% of pages — the
 * intentional skew that exercises salting/AQE in the spatial join
 * (SURVEY.md §2.3 J4, FIXTURES.md §2).
 *
 * `amplify` multiplies each document into that many pages (distinct urls,
 * jittered geocodes) so join volume scales beyond the small documents
 * table; rows stay deterministic per (doc_id, rep).
 */
object Pages {

  /** 9 city centers (lon, lat): index 0 is the hot city. */
  val cityLon: Seq[Double] = Seq(116.40, -73.99, -0.13, 139.69, 151.21, -122.42, 2.35, 77.21, -46.63)
  val cityLat: Seq[Double] = Seq(39.90, 40.73, 51.51, 35.69, -33.87, 37.77, 48.86, 28.61, -23.55)

  final val Mult1 = 2654435761L
  final val Mult2 = 40503L
  final val OffMod = 100003L
  final val TsMod = 2592000L // 30 days of seconds

  /** Pages as a DataFrame over `sfDir/documents.parquet`.
    *
    * `repartitionDocs > 0` splits the (single-row-group) seed parquet
    * before amplification so the fan-out parallelizes — the sandbox stand-in
    * for the thousands of input splits a real 10^12-row table scan has. */
  def pages(spark: SparkSession, sfDir: String, amplify: Int = 1,
            repartitionDocs: Int = 0): DataFrame = {
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs = if (repartitionDocs > 0) docs0.repartition(repartitionDocs) else docs0
    fromDocs(docs, amplify)
  }

  /** Same derivation over an arbitrary documents frame (lets callers
    * pre-partition / persist the seed). */
  def fromDocs(docs: DataFrame, amplify: Int): DataFrame = {
    val amped =
      if (amplify <= 1) docs.withColumn("rep", lit(0L))
      else docs.withColumn("rep", explode(sequence(lit(0L), lit(amplify.toLong - 1))))
    val pid = col("doc_id") * amplify + col("rep")
    val m1 = pid * Mult1
    val m2 = pid * Mult2 + 9973L
    // compact expressions (array-literal lookup, not a CASE chain), small
    // enough to stay inside whole-stage codegen
    val cityIdx = when(m1 % 16 < 8, lit(0)).otherwise((m1 % 16).cast("int") - 7)
    val lonBase = element_at(typedLit(cityLon), cityIdx + 1)
    val latBase = element_at(typedLit(cityLat), cityIdx + 1)
    amped.select(
      pid.as("page_id"),
      col("doc_id"),
      concat(lit("https://"), col("source"), lit(".example.org/doc/"),
        pid.cast("string")).as("url"),
      (to_timestamp(lit("2025-01-01 00:00:00")) +
        make_dt_interval(lit(0), lit(0), lit(0), (m1 % TsMod).cast("double"))).as("warc_ts"),
      col("text").cast("binary").as("html"),
      col("text"),
      col("lang"),
      (lonBase + ((m1 % OffMod).cast("double") - 51001.0) / 100003.0 * 0.3).as("lon"),
      (latBase + ((m2 % OffMod).cast("double") - 51001.0) / 100003.0 * 0.15).as("lat"))
  }

  /** Dense bench variant: pages jittered around given centroids (course
    * centers), so the spatial join is point-in-polygon-bound rather than
    * probe-miss/row-streaming-bound. Same deterministic arithmetic. */
  def denseAround(docs: DataFrame, amplify: Int,
                  lons: Seq[Double], lats: Seq[Double], jitter: Double): DataFrame = {
    val amped =
      if (amplify <= 1) docs.withColumn("rep", lit(0L))
      else docs.withColumn("rep", explode(sequence(lit(0L), lit(amplify.toLong - 1))))
    val pid = col("doc_id") * amplify + col("rep")
    val m1 = pid * Mult1
    val m2 = pid * Mult2 + 9973L
    val idx = (m1 % lons.length).cast("int")
    amped.select(
      pid.as("page_id"),
      concat(lit("https://"), col("source"), lit(".example.org/doc/"),
        pid.cast("string")).as("url"),
      col("text"),
      col("lang"),
      (element_at(typedLit(lons), idx + 1) +
        ((m1 % OffMod).cast("double") - 51001.0) / 100003.0 * (2 * jitter)).as("lon"),
      (element_at(typedLit(lats), idx + 1) +
        ((m2 % OffMod).cast("double") - 51001.0) / 100003.0 * jitter).as("lat"))
  }

  /** The identical derivation as an ANSI SQL SELECT over table `documents`
    * — the DuckDB oracle's view of the pages table. Expression shapes are
    * kept token-for-token parallel with [[pages]] so float results are
    * bit-identical. */
  def sqlView(amplify: Int = 1): String = {
    val repSrc =
      if (amplify <= 1) "SELECT d.*, 0::BIGINT AS rep FROM documents d"
      else s"SELECT d.*, r.rep FROM documents d CROSS JOIN (SELECT unnest(generate_series(0, ${amplify - 1}))::BIGINT AS rep) r"
    val lonCase = cityLon.zipWithIndex.map { case (v, i) => s"WHEN city_idx = $i THEN $v" }
      .mkString("CASE ", " ", " ELSE 0.0 END")
    val latCase = cityLat.zipWithIndex.map { case (v, i) => s"WHEN city_idx = $i THEN $v" }
      .mkString("CASE ", " ", " ELSE 0.0 END")
    s"""
       |SELECT
       |  page_id,
       |  doc_id,
       |  'https://' || source || '.example.org/doc/' || CAST(page_id AS VARCHAR) AS url,
       |  TIMESTAMP '2025-01-01 00:00:00' + to_seconds(m1 % $TsMod) AS warc_ts,
       |  text,
       |  lang,
       |  ($lonCase) + (CAST(m1 % $OffMod AS DOUBLE) - 51001.0) / 100003.0 * 0.3 AS lon,
       |  ($latCase) + (CAST(m2 % $OffMod AS DOUBLE) - 51001.0) / 100003.0 * 0.15 AS lat
       |FROM (
       |  SELECT *,
       |    CASE WHEN m1 % 16 < 8 THEN 0 ELSE CAST(m1 % 16 AS INT) - 7 END AS city_idx
       |  FROM (
       |    SELECT *, page_id * $Mult1 AS m1, page_id * $Mult2 + 9973 AS m2
       |    FROM (SELECT t.*, t.doc_id * $amplify + t.rep AS page_id FROM ($repSrc) t)
       |  )
       |)
       |""".stripMargin
  }
}
