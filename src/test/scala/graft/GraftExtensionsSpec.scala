package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.GraftExtensions` injects the full function
  * surface at session build — no registerAll call anywhere. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-built session resolves graft functions in plain SQL") {
    // build a SIBLING session (shares any existing SparkContext) with the
    // extensions applied; never stop it — that would kill the context the
    // other suites share
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT cell_id(116.4d, 39.9d, 15) AS c,
          |  tile_x(116.4d, 15) AS tx,
          |  st_contains(make_polygon(array(
          |    struct(0.0d AS x, 0.0d AS y), struct(4.0d AS x, 0.0d AS y),
          |    struct(4.0d AS x, 4.0d AS y), struct(0.0d AS x, 4.0d AS y))),
          |    2.0d, 2.0d) AS inside""".stripMargin).head()
      assert(r.getLong(0) > 0 && r.getLong(1) > 0 && r.getBoolean(2))
      // every kernel in the table is resolvable by name
      graft.expr.Kernel.all.foreach { k =>
        assert(spark.sessionState.functionRegistry
          .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(k.name)), k.name)
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach { s =>
        SparkSession.setDefaultSession(s)
        SparkSession.setActiveSession(s)
      }
    }
  }

  test("the function surface is the 52 kernels of the table, each named once") {
    val names = graft.expr.Kernel.all.map(_.name)
    assert(names.size == 52 && names.distinct.size == 52)
    assert(names.sorted == Seq(
      "bm25_fold", "cell_center", "cell_id", "cell_level", "cell_min_distance_m",
      "cell_parent", "cell_x", "cell_y", "char_shingles", "closed_ring", "cosine_sim",
      "cover_cells", "disk_cells", "dot_sim", "fingerprint", "flatten_shell",
      "gaussian_smooth", "gear_cuts", "hamming_dist", "hash_text", "hashed_char_shingles",
      "hashed_word_shingles", "hyperplane_lsh", "keyed_dot", "leading_zeros", "lsh_bands",
      "make_polygon", "minhash", "mix64", "nfc_normalize", "png_encode", "quadkey",
      "ring_cells", "simhash", "slab_shell", "sorted_jaccard", "st_area", "st_contains",
      "st_contains_flat", "st_contains_slab", "st_covers", "st_distance_m", "st_distance_to_shell_m", "st_envelope", "st_intersection",
      "st_isvalid", "tile_x", "tile_y", "trigram_fluency", "trigram_lang_predict", "viewport",
      "word_shingles"))
  }
}
