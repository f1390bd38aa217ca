package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftShim.{column => toCol, expression => toExpr}
import graft.expr.Kernel

/**
 * Public Column API for every custom Catalyst expression the engine adds —
 * the `org.apache.spark.sql.functions`-style entry point users compose
 * with built-ins. Each function is one [[graft.expr.Kernel]] table entry:
 * a native expression codegen'd as a direct static call, never a Scala UDF.
 */
object functions {

  private def call(name: String, args: Column*): Column =
    toCol(Kernel.named(name)(args.map(toExpr)))

  // ---- geometry (reference semantics: /root/reference/src/python/utils.py) ----

  /** Ring closure — reference utils.py:40-41 (exact tuple equality). */
  def closed_ring(ring: Column): Column = call("closed_ring", ring)
  /** Gaussian ring smoothing — reference utils.py:27-31 (scipy
    * gaussian_filter1d, mode='reflect', truncate=4.0, per axis). */
  def gaussian_smooth(ring: Column, sigma: Column): Column =
    call("gaussian_smooth", ring, sigma)
  /** Polygon constructor with degenerate guards — reference utils.py:34-47
    * (<3 points or failed construction -> null/None). */
  def make_polygon(ring: Column): Column = call("make_polygon", ring)
  /** Strict point-in-polygon — reference utils.py:50-52 (shapely `contains`:
    * boundary points NOT contained). The J4 join's refine predicate. */
  def st_contains(poly: Column, x: Column, y: Column): Column = call("st_contains", poly, x, y)
  /** Contains-or-boundary (conservative cover probes). */
  def st_covers(poly: Column, x: Column, y: Column): Column = call("st_covers", poly, x, y)
  /** Shell ring flattened to ARRAY<DOUBLE> (zero-alloc probe form). */
  def flatten_shell(poly: Column): Column = call("flatten_shell", poly)
  /** Strict PIP against a flattened shell ring (exterior-only, like the
    * reference's rendering path). */
  def st_contains_flat(flat: Column, x: Column, y: Column): Column =
    call("st_contains_flat", flat, x, y)
  /** Equal-height y-slab directory of a flattened shell, built once per
    * hole: the probe form of [[st_contains_slab]]. */
  def slab_shell(flat: Column): Column = call("slab_shell", flat)
  /** [[st_contains_flat]]'s answer from the edges of the point's y-slab
    * only — the join refine hot path. */
  def st_contains_slab(slabs: Column, x: Column, y: Column): Column =
    call("st_contains_slab", slabs, x, y)
  /** Ring/polygon validity — reference utils.py:57-62 (`is_valid` gates). */
  def st_isvalid(poly: Column): Column = call("st_isvalid", poly)
  /** Polygon intersection — reference utils.py:55-66 (None on invalid/empty,
    * exception path -> row skipped: here null). */
  def st_intersection(a: Column, b: Column): Column = call("st_intersection", a, b)
  /** Envelope — reference total_bounds/bounds (plot_courses.py:174-176,275). */
  def st_envelope(poly: Column): Column = call("st_envelope", poly)
  /** Planar polygon area (shell minus holes). */
  def st_area(poly: Column): Column = call("st_area", poly)
  /** Haversine great-circle distance in meters. */
  def st_distance_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    call("st_distance_m", lon1, lat1, lon2, lat2)
  /** Haversine meters to the nearest segment of a flattened closed shell
    * (q75 boundary-kNN metric). */
  def st_distance_to_shell_m(flat: Column, x: Column, y: Column): Column =
    call("st_distance_to_shell_m", flat, x, y)
  /** Viewport struct from bounds — reference utils.py:69-80. */
  def viewport(w: Column, s: Column, e: Column, n: Column): Column =
    call("viewport", w, s, e, n)

  // ---- cells / tiles (north_star H3/S2 + slippy roles) ----

  /** 64-bit graft cell id (equirect Morton quadtree; see graft.index.Cells). */
  def cell_id(lon: Column, lat: Column, level: Column): Column = call("cell_id", lon, lat, level)
  def cell_parent(cell: Column, level: Column): Column = call("cell_parent", cell, level)
  def cell_level(cell: Column): Column = call("cell_level", cell)
  /** Grid x of a cell id (Morton decode). */
  def cell_x(cell: Column): Column = call("cell_x", cell)
  /** Grid y of a cell id (Morton decode). */
  def cell_y(cell: Column): Column = call("cell_y", cell)
  /** Square ring of cells at Chebyshev distance r — kNN expansion step. */
  def ring_cells(cell: Column, r: Column): Column = call("ring_cells", cell, r)
  /** Disk (rings 0..r) of cells. */
  def disk_cells(cell: Column, r: Column): Column = call("disk_cells", cell, r)
  def cell_center(cell: Column): Column = call("cell_center", cell)
  /** Great-circle lower bound from a point to a cell (kNN termination). */
  def cell_min_distance_m(cell: Column, lon: Column, lat: Column): Column =
    call("cell_min_distance_m", cell, lon, lat)
  /** Slippy tile x at zoom z (OSM Web-Mercator pyramid). */
  def tile_x(lon: Column, z: Column): Column = call("tile_x", lon, z)
  /** Slippy tile y at zoom z. */
  def tile_y(lat: Column, z: Column): Column = call("tile_y", lat, z)
  /** Bing-style quadkey string for tile (z, x, y). */
  def quadkey(z: Column, x: Column, y: Column): Column = call("quadkey", z, x, y)
  /** Multi-resolution polygon cover — ARRAY<STRUCT<cell,full>> for explode
    * (north_star "H3 cover res 7-10"; graft levels 13-16 are the area
    * equivalent). */
  def cover_cells(poly: Column, minLevel: Column, maxLevel: Column): Column =
    call("cover_cells", poly, minLevel, maxLevel)

  // ---- raster artifact sink (reference plot_courses.py:309-316) ----

  /** png_encode(pixels ARRAY<BOOLEAN>, width INT, rgb INT) -> BINARY: the
    * deterministic RGBA PNG of [[graft.expr.PngOps.encode]]. */
  def png_encode(pixels: Column, width: Column, rgb: Column): Column =
    call("png_encode", pixels, width, rgb)

  // ---- text / dedup / embeddings (training-data pipeline operators) ----

  /** Deterministic 64-bit text hash (FNV-1a + splitmix finalizer). */
  def hash_text(s: Column): Column = call("hash_text", s)
  /** Char-trigram Naive-Bayes language prediction (q77) — kernel fold over
    * [[graft.expr.TrigramModel]]'s static maps. */
  def trigram_lang_predict(s: Column): Column = call("trigram_lang_predict", s)
  /** Best-language mean trigram log-prob (q79 fluency score) — kernel twin
    * of [[trigram_lang_predict]]. */
  def trigram_fluency(s: Column): Column = call("trigram_fluency", s)
  /** splitmix64 finalizer as a standalone expression (sketch slot hashing,
    * q82) — the same mixer the minhash slots already replay in SQL. */
  def mix64(z: Column): Column = call("mix64", z)
  /** Long.numberOfLeadingZeros — the HLL rank observable (q83); counts
    * from bit 63, i.e. over the UNSIGNED bit pattern. */
  def leading_zeros(z: Column): Column = call("leading_zeros", z)
  /** Unicode NFC normalization (q88) — JDK `java.text.Normalizer`, which
    * implements the same UAX#15 tables as DuckDB's utf8proc
    * `nfc_normalize` (agreement verified on decomposed accents, the
    * Angstrom/Ohm compatibility singletons, and combining-mark reorder). */
  def nfc_normalize(s: Column): Column = call("nfc_normalize", s)
  /** Word n-gram shingles. */
  def word_shingles(s: Column, n: Column): Column = call("word_shingles", s, n)
  /** Character n-gram shingles. */
  def char_shingles(s: Column, n: Column): Column = call("char_shingles", s, n)
  /** Sorted-distinct hashes of char n-grams (no gram strings materialized). */
  def hashed_char_shingles(s: Column, n: Column): Column = call("hashed_char_shingles", s, n)
  /** Sorted-distinct hashes of word n-grams. */
  def hashed_word_shingles(s: Column, n: Column): Column = call("hashed_word_shingles", s, n)
  /** Gear content-defined chunk cut positions (1-based, interior only). */
  def gear_cuts(s: Column, maskBits: Column): Column = call("gear_cuts", s, maskBits)
  /** Jaccard of two sorted-distinct long arrays (merge walk). */
  def sorted_jaccard(a: Column, b: Column): Column = call("sorted_jaccard", a, b)
  /** k-permutation MinHash signature in one pass over the shingle array. */
  def minhash(shingles: Column, k: Column, seed: Column): Column =
    call("minhash", shingles, k, seed)
  /** LSH band keys from a MinHash signature (band-join candidates). */
  def lsh_bands(sig: Column, rowsPerBand: Column): Column = call("lsh_bands", sig, rowsPerBand)
  /** 64-bit SimHash over shingles. */
  def simhash(shingles: Column): Column = call("simhash", shingles)
  /** Hamming distance between two 64-bit hashes (SimHash near-dup test). */
  def hamming_dist(a: Column, b: Column): Column = call("hamming_dist", a, b)
  /** Exact integer dot product of two sorted (tok, c) struct arrays — the
    * (doc, tok)-keyed join + sum aggregation of a pair query's
    * count-vector dot, collapsed into one merge-walk kernel (see
    * TextOps.keyedDot for the sortedness contract). */
  def keyed_dot(a: Column, b: Column): Column = call("keyed_dot", a, b)
  /** BM25 (query, doc) score fold over a qpos-sorted query-term array and
    * a term-sorted per-doc count vector — q98's contribution join + pivot
    * aggregation as one kernel pass (see TextOps.bm25Fold for the
    * sortedness + float-shape contract). NaN = no term matched. */
  def bm25_fold(qarr: Column, ps: Column, kdoc: Column): Column =
    call("bm25_fold", qarr, ps, kdoc)
  /** Inner product of float-vector embeddings (double accumulation). */
  def dot_sim(a: Column, b: Column): Column = call("dot_sim", a, b)
  /** Cosine similarity of float-vector embeddings (double accumulation). */
  def cosine_sim(a: Column, b: Column): Column = call("cosine_sim", a, b)
  /** Random-hyperplane LSH bucket for an embedding (ANN scale path). */
  def hyperplane_lsh(v: Column, bits: Column, seed: Column): Column =
    call("hyperplane_lsh", v, bits, seed)
  /** Rolling token fingerprint of a document. */
  def fingerprint(s: Column): Column = call("fingerprint", s)

  /** Register every graft function for SQL use (`SELECT st_contains(...)`).
    * Idempotent per session — repeat calls (every query closure calls this
    * defensively) don't re-register or warn. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotence sentinel: a graft-unique name, so a foreign library's
    // st_contains can never suppress (or be shadowed silently by) ours
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("hashed_char_shingles")))
      return
    Kernel.all.foreach(k => reg.createOrReplaceTempFunction(k.name, k.apply, "built-in"))
  }
}
