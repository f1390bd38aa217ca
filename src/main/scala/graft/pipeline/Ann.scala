package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.{functions => gf}

/**
 * Nearest-neighbor search over an embedding column (`ARRAY<FLOAT>`): the
 * ONE definition of each candidate scheme and of the exact ranking they
 * all end in. Queries are `(query_id, qvec)`; a vector never ranks as its
 * own neighbor.
 *
 *  - [[bruteTopK]]: every vector is a candidate (the exact anchor, q30;
 *    q93 grades the LSH funnel against it);
 *  - [[lshTopK]]: candidates share a [[lshBuckets]] hyperplane bucket with
 *    the query (q31, q93) — the same buckets [[Dedup.embeddingBuckets]]
 *    uses for embedding near-dup retention (q89);
 *  - [[ivfTopK]]: IVF-style — the corpus is partitioned into `nLists`
 *    inverted lists by nearest coarse centroid; a query probes only the
 *    `nProbe` nearest lists (q36, q62).
 *
 * Each ends in one rank tail: exact cosine `sim`, `row_number` by
 * (`sim` desc, `vec_id`), `rank <= k`, output
 * `(query_id, rank, vec_id, sim)`.
 *
 * IVF scale shape: the centroid set is tiny (broadcast); list assignment
 * is a map-side argmax per vector (one pass, no shuffle of the corpus
 * beyond the final per-query top-k); candidate generation is an equi-join
 * on `list_id`. Recall < 1 by construction (a neighbor whose list isn't
 * probed is missed) — tested against the brute-force oracle.
 *
 * The deterministic "trained" quantizer — centroids are just a fixed
 * id-sample of the corpus — stands in for a k-means pass, which at
 * production scale runs as a handful of the same assign+mean DataFrame
 * iterations; the search-side plan is identical either way.
 */
object Ann {

  /** Coarse centroids: the nLists corpus vectors with the smallest
    * md5(vec_id) — deterministic, hash-spread, DuckDB-reproducible
    * (`ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT n`), and plans as a
    * distributed top-k (TakeOrderedAndProject), never a full sort. List
    * ids come from a driver-side zipWithIndex over the tiny collected
    * sample (it becomes a broadcast anyway) — no global Window, no
    * single-partition exchange ever appears in the plan. */
  def centroids(emb: DataFrame, nLists: Int): DataFrame = {
    val spark = emb.sparkSession
    val sampled = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nLists)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getAs[Number](0).longValue()) // id type agnostic (int/long)
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      sampled.zipWithIndex.map { case (r, i) => Row(i + 1, r.get(1)) }: _*)
    // cvec inherits the corpus embedding type (float[]/double[] both work)
    val schema = StructType(Seq(
      StructField("list_id", IntegerType, nullable = false),
      StructField("cvec", emb.schema("embedding").dataType, nullable = true)))
    spark.createDataFrame(rows, schema)
  }

  /**
   * k-means refinement of the coarse quantizer: `iters` assign+mean
   * DataFrame iterations seeded by the deterministic id-sample
   * [[centroids]]. Centroid accumulation is EXACT and order-independent:
   * components are quantized to a 1/2^20 grid (`floor(x*2^20+0.5)`) and
   * summed as DECIMAL(38,0), so the trained centroids are bit-identical
   * at any partitioning/parallelism AND independently replayable (the
   * q62 DuckDB oracle re-derives every iteration). The per-iteration
   * shuffle carries one row per (list, dim) after map-side partial
   * aggregation — nLists x dim rows per partition, regardless of corpus
   * size. A list that loses all members drops out (k shrinks); ties
   * assign to the smallest list id. Each iteration's centroid set is
   * localized (tiny) so the next assignment broadcasts a LocalRelation.
   */
  def kmeansCentroids(emb: DataFrame, nLists: Int, iters: Int): DataFrame = {
    var cents = centroids(emb, nLists)
    (1 to iters).foreach { _ =>
      val comp = assign(emb, cents)
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("list_id"), col("pos"))
        .agg(sum(floor(col("x").cast("double") * lit(1048576.0) + lit(0.5))
          .cast("decimal(38,0)")).as("sq"), count(lit(1)).as("n"))
        .withColumn("c",
          ((col("sq").cast("double") / col("n").cast("double")) / lit(1048576.0))
            .cast("float"))
      cents = graft.sources.Storage.localize(
        comp.groupBy(col("list_id"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            s => s("c")).as("cvec")))
    }
    cents
  }

  /** Nearest-centroid assignment: one inverted-list id per vector. The
    * argmax is a `max_by` AGGREGATE, not a window: partial (map-side)
    * aggregation collapses each vector's nLists scored copies before the
    * exchange, so the shuffle carries one row per vector instead of
    * nLists copies of the embedding column. Ties break to the smallest
    * list_id (the negated id in the ordering struct). */
  def assign(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("csim", gf.cosine_sim(col("embedding"), col("cvec")))
      .groupBy(col("vec_id"))
      .agg(
        expr("max_by(list_id, struct(csim, -list_id))").as("list_id"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("list_id"), col("embedding"))

  /** The hyperplane-LSH bucket keys of vector `v`, one per table: 4
    * tables of 8 sign bits, table i seeded 100 + i, each key
    * "tbl:signBits" (bit stride in `TextOps.hyperplaneLsh`). The q31 and
    * q89 DuckDB replays publish the same hyperplane literals. */
  def lshBuckets(v: Column): Column =
    array((0 until 4).map(i =>
      concat(lit(i), lit(":"), gf.hyperplane_lsh(v, lit(8), lit(100L + i)))): _*)

  /** Exact cosine top-k per query over every corpus vector. */
  def bruteTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id")), k)

  /**
   * Hyperplane-LSH top-k (q31's funnel as a reusable operator, shared
   * with the q93 recall surface): candidates share any [[lshBuckets]]
   * table with the query (bucket-keyed equi-join — candidate generation
   * never touches non-colliding vectors), then the exact rank tail within
   * candidates. Recall < 1 by construction; q93 grades it against
   * [[bruteTopK]] per query point.
   */
  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val flat = emb.select(col("vec_id"), col("embedding"),
      explode(lshBuckets(col("embedding"))).as("bucket"))
    val qflat = queries.select(col("query_id"), col("qvec"),
      explode(lshBuckets(col("qvec"))).as("qbucket"))
    rankTopK(flat.join(broadcast(qflat), col("bucket") === col("qbucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("qvec")).distinct(), k)
  }

  /** Top-k per query over the probed lists. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
              nLists: Int, nProbe: Int, trainIters: Int = 0): DataFrame = {
    val cents = if (trainIters > 0) kmeansCentroids(emb, nLists, trainIters)
                else centroids(emb, nLists)
    val lists = assign(emb, cents)
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("list_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("csim", gf.cosine_sim(col("qvec"), col("cvec")))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nProbe)
      .select(col("query_id"), col("qvec"), col("list_id"))
    rankTopK(probes.join(lists, "list_id")
      .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** The exact rank tail of every top-k above: `cands` carries
    * (query_id, vec_id, embedding, qvec). Ties break by vec_id. */
  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cands
      .withColumn("sim", gf.cosine_sim(col("embedding"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
  }

  // ---- Product quantization for MIPS (q99) --------------------------------
  //
  // The ANN COMPRESSION path: each vector's 64 floats (256 bytes) become
  // m = 4 one-byte codes — the representation a 10^12-vector index ships
  // to searchers. Inner product is the one similarity that decomposes
  // EXACTLY across subspaces (dot(q,v) = Σ_m dot(q_m, v_m)), so ADC
  // scoring is a lookup-table sum with no reconstruction. Codebooks are
  // per-subspace k-means with dot-argmax assignment and the same
  // 1/2^20-quantized exact mean accumulation as the IVF trainer (bit-
  // identical at any parallelism, DuckDB-replayable).

  /** Per-subspace codebooks: (sub, list_id, cvec[width]); the centroid
    * id-sample is shared across subspaces (md5 order over vec_id).
    *
    * r6 (guide §1.2): the m per-subspace trainers used to run
    * SEQUENTIALLY — m x (1 seed job + iters x 2 jobs) of driver-gated
    * micro-jobs. The subspaces are independent, so ONE keyed dataflow
    * trains all of them: every stage carries `sub` in its grouping key,
    * and the shared md5 id-sample is collected once and sliced
    * driver-side (the same `slice(embedding, sub*width+1, width)`
    * arithmetic). Per-(sub, list) arithmetic is unchanged — exact
    * decimal sums are order-independent, dot-argmax keeps the
    * (ds, -list_id) tie-break — so the codebooks are bit-identical to
    * the sequential form's. */
  def pqCodebooks(emb: DataFrame, m: Int = 4, width: Int = 16,
                  k: Int = 16, iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    val sampled = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getAs[Number](0).longValue())
    val embType = emb.schema("embedding").dataType
    val seedRows: java.util.List[Row] = java.util.Arrays.asList(
      (0 until m).flatMap { sub =>
        sampled.zipWithIndex.map { case (r, i) =>
          val e = r.getAs[scala.collection.Seq[Any]](1)
          Row(sub, i + 1, if (e == null) null else e.slice(sub * width, sub * width + width))
        }
      }: _*)
    var cents = spark.createDataFrame(seedRows, StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("list_id", IntegerType, nullable = false),
      StructField("cvec", embType, nullable = true))))
    val sliced = emb.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * width + 1, width)): _*)).as(Seq("sub", "embedding")))
    (1 to iters).foreach { _ =>
      val comp = sliced.join(broadcast(cents), Seq("sub"))
        .withColumn("ds", gf.dot_sim(col("embedding"), col("cvec")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(expr("max_by(list_id, struct(ds, -list_id))").as("list_id"),
          first(col("embedding")).as("embedding"))
        .select(col("sub"), col("list_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("list_id"), col("pos"))
        .agg(sum(floor(col("x").cast("double") * lit(1048576.0) + lit(0.5))
          .cast("decimal(38,0)")).as("sq"), count(lit(1)).as("n"))
        .withColumn("c",
          ((col("sq").cast("double") / col("n").cast("double")) / lit(1048576.0))
            .cast("float"))
      cents = graft.sources.Storage.localize(
        comp.groupBy(col("sub"), col("list_id"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            s => s("c")).as("cvec")))
    }
    cents.select(col("list_id"), col("cvec"), col("sub"))
  }

  /** PQ encoding: m codes per vector — a map-side dot-argmax against the
    * broadcast codebooks, one groupBy on (vec, sub). */
  def pqCodes(emb: DataFrame, books: DataFrame, width: Int = 16): DataFrame =
    emb.crossJoin(broadcast(books))
      .withColumn("ds", gf.dot_sim(
        slice(col("embedding"), col("sub") * lit(width) + lit(1), lit(width)), col("cvec")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(expr("max_by(list_id, struct(ds, -list_id))").as("code"))

  /**
   * ADC top-k per query: the query's per-(sub, centroid) dot table (m*k
   * doubles, broadcast) joined to the codes, partial dots summed in
   * SUBSPACE ORDER (sorted-struct fold — deterministic at any
   * partitioning), row_number with vec_id tiebreak. Approximate by
   * construction; q99 grades recall against the exact-dot brute anchor.
   */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, width: Int = 16, nCentroids: Int = 16,
             iters: Int = 2): DataFrame = {
    // pqCodebooks already returns a LocalRelation (its loop localizes
    // each round's centroids) — no extra collect job needed (r6)
    val books = pqCodebooks(emb, m, width, nCentroids, iters)
    val codes = pqCodes(emb, books, width)
    val tables = queries.crossJoin(broadcast(books))
      .select(col("query_id"), col("sub"), col("list_id").as("code"),
        gf.dot_sim(slice(col("qvec"), col("sub") * lit(width) + lit(1), lit(width)),
          col("cvec")).as("pd"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    codes.join(broadcast(tables), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(collect_list(struct(col("sub"), col("pd"))).as("ps"))
      .select(col("query_id"), col("vec_id"),
        expr("aggregate(transform(array_sort(ps), x -> x.pd), 0.0D, (a, v) -> a + v)").as("adc"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc"))
  }
}
