package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{functions => gf}

/**
 * The ONE definition of the engine's near-dup funnels, candidate -> verify
 * -> retain:
 *  - minhash: [[banded]] LSH bands -> [[candidatePairs]] (band-keyed
 *    self-join) -> exact shingle jaccard >= [[JaccardThreshold]]
 *    ([[verifiedPairs]]) -> first-wins or component retention. Shared by
 *    the pair queries (q25, q76, q113), the retention queries (q63, q65,
 *    q78, q86, q87, q105, q110), the estimate audit (q111) and the
 *    streaming form ([[graft.streaming.NearDup]]);
 *  - embedding: [[Ann.lshBuckets]] hyperplane buckets ->
 *    [[embeddingCandidates]] -> exact cosine >= [[CosineThreshold]] ->
 *    component retention ([[embeddingKept]], q89).
 * Every scheme parameter is a constant here (the DuckDB oracles replay
 * the same values), so a change here changes every caller together and
 * batch and stream can never silently diverge.
 */
object Dedup {

  val ShingleN = 3
  val MinhashK = 64
  val MinhashSeed = 7L
  val RowsPerBand = 4
  /** Minimum word-shingle jaccard of a verified minhash pair. */
  val JaccardThreshold = 0.5
  /** Minimum cosine of a verified embedding pair (q89). */
  val CosineThreshold = 0.8
  /** Words per gram of [[duplicatedSpans]] (q101). */
  val SpanN = 8

  /**
   * One row per (passthrough columns, `band`): the 16 LSH band keys of the
   * doc's 64-slot minhash signature over word 3-shingles of `text`.
   *
   * Docs with NO shingles (fewer than [[ShingleN]] tokens) are EXCLUDED:
   * `TextOps.minHash` gives an empty shingle set the all-`Long.MaxValue`
   * sentinel signature, so every short doc would band-collide with every
   * other short doc — not a similarity judgment at all. Excluding them
   * also matches the DuckDB replays (whose shingle CTE generates no rows
   * for them); short docs are simply not candidates for near-dup logic.
   */
  def banded(docs: DataFrame, passthrough: String*): DataFrame =
    docs
      .withColumn("__sh", gf.word_shingles(col("text"), lit(ShingleN)))
      .filter(size(col("__sh")) > 0)
      .select(passthrough.map(col) :+
        explode(gf.lsh_bands(
          gf.minhash(col("__sh"), lit(MinhashK), lit(MinhashSeed)),
          lit(RowsPerBand))).as("band"): _*)

  /**
   * Incremental first-wins retention (q87): dedup a NEW crawl increment
   * against the already-ingested corpus using only its BAND STATE — the
   * shape an incremental 100-TB pipeline actually runs, because the old
   * corpus's text never needs to be touched again (state is one row per
   * distinct seen band, exactly the streaming NearDup state, here in
   * batch form). A new doc is kept iff every one of its bands is (a)
   * absent from `seenBands` and (b) first-claimed BY IT among the new
   * batch (min id). When old ids precede new ids this equals the global
   * first-wins rule restricted to the new docs — which is how the q87
   * oracle independently re-derives it from the full corpus.
   */
  def incrementalKept(newDocs: DataFrame, seenBands: DataFrame): DataFrame = {
    val nb = banded(newDocs, "doc_id")
    val owner = nb.groupBy(col("band")).agg(min(col("doc_id")).as("owner"))
    nb.join(owner, Seq("band"))
      .join(seenBands.select(col("band")).distinct().withColumn("__seen", lit(1)),
        Seq("band"), "left")
      .groupBy(col("doc_id"))
      .agg(min(when(col("owner") === col("doc_id") && col("__seen").isNull, 1)
        .otherwise(0)).as("k"))
      .select(col("doc_id"), (col("k") === 1).as("kept"))
  }

  /**
   * Connected components of a pair graph — the CLUSTER-level retention a
   * production dedup pass runs (keep one representative per component of
   * the verified-pair graph), complementing the greedy first-wins rule.
   * The engine's ONE connected-components operator: q78, q86, q89, q96,
   * q105 and q110 all close their graphs here.
   *
   * Returns `(doc_id, component)`, component = the component's minimum id,
   * one row per vertex of the graph, id column typed like `doc_a`. A
   * self-pair `(a, a)` carries no edge and adds no vertex: a doc that only
   * pairs with itself is absent, like a doc in no pair at all. Callers that
   * need every doc left-join from their doc set with
   * `coalesce(component, doc_id)` ([[leakageSafeSplit]], [[embeddingKept]]).
   *
   * Size-gated: the canonical edges `(least, greatest)` are probed through
   * [[graft.sources.Storage.localizeOrCheckpointRows]] at `maxLocalRows`.
   * When they fit, one driver-side union-find pass over the collected rows
   * finishes (duplicate edges are harmless to it, so there is no `distinct`
   * before the probe: one limit-collect job in all).
   *
   * Past the gate — the only kind of graph a 100-TB corpus produces — the
   * distinct edge set contracts by alternating LARGE-STAR / SMALL-STAR
   * rounds (Kiveris et al., "Connected Components in MapReduce and
   * Beyond", SoCC'14): O(log^2 n) rounds, independent of the diameter
   * (a 119-hop chain closes within 12). Each round is pure relational
   * algebra, no collect_list, so a high-degree node never materialises
   * its neighbourhood in one task:
   *   large-star: m(u) = min(N(u) ∪ {u}); every neighbour v > u re-links
   *     to m(u);
   *   small-star: every neighbour v < u, and u itself, re-links to m(u).
   * Edges stay canonical (u < v) and distinct, so the edge set contracts
   * toward one star per component rooted at its minimum; connectivity and
   * the vertex set are invariants of every round. Each phase goes through
   * the same size gate, and the union-find finishes as soon as contraction
   * brings the edge set under it. Otherwise the loop stops when the
   * (count, bit_xor of a mix64 edge hash) checksum is stable, and
   * `maxIter` is a guard, not a tuning knob: hitting it throws rather than
   * return a half-contracted labelling.
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          maxLocalRows: Int = 1 << 20): DataFrame = {
    val matz = graft.sources.Storage.localizeOrCheckpointRows(_: DataFrame, maxLocalRows)
    var (edges, rows) = matz(
      pairs.select(least(col("doc_a"), col("doc_b")).as("u"),
          greatest(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")))
    if (rows.isEmpty) {
      def sym(e: DataFrame): DataFrame =
        e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      // m(center) = min over the closed neighbourhood
      def mins(s: DataFrame): DataFrame = s
        .groupBy(col("u").as("c")).agg(min(col("v")).as("mn"))
        .select(col("c"), least(col("c"), col("mn")).as("m"))
      // large-star: every neighbour v > center re-links to m; since
      // m <= center < v the emit is already canonical, and duplicates are
      // tolerated (the following small-star's groupBy-min absorbs them —
      // one distinct per round, not two)
      def largeStar(e: DataFrame): DataFrame = {
        val s = sym(e)
        s.filter(col("v") > col("u")).join(mins(s), col("u") === col("c"))
          .select(col("m").as("u"), col("v"))
      }
      def smallStar(e: DataFrame): DataFrame = {
        val s = sym(e)
        s.filter(col("v") < col("u")).join(mins(s), col("u") === col("c"))
          .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
          .unionByName(mins(s).select(least(col("c"), col("m")).as("u"),
            greatest(col("c"), col("m")).as("v")))
          .filter(col("u") =!= col("v")).distinct()
      }
      def checksum(e: DataFrame): (Long, Long) = {
        val r = e.agg(count(lit(1)),
          coalesce(bit_xor(gf.mix64(gf.mix64(col("u")).bitwiseXOR(col("v")))), lit(0L)))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      // One materialisation per star phase: each phase's plan references
      // its input from BOTH the filter side and the mins side (and sym
      // doubles it again) — left unmaterialised, one round's tree
      // re-evaluates the previous phase 4x (measured 17.6s for the q96
      // fixture at sf0.1). The first input is the checkpointed front, so
      // the upstream pair generation runs once.
      val (distinctEdges, distinctRows) = matz(edges.distinct())
      edges = distinctEdges
      rows = distinctRows
      var chk = (-1L, 0L)
      var it = 0
      while (rows.isEmpty) {
        val next = checksum(edges)
        // fixed point = disjoint stars rooted at each component's min: a
        // non-root's sole neighbour is its root; a root keeps itself
        if (next == chk) return graft.sources.Storage.localizeOrCheckpoint(
          sym(edges).groupBy(col("u").as("doc_id"))
            .agg(min(col("v")).as("mn"))
            .select(col("doc_id"), least(col("doc_id"), col("mn")).as("component")),
          maxLocalRows)
        if (it == maxIter) throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "raise maxIter deliberately")
        chk = next
        val (small, smallRows) = matz(smallStar(matz(largeStar(edges))._1))
        edges = small
        rows = smallRows
        it += 1
      }
    }
    localComponents(pairs.sparkSession, rows.get, pairs.schema("doc_a").dataType)
  }

  /**
   * Union-find over a size-gated, already-collected edge array — the
   * local finish of [[connectedComponents]]. Component = min vertex id of
   * the component (union keeps the smaller root as parent, so the final
   * root IS the min). Output: one row per distinct vertex of the edge
   * set, `(doc_id, component)`, id column typed like the input.
   */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edgeRows: Array[org.apache.spark.sql.Row],
                              idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = new java.util.HashMap[Long, Long](edgeRows.length * 2)
    def ensure(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def longOf(v: Any): Long = v.asInstanceOf[Number].longValue()
    edgeRows.foreach { r =>
      val a = longOf(r.get(0)); val b = longOf(r.get(1))
      ensure(a); ensure(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    import scala.jdk.CollectionConverters._
    def boxed(v: Long): Any = idType match {
      case LongType => java.lang.Long.valueOf(v)
      case org.apache.spark.sql.types.IntegerType => java.lang.Integer.valueOf(v.toInt)
      case other => throw new IllegalArgumentException(s"unsupported id type $other")
    }
    val out: java.util.List[org.apache.spark.sql.Row] =
      parent.keySet().asScala.toSeq.sorted.map { v =>
        org.apache.spark.sql.Row(boxed(v), boxed(find(v)))
      }.asJava
    spark.createDataFrame(out, StructType(Seq(
      StructField("doc_id", idType), StructField("component", idType))))
  }

  /**
   * Incremental connected components (q110): fold a corpus INCREMENT into
   * existing near-dup component labels without recomputing — or even
   * touching — the old corpus's pair graph. State persisted by the
   * previous run: `oldLabels` (doc_id, component), `oldBands`
   * (doc_id, band — the same state q87 keeps), `oldSh` (doc_id, sh —
   * the per-doc feature state candidate verification needs; at 100 TB
   * this would be hashed shingles, same machinery — q27 proves the hash
   * replay). New edges are only new↔new (band self-join WITHIN the
   * increment) and old↔new (increment bands joined against the old band
   * state); old↔old connectivity is carried by LABEL EDGES
   * (doc -> its component min), so the merge shuffles O(increment edges
   * + old labels) — never the old pair graph, never old text. The
   * result provably equals the direct components over the full corpus
   * (contraction argument: label edges preserve exactly the old
   * components' connectivity), which is what the q110 oracle certifies
   * by closing the FULL verified pair graph recursively.
   */
  def incrementalComponents(oldLabels: DataFrame, oldBands: DataFrame, oldSh: DataFrame,
                            newDocs: DataFrame): DataFrame = {
    val nb = banded(newDocs, "doc_id")
    val nsh = shingleState(newDocs)
    val nn = verify(candidatePairs(nb), nsh, nsh)
    val on = verify(
      oldBands.as("o").join(nb.as("n"), col("o.band") === col("n.band"))
        .select(col("o.doc_id").as("doc_a"), col("n.doc_id").as("doc_b")).distinct(),
      oldSh, nsh)
    val labelEdges = oldLabels.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("doc_a"), col("component").as("doc_b"))
    connectedComponents(nn.select(col("doc_a"), col("doc_b"))
      .unionByName(on.select(col("doc_a"), col("doc_b")))
      .unionByName(labelEdges))
  }

  /** The per-doc feature state [[incrementalComponents]] verifies with:
    * word-[[ShingleN]]-shingle arrays, shingle-less docs excluded (the
    * same rule as [[banded]] — they are never near-dup candidates). */
  def shingleState(docs: DataFrame): DataFrame =
    docs.withColumn("sh", gf.word_shingles(col("text"), lit(ShingleN)))
      .filter(size(col("sh")) > 0).select(col("doc_id"), col("sh"))

  /** Distinct minhash candidate pairs `(doc_a, doc_b)`, `doc_a < doc_b`:
    * the docs sharing any band of a `banded(…, "doc_id")` frame. The
    * band-keyed self-join shuffles ids only, never shingle arrays. */
  def candidatePairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()

  /** The verify stage: candidate `(doc_a, doc_b)` joined to the shingle
    * state of each side ([[shingleState]] frames), kept when the exact
    * jaccard is >= [[JaccardThreshold]]. Output `(doc_a, doc_b, jaccard)`,
    * jaccard unrounded. */
  private def verify(cand: DataFrame, featA: DataFrame, featB: DataFrame): DataFrame =
    cand
      .join(featA.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(featB.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /**
   * The jaccard-verified near-dup pair graph `(doc_a, doc_b, jaccard)`:
   * [[candidatePairs]] over the [[banded]] docs -> [[verify]] against
   * their [[shingleState]]. q25 and q76 report the jaccard, q113 counts
   * the pairs per source pair, and the retention queries (q78, q86, q105,
   * q110) close the graph with [[connectedComponents]]. Deliberately LAZY (r6 measurement): the
   * self-join evaluates the minhash kernel twice and the two verify joins
   * the shingle kernel twice more, but materializing either frame adds a
   * job (~0.3-0.5 s) that buys back only ~50-100 ms of kernel
   * re-evaluation at bench scale — measured net-negative
   * (OPTIMIZATION_r06.md "Negative results"); at production scale the
   * caller persists the banded frame across its consumers instead.
   */
  def verifiedPairs(docs: DataFrame): DataFrame = {
    val feat = shingleState(docs)
    verify(candidatePairs(banded(docs, "doc_id")), feat, feat)
  }

  /**
   * Leakage-safe train/val/test split (q86): assignment is a hash of the
   * near-dup COMPONENT id, not the doc id — near-duplicates can never
   * straddle the train/eval boundary (the contamination a doc-keyed
   * split invites at corpus scale). Docs outside every pair are their
   * own singleton component (component = doc_id). The split is
   * 90/5/5 percentage points of `mix64(component) pmod 100`.
   */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val (trainPct, valPct) = (90, 5)
    val comps = connectedComponents(pairs)
    val bucket = pmod(graft.functions.mix64(col("component")), lit(100L))
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test"))
  }

  // -------------------------------------------------------------------
  // Embedding-space near-dup retention (r4 verdict top item): the same
  // candidates -> exact-verify -> component-retention funnel the minhash
  // family has (banded -> firstWins/components), over an embedding column
  // instead of text shingles. No stage is all-pairs.
  // -------------------------------------------------------------------

  /** One row per (vec_id, bucket): the vector's bucket in each
    * [[Ann.lshBuckets]] hyperplane table ("tbl:signBits") — q31's
    * candidate scheme as a reusable frame, so the DuckDB replay reuses the
    * same published hyperplane literals.
    *
    * Sizing at scale: expected bucket size is n / 2^bits per table, and
    * the candidate join below is quadratic IN THE BUCKET — the bit count
    * must grow with log2(corpus) (e.g. 2^40 vectors -> ~30+ bits keeps
    * buckets ~1k) exactly as minhash band width tracks target similarity.
    * The fixture's 4x8 scheme is the one in use. */
  def embeddingBuckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), explode(Ann.lshBuckets(col("embedding"))).as("bucket"))

  /** Distinct candidate pairs (vec_a < vec_b) sharing any table's bucket —
    * a bucket-keyed equi-join (shuffles ids only, never embeddings), the
    * embedding analog of minhash band collision. Recall < 1 by
    * construction; EmbeddingDedupSpec pins measured candidate recall vs
    * the brute anchor on the fixture. */
  def embeddingCandidates(emb: DataFrame): DataFrame = {
    val b = embeddingBuckets(emb)
    b.select(col("bucket"), col("vec_id").as("vec_a"))
      .join(b.select(col("bucket"), col("vec_id").as("vec_b")), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
  }

  /**
   * Scalable embedding near-dup retention (q89): LSH candidates ->
   * exact-cosine verify (>= [[CosineThreshold]]) ON CANDIDATES ONLY ->
   * connected-component retention (keep = smallest vec_id of its
   * component; singletons keep themselves). Returns one row per input vector:
   * `(vec_id, component, kept)`.
   *
   * Scale shape, stage by stage: candidate generation shuffles (bucket,
   * id) pairs — embeddings never leave their map side until the verify
   * join; the verify stage joins the (sparse) candidate set back to the
   * embedding table by id (two id-keyed shuffles of only candidate rows);
   * retention is [[connectedComponents]] (a driver-side union-find when
   * the verified pairs fit its size gate, star-contraction rounds past it).
   * The all-pairs brute form exists only as q32's labeled anchor.
   */
  def embeddingKept(emb: DataFrame): DataFrame = {
    val cand = embeddingCandidates(emb)
    val verified = cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("__ea")), Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("__eb")), Seq("vec_b"))
      .filter(gf.cosine_sim(col("__ea"), col("__eb")) >= CosineThreshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val comps = connectedComponents(verified)
      .withColumnRenamed("doc_id", "vec_id")
    emb.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("kept", col("component") === col("vec_id"))
  }

  /**
   * First-wins retention over a [[banded]] frame: `(doc_id, kept)` where
   * kept = the doc is the smallest-id claimant of EVERY band it occupies
   * ("dedup against seen" — the greedy order-respecting rule a single
   * streaming pass can honor). Band-keyed groupBy + equi-join + doc-keyed
   * groupBy: no all-pairs stage, partial aggregation map-side throughout.
   */
  def firstWinsKept(banded: DataFrame): DataFrame = {
    val owner = banded.groupBy(col("band")).agg(min(col("doc_id")).as("owner"))
    banded.join(owner, Seq("band"))
      .groupBy(col("doc_id"))
      .agg(min(when(col("owner") === col("doc_id"), 1).otherwise(0)).as("k"))
      .select(col("doc_id"), (col("k") === 1).as("kept"))
  }

  /**
   * Exact-substring duplicated spans (q101) — the "dedup of repeated
   * sequences" stage (word-level analog of suffix-array substring dedup):
   * every word [[SpanN]]-gram occurring ≥ 2 times ANYWHERE in the corpus
   * (cross-doc or self-repetition) marks its span; overlapping-or-
   * adjacent marked spans merge per doc into maximal
   * `[span_start, span_end]` word ranges — the ranges a curation pass
   * cuts before training. Returns (doc_id, span_start, span_end,
   * span_words); docs with no duplicated span are absent.
   *
   * Scale shape: gram hashes leave the scan as (doc_id, pos, g) — the
   * text never shuffles; the duplicate-gram set is one ids-only groupBy;
   * the join back is g-keyed; the merge is a lag + running-sum window
   * INSIDE each doc's partition (docs are bounded, the window never
   * spans a corpus). Identical semantics replay in the DuckDB oracle via
   * the q70 tokenization parity forms + gaps-and-islands windows.
   */
  def duplicatedSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = SpanN
    val grams = docs
      .select(col("doc_id"), posexplode(gf.word_shingles(col("text"), lit(n))))
      .select(col("doc_id"), col("pos"), gf.hash_text(col("col")).as("g"))
    // duplicated-gram detection as ONE count-over-window pass instead of
    // groupBy + join-back (r6, guide §2.3): the join form evaluates the
    // gram explode/hash subtree twice (once under the aggregate, once on
    // the probe side) and shuffles it twice; a count() over the g
    // partition shuffles the (doc_id, pos, g) longs ONCE and filters in
    // place — identical surviving (doc_id, pos) rows, one gram-kernel
    // evaluation, one g-keyed exchange.
    val wg = Window.partitionBy(col("g"))
    val hits = grams.withColumn("cnt", count(lit(1)).over(wg))
      .where(col("cnt") >= 2).select(col("doc_id"), col("pos"))
    // positions sort ascending per doc, so lag(pos) IS the running max of
    // prior span starts; a new island begins when this span cannot touch
    // the previous one (start > prev_start + n ⇔ start > prev_end + 1)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lagged = hits.withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("isn",
        when(col("prev").isNull || col("pos") > col("prev") + n, 1).otherwise(0))
      .withColumn("island",
        sum(col("isn")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    lagged.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(1)).as("span_words"))
  }
}
