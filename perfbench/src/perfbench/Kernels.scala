package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{functions => gf}
import graft.data.{Courses, Pages}
import graft.expr.{GeoOps, TextOps}
import graft.pipeline.SpatialJoin

/**
 * Direct single-thread calls into the engine's kernels (GeoOps, TextOps)
 * on seeded samples of the run's own inputs: dense pages against the
 * holes whose box holds them, item polygons against their hole boundary,
 * and the documents' text. Reported as nanoseconds per call, the median
 * of five passes after one warm-up pass.
 */
object Kernels {
  /** Amplification of the dense page sample the kernels run on. */
  val DenseAmp = 4000
  private var sink = 0L

  private def nsPerCall(n: Int)(call: Int => Long): Double = {
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += call(i); i += 1 }
      System.nanoTime() - t0
    }
    pass()
    Stats.median((1 to 5).map(_ => pass().toDouble)) / math.max(1, n)
  }

  def apply(c: Ctx, in: SpatialInputs): Unit = {
    val (lons, lats) = in.centroids
    val pts = Pages.denseAround(in.sampleDocs(3), DenseAmp, lons, lats, jitter = 0.004)
      .select("lon", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val pairs = ArrayBuffer.empty[(ArrayData, Double, Double)]
    pts.foreach { case (x, y) =>
      in.shells.foreach(s => if (x > s.minX && x < s.maxX && y > s.minY && y < s.maxY)
        pairs += ((s.flat, x, y)))
    }
    val np = pairs.length
    c.layer("expr.st_contains_ns") = nsPerCall(np) { i =>
      val (f, x, y) = pairs(i); if (GeoOps.stContainsFlat(f, x, y)) 1L else 0L
    }
    c.layer("expr.distance_to_shell_ns") = nsPerCall(np) { i =>
      val (f, x, y) = pairs(i); GeoOps.stDistanceToShellM(f, x, y).toLong
    }
    c.layer("index.cell_id_ns") = nsPerCall(pts.length) { i =>
      GeoOps.cellId(pts(i)._1, pts(i)._2, SpatialJoin.MaxLevel)
    }
    c.layer("expr.tile_ns") = nsPerCall(pts.length) { i =>
      val x = GeoOps.tileX(pts(i)._1, Tile.Z); val y = GeoOps.tileY(pts(i)._2, Tile.Z)
      x + y + GeoOps.quadkey(Tile.Z, x, y).numBytes()
    }

    // clip: each hole's interior polygons against its boundary (q43's shape)
    val key = Seq("clubId", "courseId", "holeNumber").map(col)
    val clips = in.internalRows(
      Courses.itemsDf(c.spark, in.NCourses, c.opts.seed)
        .filter(col("itemType").isin(Courses.polygonTypes: _*))
        .select(key :+ gf.make_polygon(gf.closed_ring(col("shape"))).as("poly"): _*)
        .filter(col("poly").isNotNull)
        .join(in.bounds, Seq("clubId", "courseId", "holeNumber"))
        .select("boundary", "poly").limit(400))
    c.layer("expr.clip_ns") = nsPerCall(clips.length) { i =>
      val r = GeoOps.stIntersection(clips(i).getArray(0), clips(i).getArray(1))
      if (r == null) 0L else r.numElements().toLong
    }

    val texts = in.internalRows(in.docs.select("text").orderBy("doc_id").limit(200))
      .map(r => r.getUTF8String(0))
    c.layer("expr.char_shingles_ns") = nsPerCall(texts.length) { i =>
      TextOps.charShingles(texts(i), 5).numElements().toLong
    }
    val shingles = texts.map(t => TextOps.wordShingles(t, 3))
    c.layer("expr.minhash_ns") = nsPerCall(texts.length) { i =>
      TextOps.minHash(shingles(i), 64, 1L).getLong(0)
    }
    // per-document (token, count) vectors sorted by token, as keyed_dot and
    // bm25_fold take them
    val vecs: Array[ArrayData] = texts.map { t =>
      val counts = TextOps.tokens(t).groupBy(identity).map { case (k, v) => (UTF8String.fromString(k), v.length.toLong) }
      new GenericArrayData(counts.toSeq.sortWith((a, b) => a._1.compareTo(b._1) < 0)
        .map { case (k, n) => InternalRow(k, n) }.toArray[Any])
    }
    val nv = vecs.length
    c.layer("expr.keyed_dot_ns") = nsPerCall(nv) { i => TextOps.keyedDot(vecs(i), vecs((i + 1) % nv)) }
    val queries: Array[ArrayData] = texts.map { t =>
      new GenericArrayData(TextOps.tokens(t).distinct.take(6).zipWithIndex.map { case (term, q) =>
        InternalRow(q, UTF8String.fromString(term), 1.0 + 0.1 * q)
      }.toArray[Any])
    }
    val lens = texts.map(_.numChars().toDouble)
    val avg = lens.sum / math.max(1, lens.length)
    c.layer("expr.bm25_fold_ns") = nsPerCall(nv) { i =>
      val d = (i + 7) % nv
      val s = TextOps.bm25Fold(queries(i), vecs(d), 1.2 * (0.25 + 0.75 * lens(d) / avg))
      if (s.isNaN) 0L else s.toLong
    }
    c.artifact("kernel_calls") = s"$np contains pairs, ${pts.length} points, ${clips.length} clips, ${texts.length} texts"
    c.artifact("kernel_sink") = sink.toString
  }
}
