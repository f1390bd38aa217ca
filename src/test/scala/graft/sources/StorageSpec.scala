package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: correct results AND a shuffle-free plan. */
class StorageSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.expr.SparkTestSession.spark
  import spark.implicits._

  test("same-key same-bucket-count join plans with zero exchange") {
    val dir = tempDir("graft-buckets").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Storage.writeBucketed(docs, "docs_b", s"$dir/docs_b", "doc_id", 4)
    Storage.writeBucketed(
      docs.select($"doc_id", length($"text").as("len")),
      "lens_b", s"$dir/lens_b", "doc_id", 4)

    val joined = Storage.table(spark, "docs_b")
      .join(Storage.table(spark, "lens_b"), "doc_id")
      .select($"doc_id", $"len")

    // results correct
    assert(joined.count() === docs.count())
    assert(joined.filter($"len".isNotNull).count() === docs.count())

    // plan shape: the bucketed scans satisfy the join's distribution —
    // no ShuffleExchange anywhere
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle in:\n$plan")

    // contrast: the same join over plain parquet DOES shuffle
    val plain = docs.join(docs.select($"doc_id", length($"text").as("len")), "doc_id")
    val plainPlan = plain.queryExecution.executedPlan.toString
    assert(plainPlan.contains("Exchange") || plainPlan.contains("Broadcast"),
      "control join should need an exchange or broadcast")

    spark.sql("DROP TABLE IF EXISTS docs_b")
    spark.sql("DROP TABLE IF EXISTS lens_b")
  }

  test("static partition pruning: a lang filter prunes partitions at the scan") {
    val dir = tempDir("graft-part").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/by_lang")
    val en = spark.read.parquet(s"$dir/by_lang").filter($"lang" === "en")
    assert(en.count() === docs.filter($"lang" === "en").count())
    val scan = en.queryExecution.executedPlan.toString
    // the filter must land in PartitionFilters (directory-level pruning),
    // never as a post-scan Filter over all partitions
    assert(scan.contains("PartitionFilters") && scan.contains("(lang"),
      s"partition filter missing from scan:\n$scan")
  }

  test("dynamic partition pruning: a selective dim join prunes fact partitions") {
    val dir = tempDir("graft-dpp").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // the dim must be a real scan (a literal Seq constant-folds into a
    // LocalRelation and DPP never fires without a filter over a relation)
    // and the filter must be one DPP's isLikelySelective check accepts
    // (attr = literal; a bare boolean attribute does not qualify)
    Seq(("en", "keep"), ("de", "keep"), ("fr", "drop"), ("es", "drop"), ("zh", "drop"))
      .toDF("lang", "tag").write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val joined = fact.join(dim.filter($"tag" === "keep"), Seq("lang"))
    val expected = docs.filter($"lang".isin("en", "de")).count()
    assert(joined.count() === expected)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery in:\n$plan")
  }

  test("snapshot commits race safely: no manifest is ever silently overwritten") {
    val dir = tempDir("graft-snapshot-race").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Snapshots.commit(docs.filter($"doc_id" < 5), dir)
    // two committers in parallel: both must succeed (one retries onto the
    // next id) and BOTH appended slices must be visible in the final state
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Snapshots.commit(docs.filter($"doc_id" >= 5 && $"doc_id" < 10), dir))
    val fb = Future(Snapshots.commit(docs.filter($"doc_id" >= 10 && $"doc_id" < 15), dir))
    val (ia, ib) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(ia != ib, "racing commits must land on distinct snapshot ids")
    assert(Set(ia, ib) == Set(2L, 3L))
    // linearized appends: the later snapshot sees both slices... the
    // FIRST of the two racers may not include the second's dir, but the
    // latest snapshot must contain the winner chain; ids 0-4 always there
    val latest = Snapshots.read(spark, dir).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((0L until 5L).toSet.subsetOf(latest))
    // the commit that landed LAST appended onto the one before it, so the
    // final state contains at least 10 rows (5 base + its own 5)
    assert(latest.size >= 10)
    // every snapshot id readable, none corrupted
    Snapshots.snapshots(dir).foreach { s =>
      assert(Snapshots.readVersionAsOf(spark, dir, s.id).count() >= 5)
    }
  }

  test("snapshot manifest: append/overwrite commits, version + timestamp time travel") {
    val dir = tempDir("graft-snapshots").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    // millisecond gaps between commits so TIMESTAMP AS OF boundaries are
    // unambiguous (two same-ms snapshots resolve to the later id)
    val v1 = Snapshots.commit(docs.filter($"doc_id" < 10), dir)
    Thread.sleep(5)
    val v2 = Snapshots.commit(docs.filter($"doc_id" >= 10 && $"doc_id" < 20), dir) // append
    Thread.sleep(5)
    val v3 = Snapshots.commit(docs.filter($"doc_id" >= 100 && $"doc_id" < 105), dir,
      overwrite = true)
    assert(Seq(v1, v2, v3) === Seq(1L, 2L, 3L))

    // latest = the overwrite
    assert(Snapshots.read(spark, dir).count() === 5)
    // VERSION AS OF: v1 = first slice only; v2 = v1 + append
    assert(Snapshots.readVersionAsOf(spark, dir, v1).count() === 10)
    val v2ids = Snapshots.readVersionAsOf(spark, dir, v2)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(v2ids === (0L until 20L).toSet)
    // older snapshots stay consistent after later commits (snapshot isolation)
    assert(Snapshots.readVersionAsOf(spark, dir, v1)
      .select($"doc_id").collect().map(_.getLong(0)).toSet === (0L until 10L).toSet)

    // TIMESTAMP AS OF: each snapshot's own commit ts resolves to itself
    val snaps = Snapshots.snapshots(dir)
    assert(Snapshots.readTimestampAsOf(spark, dir, snaps(1).tsMs).count() === 20)
    assert(Snapshots.readTimestampAsOf(spark, dir, Long.MaxValue).count() === 5)
    intercept[IllegalArgumentException] {
      Snapshots.readTimestampAsOf(spark, dir, snaps.head.tsMs - 1)
    }
    intercept[IllegalArgumentException] {
      Snapshots.readVersionAsOf(spark, dir, 99L)
    }
  }

  test("merge upserts by key into a new version; diff is the exact delete+insert changelog") {
    val dir = tempDir("graft-snapmerge").toString
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val v1 = Snapshots.commit(nation.filter($"n_nationkey" < 10), dir)
    val updates = nation.filter($"n_nationkey" < 2)
      .withColumn("n_name", lit("X"))
      .unionByName(nation.limit(1).select(
        lit(77).cast(nation.schema("n_nationkey").dataType).as("n_nationkey"),
        lit("NEW").as("n_name"),
        lit(0).cast(nation.schema("n_regionkey").dataType).as("n_regionkey")))
    val v2 = Snapshots.merge(spark, dir, updates, "n_nationkey")
    assert(v2 == v1 + 1)
    // head: 10 originals - 2 replaced + 2 updated + 1 new = 11 rows
    val head = Snapshots.read(spark, dir)
    assert(head.count() === 11)
    assert(head.filter($"n_name" === "X").count() === 2)
    assert(head.filter($"n_nationkey" === 77).count() === 1)
    // v1 untouched (snapshot isolation through a merge)
    assert(Snapshots.readVersionAsOf(spark, dir, v1)
      .filter($"n_name" === "X" || $"n_nationkey" === 77).count() === 0)
    // changelog: 2 deletes (old rows), 3 inserts (2 updated + 1 new)
    val d = Snapshots.diff(spark, dir, v1, v2)
      .select($"op", $"n_nationkey".cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(d == Set(("delete", 0L), ("delete", 1L),
      ("insert", 0L), ("insert", 1L), ("insert", 77L)))
  }

  test("compaction: fewer files, identical data, history intact until expire+vacuum") {
    val dir = tempDir("graft-compact").toString
    val rows = (0L until 40L).map(i => (i, s"w$i")).toDF("doc_id", "w")
    (0 until 5).foreach { i =>
      Snapshots.commit(rows.where(pmod($"doc_id", lit(5)) === i).repartition(2), dir)
    }
    val before = Snapshots.liveFileCount(dir, 5L)
    assert(before >= 10, s"five 2-file appends should fragment the live set, got $before")
    val v = Snapshots.compact(spark, dir, targetFiles = 2)
    assert(v === 6L)
    val after = Snapshots.liveFileCount(dir, v)
    assert(after === 2, s"compaction to 2 target files wrote $after")
    // data identical, pre-compact version still time-travelable
    val now = Snapshots.read(spark, dir).select($"doc_id").collect().map(_.getLong(0)).toSet
    val old = Snapshots.readVersionAsOf(spark, dir, 5L)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(now === (0L until 40L).toSet && old === now)
    // compaction deletes nothing; expire+vacuum reclaim the fragments
    assert(Snapshots.vacuum(dir, graceMs = 0L).isEmpty,
      "pre-expire vacuum must reap nothing — old versions still reference the fragments")
    Snapshots.expire(dir, keepLast = 1)
    assert(Snapshots.vacuum(dir, graceMs = 0L).size === 5, "the five append dirs are now dead")
    assert(Snapshots.read(spark, dir).count() === 40)
  }

  test("snapshot maintenance: expire keeps the head readable; vacuum reaps only dead dirs") {
    val dir = tempDir("graft-snapvac").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val v1 = Snapshots.commit(docs.filter($"doc_id" < 10), dir)
    val v2 = Snapshots.commit(docs.filter($"doc_id" >= 10 && $"doc_id" < 20), dir) // append
    val v3 = Snapshots.commit(docs.filter($"doc_id" >= 100 && $"doc_id" < 105), dir,
      overwrite = true) // references ONLY its own data dir
    // plant a lost-race-style orphan: a data dir no manifest references
    val orphan = java.nio.file.Paths.get(dir, "data", "orphan-test-uuid")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-junk.parquet"), "junk")

    def dataDirs = {
      val s = Files.list(java.nio.file.Paths.get(dir, "data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSet
      } finally s.close()
    }
    assert(dataDirs.size === 4) // 3 commits + orphan

    // grace window: nothing young enough gets reaped
    assert(Snapshots.vacuum(dir).isEmpty && dataDirs.size === 4)
    // grace 0: ONLY the orphan goes; every snapshot stays fully readable
    assert(Snapshots.vacuum(dir, graceMs = 0L) === Seq("data/orphan-test-uuid"))
    assert(Snapshots.readVersionAsOf(spark, dir, v1).count() === 10)
    assert(Snapshots.readVersionAsOf(spark, dir, v2).count() === 20)
    assert(Snapshots.read(spark, dir).count() === 5)

    // expire everything but the head: old versions stop resolving, the
    // head still reads, data dirs wait for vacuum (two-phase)
    assert(Snapshots.expire(dir, keepLast = 1) === Seq(v1, v2))
    intercept[IllegalArgumentException] { Snapshots.readVersionAsOf(spark, dir, v1) }
    intercept[IllegalArgumentException] { Snapshots.readVersionAsOf(spark, dir, v2) }
    assert(Snapshots.read(spark, dir).count() === 5)
    assert(dataDirs.size === 3, "expire must not touch data")
    // vacuum now reaps v1/v2's exclusive dirs (v3 was an overwrite), and
    // the surviving head keeps reading afterwards
    assert(Snapshots.vacuum(dir, graceMs = 0L).size === 2)
    assert(dataDirs.size === 1)
    assert(Snapshots.read(spark, dir).select($"doc_id").collect()
      .map(_.getLong(0)).toSet === (100L until 105L).toSet)
    // keepLast < 1 is a contract violation
    intercept[IllegalArgumentException] { Snapshots.expire(dir, keepLast = 0) }
  }

  test("deleteRecursively removes a tree, not what a link inside it points to") {
    val root = tempDir("graft-rm")
    val outside = Files.createDirectories(root.resolve("outside"))
    Files.write(outside.resolve("keep.txt"), Array[Byte](1))
    val tree = Files.createDirectories(root.resolve("tree/a/b"))
    Files.write(tree.resolve("f.bin"), Array[Byte](2))
    Files.createSymbolicLink(root.resolve("tree/a/link"), outside)
    Storage.deleteRecursively(root.resolve("tree"))
    assert(!Files.exists(root.resolve("tree"), java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(Files.exists(outside.resolve("keep.txt")))
    Storage.deleteRecursively(root.resolve("tree")) // absent: a no-op
  }
}
