package graft

import graft.pipeline.{IvfIndex, IvfPq, KeywordIndex, MemFuse, PqIndex, TableOps}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The versioned-manifest commit protocol: snapshot-isolated readers,
  * optimistic writers that retry instead of losing a mutation — the
  * correctness-under-concurrency properties the reference inherits from
  * Postgres MVCC (database/postgres.py:167-253). Data outside a
  * committed manifest or version dir is refused, never adopted. */
class TableOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    graft.TempDirs.create(prefix).toString + "/t"

  test("reader holding a snapshot survives a whole-table rewrite (MVCC)") {
    val dir = tmp("mvcc")
    TableOps.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    val snapshot = TableOps.read(spark, dir) // resolves the manifest NOW
    assert(snapshot.count() == 3)
    TableOps.rewriteTable(spark, dir)(_.filter(col("id") =!= 2L))
    // the pre-rewrite snapshot still materializes in full: its segments
    // are immutable and retained until vacuum — no reader ever sees a
    // half-swapped table or a deleted file
    assert(snapshot.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // a fresh read resolves the new version
    assert(TableOps.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))
  }

  test("reader holding a bucketed snapshot survives a bucket rewrite") {
    val dir = tmp("mvccb")
    val t = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    TableOps.appendBucketed(
      Seq(("m1", "u1", t), ("m2", "u1", t), ("m3", "u1", t))
        .toDF("message_id", "user_id", "created_at"), dir)
    val snapshot = TableOps.read(spark, dir)
    assert(snapshot.count() == 3)
    TableOps.rewriteBucket(spark, dir, TableOps.bucketOf(spark, "u1"))(
      _.filter(col("message_id") =!= "m2"))
    assert(snapshot.count() == 3, "old snapshot intact")
    assert(TableOps.read(spark, dir).count() == 2, "fresh read sees the delete")
  }

  test("two interleaved table writers: loser retries, neither mutation lost") {
    val dir = tmp("cas")
    TableOps.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    var runsOfA = 0
    var nested = false
    // writer A deletes id=1. Its pre-commit failpoint runs writer B's
    // FULL rewrite (delete id=2) first — exactly the interleaving that
    // silently lost a mutation under the old swap. A's commit now loses
    // the version CAS, re-reads B's result, re-applies and commits.
    TableOps.rewriteTable(spark, dir, preCommitHook = () =>
      if (!nested) {
        nested = true
        TableOps.rewriteTable(spark, dir)(_.filter(col("id") =!= 2L))
      }) { df => runsOfA += 1; df.filter(col("id") =!= 1L) }
    assert(runsOfA == 2, "loser must re-run its mutation on the fresh snapshot")
    assert(TableOps.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == (3L to 10L))
  }

  test("two interleaved bucket writers on one bucket: both deletes land") {
    val dir = tmp("casb")
    val t = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    TableOps.appendBucketed(
      (1 to 6).map(i => (s"m$i", "u1", t))
        .toDF("message_id", "user_id", "created_at"), dir)
    val bucket = TableOps.bucketOf(spark, "u1")
    var nested = false
    TableOps.rewriteBucket(spark, dir, bucket, preCommitHook = () =>
      if (!nested) {
        nested = true
        TableOps.rewriteBucket(spark, dir, bucket)(
          _.filter(col("message_id") =!= "m2"))
      })(_.filter(col("message_id") =!= "m1"))
    assert(TableOps.read(spark, dir).select("message_id").as[String]
      .collect().sorted.toSeq == (3 to 6).map(i => s"m$i"))
  }

  test("bucketOf equals the user_bucket the write path stores, for any id") {
    val dir = tmp("bucketof")
    val t = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val ids = (0 until 190).map(i => s"user_$i") ++ Seq("", " ", "|", "a|b",
      "u1|x", "ü", "naïve|café", "日本語", "emoji \uD83D\uDE42", "x" * 300)
    TableOps.appendBucketed(ids.zipWithIndex.map { case (u, i) => (s"m$i", u, t) }
      .toDF("message_id", "user_id", "created_at"), dir)
    // the bucket a row was WRITTEN to is its user_bucket=N partition dir
    val written = TableOps.read(spark, dir).select(col("user_id"),
        regexp_extract(input_file_name(), "user_bucket=(\\d+)", 1).cast("long"))
      .as[(String, Long)].collect()
    assert(written.map(_._1).sorted.toSeq == ids.sorted)
    assert(written.map(_._2).distinct.length == TableOps.BucketCount)
    val wrong = written.filter { case (u, b) => TableOps.bucketOf(spark, u) != b }
    assert(wrong.isEmpty, wrong.take(5).mkString(", "))
    // a bucket-pruned read returns exactly that bucket's rows
    val b0 = TableOps.bucketOf(spark, "")
    assert(TableOps.read(spark, dir, buckets = Some(Seq(b0))).select("user_id").as[String]
      .collect().sorted.toSeq == ids.filter(TableOps.bucketOf(spark, _) == b0).sorted)
  }

  test("concurrent appends from racing threads all land") {
    val dir = tmp("appends")
    val threads = (1 to 4).map { i =>
      new Thread(() => TableOps.append(
        Seq((i.toLong, s"w$i")).toDF("id", "v"), dir))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(TableOps.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == (1L to 4L))
  }

  test("vacuum drops unreferenced segments, current version keeps reading") {
    val dir = tmp("vac")
    TableOps.append((1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    TableOps.rewriteTable(spark, dir)(_.filter(col("id") <= 4L))
    TableOps.rewriteTable(spark, dir)(_.filter(col("id") <= 2L))
    def segs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg_")).length
    assert(segs == 3, "three generations on disk before vacuum")
    TableOps.vacuum(spark, dir, keepVersions = 1)
    assert(segs == 1, "only the live segment survives")
    assert(TableOps.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("compact folds accumulated segments into one; vacuum reclaims the rest") {
    val dir = tmp("compactt")
    (1L to 5L).foreach(i => TableOps.append(Seq((i, s"v$i")).toDF("id", "v"), dir))
    assert(TableOps.segmentCount(spark, dir) == 5)
    TableOps.compact(spark, dir)
    assert(TableOps.segmentCount(spark, dir) == 1)
    assert(TableOps.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == (1L to 5L), "compaction must not change the data")
    TableOps.vacuum(spark, dir, keepVersions = 1)
    val segsOnDisk = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("seg_"))
    assert(segsOnDisk == 1)
    assert(TableOps.read(spark, dir).count() == 5)
  }

  test("compact on a bucketed table folds per bucket, preserving the committed view") {
    val dir = tmp("compactb")
    val t = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    (1 to 4).foreach(i => TableOps.appendBucketed(
      Seq((s"m$i", "u1", t)).toDF("message_id", "user_id", "created_at"), dir))
    assert(TableOps.segmentCount(spark, dir) == 4)
    TableOps.compact(spark, dir)
    assert(TableOps.segmentCount(spark, dir) == 1)
    assert(TableOps.read(spark, dir).select("message_id").as[String]
      .collect().sorted.toSeq == (1 to 4).map(i => s"m$i"))
  }

  /** Every file under `dir` with its bytes: what "left as found" compares. */
  private def filesUnder(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  test("pre-manifest tables are refused by read, append and rewrite, and left as found") {
    val t = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def msgs(rows: (String, String)*) =
      rows.map { case (m, u) => (m, u, t) }.toDF("message_id", "user_id", "created_at")
    // unpartitioned: plain part files at the table root
    val dir = tmp("premanifest")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    // bucketed: bare user_bucket=N partition dirs at the table root
    val bdir = tmp("premanifestb")
    TableOps.withUserBucket(msgs("m1" -> "u1", "m2" -> "u2"))
      .write.partitionBy("user_bucket").parquet(bdir)
    val before = Map(dir -> filesUnder(dir), bdir -> filesUnder(bdir))
    val b1 = TableOps.bucketOf(spark, "u1")
    val calls: Seq[(String, String, () => Any)] = Seq(
      ("read", dir, () => TableOps.read(spark, dir)),
      ("append", dir, () => TableOps.append(Seq((3L, "c")).toDF("id", "v"), dir)),
      ("rewriteTable", dir, () => TableOps.rewriteTable(spark, dir)(identity)),
      ("read bucketed", bdir, () => TableOps.read(spark, bdir, buckets = Some(Seq(b1)))),
      ("appendBucketed", bdir, () => TableOps.appendBucketed(msgs("m3" -> "u1"), bdir)),
      ("rewriteBucket", bdir, () => TableOps.rewriteBucket(spark, bdir, b1)(identity)),
      ("mergeBucketed", bdir, () => TableOps.mergeBucketed(msgs("m1" -> "u1"), bdir, "message_id")))
    calls.foreach { case (name, path, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(path), s"$name: ${e.getMessage}")
      assert(filesUnder(path) == before(path), s"$name changed the files under $path")
    }
    // compaction and GC neither seal nor reclaim them
    Seq(dir, bdir).foreach { path =>
      TableOps.compact(spark, path)
      TableOps.vacuum(spark, path, keepVersions = 1)
      assert(filesUnder(path) == before(path), s"compact/vacuum changed $path")
      assert(TableOps.segmentCount(spark, path) == 0)
    }
    // an absent path: read throws naming it, a rewrite is a no-op, an
    // append creates v0
    val absent = tmp("absent")
    assert(intercept[IllegalStateException](TableOps.read(spark, absent))
      .getMessage.contains(absent))
    TableOps.rewriteTable(spark, absent)(identity)
    assert(!TableOps.exists(spark, absent))
    TableOps.append(Seq((1L, "a")).toDF("id", "v"), absent)
    assert(TableOps.versions(spark, absent) == Seq(0L))
  }

  test("index families and derived layers with no committed version throw, naming what is missing") {
    val dir = graft.TempDirs.create("nover").toString
    val base = s"$dir/index"
    new java.io.File(base).mkdirs()
    val families: Seq[(String, () => Any)] = Seq(
      "ivf" -> (() => IvfIndex.load(spark, base)),
      "pq" -> (() => PqIndex.load(spark, base)),
      "ivfpq" -> (() => IvfPq.load(spark, base)),
      "kw" -> (() => new KeywordIndex(spark, base).bm25(Seq("spark"), 5)))
    families.foreach { case (family, call) =>
      val msg = intercept[IllegalStateException](call()).getMessage
      assert(msg.contains(base) && msg.contains(s"'$family'"), msg)
    }
    val engine = new MemFuse(spark, dir)
    val layers: Seq[(String, () => Any)] = Seq(
      "buildSemanticLayer()" -> (() => engine.m2Facts),
      "buildEpisodes()" -> (() => engine.episodes))
    layers.foreach { case (build, call) =>
      val msg = intercept[IllegalStateException](call()).getMessage
      assert(msg.contains(build), msg)
    }
  }

  test("readers skip an unsealed manifest; writers reclaim a crashed writer's stale claim") {
    val dir = tmp("claim")
    TableOps.append(Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate a writer that claimed v00000001 and died mid-write: the
    // file exists but carries no commit marker
    val orphan = new java.io.File(s"$dir/_log/v00000001")
    java.nio.file.Files.writeString(orphan.toPath, "bucketed=false\n{}\nseg_garbage")
    // readers must keep answering from the last SEALED manifest
    assert(TableOps.read(spark, dir).select("id").as[Long].collect().toSeq == Seq(1L))
    // a new writer reclaims the stale claim (test hook: stale after 0ms)
    System.setProperty("graft.staleClaimMs", "0")
    try TableOps.append(Seq((2L, "b")).toDF("id", "v"), dir)
    finally System.clearProperty("graft.staleClaimMs")
    assert(TableOps.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L), "both the old row and the reclaimed append are visible")
    // and the reclaimed version is now sealed
    val manifest = java.nio.file.Files.readString(orphan.toPath)
    assert(manifest.endsWith("#committed"))
  }

  test("dropArtifactPointers retires one family, leaves others resolvable") {
    val base = graft.TempDirs.create("artdrop").toString
    def commit(prefix: String): Unit = {
      val name = TableOps.nextArtifactDir(spark, base, prefix)
      new java.io.File(s"$base/$name").mkdirs()
      assert(TableOps.commitArtifactDir(spark, base, prefix, name))
    }
    commit("pq"); commit("pq"); commit("ivf")
    assert(TableOps.currentArtifactDir(spark, base, "pq").contains("pq_v00000001"))
    TableOps.dropArtifactPointers(spark, base, "pq")
    assert(TableOps.currentArtifactDir(spark, base, "pq").isEmpty,
      "every pq pointer must be gone")
    assert(TableOps.currentArtifactDir(spark, base, "ivf").isDefined,
      "other families must keep resolving")
    // the family can be rebuilt afterwards — into a FRESH version dir,
    // never back into an orphan a reader pinned at open may still scan
    commit("pq")
    assert(TableOps.currentArtifactDir(spark, base, "pq").contains("pq_v00000002"),
      "a re-build after retirement must advance past the orphan dirs")
  }

  test("empty rewrite result stays readable with the manifest schema") {
    val dir = tmp("empty")
    TableOps.append(Seq((1L, "a")).toDF("id", "v"), dir)
    TableOps.rewriteTable(spark, dir)(_.filter(col("id") < 0L))
    val df = TableOps.read(spark, dir)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "v"), "schema survives an empty table")
    // and the table accepts appends again afterwards
    TableOps.append(Seq((9L, "z")).toDF("id", "v"), dir)
    assert(TableOps.read(spark, dir).count() == 1)
  }

  test("merge upsert: matched replace, unmatched insert, untouched buckets keep files") {
    val dir = tmp("merge")
    val base = (1L to 8L).map(i => (i, s"v$i")).toDF("user_id", "v")
    TableOps.appendBucketed(base, dir)
    def bucketsOf(ids: Seq[Long]): Map[Long, Long] =
      TableOps.withUserBucket(ids.toDF("user_id"))
        .as[(Long, Long)].collect().toMap
    val baseBuckets = bucketsOf(1L to 8L).values.toSet
    // a fresh id landing in a bucket with NO existing data exercises
    // the append path; ids 100.. scan until one hashes clear
    val emptyBucketId = (100L to 200L)
      .find(i => !baseBuckets.contains(bucketsOf(Seq(i))(i))).get
    def files(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.contains("user_bucket=") &&
          p.getFileName.toString.startsWith("part-"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
    val before = files()
    val upd = Seq((1L, "UPDATED"), (emptyBucketId, "NEW")).toDF("user_id", "v")
    TableOps.mergeBucketed(upd, dir, "user_id")
    val got = TableOps.read(spark, dir).select("user_id", "v")
      .as[(Long, String)].collect().toMap
    assert(got.size == 9, "8 base rows, one replaced + one inserted")
    assert(got(1L) == "UPDATED" && got(emptyBucketId) == "NEW")
    assert((2L to 8L).forall(i => got(i) == s"v$i"), "unmatched rows untouched")
    // file-pruning: every bucket the update batch does NOT touch keeps
    // its physical files byte-identical — MERGE cost ∝ touched buckets
    val touched = bucketsOf(Seq(1L, emptyBucketId)).values.toSet
    val after = files()
    val untouchedBefore = before.filter { case (p, _) =>
      !touched.exists(b => p.contains(s"user_bucket=$b/")) }
    untouchedBefore.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"untouched file rewritten: $p") }
    // idempotent: re-running the same merge changes nothing visible
    TableOps.mergeBucketed(upd, dir, "user_id")
    val again = TableOps.read(spark, dir).select("user_id", "v")
      .as[(Long, String)].collect().toMap
    assert(again == got)
  }

  test("time travel + snapshot diff: old versions readable, diff classifies every key") {
    val dir = tmp("travel")
    TableOps.appendBucketed(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "v"), dir)
    val v0 = TableOps.versions(spark, dir).head
    // change 1, remove 2 (via bucket rewrite), add 9
    TableOps.mergeBucketed(Seq((1L, "A"), (9L, "z")).toDF("user_id", "v"),
      dir, "user_id")
    val b2 = TableOps.withUserBucket(Seq(2L).toDF("user_id"))
      .select("user_bucket").head().getLong(0)
    TableOps.rewriteBucket(spark, dir, b2)(_.filter(col("user_id") =!= 2L))
    // the v0 snapshot still materializes the ORIGINAL rows
    assert(TableOps.readVersion(spark, dir, v0).select("user_id", "v")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val diff = TableOps.snapshotDiff(spark, dir, v0, "user_id", Seq("v"))
      .as[(Long, String)].collect().toSet
    assert(diff == Set((1L, "changed"), (2L, "removed"), (9L, "added")),
      s"unchanged key 3 absent, everything else classified: $diff")
  }

  test("z-order layout: every key dimension clusters; a plain sort only clusters its leader") {
    import graft.pipeline.Layout
    // two independent uniform keys — the adversarial case for a
    // single-column sort (the second key is full-range in every file)
    val rows = (0 until 4096).map { i =>
      val a = (i * 2654435761L) % 4096 // Knuth-hash order: decorrelated
      (a, i.toLong, s"r$i")
    }
    val df = rows.toDF("a", "b", "payload")
    val zDir = graft.TempDirs.create("zord").toString + "/z"
    val sDir = graft.TempDirs.create("zord").toString + "/s"
    Layout.writeZOrdered(df, zDir, Seq("a", "b"), nFiles = 16)
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(sDir)
    def meanSpans(dir: String): (Double, Double) = {
      val sp = Layout.fileSpans(spark.read.parquet(dir), Seq("a", "b"))
        .agg(avg("span_a"), avg("span_b")).head()
      (sp.getDouble(0), sp.getDouble(1))
    }
    val (za, zb) = meanSpans(zDir)
    val (sa, sb) = meanSpans(sDir)
    // the sort is perfect on its leader and hopeless on the other key
    assert(sa < 0.15, s"sorted layout must cluster its leading key, $sa")
    assert(sb > 0.8, s"sorted layout leaves the second key full-range, $sb")
    // z-order spends the budget across BOTH dims: each file spans a
    // fraction of each key's range (16 files ≈ 4×4 grid → ~1/4 + slack)
    assert(za < 0.5 && zb < 0.5, s"z-order must cluster both keys: $za / $zb")
    // round trip is lossless
    assert(spark.read.parquet(zDir).count() == 4096)
  }

  test("scd2: versions open/close correctly, unchanged re-sends collapse, nulls are changes") {
    val feed = Seq(
      ("u1", "bronze", 1L, 1L),
      ("u1", "bronze", 2L, 2L),  // idempotent re-send: NO new version
      ("u1", "silver", 3L, 3L),
      ("u1", null,     4L, 4L),  // null IS a change (null-safe compare)
      ("u1", "gold",   5L, 5L),
      ("u2", "bronze", 1L, 6L))
      .toDF("user_id", "tier", "ts", "event_id")
    val dim = TableOps.scd2(feed, "user_id", Seq("tier"), "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(dim.toSeq == Seq(
      ("u1", "bronze", 1L, 3L, false),
      ("u1", "silver", 3L, 4L, false),
      ("u1", null, 4L, 5L, false),
      ("u1", "gold", 5L, -1L, true),
      ("u2", "bronze", 1L, -1L, true)))
    // exactly one open version per key
    val dimDf = TableOps.scd2(feed, "user_id", Seq("tier"), "ts", "event_id")
    assert(dimDf.filter(col("is_current")).groupBy("user_id").count()
      .filter(col("count") =!= 1).count() == 0)
  }
}
