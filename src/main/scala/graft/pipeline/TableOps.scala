package graft.pipeline

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared table layout + a versioned-manifest commit protocol — the
  * plain-parquet stand-in for the reference's transactional storage
  * (postgres.py:167-253), structured like a miniature Delta/Iceberg log:
  *
  *  - Every writer of the m0/m1 tables shares one 16-way `user_bucket`
  *    hash layout (the tenant filter then prunes at FILE-LIST time —
  *    reference: WHERE user_id, pgvectorscale_store.py:594-619).
  *  - Data lives in IMMUTABLE segment dirs (`seg_<id>`), never renamed
  *    or rewritten in place. The current table = the file set named by
  *    the newest COMMITTED manifest under `_log/`.
  *  - A commit claims the version name `v<N+1>` with an atomic
  *    create-if-absent (O_CREAT|O_EXCL on file://, NameNode-atomic
  *    create(overwrite=false) on HDFS — NOT rename, which on a POSIX
  *    local FS silently replaces an existing destination and so cannot
  *    CAS across processes), writes the manifest into the claimed file
  *    and seals it with a trailing commit marker. Readers ignore
  *    marker-less (in-flight / crashed-partial) manifests, so the
  *    claim-then-write is never observed half-done; a crashed writer's
  *    stale claim is reclaimed by the next writer. Two racing writers
  *    cannot both win a version — the loser re-reads the fresh
  *    snapshot, re-applies its mutation and retries (optimistic
  *    concurrency; no mutation is ever silently lost). Same-JVM writers
  *    are additionally serialized per table, which keeps the retry loop
  *    a cross-process affair only.
  *  - Readers resolve the manifest ONCE per DataFrame: a reader racing
  *    a rewrite keeps its snapshot's segments (still on disk until
  *    [[vacuum]]) — it never sees a half-swapped bucket. MVCC-on-read,
  *    like the streaming side's `_streaming_commits` markers.
  *  - A table's one on-disk form is its committed manifest. Reading a
  *    path without one throws; so does a first commit or a rewrite over
  *    parquet that no manifest names, which is left as found.
  *
  * Mutations stay PARTITION-SCOPED: a one-user delete or a backfill
  * replaces only the affected bucket's manifest entries; 15/16 of the
  * table's files are neither read nor written. On a Delta-enabled
  * cluster these become MERGE/DELETE on the same layout.
  */
object TableOps {

  val BucketCount = 16

  /** The partitioning expression — identical for every writer so batch
    * ingest, streaming sinks and rewrites share one table layout. */
  def userBucket: Column = pmod(xxhash64(col("user_id")), lit(BucketCount))

  def withUserBucket(df: DataFrame): DataFrame =
    df.withColumn("user_bucket", userBucket)

  /** Bucket id of one user: [[userBucket]]'s pmod(xxhash64(·), 16) over
    * a literal, evaluated on the driver — no job, nothing memoized.
    * TableOpsSpec pins it to the `user_bucket` the write path stores. */
  def bucketOf(spark: SparkSession, userId: String): Long = hashBucket(userId, BucketCount)

  /** `pmod(xxhash64(value), n)` evaluated on the driver: the bucket the
    * column form of the same expression assigns `value` at write time. */
  private[pipeline] def hashBucket(value: String, n: Int): Long =
    Pmod(new XxHash64(Seq(Literal(value))), Literal(n.toLong)).eval().asInstanceOf[Long]

  // ---------- manifest log ----------

  /** One resolved snapshot: manifest version, whether the table is
    * user_bucket-partitioned, the file schema (for empty reads), and the
    * live segment dirs relative to the table path. */
  private[pipeline] case class Snapshot(
      version: Long, bucketed: Boolean, schemaJson: String, entries: Seq[String])

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(tablePath: String) = new Path(tablePath, "_log")

  private val VersionRe = "v(\\d{8})".r

  /** Trailing line sealing a fully-written manifest; readers treat a
    * manifest without it as in-flight (claim-then-write in progress) or
    * a crashed writer's partial, and skip it. */
  private val CommitMark = "#committed"

  /** A marker-less claim older than this is a crashed writer's; the next
    * writer reclaims the version name. In-JVM the per-table lock makes
    * this unreachable; it only matters for cross-process crashes.
    * (System-property override is a test hook for the reclaim path.) */
  private def StaleClaimMs: Long =
    sys.props.get("graft.staleClaimMs").map(_.toLong).getOrElse(60000L)

  // same-JVM writers serialize per table; the exclusive-create CAS below
  // guards cross-process races (reentrant, so a test hook may nest a writer)
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(tablePath: String): Object =
    tableLocks.computeIfAbsent(tablePath, _ => new Object)

  /** Atomic create-if-absent — the compare-and-swap under every commit.
    * RawLocalFileSystem's rename AND create(overwrite=false) both
    * check-then-act (File.renameTo on POSIX silently replaces an
    * existing destination), so on file:// the claim goes through
    * File.createNewFile, which is O_CREAT|O_EXCL — genuinely atomic.
    * On HDFS, create(overwrite=false) is atomic at the NameNode. Returns
    * None when the destination already exists (lost the CAS). */
  private def exclusiveCreate(fs: FileSystem, dest: Path): Option[java.io.OutputStream] =
    if (fs.getUri.getScheme == "file") {
      val f = new java.io.File(fs.makeQualified(dest).toUri.getPath)
      f.getParentFile.mkdirs()
      if (f.createNewFile()) Some(new java.io.FileOutputStream(f)) else None
    } else {
      try Some(fs.create(dest, false))
      catch { case _: java.io.IOException => None }
    }

  /** Parse one manifest iff it is sealed with the commit marker. */
  private def readManifest(fs: FileSystem, ld: Path, v: Long): Option[Snapshot] = {
    try {
      val in = new BufferedReader(new InputStreamReader(
        fs.open(new Path(ld, f"v$v%08d")), StandardCharsets.UTF_8))
      try {
        val lines = Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
        if (lines.length < 3 || lines.last != CommitMark) None
        else Some(Snapshot(v, lines.head == "bucketed=true", lines(1),
          lines.slice(2, lines.length - 1).filter(_.nonEmpty)))
      } finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** The latest committed snapshot, or None when the path has none.
    * Marker-less manifests (an in-flight claim or a crashed writer's
    * partial) are skipped in favor of the newest sealed one. */
  private[pipeline] def currentSnapshot(
      spark: SparkSession, tablePath: String): Option[Snapshot] = {
    val ld = logDir(tablePath)
    val fs = fsOf(spark, ld)
    if (!fs.exists(ld)) return None
    val versions = fs.listStatus(ld).map(_.getPath.getName)
      .collect { case VersionRe(n) => n.toLong }
      .sorted(Ordering[Long].reverse)
    versions.iterator.map(readManifest(fs, ld, _)).collectFirst { case Some(s) => s }
  }

  /** One optimistic commit attempt: claim `v<version>` with an atomic
    * exclusive create, then write the manifest into the claimed file and
    * seal it with the commit marker. A failed claim means another writer
    * holds this version: committed → genuine lost race (caller re-reads
    * and retries on the next version); in-flight → brief backoff;
    * crashed-stale → reclaim the name so the caller's retry can win. */
  private def tryCommit(spark: SparkSession, tablePath: String, version: Long,
      bucketed: Boolean, schemaJson: String, entries: Seq[String]): Boolean = {
    val ld = logDir(tablePath)
    val fs = fsOf(spark, ld)
    fs.mkdirs(ld)
    val dest = new Path(ld, f"v$version%08d")
    exclusiveCreate(fs, dest) match {
      case Some(os) =>
        val out = new OutputStreamWriter(os, StandardCharsets.UTF_8)
        try out.write(
          (s"bucketed=$bucketed" +: schemaJson +: entries :+ CommitMark).mkString("\n"))
        finally out.close()
        true
      case None =>
        if (readManifest(fs, ld, version).isEmpty) {
          val stale =
            try System.currentTimeMillis() -
              fs.getFileStatus(dest).getModificationTime > StaleClaimMs
            catch { case _: java.io.IOException => false }
          if (stale) fs.delete(dest, false) else Thread.sleep(5L)
        }
        false
    }
  }

  private def newSegName(): String = s"seg_${UUID.randomUUID().toString.take(8)}"

  /** Relative entry dirs that actually contain data files (a write whose
    * every task saw zero rows may leave no part files — such segments
    * are simply not referenced; the manifest's schema line keeps empty
    * reads well-typed). */
  private def dataEntries(fs: FileSystem, tablePath: String, seg: String,
      bucketed: Boolean): Seq[String] = {
    val segPath = new Path(tablePath, seg)
    if (!fs.exists(segPath)) return Seq.empty
    if (bucketed)
      fs.listStatus(segPath).filter(_.isDirectory)
        .map(_.getPath.getName).sorted.toSeq
        .filter(_.startsWith("user_bucket="))
        .map(b => s"$seg/$b")
    else if (hasParts(fs, segPath)) Seq(seg)
    else Seq.empty
  }

  private def hasParts(fs: FileSystem, dir: Path): Boolean =
    fs.listStatus(dir).exists(st =>
      st.isFile && st.getPath.getName.startsWith("part-") && st.getLen > 0)

  /** Called where a path has no committed manifest: refuse to commit
    * over parquet that no manifest names (root `part-*` files or
    * `user_bucket=*` dirs, written outside this protocol). A manifest
    * naming only new segments would hide that data; one adopting it
    * would take in unchecked files. Those files stay as found; the
    * caller's own just-written segment, if any, is deleted. */
  private def refuseUnmanifested(fs: FileSystem, tablePath: String,
      ownSegment: Option[Path] = None): Unit = {
    val root = new Path(tablePath)
    val foreign = fs.exists(root) && fs.listStatus(root).exists { st =>
      val n = st.getPath.getName
      (st.isFile && n.startsWith("part-")) || (st.isDirectory && n.startsWith("user_bucket="))
    }
    if (foreign) {
      ownSegment.foreach(fs.delete(_, true))
      throw new IllegalStateException(
        s"$tablePath holds pre-manifest parquet and no committed manifest: refusing to write over it")
    }
  }

  /** Bucket id of a bucketed table's entry `seg_x/user_bucket=N`. */
  private def entryBucket(e: String): Option[Long] = {
    val leaf = e.split("/").last
    if (leaf.startsWith("user_bucket=")) Some(leaf.stripPrefix("user_bucket=").toLong)
    else None
  }

  private def emptyOf(spark: SparkSession, schemaJson: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      DataType.fromJson(schemaJson).asInstanceOf[StructType])

  private def readDirs(spark: SparkSession, tablePath: String,
      entries: Seq[String], mergeSchema: Boolean): DataFrame = {
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    reader.parquet(entries.map(e => s"$tablePath/$e"): _*)
  }

  /** Read the current committed snapshot of a table. `buckets` prunes to
    * the named user buckets at FILE-LIST time — the manifest resolves on
    * the driver before any job launches, so a tenant query reads 1/16 of
    * the segments (the partition-pruning analogue for manifest tables).
    * The `user_bucket` column is re-derived from `user_id` (bit-identical
    * to the write-path expression). A path with no committed manifest
    * throws `IllegalStateException`. */
  def read(spark: SparkSession, tablePath: String,
      buckets: Option[Seq[Long]] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val snap = currentSnapshot(spark, tablePath).getOrElse(
      throw new IllegalStateException(s"no committed manifest at $tablePath"))
    val chosen = buckets match {
      case Some(bs) =>
        val wanted = bs.toSet
        snap.entries.filter(e => entryBucket(e).exists(wanted))
      case None => snap.entries
    }
    val base =
      if (chosen.isEmpty) emptyOf(spark, snap.schemaJson)
      else readDirs(spark, tablePath, chosen, mergeSchema)
    if (snap.bucketed) withUserBucket(base) else base
  }

  def exists(spark: SparkSession, tablePath: String): Boolean = {
    val p = new Path(tablePath)
    fsOf(spark, p).exists(p)
  }

  /** Append rows to a bucketed table: write an immutable segment
    * (partitioned by user_bucket inside it), then commit the enlarged
    * entry list. Concurrent appends both survive — the commit loop
    * re-reads and re-applies on a lost race; the segment itself is never
    * rewritten. */
  def appendBucketed(df: DataFrame, tablePath: String): Unit =
    appendSegment(df, tablePath, bucketed = true)

  /** Append rows to an unpartitioned (catalog) table. */
  def append(df: DataFrame, tablePath: String): Unit =
    appendSegment(df, tablePath, bucketed = false)

  private def appendSegment(df: DataFrame, tablePath: String, bucketed: Boolean): Unit = {
    val spark = df.sparkSession
    val seg = newSegName()
    val segPath = new Path(tablePath, seg)
    val fs = fsOf(spark, segPath)
    val writer =
      if (bucketed) withUserBucket(df).write.partitionBy("user_bucket") else df.write
    writer.mode(SaveMode.Overwrite).parquet(segPath.toString)
    val newEntries = dataEntries(fs, tablePath, seg, bucketed)
    lockFor(tablePath).synchronized {
      var done = false
      while (!done) {
        val snap = currentSnapshot(spark, tablePath)
        if (snap.isEmpty) refuseUnmanifested(fs, tablePath, Some(segPath))
        // keep the newest schema line: appends may widen (e.g. batch_id)
        done = tryCommit(spark, tablePath, snap.fold(0L)(_.version + 1), bucketed,
          df.schema.json, snap.fold(Seq.empty[String])(_.entries) ++ newEntries)
      }
    }
  }

  /** Rewrite one `user_bucket=<bucket>` slice of `tablePath` through `f`.
    * The new bucket data lands in a fresh segment; the commit swaps the
    * bucket's manifest entries for the new one atomically. A lost
    * commit race RE-RUNS `f` on the fresh snapshot — two concurrent
    * mutations to one bucket both land, in some serial order, neither
    * lost. Readers holding the old snapshot keep reading the old
    * segments untouched. `preCommitHook` is a failpoint between data
    * write and commit for the interleaving specs (production no-op). */
  def rewriteBucket(spark: SparkSession, tablePath: String, bucket: Long,
      preCommitHook: () => Unit = () => ())(
      f: DataFrame => DataFrame): Unit =
    lockFor(tablePath).synchronized {
      var done = false
      while (!done) {
        currentSnapshot(spark, tablePath) match {
          case None =>
            refuseUnmanifested(fsOf(spark, new Path(tablePath)), tablePath)
            done = true // absent table: nothing to rewrite
          case Some(snap) =>
            val suffix = s"/user_bucket=$bucket"
            val mine = snap.entries.filter(e => entryBucket(e).contains(bucket))
            if (mine.isEmpty) { done = true } // no data for this bucket
            else {
              val cur = withUserBucket(
                readDirs(spark, tablePath, mine, mergeSchema = true))
              val next = f(cur).drop("user_bucket")
              val seg = newSegName()
              val segPath = new Path(tablePath, s"$seg$suffix")
              val fs = fsOf(spark, segPath)
              next.write.mode(SaveMode.Overwrite).parquet(segPath.toString)
              val entries = snap.entries.filterNot(e => entryBucket(e).contains(bucket)) ++
                (if (hasParts(fs, segPath)) Seq(s"$seg$suffix") else Seq.empty)
              preCommitHook()
              done = tryCommit(spark, tablePath, snap.version + 1,
                bucketed = true, snap.schemaJson, entries)
              if (!done) fs.delete(new Path(tablePath, seg), true) // lost race: orphan
            }
        }
      }
    }

  /** Whole-table rewrite for small unpartitioned tables (knowledge,
    * catalog) under the same manifest-commit protocol. */
  def rewriteTable(spark: SparkSession, tablePath: String,
      preCommitHook: () => Unit = () => ())(
      f: DataFrame => DataFrame): Unit =
    lockFor(tablePath).synchronized {
      var done = false
      while (!done) {
        currentSnapshot(spark, tablePath) match {
          case None =>
            refuseUnmanifested(fsOf(spark, new Path(tablePath)), tablePath)
            done = true // absent table: nothing to rewrite
          case Some(snap) =>
            val cur =
              if (snap.entries.isEmpty) emptyOf(spark, snap.schemaJson)
              else readDirs(spark, tablePath, snap.entries, mergeSchema = true)
            val next = f(cur)
            val seg = newSegName()
            val segPath = new Path(tablePath, seg)
            val fs = fsOf(spark, segPath)
            next.write.mode(SaveMode.Overwrite).parquet(segPath.toString)
            val entries = dataEntries(fs, tablePath, seg, bucketed = false)
            preCommitHook()
            done = tryCommit(spark, tablePath, snap.version + 1,
              bucketed = false, snap.schemaJson, entries)
            if (!done) fs.delete(segPath, true)
        }
      }
    }

  /** Read the table AS OF a committed manifest version — time travel
    * over retained (pre-[[vacuum]]) snapshots. Manifests are immutable
    * once sealed and their segments are kept until vacuum reclaims
    * them, so any retained version materializes in full, exactly as a
    * reader that resolved it live would have seen it. */
  def readVersion(spark: SparkSession, tablePath: String,
      version: Long): DataFrame = {
    val ld = logDir(tablePath)
    val fs = fsOf(spark, ld)
    val snap = readManifest(fs, ld, version).getOrElse(throw
      new IllegalArgumentException(s"no sealed manifest v$version at $tablePath"))
    val base =
      if (snap.entries.isEmpty) emptyOf(spark, snap.schemaJson)
      else readDirs(spark, tablePath, snap.entries, mergeSchema = true)
    if (snap.bucketed) withUserBucket(base) else base
  }

  /** Committed (sealed) manifest versions still retained, ascending. */
  def versions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val ld = logDir(tablePath)
    val fs = fsOf(spark, ld)
    if (!fs.exists(ld)) Seq.empty
    else fs.listStatus(ld).map(_.getPath.getName)
      .collect { case VersionRe(n) => n.toLong }.sorted.toSeq
      .filter(v => readManifest(fs, ld, v).isDefined)
  }

  /** Key-level diff of the CURRENT snapshot against version
    * `fromVersion` — the CDC/audit report every versioned table layer
    * owes its consumers ("what did that merge actually touch"): one
    * full-outer join on `key`, each key classified added / removed /
    * changed (any `compareCols` differs), unchanged keys dropped. Cost
    * is the two snapshot scans + one key-shuffle — no log replay. */
  def snapshotDiff(spark: SparkSession, tablePath: String,
      fromVersion: Long, key: String, compareCols: Seq[String]): DataFrame = {
    val before = readVersion(spark, tablePath, fromVersion)
      .select(col(key) +: compareCols.map(c => col(c).as(s"a_$c"))
        :+ lit(1).as("a_present"): _*)
    val after = read(spark, tablePath)
      .select(col(key) +: compareCols.map(c => col(c).as(s"b_$c"))
        :+ lit(1).as("b_present"): _*)
    // null-safe inequality: NULL→value / value→NULL transitions must
    // classify as "changed", and `=!=` would yield NULL there
    val changed = compareCols.map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduce(_ || _)
    before.join(after, Seq(key), "full_outer")
      .withColumn("change",
        when(col("a_present").isNull, "added")
          .when(col("b_present").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("change").isNotNull)
      .select(col(key), col("change"))
      .orderBy(key)
  }

  /** MERGE (upsert) into a bucketed table: rows of `updates` whose
    * `key` matches an existing row REPLACE it; unmatched rows INSERT.
    * The Delta/Iceberg `MERGE INTO` shape on this manifest layer, with
    * the property that makes MERGE affordable at 100 TB: only buckets
    * that actually receive updates are rewritten (copy-on-write of the
    * touched slice through [[rewriteBucket]]'s commit protocol), while
    * untouched buckets keep their manifest entries — cost ∝ the update
    * batch's bucket footprint, never table size. Buckets with no
    * existing data take the plain-append path. The touched-bucket list
    * is a bounded collect (≤ [[BucketCount]] longs).
    *
    * Each bucket commits individually (same per-bucket atomicity as
    * every mutation here); `updates` must be unique per `key` or which
    * duplicate lands is partition-order-dependent. Re-running the same
    * merge is idempotent. */
  def mergeBucketed(updates: DataFrame, tablePath: String,
      key: String): Unit = {
    val spark = updates.sparkSession
    val upd = withUserBucket(updates)
    val touched = upd.select("user_bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    val existing: Set[Long] = currentSnapshot(spark, tablePath)
      .fold(Set.empty[Long])(_.entries.flatMap(entryBucket).toSet)
    touched.foreach { b =>
      val mine = upd.filter(col("user_bucket") === b).drop("user_bucket")
      if (existing.contains(b))
        rewriteBucket(spark, tablePath, b) { cur =>
          cur.drop("user_bucket")
            .join(mine.select(col(key)), Seq(key), "left_anti")
            .unionByName(mine)
        }
      else appendBucketed(mine, tablePath)
    }
  }

  /** Distinct segment dirs referenced by the current snapshot (0 for a
    * path with no committed manifest) — the "needs compaction" signal. */
  def segmentCount(spark: SparkSession, tablePath: String): Int =
    currentSnapshot(spark, tablePath)
      .map(_.entries.map(_.split("/")(0)).distinct.size).getOrElse(0)

  /** Fold a table's accumulated small segments into one generation — the
    * parquet-compaction job every append-heavy table needs on a cadence.
    * Just an identity rewrite through the same manifest commit, so
    * readers stay snapshot-isolated throughout and a racing writer
    * simply wins or retries like any other commit. Follow with
    * [[vacuum]] to reclaim the superseded segments. */
  def compact(spark: SparkSession, tablePath: String): Unit =
    currentSnapshot(spark, tablePath) match {
      case None => ()
      case Some(snap) if snap.bucketed =>
        snap.entries.map(_.split("=").last.toLong).distinct
          .foreach(b => rewriteBucket(spark, tablePath, b)(identity))
      case Some(_) => rewriteTable(spark, tablePath)(identity)
    }

  /** Drop segments no manifest of the newest `keepVersions` references,
    * and manifests older than those — the compaction/GC job. Readers
    * holding a snapshot within the retention window keep working;
    * running this with `keepVersions = 1` reclaims everything but the
    * current version (the Delta VACUUM trade, stated plainly). */
  def vacuum(spark: SparkSession, tablePath: String, keepVersions: Int = 2): Unit =
    lockFor(tablePath).synchronized {
      val ld = logDir(tablePath)
      val fs = fsOf(spark, ld)
      if (!fs.exists(ld)) return
      // only SEALED manifests count toward the retention window (and only
      // they are GC'd) — an in-flight claim neither shields segments nor
      // gets deleted from under its writer
      val committed = fs.listStatus(ld).map(_.getPath.getName)
        .collect { case VersionRe(n) => n.toLong }
        .sorted(Ordering[Long].reverse)
        .filter(v => readManifest(fs, ld, v).isDefined)
      if (committed.isEmpty) return
      val live: Set[String] = committed.take(keepVersions).flatMap { v =>
        readManifest(fs, ld, v).get.entries.map(_.split("/")(0))
      }.toSet
      fs.listStatus(new Path(tablePath))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg_"))
        .map(_.getPath)
        .filterNot(p => live.contains(p.getName))
        .foreach(p => fs.delete(p, true))
      committed.drop(keepVersions)
        .foreach(v => fs.delete(new Path(ld, f"v$v%08d"), false))
      fs.listStatus(ld).map(_.getPath).filter(_.getName.startsWith(".tmp_"))
        .foreach(p => fs.delete(p, false))
    }

  // ---------- versioned artifact dirs (wholesale-rebuilt side indexes) ----------

  /** Side indexes (IVF, keyword postings) are rebuilt WHOLESALE, not
    * mutated — so instead of per-file manifests they get versioned
    * DIRECTORIES with a pointer log: a rebuild materializes
    * `<prefix>_v<N+1>/` completely, then commits it with one
    * exclusive-create pointer file. Readers resolve the newest committed
    * pointer at handle-open time and keep their snapshot dir through any
    * concurrent rebuild (the same MVCC-on-read as the table manifests).
    * A family with no committed pointer has no on-disk form to read.
    * [[vacuumArtifacts]] reclaims superseded versions. */
  private def ptrDir(base: String) = new Path(base, "_ptr")
  private def artifactRe(prefix: String) = (prefix + "_v(\\d{8})").r
  // retirement record: the highest version [[dropArtifactPointers]] retired
  private def retiredRe(prefix: String) = (prefix + "_retired_v(\\d{8})").r

  /** A family's pointer dir entries: its committed versions, newest
    * first, and the highest version ever retired. */
  private final case class Pointers(committed: Seq[Long], retired: Option[Long])

  /** [[Pointers]] per prefix, from ONE listing of the pointer dir. */
  private def pointers(fs: FileSystem, base: String,
      prefixes: Seq[String]): Map[String, Pointers] = {
    val pd = ptrDir(base)
    val names = if (fs.exists(pd)) fs.listStatus(pd).map(_.getPath.getName).toSeq else Nil
    prefixes.map { prefix =>
      val (re, rr) = (artifactRe(prefix), retiredRe(prefix))
      prefix -> Pointers(names.collect { case re(n) => n.toLong }.sorted.reverse,
        names.collect { case rr(n) => n.toLong }.maxOption)
    }.toMap
  }

  /** Newest committed version dir name for `prefix`, if any. */
  def currentArtifactDir(spark: SparkSession, base: String, prefix: String): Option[String] =
    currentArtifactDirs(spark, base, Seq(prefix)).get(prefix)

  /** `base/<newest committed version dir of prefix>`. Throws
    * `IllegalStateException` naming the base, the family and
    * `buildCall` (what commits one) when there is none. */
  private[pipeline] def committedArtifactPath(spark: SparkSession, base: String,
      prefix: String, buildCall: String): String =
    currentArtifactDir(spark, base, prefix).map(v => s"$base/$v").getOrElse(
      throw new IllegalStateException(
        s"no committed '$prefix' version under $base: run $buildCall first"))

  /** Newest committed version dir name per prefix that has one, from ONE
    * listing of the pointer dir. */
  def currentArtifactDirs(spark: SparkSession, base: String,
      prefixes: Seq[String]): Map[String, String] =
    pointers(fsOf(spark, ptrDir(base)), base, prefixes).flatMap { case (prefix, ps) =>
      ps.committed.headOption.map(v => prefix -> f"${prefix}_v$v%08d")
    }

  /** Name for the next version dir (build into `base/<name>/` first).
    * Versions advance past any existing version DIRECTORY, any committed
    * pointer and any retired version: a retired family's dirs (possibly
    * still scanned by readers pinned at open) stay on disk until
    * [[vacuumArtifacts]] reclaims them, and a later re-build of the same
    * family must never Overwrite into one of them nor reuse a number
    * that vacuum reclaims. */
  def nextArtifactDir(spark: SparkSession, base: String, prefix: String): String = {
    val re = artifactRe(prefix)
    val bp = new Path(base)
    val fs = fsOf(spark, bp)
    val dirMax =
      if (!fs.exists(bp)) None
      else fs.listStatus(bp).map(_.getPath.getName)
        .collect { case re(n) => n.toLong }.maxOption
    val ps = pointers(fs, base, Seq(prefix))(prefix)
    val next = (dirMax ++ ps.committed.headOption ++ ps.retired)
      .maxOption.map(_ + 1).getOrElse(0L)
    f"${prefix}_v$next%08d"
  }

  /** Commit a fully-written version dir: one exclusive-create pointer
    * file (atomic cross-process, unlike local-FS rename — the pointer is
    * zero-byte so its existence IS the commit). Returns false if another
    * rebuild won this version (the caller's dir is then an orphan for
    * vacuum — its data was superseded anyway). */
  def commitArtifactDir(spark: SparkSession, base: String, prefix: String,
      name: String): Boolean = {
    val pd = ptrDir(base)
    val fs = fsOf(spark, pd)
    fs.mkdirs(pd)
    exclusiveCreate(fs, new Path(pd, name)) match {
      case Some(os) => os.close(); true
      case None     => false
    }
  }

  /** Retire an artifact family: delete every pointer file for `prefix`
    * so `currentArtifactDir` resolves to None (new opens see no such
    * artifact), then record the highest version retired. Version DIRS
    * are left on disk for readers pinned at open; [[vacuumArtifacts]]
    * reclaims those at or below the record. The record comes last, so a
    * crash in between leaves orphan dirs, never a record over a live
    * pointer. */
  def dropArtifactPointers(spark: SparkSession, base: String, prefix: String): Unit = {
    val pd = ptrDir(base)
    val fs = fsOf(spark, pd)
    val retired = pointers(fs, base, Seq(prefix))(prefix).committed
    retired.foreach(v => fs.delete(new Path(pd, f"${prefix}_v$v%08d"), false))
    retired.headOption.foreach { v =>
      exclusiveCreate(fs, new Path(pd, f"${prefix}_retired_v$v%08d")).foreach(_.close())
    }
  }

  /** Drop artifact versions older than the newest `keep` (and their
    * pointer files), and every version dir at or below the family's
    * retirement record that has no committed pointer. A build in flight
    * is never touched: it has no pointer yet and [[nextArtifactDir]]
    * numbered it past every retired version. */
  def vacuumArtifacts(spark: SparkSession, base: String, prefix: String,
      keep: Int = 2): Unit = {
    val pd = ptrDir(base)
    val fs = fsOf(spark, pd)
    val ps = pointers(fs, base, Seq(prefix))(prefix)
    ps.committed.drop(keep).foreach { v =>
      val name = f"${prefix}_v$v%08d"
      fs.delete(new Path(base, name), true)
      fs.delete(new Path(pd, name), false)
    }
    val live = ps.committed.take(keep).toSet
    val re = artifactRe(prefix)
    ps.retired.foreach { r =>
      fs.listStatus(new Path(base)).map(_.getPath).filter(_.getName match {
        case re(n) => n.toLong <= r && !live(n.toLong)
        case _     => false
      }).foreach(fs.delete(_, true))
    }
  }

  /** Type-2 slowly-changing dimension from a change feed: rows
    * (key, attrs…, ordered by `tsCol` with `tieCol` breaking equal
    * timestamps) become versioned rows [valid_from, valid_to) with
    * `is_current` on the open version. Consecutive feed rows whose
    * attrs are null-safely UNCHANGED collapse into one version — no
    * spurious versions from idempotent re-sends. Two windows over one
    * key-shuffle (change detection on the feed, then lead() over the
    * surviving version starts); cost ∝ feed, never dimension history.
    * The warehouse-dimension twin of [[snapshotDiff]]'s CDC report. */
  def scd2(feed: DataFrame, key: String, attrs: Seq[String],
      tsCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col(tsCol), col(tieCol))
    val changed = attrs.map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val starts = feed
      .withColumn("__start",
        lag(col(tsCol), 1).over(w).isNull || changed)
      .filter(col("__start"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col(tsCol), col(tieCol))
    starts
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(wv))
      .withColumn("is_current", col("valid_to").isNull)
      .select((col(key) +: attrs.map(col)) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
      .orderBy(col(key), col("valid_from"))
  }
}
