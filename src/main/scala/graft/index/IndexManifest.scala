package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic commit protocol for the persisted index families (gram digest
  * log, LSH bands/sigs, PQ codes, BM25 postings) — the piece that turns
  * "a directory of parquet files a job happens to append to" into an
  * index a 100 TB deployment can serve WHILE ingest and compaction run.
  *
  * Layout under an index root:
  * {{{
  *   <root>/_manifests/m-000000001.txt   versioned pointer files
  *   <root>/seg/<table>/s-<uuid>/        immutable parquet segments
  * }}}
  *
  * A manifest is a tiny text file listing, per logical table, the exact
  * segment directories that make up that version of the index. The
  * protocol:
  *
  *  - WRITERS stage data as brand-new segment directories (never touching
  *    an existing one), then publish with [[commit]]: the manifest body is
  *    written to a hidden temp file and RENAMED to `m-<v+1>.txt` — one
  *    atomic filesystem op is the entire visibility switch.
  *  - READERS resolve the highest committed manifest first ([[snapshot]])
  *    and read ONLY the segments it lists. Staged-but-uncommitted segments
  *    are invisible, so a probe racing an append/compact/refresh sees
  *    either the old index or the new one — never a torn mix. A resolved
  *    [[Snapshot]] stays valid for the life of the query even if newer
  *    versions land, because segments are immutable and [[vacuum]] is the
  *    only thing that deletes them.
  *  - Maintenance (compact/refresh) is an atomic POINTER SWAP: stage the
  *    rewritten segment, commit a manifest that lists only it. No reader
  *    ever observes a half-rewritten table, and the swap is no longer the
  *    caller's problem.
  *  - Concurrent WRITERS are serialized optimistically: a lifecycle reads
  *    a snapshot, derives its delta from it, and commits with
  *    `expect = Some(snapshot.version)`; if another writer landed first
  *    the commit fails with [[java.util.ConcurrentModificationException]]
  *    instead of silently publishing a delta computed against a stale
  *    base (the lost-update guard). Blind commits (fresh builds) retry
  *    onto the next free version, so two racing builds land as two
  *    versions — later one wins, neither is torn.
  *
  * The storage-atomicity the protocol needs is exactly ONE primitive —
  * an atomic create-iff-absent — abstracted behind [[CommitOps]]: POSIX
  * local filesystems use `link(2)`, HDFS uses its no-overwrite rename,
  * and object stores plug in a conditional PUT ([[CommitOps.ConditionalPut]];
  * S3 `If-None-Match`, GCS generation-match). Both the version claim and
  * the manifest publish go through it, so on EVERY backend a commit
  * either lands whole or fails — it can never tear a manifest or
  * silently replace a committed one. The manifest itself is O(segments)
  * bytes — compaction keeps that bounded, and a 100 TB index's pointer
  * file is still a few KB read once per query, not a scaling surface.
  */
object IndexManifest {

  private val ManifestDir = "_manifests"
  private val Magic = "graft-index-manifest"

  /** An immutable resolved view of the index: `tables` maps logical table
    * name → root-relative segment directories, in commit order. `meta` is
    * the version's key→value metadata (e.g. `family` stamped by every
    * builder so maintenance never guesses from table names, or
    * `stream_batch` stamped by the exactly-once streaming append so a
    * replayed micro-batch can prove its commit already landed). */
  final case class Snapshot(
      version: Long, tables: Map[String, Seq[String]],
      meta: Map[String, String] = Map.empty,
      explicitKeys: Set[String] = Set.empty)

  /** Meta key carrying the highest micro-batch id whose exactly-once
    * growing-stream append has committed (see
    * [[graft.streaming.StreamPipeline]]): the grown index and the
    * applied-batch watermark move in one atomic publish. Inherited down
    * the version chain like any meta, so maintenance commits keep the
    * watermark visible at HEAD; [[Snapshot.explicitKeys]] tells a
    * reader whether a given version IS the append commit itself. */
  val StreamBatchKey = "stream_batch"

  /** Meta key listing (comma-joined, root-relative) the segments a
    * growing-stream append added in its commit — what lets a replayed
    * micro-batch that must RECOMPUTE reconstruct the pre-append view
    * from HEAD alone after vacuum reclaimed the pre-append manifest:
    * HEAD's tables minus exactly these segments IS that view. */
  val StreamBatchSegsKey = "stream_batch_segs"

  /** Stamp `segs` into a growing-stream append's commit metadata: when
    * `extraMeta` carries a [[StreamBatchKey]] watermark (the caller is
    * the exactly-once growing ingest), the appended segment paths ride
    * in the SAME atomic commit under [[StreamBatchSegsKey]]; any other
    * caller's metadata passes through untouched. Every index family's
    * append calls this, so the reconstruction contract is uniform. */
  def stampAppendSegs(
      extraMeta: Map[String, String], segs: Seq[String]): Map[String, String] =
    if (extraMeta.contains(StreamBatchKey))
      extraMeta + (StreamBatchSegsKey -> segs.mkString(","))
    else extraMeta

  /** The growing-ingest protocol's watermark walk, in ONE place so the
    * stream's replay resolution (`StreamPipeline.preBatchSnapshot`) and
    * maintenance's retention cap (`Maintenance.growingSafeBoundary`)
    * cannot drift: from `head` down past every version whose
    * applied-batch watermark covers `batchId`, returning the first
    * snapshot NOT covering it. The Boolean is true when the walk hit a
    * VACUUMED manifest instead — the returned snapshot is then the
    * oldest still-resolvable one (and still covers `batchId`); the
    * stream reconstructs the pre-append view from HEAD in that case,
    * maintenance floors its boundary there. */
  private[graft] def walkBelowBatch(
      spark: SparkSession, root: String, head: Snapshot,
      batchId: Long): (Snapshot, Boolean) = {
    var v = head.version
    var snap = head
    try {
      while (snap.meta.get(StreamBatchKey).exists(_.toLong >= batchId) && v > 1) {
        v -= 1; snap = snapshotAt(spark, root, v)
      }
      (snap, false)
    } catch { case _: java.io.FileNotFoundException => (snap, true) }
  }

  private[index] def fsFor(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fresh root-relative segment path for `table` — globally unique, so
    * staged segments can never collide with committed ones. */
  def newSegment(table: String): String =
    s"seg/$table/s-${java.util.UUID.randomUUID().toString}"

  private def manifestPath(root: String, version: Long): Path =
    new Path(new Path(root, ManifestDir), f"m-$version%09d.txt")

  private[index] def listVersions(fs: FileSystem, root: String): Seq[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(n => n.startsWith("m-") && n.endsWith(".txt"))
        .flatMap(n => scala.util.Try(n.stripPrefix("m-").stripSuffix(".txt").toLong).toOption)
  }

  /** Highest committed version, 0 when the root has no manifest yet. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val vs = listVersions(fsFor(spark, root), root)
    if (vs.isEmpty) 0L else vs.max
  }

  def exists(spark: SparkSession, root: String): Boolean =
    currentVersion(spark, root) > 0L

  /** Modification time of the current manifest file — the "when was this
    * index last published" signal build-if-stale serving uses. */
  def lastModified(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsFor(spark, root)
    val vs = listVersions(fs, root)
    if (vs.isEmpty) None
    else Some(fs.getFileStatus(manifestPath(root, vs.max)).getModificationTime)
  }

  /** Resolve the current committed snapshot. Fails loudly on an
    * uninitialized root — there is no meaningful empty index to serve. */
  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val v = currentVersion(spark, root)
    require(v > 0L, s"no committed index manifest under $root")
    snapshotAt(spark, root, v)
  }

  /** Meta lines are distinguished from table lines by this prefix — a
    * logical table name can never start with `!`. */
  private val MetaPrefix = "!meta\t"

  /** How many times [[snapshotAt]] re-reads a manifest that opened but
    * failed to parse, and the pause between attempts. A manifest body is
    * normally atomic-visible (hard link / no-overwrite rename /
    * conditional PUT), but the documented no-hardlink local fallback
    * makes the file visible momentarily before its body lands, and an
    * eventually-consistent store can serve a truncated read — both
    * transient. A bounded retry turns them into a short stall instead of
    * a crash; a manifest that is STILL unparseable after the window is
    * genuinely corrupt and fails loudly. */
  private val ParseRetries = 10
  private val ParseRetrySleepMs = 50L

  /** Resolve a specific committed version (time travel for pinned
    * readers / the concurrency specs). Retries an empty/truncated body
    * (see [[ParseRetries]]); a MISSING manifest fails immediately — that
    * is vacuum or an uninitialized root, not an in-flight writer. */
  def snapshotAt(spark: SparkSession, root: String, version: Long): Snapshot = {
    val fs = fsFor(spark, root)
    val p = manifestPath(root, version)
    var attempt = 0
    while (true) {
      try return parseManifest(fs, p, version)
      catch {
        case e: java.io.FileNotFoundException => throw e
        case e @ (_: IllegalArgumentException | _: java.io.IOException) =>
          attempt += 1
          if (attempt > ParseRetries) throw e
          Thread.sleep(ParseRetrySleepMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def parseManifest(fs: FileSystem, p: Path, version: Long): Snapshot = {
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    require(body.nonEmpty && body.head.startsWith(Magic),
      s"$p is not a graft index manifest")
    val (metaLines, tableLines) =
      body.tail.filter(_.nonEmpty).partition(_.startsWith(MetaPrefix))
    val metaAll = metaLines.map { line =>
      val kv = line.stripPrefix(MetaPrefix)
      val i = kv.indexOf('\t')
      require(i > 0, s"malformed manifest meta line in $p: $line")
      (kv.substring(0, i), kv.substring(i + 1))
    }.toMap
    val entries = tableLines.map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"malformed manifest line in $p: $line")
      (line.substring(0, i), line.substring(i + 1))
    }
    // the reserved __explicit entry (which keys THIS commit set, vs
    // inherited) surfaces as Snapshot.explicitKeys, not as user meta
    val explicit = metaAll.get(ExplicitKeysMarker)
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    Snapshot(version,
      entries.groupBy(_._1).map { case (t, es) => (t, es.map(_._2)) },
      metaAll - ExplicitKeysMarker, explicit)
  }

  /** Reserved meta entry recording which keys were set EXPLICITLY by a
    * version's commit (everything else in its meta was inherited). Lets
    * a reader distinguish "this version is the commit that stamped key
    * K" from "K rode down the inheritance chain" — the growing-stream
    * replay's reconstruction guard needs exactly that for
    * [[StreamBatchKey]]. Never inherited itself: re-derived at every
    * commit from that commit's own meta argument. */
  private val ExplicitKeysMarker = "__explicit"

  /** Read one logical table at a resolved snapshot — the reader half of
    * the isolation contract (only listed segments are scanned). The read
    * goes through [[graft.Tables.parquet]], whose schema memo is keyed on
    * the listed segments' leaf files: a committed snapshot's segments
    * never change, so a repeated read of it runs no schema-inference job,
    * and a new version's new segments always miss. Per-snapshot
    * statistics derived from a table (the IVF centroid and PQ codebook
    * kernel refs in `Similarity`) are memoized the same way, on (root,
    * the table's segment list, parameters), with a constant size cap and
    * no option. */
  def readAt(spark: SparkSession, root: String, snap: Snapshot, table: String): DataFrame = {
    val segs = snap.tables.getOrElse(table,
      throw new IllegalStateException(
        s"index at $root v${snap.version} has no table '$table' " +
          s"(tables: ${snap.tables.keys.toSeq.sorted.mkString(", ")})"))
    graft.Tables.parquet(spark, segs.map(s => s"$root/$s"): _*)
  }

  /** Read one logical table at the current version. */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    readAt(spark, root, snapshot(spark, root), table)

  private def lockPath(root: String, version: Long): Path =
    new Path(new Path(root, ManifestDir), f"m-$version%09d.txt.lock")

  /** Claim locks older than this are treated as a crashed writer's and
    * re-claimed in the commit path (expect-guarded lifecycles no longer
    * wedge until a manual vacuum). Far longer than any real stage-to-
    * commit window; safe even when wrong, because the manifest publish
    * itself is a put-if-absent — a resurrected "crashed" writer FAILS
    * its publish instead of replacing the reclaimer's. */
  val DefaultLockLeaseMs: Long = 15L * 60L * 1000L

  /** Publish a new version whose live segment set is exactly `tables`.
    * With `expect = Some(v)` the commit only succeeds if v is still the
    * current version (optimistic concurrency for read-modify-write
    * lifecycles); `None` retries onto the next free version (fresh
    * builds). Returns the committed version.
    *
    * Both halves of the protocol are [[CommitOps.putIfAbsent]] — one
    * atomic create-iff-absent per storage backend (POSIX `link(2)`,
    * HDFS no-overwrite rename, object-store conditional PUT):
    *
    *  1. VERSION CLAIM: put-if-absent of the `.lock` file. Only the
    *     winner may publish this version; losers re-resolve and either
    *     retry the next version or fail the expect guard. A claim lock
    *     older than `lockLeaseMs` with no published manifest is a
    *     crashed writer's — it is re-claimed in place (delete + fresh
    *     put-if-absent; racing reclaimers serialize on the put).
    *  2. MANIFEST PUBLISH: put-if-absent of `m-<v>.txt` itself. Even if
    *     the claim was wrongly reclaimed (a slow writer mistaken for a
    *     crashed one, a vacuumed tombstone re-claimed by a stale racer)
    *     the publish cannot replace a committed manifest — the loser
    *     fails, the committed version stays intact. Commits degrade by
    *     FAILING, never by tearing or losing one.
    *
    * After a successful publish the lock stays behind as the version's
    * claim TOMBSTONE; [[vacuum]] reclaims tombstones once they age past
    * its grace window. A crashed claimant's orphan lock is reclaimed by
    * the next committer's lease check (no manual vacuum needed).
    *
    * `meta` is merged over the CURRENT version's metadata (inheritance:
    * an append/compact/refresh automatically carries the builder's
    * `family` stamp forward without every lifecycle threading it), so a
    * fresh build passes its identity once and the whole version chain
    * keeps it. Keys and values must be tab/newline-free. */
  def commit(
      spark: SparkSession, root: String,
      tables: Map[String, Seq[String]],
      expect: Option[Long] = None,
      ops: CommitOps = CommitOps.Auto,
      lockLeaseMs: Long = DefaultLockLeaseMs,
      meta: Map[String, String] = Map.empty): Long = {
    val fs = fsFor(spark, root)
    fs.mkdirs(new Path(root, ManifestDir))
    // Validate everything that would write an UNPARSEABLE manifest before
    // any byte lands: a committed body every subsequent parse rejects
    // bricks the root (and each read burns the full parse-retry window
    // before failing). Empty meta keys serialize as a line the parser's
    // `indexOf('\t') > 0` check rejects; a table name starting with '!'
    // would be mistaken for (or collide with) the reserved meta prefix.
    for ((k, v) <- meta) {
      require(k.nonEmpty, s"manifest meta key must be non-empty (value: $v)")
      require(!k.startsWith("__"),
        s"manifest meta keys starting with '__' are reserved: $k")
      require(!(k + v).exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"manifest meta must be tab/newline-free: $k -> $v")
      // ',' is the __explicit marker's separator: a key containing it
      // would round-trip as SEVERAL explicit keys — and a phantom
      // "stream_batch" there could satisfy reconstructPreBatch's
      // head-is-own-append guard on a version that never stamped a
      // watermark (the silent self-match that guard exists to prevent)
      require(!k.contains(","),
        s"manifest meta keys must be comma-free: $k")
    }
    for ((t, segs) <- tables) {
      require(t.nonEmpty && !t.startsWith("!"),
        s"table name must be non-empty and not start with the reserved " +
          s"'!' meta prefix: '$t'")
      require(!t.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"table name must be tab/newline-free: '$t'")
      // the line format cannot represent an empty table (no line is
      // written, so the table silently vanishes on round-trip) — fail
      // at commit time instead of at the caller's eventual readAt
      require(segs.nonEmpty, s"table '$t' has no segments: the manifest " +
        "line format cannot represent an empty table — drop the key or " +
        "commit a segment")
      // segment PATHS are body lines too: a tab/newline here commits a
      // manifest every subsequent parse rejects — the bricked-root
      // shape this whole block exists to prevent
      for (s <- segs)
        require(s.nonEmpty && !s.exists(c => c == '\t' || c == '\n' || c == '\r'),
          s"segment path must be non-empty and tab/newline-free: '$s' (table '$t')")
    }
    def bodyBytes(effectiveMeta: Map[String, String]): Array[Byte] = {
      val body = new StringBuilder(s"$Magic\t1\n")
      val stamped =
        if (meta.isEmpty) effectiveMeta
        else effectiveMeta +
          (ExplicitKeysMarker -> meta.keys.toSeq.sorted.mkString(","))
      for ((k, v) <- stamped.toSeq.sortBy(_._1))
        body.append(MetaPrefix).append(k).append('\t').append(v).append('\n')
      for ((t, segs) <- tables.toSeq.sortBy(_._1); s <- segs)
        body.append(t).append('\t').append(s).append('\n')
      body.toString.getBytes(StandardCharsets.UTF_8)
    }
    var attempt = 0
    var candidate = 0L
    while (attempt < 64) {
      val cur = currentVersion(spark, root)
      val inherited =
        if (cur > 0L) snapshotAt(spark, root, cur).meta else Map.empty[String, String]
      val bytes = bodyBytes(inherited ++ meta)
      expect.foreach { e =>
        if (cur != e) throw new java.util.ConcurrentModificationException(
          s"index at $root is at v$cur, not the expected v$e: a concurrent " +
            "writer committed first; recompute against the current snapshot")
      }
      candidate = math.max(cur + 1, candidate + 1)
      val lock = lockPath(root, candidate)
      // The UUID nonce makes every claimant's body globally unique, so a
      // conditional-PUT backend that lost the response to its own
      // successful create can disambiguate "my PUT landed" from "a rival
      // won" by reading the object back (CommitOps read-back path) — two
      // claimants racing in the same millisecond would otherwise write
      // identical bodies.
      val lockBody =
        s"claimant\t${java.lang.System.currentTimeMillis()}\t${java.util.UUID.randomUUID()}\n"
          .getBytes(StandardCharsets.UTF_8)
      var claimed = ops.putIfAbsent(fs, lock, lockBody)
      if (!claimed) {
        // lease reclaim: an orphan claim with no published manifest,
        // older than the lease, is a crashed writer's — take it over.
        // (A tombstone — manifest published — is never reclaimed here;
        // the next loop iteration sees the new currentVersion.)
        val mtime =
          try Some(fs.getFileStatus(lock).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        val orphaned = !fs.exists(manifestPath(root, candidate)) &&
          mtime.exists(_ < java.lang.System.currentTimeMillis() - lockLeaseMs)
        if (orphaned) {
          fs.delete(lock, false)
          claimed = ops.putIfAbsent(fs, lock, lockBody)
        }
      }
      // an expect-guarded writer may NOT skip past a contended version:
      // the live lock holder is publishing v(cur+1) derived from the
      // same snapshot, and landing our delta at cur+2 would silently
      // drop theirs — the exact lost update the guard exists to prevent.
      if (!claimed && expect.isDefined)
        throw new java.util.ConcurrentModificationException(
          s"index at $root has a concurrent commit in flight for " +
            s"v$candidate; recompute against the snapshot it publishes")
      if (claimed) {
        if (ops.putIfAbsent(fs, manifestPath(root, candidate), bytes))
          return candidate
        // the manifest already exists: another writer published this
        // version through a reclaimed claim. The version is theirs —
        // never replace a committed manifest. Our lock stays behind as
        // a second-hand tombstone; re-resolve and try again (or fail
        // the expect guard: our delta base is stale by definition).
        if (expect.isDefined)
          throw new java.util.ConcurrentModificationException(
            s"index at $root committed v$candidate concurrently; " +
              "recompute against the current snapshot")
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"could not commit a manifest under $root after $attempt attempts")
  }

  // ---- reader leases ---------------------------------------------------

  private val LeaseRe = """r-(\d+)-(\d+)-[0-9a-f]+\.lease""".r

  private def leasePath(root: String, version: Long, expiryMs: Long): Path =
    new Path(new Path(root, ManifestDir),
      f"r-$version%09d-$expiryMs-${java.util.UUID.randomUUID().toString.take(8)}.lease")

  /** Register an in-flight reader of `version`: until the lease expires
    * (or is released), [[vacuum]] retains that version and every segment
    * it references even when `keepFrom` would reclaim it — turning the
    * "run vacuum only after unpinned readers drain" convention into a
    * checkable contract. The lease file name carries its own expiry, so
    * a crashed reader's lease self-expires with no cleanup protocol.
    * Returns the lease token for [[releaseReaderLease]]. */
  def acquireReaderLease(
      spark: SparkSession, root: String, version: Long,
      ttlMs: Long = 60L * 60L * 1000L,
      ops: CommitOps = CommitOps.Auto): Path = {
    val fs = fsFor(spark, root)
    val p = leasePath(root, version, java.lang.System.currentTimeMillis() + ttlMs)
    require(ops.putIfAbsent(fs, p, Array.emptyByteArray),
      s"reader lease collision at $p")
    p
  }

  def releaseReaderLease(spark: SparkSession, root: String, lease: Path): Unit = {
    fsFor(spark, root).delete(lease, false); ()
  }

  /** Resolve the current snapshot under a reader lease: `f` runs with a
    * snapshot that vacuum is contractually unable to reclaim while the
    * lease is live; the lease is released on every exit path.
    *
    * The resolve-then-lease race is closed from BOTH sides. Reader side:
    * after the lease lands, the pinned version's manifest is re-checked —
    * if a vacuum reclaimed the version in the window between [[snapshot]]
    * and the lease file's creation, the stale lease is released and the
    * resolve retries on the (necessarily newer) current version. Vacuum
    * side: manifests are deleted before segments, and vacuum RE-LISTS
    * leases between the two phases — a lease that was created before a
    * passing exists-check is therefore visible to that re-list, and the
    * version's segments are retained even though its manifest is gone
    * (this reader's parsed snapshot stays readable; a reader whose check
    * ran after the delete retries instead). Residual caveat, inherited
    * from vacuum's orphan sweep: segments protected only by such a late
    * lease become manifest-unreachable, and a SUBSEQUENT vacuum run more
    * than `orphanGraceMs` later reclaims them as orphans — hold a lease
    * across at most one vacuum cycle, or pass `keepFrom` covering the
    * pinned version. */
  def withReaderLease[T](
      spark: SparkSession, root: String,
      ttlMs: Long = 60L * 60L * 1000L)(f: Snapshot => T): T = {
    val fs = fsFor(spark, root)
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, root)
      val lease = acquireReaderLease(spark, root, snap.version, ttlMs)
      if (fs.exists(manifestPath(root, snap.version)))
        return try f(snap) finally releaseReaderLease(spark, root, lease)
      releaseReaderLease(spark, root, lease)
      attempt += 1
      if (attempt > 8) throw new IllegalStateException(
        s"could not pin a stable snapshot under $root: every resolved " +
          "version was vacuumed before its lease landed")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Versions protected by an unexpired reader lease right now. */
  private def leasedVersions(fs: FileSystem, root: String, nowMs: Long): Set[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.flatMap(_.getPath.getName match {
      case LeaseRe(v, expiry) if expiry.toLong > nowMs => Some(v.toLong)
      case _ => None
    }).toSet
  }

  /** Garbage-collect manifests and segment directories that no RETAINED
    * version references. `keepFrom` is the oldest version to retain
    * (default: current only); a deployment that has published releases
    * pinned to version v passes `keepFrom = v`, and every retained
    * version stays fully re-resolvable ([[snapshotAt]]) after the
    * vacuum — the time-travel contract. Versions held by an unexpired
    * [[acquireReaderLease]] are retained regardless of `keepFrom`, so a
    * long-running reader that registered its snapshot cannot have its
    * segments deleted out from under it; expired lease files are swept.
    *
    * Two classes of garbage, treated differently so vacuum is safe to
    * run WHILE writers are staging:
    *  - SUPERSEDED segments (referenced by some still-existing manifest
    *    but by no retained one) are dead by construction — deleted
    *    immediately;
    *  - NEVER-REFERENCED paths (staged segment dirs, hidden `.tmp-`
    *    manifest bodies, claim locks) are indistinguishable from a LIVE
    *    writer's in-flight work, so they are deleted only when older
    *    than `orphanGraceMs` (default 20 minutes — far longer than any
    *    stage-to-commit window; pass 0 for the old collect-everything
    *    behavior when no writer can be live, e.g. single-process
    *    tests). The grace applies to claim-lock TOMBSTONES too: a
    *    committer that resolved `currentVersion` just before a rival's
    *    publish landed must not find the rival's fresh tombstone
    *    already vacuumed (the manifest put-if-absent would still stop
    *    it from replacing anything, but the failed commit it would get
    *    is avoidable noise — and on a backend misconfigured with bare
    *    rename, the grace is the last line of defense).
    *
    * Returns the number of paths removed. */
  def vacuum(
      spark: SparkSession, root: String, keepFrom: Long = -1L,
      orphanGraceMs: Long = 20L * 60L * 1000L): Int =
    vacuumHooked(spark, root, keepFrom, orphanGraceMs, () => ())

  /** [[vacuum]] with a test seam: `afterManifestDeletes` runs between the
    * manifest-delete phase and the lease RE-LIST that guards the segment
    * deletes, so the concurrency spec can land a reader lease inside the
    * exact window the re-list exists to cover — deterministically, not
    * by racing threads. */
  private[index] def vacuumHooked(
      spark: SparkSession, root: String, keepFrom: Long,
      orphanGraceMs: Long, afterManifestDeletes: () => Unit): Int = {
    val fs = fsFor(spark, root)
    val cur = snapshot(spark, root).version
    val nowMs = java.lang.System.currentTimeMillis()
    val oldest = if (keepFrom < 0) cur else math.min(keepFrom, cur)
    // resolve only versions whose manifest still exists — a keepFrom
    // below an earlier vacuum's boundary must not chase deleted files.
    // Segment references are resolved up front, while every manifest is
    // still present.
    // A version listed a moment ago can vanish mid-pass when two
    // maintenance schedules overlap on one root (the other vacuum's
    // manifest-delete phase) — skip it rather than abort after OUR
    // manifest deletes with retention half-applied; its segments are
    // covered by the survivor versions' references or the orphan grace.
    val listed = listVersions(fs, root)
    val segsByVersion = listed.flatMap { v =>
      try Some(v -> snapshotAt(spark, root, v).tables.values.flatten.toSet)
      catch { case _: java.io.FileNotFoundException => None }
    }.toMap
    val versions = listed.filter(segsByVersion.contains)
    // everything ANY existing manifest references — used to tell a
    // superseded segment (dead) from a staged one (possibly in flight)
    val everCommitted = segsByVersion.values.flatten.toSet
    // Lease check happens HERE — immediately before the destructive
    // phase, not at the start of the (listing-heavy) resolution above —
    // so a lease acquired while this vacuum was resolving manifests is
    // honored. The residual window (a lease landing between this listing
    // and the manifest delete below) is closed from the reader's side:
    // [[withReaderLease]] re-verifies the manifest after its lease lands
    // and retries on a newer version if vacuum won the race. Manifests
    // are deleted BEFORE their segments so that verification is
    // authoritative — a version either resolves fully or not at all.
    val leased = leasedVersions(fs, root, java.lang.System.currentTimeMillis())
    val cutoff = nowMs - orphanGraceMs
    var removed = 0
    val drop = versions.filter(v => v < oldest && !leased.contains(v)).toSet
    for (v <- versions; if drop.contains(v)) {
      fs.delete(manifestPath(root, v), false); removed += 1
    }
    // Re-list leases AFTER the manifest deletes, before any segment goes:
    // a reader whose lease landed after the listing above but whose
    // manifest-exists re-check passed BEFORE our delete necessarily has
    // its lease file visible by now — retaining such a version's
    // SEGMENTS keeps that reader's already-parsed snapshot readable
    // (its manifest file is gone, but the reader holds the parse; a
    // reader whose re-check ran after the delete failed it and retried
    // on a newer version instead). Every interleaving of lease-create /
    // exists-check vs manifest-delete / this re-list leaves the reader
    // either retried or with intact segments. Residual caveat: these
    // late-protected segments are no longer reachable from any manifest,
    // so a LATER vacuum sees them as never-referenced orphans and
    // reclaims them once older than its grace window — a reader holding
    // a snapshot across both a version-dropping vacuum and a subsequent
    // vacuum's orphan sweep (> orphanGraceMs apart) is outside the
    // contract.
    afterManifestDeletes()
    val leasedLate = leasedVersions(fs, root, java.lang.System.currentTimeMillis())
    val retained = segsByVersion.collect {
      case (v, segs) if !drop.contains(v) || leasedLate.contains(v) => segs
    }.flatten.toSet
    val segRoot = new Path(root, "seg")
    if (fs.exists(segRoot)) {
      for (tdir <- fs.listStatus(segRoot); seg <- fs.listStatus(tdir.getPath)) {
        val rel = s"seg/${tdir.getPath.getName}/${seg.getPath.getName}"
        if (!retained.contains(rel)) {
          // Never-committed orphans age by the NEWEST observable stamp
          // under the segment — max of the dir's own mtime and every
          // file's: the dir stamp alone is unsound (object stores
          // report 0 for directories; HDFS/local leave the top dir at
          // job start, so a long in-flight stage would read "stale"
          // while its files are seconds old), and file stamps alone
          // would leak an abandoned EMPTY dir forever on filesystems
          // whose dir mtimes are real. A segment with no observable
          // stamp at all (all zeros — an in-flight empty dir on an
          // object store) is NOT reclaimed this pass: refusing to
          // guess beats deleting what a racing append is about to
          // commit; it retries once anything under it has aged.
          val dead = everCommitted.contains(rel) || {
            val newest =
              math.max(seg.getModificationTime, newestFileMtime(fs, seg.getPath))
            newest > 0L && newest < cutoff
          }
          if (dead) { fs.delete(seg.getPath, true); removed += 1 }
        }
      }
    }
    val mdir = new Path(root, ManifestDir)
    if (fs.exists(mdir)) {
      for (f <- fs.listStatus(mdir)) {
        val name = f.getPath.getName
        // `<=`: mtimes are whole milliseconds, so a crashed writer's .tmp
        // stamped in the millisecond vacuum started has aged past a zero grace
        val staleTmp = name.startsWith(".tmp-") && f.getModificationTime <= cutoff
        // claim locks — tombstones and orphans alike — only go once
        // older than the grace window (see the scaladoc above): a
        // still-warm tombstone may be the version a racing committer is
        // about to collide with, and a warm orphan may be in flight.
        val isLock = name.startsWith("m-") && name.endsWith(".txt.lock")
        val staleLock = isLock && f.getModificationTime < cutoff
        val expiredLease = name match {
          case LeaseRe(_, expiry) => expiry.toLong <= nowMs
          case _ => false
        }
        if (staleTmp || staleLock || expiredLease) {
          fs.delete(f.getPath, false); removed += 1
        }
      }
    }
    removed
  }

  /** Newest file modification time under `dir` (recursive), 0 when no
    * file mtime is observable — the only honest age signal for an
    * uncommitted staged segment (directory mtimes are 0 on object
    * stores and job-start-stamped on HDFS/local). */
  private def newestFileMtime(fs: FileSystem, dir: Path): Long = {
    var newest = 0L
    try {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getModificationTime > newest) newest = st.getModificationTime
      }
    } catch { case _: java.io.FileNotFoundException => () }
    newest
  }

  /** Ops view of an index root: one row per (version, table, segment)
    * across every still-resolvable version, with the segment's file
    * count and bytes — what a maintenance dashboard reads to decide
    * compaction/vacuum cadence. Driver-side metadata only (manifest +
    * file listings), no Spark jobs. */
  def describe(spark: SparkSession, root: String): DataFrame = {
    val fs = fsFor(spark, root)
    val rows = for {
      v <- listVersions(fs, root).sorted
      snap = snapshotAt(spark, root, v)
      (table, segs) <- snap.tables.toSeq.sortBy(_._1)
      seg <- segs
    } yield {
      val p = new Path(root, seg)
      val files =
        if (fs.exists(p)) fs.listStatus(p).filter(_.isFile).toSeq else Seq.empty
      (v, table, seg, files.size, files.map(_.getLen).sum)
    }
    import spark.implicits._
    rows.toDF("version", "table", "segment", "n_files", "bytes")
  }
}
