package graft.index

import org.apache.spark.sql.SparkSession

/** Family-agnostic index maintenance — the nightly-ops entry point a
  * deployment schedules against every persisted index root: identify
  * the family from the manifest's own table names, run its compaction
  * (fold per-delta segments back to the one-segment probe-optimal
  * layout), then vacuum superseded versions. Every family's compact is
  * an atomic pointer swap and every vacuum honors reader leases and
  * the claim-lock grace window, so this is safe to run while probes
  * serve and writers append (a concurrent committed append simply
  * surfaces as ConcurrentModificationException here and the root is
  * retried on the next scheduled run — conservative beats lost work).
  */
object Maintenance {

  /** The index family owning `root`: the manifest's own `family`
    * metadata when present (every builder stamps it since r14, and
    * commits inherit it down the version chain), with the table-name
    * sniff kept only as the fallback for pre-metadata manifests. The
    * metadata key is exact — a user table that happens to be named
    * `custom_sigs` can no longer be misclassified as LSH. */
  def familyOf(spark: SparkSession, root: String): String = {
    val snap = IndexManifest.snapshot(spark, root)
    snap.meta.getOrElse("family", {
      val tables = snap.tables.keySet
      if (tables.contains("ivfpq_codes")) "ivfpq"
      else if (tables.contains("ivf_assigned")) "ivf"
      else if (tables.contains("codes") && tables.contains("codebook")) "pq"
      else if (tables.contains("postings")) "bm25"
      else if (tables.contains("grams")) "gram"
      else if (tables.exists(_.contains("sigs"))) "lsh"
      else if (tables.contains("embeds")) "semantic"
      else "unknown"
    })
  }

  /** Pure re-layout compaction for a one-table family: the accumulated
    * segments rewrite as one and the manifest swaps atomically. */
  private def compactSingleTable(
      spark: SparkSession, root: String, table: String): Long = {
    val snap = IndexManifest.snapshot(spark, root)
    val seg = IndexManifest.newSegment(table)
    IndexManifest.readAt(spark, root, snap, table)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/$seg")
    IndexManifest.commit(spark, root,
      snap.tables.updated(table, Seq(seg)), expect = Some(snap.version))
  }

  /** Compact `root` with its family's own compaction (PQ compaction
    * needs its m/dsub-free re-layout; gram compaction folds min-owner;
    * BM25 folds df/corpus and re-clusters postings; …). Returns
    * (family, Some(newVersion)) or (family, None) when the family is
    * unknown. */
  def compact(spark: SparkSession, root: String): (String, Option[Long]) = {
    val fam = familyOf(spark, root)
    val v = fam match {
      case "ivfpq" => Some(graft.operators.Similarity.compactIvfPqIndexM(spark, root))
      case "ivf" => Some(graft.operators.Similarity.compactIvfIndexM(spark, root))
      case "pq" => Some(graft.operators.Similarity.compactPqIndexM(spark, root))
      case "bm25" => Some(graft.operators.Retrieval.compactIndexM(spark, root))
      case "gram" => Some(graft.operators.Dedup.compactGramIndexM(spark, root))
      case "lsh" => Some(graft.operators.Dedup.compactLshIndexM(spark, root))
      case "semantic" => Some(compactSingleTable(spark, root, "embeds"))
      case _ => None
    }
    (fam, v)
  }

  /** Oldest version a live growing stream may still need for a replay
    * that must RECOMPUTE: the version just below the last stream
    * batch's append commit. Found by walking manifests down from HEAD
    * past every version whose applied-batch watermark covers the last
    * batch (maintenance commits inherit the watermark, appends set it) —
    * the same walk the stream's own `preBatchSnapshot` runs. `None`
    * when the root has no stream watermark (not a growing root); if the
    * walk hits an already-vacuumed version, the oldest still-resolvable
    * one is returned (nothing below it can be retained anyway). */
  private[index] def growingSafeBoundary(
      spark: SparkSession, root: String): Option[Long] = {
    val head = IndexManifest.snapshot(spark, root)
    head.meta.get(IndexManifest.StreamBatchKey).map(_.toLong).map { last =>
      // the SAME walk the stream's preBatchSnapshot runs — shared on
      // IndexManifest so the two callers cannot drift; on a vacuumed
      // walk-back target the returned snapshot is the oldest
      // still-resolvable version (nothing below it can be retained)
      IndexManifest.walkBelowBatch(spark, root, head, last)._1.version
    }
  }

  /** One maintenance pass over `root`: compact (family-dispatched),
    * then vacuum below the retention boundary. The boundary is
    * `keepFrom` when given; otherwise the pass retains the most recent
    * `keepLast` versions INCLUDING the compaction's new head — so the
    * default nightly run keeps a rolling window of re-resolvable
    * versions instead of silently destroying every release-pinned probe
    * below HEAD (reader leases additionally protect in-flight pins
    * regardless of the boundary). On a GROWING root (the manifest
    * carries a stream watermark) the default boundary is additionally
    * capped at the last stream batch's pre-append version: the stream's
    * checkpoint may not have durably passed that batch, and a crashed
    * replay that must recompute resolves exactly that version — with it
    * retained, the replay never needs the segment-subtraction
    * reconstruction at all. The cap follows the stream (each batch
    * advances the watermark), so the extra retention is one version
    * deep, and an explicit `keepFrom` still overrides it. The report
    * line names the boundary and the reclaimed versions, so an operator
    * can see exactly which pinned-capable versions a pass removed. */
  def maintain(
      spark: SparkSession, root: String, keepFrom: Long = -1L,
      orphanGraceMs: Long = 20L * 60L * 1000L,
      keepLast: Int = 3): String = {
    val (fam, v) = compact(spark, root)
    v match {
      case Some(ver) =>
        val boundary =
          if (keepFrom >= 0) keepFrom
          else {
            val rolling = math.max(1L, ver - math.max(1, keepLast) + 1)
            growingSafeBoundary(spark, root)
              .map(math.min(rolling, _)).getOrElse(rolling)
          }
        // reclaimed-version numbers need only the manifest-name listing
        // (one directory RPC) — describe() would list every file of
        // every segment of every version TWICE just to render this note
        val fs = IndexManifest.fsFor(spark, root)
        val before = IndexManifest.listVersions(fs, root).toSet
        val swept = IndexManifest.vacuum(spark, root, boundary, orphanGraceMs)
        val reclaimed =
          (before -- IndexManifest.listVersions(fs, root).toSet).toSeq.sorted
        val reclaimedNote =
          if (reclaimed.isEmpty) "no versions reclaimed"
          else s"reclaimed versions ${reclaimed.mkString(",")}"
        s"$root family=$fam compacted to v$ver, keepFrom=$boundary, " +
          s"vacuum swept $swept paths ($reclaimedNote)"
      case None => s"$root family=$fam SKIPPED (no compaction for family)"
    }
  }
}

/** CLI: `runMain graft.index.IndexMaintenance <root>...
  * [--keep-from=V] [--keep-last=N] [--orphan-grace-ms=MS]` — one
  * maintenance pass per root, one report line each; a root that fails
  * (concurrent writer, uninitialized) is reported and does not stop the
  * others. Without `--keep-from`, the last `--keep-last` (default 3)
  * versions survive each pass — release pins inside that window keep
  * working with no per-run flag. */
object IndexMaintenance {
  def main(args: Array[String]): Unit = {
    val (flags, roots) = args.partition(_.startsWith("--"))
    require(roots.nonEmpty,
      "usage: IndexMaintenance <root>... [--keep-from=V] [--keep-last=N] [--orphan-grace-ms=MS]")
    // an unrecognized flag must FAIL, not fall back to defaults: this
    // binary vacuums — a typo'd retention flag (--keepfrom=12) silently
    // running the default 3-version window would irreversibly reclaim
    // the releases the operator was trying to keep
    val Known = Set("keep-from", "keep-last", "orphan-grace-ms")
    for (f <- flags) {
      val name = f.stripPrefix("--").takeWhile(_ != '=')
      require(Known.contains(name) && f.contains('='),
        s"unrecognized flag '$f' — known: ${Known.map("--" + _ + "=...").mkString(", ")}")
    }
    def flag(name: String, default: Long): Long =
      flags.collectFirst { case f if f.startsWith(s"--$name=") =>
        f.substring(name.length + 3).toLong }.getOrElse(default)
    val keepFrom = flag("keep-from", -1L)
    val keepLast = flag("keep-last", 3L).toInt
    val grace = flag("orphan-grace-ms", 20L * 60L * 1000L)
    val cpus = graft.GraftSession.cpus
    val spark = graft.GraftSession.start(s"local[$cpus]", cpus)
    roots.foreach { root =>
      val line =
        try Maintenance.maintain(spark, root, keepFrom, grace, keepLast)
        catch { case e: Exception =>
          s"$root FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      println(s"[maintenance] $line")
    }
    spark.stop()
  }
}
