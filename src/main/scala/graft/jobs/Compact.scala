package graft.jobs

import graft.curve.Hilbert
import graft.geom.Envelope
import graft.sources.v2.{ContainerFormat, GeomedeaManifest, LakeGenerations}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Global re-cluster / compaction for a `.geomedea` (or `.fgb`) shard
  * lake.
  *
  * Every append job partitions independently, so a multi-append directory
  * accumulates shards with overlapping extents and planning-time pruning
  * (R-tree root bounds per file) erodes toward "every file survives every
  * bbox". The reference's answer is "concatenating files = re-ingest"
  * (SURVEY.md §2.7; there is no incremental merge in the format —
  * `writer/mod.rs` always rebuilds the Hilbert order and the packed
  * R-tree from scratch). The distributed analog, per slice:
  *
  *   pin the PLANNED shard set (one scan over the listed shard files,
  *   `load(paths*)`, so the read set is exactly the recorded list — not
  *   whatever a directory listing says later) -> [[Ingest.layout]]: the
  *   global extent and a capped center sample in one job, then Hilbert
  *   ranges cut from the sample and placed by `repartitionById` ->
  *   rewrite through the distributed v2 writer into an INVISIBLE staging
  *   subdirectory -> record the generation swap (condemned names + the
  *   exact replacement names, [[LakeGenerations]]) -> rename replacements
  *   into the lake -> delete EXACTLY the planned shards -> swap them in
  *   the manifest.
  *
  * The targeted delete (not truncate-overwrite) is what makes the job
  * safe under concurrent APPENDS: a shard committed by another job at
  * ANY point during compaction is not in the planned set and survives
  * untouched — a truncate would silently destroy it. (Concurrent
  * compact() calls on one directory are NOT supported — maintenance is
  * single-writer, like every table format's.) The cost is a short window
  * after the renames where batch readers see old + compacted shards
  * together (duplicate rows); run compaction in a maintenance window if
  * that matters. Crash recovery: the generation record is the swap's
  * journal — it is written only AFTER the rewrite's data is durable in
  * the staging dir, and the next `compact` call finishes an interrupted
  * swap (outstanding renames + deletes) before planning, so recovery can
  * never delete unreplaced rows. A crash BEFORE the record leaves only
  * an invisible orphan staging dir (cleaned up by the next call); the
  * lake itself is untouched.
  *
  * After compaction each shard owns a contiguous descending Hilbert range
  * of the GLOBAL curve, so shard extents are spatially localized and a
  * selective bbox plans a strict subset of files again — the same reason
  * the reference's single-file layout prunes pages. The per-shard
  * within-file order/index is rebuilt by the writer itself
  * ([[graft.sources.GeomedeaFile.write]] re-sorts per shard extent).
  *
  * At 100 TB this is one shuffle of the payload per slice (the honest
  * cost of re-clustering, identical to ingest) and should be scheduled
  * like any table-maintenance job: triggered when the manifest shows
  * extent overlap, not per append. `maxShardsPerCall` bounds each swap
  * (its condemned and replacement lists, its generation record), its
  * shuffle, and the scan's planned file and partition lists: shards are
  * ordered by the Hilbert position of their manifest extents and
  * compacted in spatially-coherent slices, each its own bounded
  * pinned-set swap, so pruning improves slice by slice without the
  * caller hand-slicing.
  *
  * Streams: compaction rewrites row identity (every shard gets a fresh
  * name), but the generation record lets a tailing stream that has
  * CONSUMED the condemned shards resume exactly-once across the swap
  * (replacements are recognized by name and skipped —
  * [[graft.sources.v2.GeomedeaOffset.resolveFresh]]); a stream that was
  * still behind fails with an actionable error instead of replaying into
  * deleted files or silently re-emitting the lake.
  */
object Compact {

  /** Aim for ~64 MiB shards by default: large enough that header reads
    * and task setup amortize, small enough that a shard (the format's
    * single-node unit) never approaches the writer's 256 MB guard.
    */
  val DefaultTargetShardBytes: Long = 64L << 20

  /** Staging subdirectory prefix — invisible to every planner and stream
    * (they list only direct FILES with the container suffix).
    */
  val StagePrefix = "_compact_tmp_"

  /** Rewrite `dir` as globally-Hilbert-clustered shards. Returns the
    * number of live shards after the swap(s), 0 for an empty or absent
    * lake (no-op).
    *
    *  - `numShards`: total output shards (0 = size from lake bytes /
    *    `targetShardBytes`; range partitioning may yield fewer when the
    *    key space is tiny). With slicing it is apportioned to slices by
    *    byte share, each slice emitting at least ONE shard — so the
    *    actual total is floored at the slice count (a slice cannot merge
    *    into another slice's output by construction); callers that need
    *    exactly `numShards` must leave `maxShardsPerCall` at 0.
    *  - `format`: a [[ContainerFormat]] name, `"geomedea"` (default) or
    *    `"flatgeobuf"` — one DSv2 source serves both (same row surface,
    *    same commit protocol), so one maintenance job does too;
    *    `compressed` only applies where the format compresses (geomedea).
    *  - `maxShardsPerCall`: 0 = one swap over every shard; n > 0 bounds
    *    each swap's planned set to n spatially-ordered shards.
    */
  def compact(spark: SparkSession, dir: String, numShards: Int = 0,
              compressed: Boolean = true,
              targetShardBytes: Long = DefaultTargetShardBytes,
              format: String = "geomedea",
              maxShardsPerCall: Int = 0): Int = {
    validateArgs(numShards, targetShardBytes, maxShardsPerCall)
    val fmt = formatNamed(format)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return 0
    require(fs.getFileStatus(p).isDirectory,
      s"compact expects a shard DIRECTORY; $dir is a single file (the v2 writer " +
        "cannot overwrite a file path with a shard dir)")
    finishPendingSwap(fs, p)
    val shards = fmt.shards(fs, p)
    if (shards.isEmpty) return 0
    rewriteSlices(spark, p, fs, shards, numShards, compressed, targetShardBytes,
      fmt, maxShardsPerCall)
    fmt.shards(fs, p).size
  }

  private def validateArgs(numShards: Int, targetShardBytes: Long,
                           maxShardsPerCall: Int): Unit = {
    require(numShards >= 0, s"numShards must be >= 0; got $numShards")
    require(targetShardBytes > 0, s"targetShardBytes must be positive; got $targetShardBytes")
    require(maxShardsPerCall >= 0, s"maxShardsPerCall must be >= 0; got $maxShardsPerCall")
  }

  /** Maintenance token ("c" compact / "r" retire + 15 hex): longer than
    * the writers' default 8 so a random future append can never collide
    * with a recorded generation token.
    */
  private def newToken(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.replace("-", "").take(15)

  private def formatNamed(format: String): ContainerFormat =
    ContainerFormat.named(format).getOrElse(throw new IllegalArgumentException(
      s"unsupported compaction format '$format' (geomedea | flatgeobuf)"))

  /** Shared rewrite loop: slice `picked` (spatially when over the cap),
    * apportion the output shard budget by byte share of the PICKED set,
    * swap each slice. One manifest read serves slicing.
    */
  private def rewriteSlices(spark: SparkSession, p: Path, fs: FileSystem,
                            picked: Seq[FileStatus], numShards: Int,
                            compressed: Boolean, targetShardBytes: Long,
                            fmt: ContainerFormat,
                            maxShardsPerCall: Int,
                            // reuse the caller's manifest read when it has one;
                            // only consulted when slicing actually happens
                            manifestForSlicing: Option[Map[String, GeomedeaManifest.Entry]] = None): Unit = {
    val totalBytes = math.max(1L, picked.map(_.getLen).sum)
    val slices: Seq[Seq[FileStatus]] =
      if (maxShardsPerCall > 0 && picked.size > maxShardsPerCall) {
        val m = manifestForSlicing
          .getOrElse(GeomedeaManifest.read(fs, p).getOrElse(Map.empty))
        sliceSpatially(picked, maxShardsPerCall, m)
      } else Seq(picked)
    slices.foreach { slice =>
      val sliceBytes = slice.map(_.getLen).sum
      val n =
        if (numShards > 0)
          math.max(1L, math.round(numShards.toDouble * sliceBytes / totalBytes)).toInt
        else math.max(1L, (sliceBytes + targetShardBytes - 1) / targetShardBytes).toInt
      compactSet(spark, p, fs, slice, n, compressed, fmt)
    }
  }

  /** INCREMENTAL compaction: rewrite only the shards that erode pruning,
    * leaving already-clustered shards byte-untouched. Returns the number
    * of shards rewritten (0 = the lake is already clustered — the
    * convergent no-op a scheduler polls for).
    *
    * Selection is O(shards) off the planning manifest, no data read:
    *
    *  - OVERSPREAD: extent area > `spreadFactor` x (union area / live
    *    shards). After a global rewrite each shard owns a contiguous
    *    Hilbert range whose bounding box covers ~1/n of the lake, while
    *    an independent append's extent approaches the whole lake — area
    *    against the ideal share separates the two without any O(n^2)
    *    pairwise-overlap pass, and thin boundary overlaps between
    *    adjacent Hilbert ranges (inherent to a curve layout) never
    *    re-trigger work, so repeated calls CONVERGE.
    *  - UNDERSIZED: bytes < targetShardBytes / 4 — small-file merging.
    *  - UNKNOWN: no length-validated manifest extent (foreign/manual
    *    files). One rewrite brings them into the described fold.
    *
    * A single candidate is left alone (rewriting one shard alone cannot
    * improve pruning; it would churn a legitimately sparse region
    * forever). Candidates then flow through the same sliced pinned-set
    * swap as [[compact]], so crash recovery, streams-across-compaction
    * and concurrent-append safety are identical.
    */
  def incremental(spark: SparkSession, dir: String, numShards: Int = 0,
                  compressed: Boolean = true,
                  targetShardBytes: Long = DefaultTargetShardBytes,
                  format: String = "geomedea",
                  maxShardsPerCall: Int = 0,
                  spreadFactor: Double = 4.0): Int = {
    validateArgs(numShards, targetShardBytes, maxShardsPerCall)
    require(spreadFactor > 1.0, s"spreadFactor must be > 1; got $spreadFactor")
    val fmt = formatNamed(format)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) return 0
    val log = finishPendingSwap(fs, p)
    val shards = fmt.shards(fs, p)
    val manifest = GeomedeaManifest.read(fs, p).getOrElse(Map.empty)
    val picked = pickCandidates(shards, targetShardBytes, spreadFactor,
      manifest, log)
    if (picked.size < 2) return 0
    rewriteSlices(spark, p, fs, picked, numShards, compressed, targetShardBytes,
      fmt, maxShardsPerCall, Some(manifest))
    picked.size
  }

  /** RETENTION through the swap protocol: delete the shards `condemn`
    * selects as a recorded generation with NO replacements, so a tailing
    * stream that already consumed them resumes exactly-once across the
    * deletion (the record explains the missing names) instead of dying
    * with the rewrite error — out-of-band deletion's documented price.
    * A stream that had NOT yet consumed a retired shard still fails
    * loudly naming it: its rows are genuinely gone, and silence would be
    * data loss. Returns the number of shards retired.
    *
    * At 100 TB this is the TTL/compliance path: predicate on name/mtime/
    * size from the listing (no data read), one log append, N deletes,
    * one manifest rewrite.
    */
  def retire(spark: SparkSession, dir: String,
             condemn: FileStatus => Boolean,
             format: String = "geomedea"): Int = {
    val fmt = formatNamed(format)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) return 0
    finishPendingSwap(fs, p)
    val victims = fmt.shards(fs, p).filter(condemn)
    if (victims.isEmpty) return 0
    val token = newToken("r")
    val names = victims.map(_.getPath.getName)
    // same journal-then-apply shape as a compaction swap (completeSwap is
    // a no-op on the absent stage dir and idempotent on re-run, so a
    // crash between the record and the deletes is finished by the next
    // maintenance call)
    LakeGenerations.append(fs, p, token, names, Seq.empty)
    completeSwap(fs, p, token, names.toSet, Set.empty)
    victims.size
  }

  /** The shards [[incremental]] would rewrite (also surfaced as lake
    * health: a scheduler triggers maintenance when this is non-empty
    * "when the manifest shows extent overlap", without reading data).
    *
    * MINOR-compaction semantics: shards produced by ANY recorded
    * generation (compaction/incremental outputs) are never candidates —
    * they are as clustered as a rewrite of their data can make them, and
    * re-picking them is how every area-style criterion churns (a
    * globally-spread subset's replacement ranges still cover large
    * boxes, so rewriting them alone neither converges nor stops). So
    * incremental bounds the erosion from NEW appends at one rewrite per
    * appended byte, and restoring GLOBAL clustering across accumulated
    * maintenance outputs is the periodic full [[compact]]'s job — the
    * classic minor/major division. A lone qualifying append waits for a
    * second (rewriting one shard alone cannot improve pruning); its
    * erosion is one extra planned file per query until then.
    */
  private[graft] def pickCandidates(shards: Seq[FileStatus],
                                    targetShardBytes: Long,
                                    spreadFactor: Double,
                                    manifest: Map[String, GeomedeaManifest.Entry],
                                    log: Seq[LakeGenerations.Gen]): Seq[FileStatus] = {
    if (shards.size < 2) return Seq.empty
    // recorded replacements, PLUS anything carrying a compaction-minted
    // shard token ("c"+15hex — [[newToken]], only compactSet mints
    // these): the generation log keeps only [[LakeGenerations.
    // MaxGenerations]] records, so a long-lived lake's oldest
    // maintenance outputs eventually fall off the horizon — and an
    // area-style criterion would then churn-rewrite them forever (their
    // global-Hilbert-range extents legitimately cover large boxes). The
    // name check never expires.
    val maintenanceOutputs: Set[String] =
      log.iterator.flatMap(_.replacements).toSet
    val maintenanceName = "^part-c[0-9a-f]{15}-".r
    def extentOf(s: FileStatus): Option[Envelope] =
      manifest.get(s.getPath.getName).filter(_.len == s.getLen).flatMap(_.extent)
    def area(e: Envelope): Double =
      (e.maxLng.toDouble - e.minLng) * (e.maxLat.toDouble - e.minLat)
    val known = shards.flatMap(extentOf)
    val union = known.foldLeft(Envelope.empty)(_ union _)
    val ideal = if (known.isEmpty) 0.0 else area(union) / shards.size
    val picked = shards.filter { s =>
      !maintenanceOutputs(s.getPath.getName) &&
        maintenanceName.findFirstIn(s.getPath.getName).isEmpty &&
        (s.getLen < targetShardBytes / 4 ||
          (extentOf(s) match {
            case Some(e) => ideal > 0.0 && area(e) > spreadFactor * ideal
            case None    => true // undescribed: rewrite once, then it's known
          }))
    }
    if (picked.size >= 2) picked else Seq.empty
  }

  /** Spatially-coherent bounded slices: shards ordered by the Hilbert
    * position of their manifest-extent centers (over the union extent),
    * grouped into runs of `cap`. Ordering quality is ADVISORY only —
    * extents come from the manifest when present (shards it doesn't
    * cover sort last by name); a wrong/missing extent degrades slice
    * coherence (less pruning improvement per slice), never correctness,
    * because every slice's rows are re-read from the pinned statuses.
    */
  private def sliceSpatially(shards: Seq[FileStatus], cap: Int,
                             manifest: Map[String, GeomedeaManifest.Entry])
  : Seq[Seq[FileStatus]] = {
    def extentOf(s: FileStatus): Option[Envelope] =
      manifest.get(s.getPath.getName).filter(_.len == s.getLen).flatMap(_.extent)
    val global = shards.flatMap(extentOf).foldLeft(Envelope.empty)(_ union _)
    shards.sortBy { s =>
      extentOf(s) match {
        case Some(e) => (0, Hilbert.scaled(e.centerLng, e.centerLat, global), s.getPath.getName)
        case None    => (1, 0L, s.getPath.getName)
      }
    }.grouped(cap).map(_.toSeq).toSeq
  }

  /** One bounded swap: rewrite `shards` into `n` clustered replacements.
    * Stage-write -> generation record -> publish (the record is the
    * journal; [[completeSwap]] is idempotent and crash-resumable).
    */
  private def compactSet(spark: SparkSession, p: Path, fs: FileSystem,
                         shards: Seq[FileStatus], n: Int, compressed: Boolean,
                         fmt: ContainerFormat): Unit = {
    val token = newToken("c")
    val stage = new Path(p, s"$StagePrefix$token")
    try {
      // pinned read set: one scan over exactly the PLANNED shard files —
      // rows from shards other jobs commit mid-compaction can never leak
      // into the rewrite (and so never be duplicated by it). One relation
      // means one reader factory (one serialized Hadoop conf per task),
      // not one per shard. Envelope stats come straight off the scan;
      // columns beyond the write contract are pruned.
      val docs = spark.read.format(fmt.name).load(shards.map(_.getPath.toString): _*)
        .select("wkb", "props", "min_lng", "min_lat", "max_lng", "max_lat")
      // the Ingest layout, hash-sampled on wkb (container rows carry no
      // doc_id): the containers are decoded twice per slice. Within-shard
      // ordering is the container writer's own job.
      Ingest.layout(docs, n, col("wkb"))
        .select("wkb", "props")
        .write.format(fmt.name).mode("append")
        .option("shardToken", token)
        .options(fmt.compressionOptions(compressed))
        .save(stage.toString)
    } catch {
      case t: Throwable =>
        // a failed rewrite leaves the lake untouched; drop the orphan stage
        try fs.delete(stage, true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
    val replacements = fmt.shards(fs, stage).map(_.getPath.getName)
    val condemned = shards.map(_.getPath.getName)
    // the record makes the swap durable + resumable; from here every
    // appearing replacement name is explained to tailing streams
    LakeGenerations.append(fs, p, token, condemned, replacements)
    completeSwap(fs, p, token, condemned.toSet, replacements.toSet)
  }

  /** Publish a recorded swap: rename staged replacements into the lake,
    * delete condemned shards, swap manifest entries, drop the stage.
    * Idempotent — safe to re-run from any crash point after the
    * generation record exists.
    */
  private def completeSwap(fs: FileSystem, p: Path, token: String,
                           condemned: Set[String], replacements: Set[String]): Unit = {
    val stage = new Path(p, s"$StagePrefix$token")
    // read the stage's own manifest (written by the rewrite job's commit)
    // BEFORE moving files, so the lake manifest can swap entries without
    // re-reading replacement headers
    val stageEntries =
      if (fs.exists(stage)) GeomedeaManifest.read(fs, stage).getOrElse(Map.empty)
      else Map.empty[String, GeomedeaManifest.Entry]
    if (fs.exists(stage)) {
      fs.listStatus(stage).filter(s => s.isFile && replacements(s.getPath.getName))
        .foreach { s =>
          val dst = new Path(p, s.getPath.getName)
          // re-run after a crash mid-rename: the published copy wins
          if (fs.exists(dst)) fs.delete(s.getPath, false)
          else require(fs.rename(s.getPath, dst),
            s"failed to publish ${s.getPath.getName} under $p")
        }
    }
    condemned.foreach { nm =>
      // names become DELETE paths — a corrupt/forged record line with a
      // separator could otherwise reach outside the lake dir
      if (!nm.contains('/') && !nm.contains('\\')) fs.delete(new Path(p, nm), false)
    }
    // manifest: old - condemned + staged replacement entries (best
    // effort: a failure costs the header-read fallback at planning)
    try {
      val old = GeomedeaManifest.read(fs, p).getOrElse(Map.empty)
      val merged = (old -- condemned) ++ stageEntries.filter(e => replacements(e._1))
      if (merged.nonEmpty || old.nonEmpty)
        GeomedeaManifest.write(fs, p, merged.values.toSeq, token)
    } catch { case scala.util.control.NonFatal(_) => () }
    if (fs.exists(stage)) fs.delete(stage, true)
  }

  /** Finish an interrupted swap before planning: the LAST generation
    * record (swaps are serial; only the newest can be incomplete) with a
    * surviving stage dir or live condemned shards is re-completed, then
    * orphan stage dirs from rewrites that failed before their record
    * existed are dropped.
    */
  private def finishPendingSwap(fs: FileSystem, p: Path): Seq[LakeGenerations.Gen] = {
    // one log read serves the outstanding-swap check, the orphan sweep's
    // owner filter AND the caller (incremental's just-rewritten
    // exclusion) — on an object store each read is a full GET, and two
    // reads could race a concurrent publish into an inconsistent
    // newest-token decision within this one call
    val log = LakeGenerations.read(fs, p)
    if (hasPendingSwap(fs, p, log)) {
      val g = log.last
      completeSwap(fs, p, g.token, g.condemned, g.replacements)
    }
    // orphan stages: a rewrite that died before its generation record is
    // invisible residue; compaction is single-maintainer by contract, so
    // any stage not owned by the newest record is dead
    val lastToken = log.lastOption.map(_.token)
    fs.listStatus(p).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith(StagePrefix) &&
      !lastToken.contains(s.getPath.getName.stripPrefix(StagePrefix)))
      .foreach(s => try fs.delete(s.getPath, true)
      catch { case scala.util.control.NonFatal(_) => () })
    log
  }

  /** True when the lake has an interrupted compaction swap (surfaced by
    * the Info CLI; the next `compact` call completes it).
    */
  def hasPendingSwap(fs: FileSystem, p: Path): Boolean =
    hasPendingSwap(fs, p, LakeGenerations.read(fs, p))

  /** Overload for callers that already hold the parsed log (LakeHealth —
    * avoids a redundant object-store GET per describe).
    */
  def hasPendingSwap(fs: FileSystem, p: Path,
                     log: Seq[LakeGenerations.Gen]): Boolean =
    log.lastOption.exists { g =>
      fs.exists(new Path(p, s"$StagePrefix${g.token}")) ||
        g.condemned.exists(nm =>
          !nm.contains('/') && !nm.contains('\\') && fs.exists(new Path(p, nm)))
    }
}
