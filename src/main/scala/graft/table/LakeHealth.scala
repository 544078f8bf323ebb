package graft.table

import graft.jobs.{Compact, Ingest}
import graft.sources.v2.{ContainerFormat, GeomedeaManifest, LakeGenerations}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** One lake-health view over the engine's three on-disk layouts —
  * parquet tables with `_lineage/v=N` snapshots, `.geomedea` shard lakes
  * and `.fgb` shard lakes with `_manifest.tsv` + `_generations.v<N>.tsv` —
  * so an operator (and the Info CLI) reads the same fields regardless of
  * layout:
  *
  *  - `files`/`bytes`: the data files a planner would list;
  *  - `rows`: from the layout's own metadata when it is trustworthy
  *    (latest lineage snapshot / validated manifest), never from a scan;
  *  - `manifest`: `valid` = one-read planning, `STALE` = fallback path,
  *    `absent` = fallback path and nothing published yet;
  *  - `generation`: the layout's version counter — lineage snapshot
  *    version for parquet (each ingest/append publishes one), compaction
  *    generation for container lakes ([[LakeGenerations]]);
  *  - `history`: newest-last one-liners of those versions. Parquet
  *    snapshots support TIME TRAVEL ([[Ingest.lineageAt]] reads any
  *    listed version); container generations are swap RECORDS — the
  *    condemned shards are deleted by the swap, so they document and
  *    resume (streams), not restore;
  *  - `pendingMaintenance`: an interrupted compaction swap that the next
  *    `compact()` call will finish.
  *
  * Driver-side listing + metadata reads only; no data file is opened.
  */
object LakeHealth {

  final case class Health(layout: String, files: Long, bytes: Long,
                          rows: Option[Long], manifestState: String,
                          generation: Long, history: Seq[String],
                          pendingMaintenance: Boolean,
                          compactionCandidates: Long = 0L)

  /** The container format whose shards the directory `p` holds, if any.
    * FILES only: a parquet table containing a subdirectory named `*.fgb`
    * must not misclassify as a lake.
    */
  def lakeFormat(fs: FileSystem, p: Path): Option[ContainerFormat] =
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
      val files = fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      ContainerFormat.all.find(f => files.exists(_.endsWith(f.suffix)))
    } else None

  /** Classify `dir`: a directory holding container shards is a container
    * lake of that format ([[lakeFormat]]); anything else readable is
    * treated as a parquet table (with or without lineage).
    */
  def describe(spark: SparkSession, dir: String,
               targetShardBytes: Long = Compact.DefaultTargetShardBytes): Health = {
    val p = new Path(dir)
    lakeFormat(p.getFileSystem(spark.sessionState.newHadoopConf()), p) match {
      case Some(f) => containerLake(spark, dir, f.suffix, targetShardBytes)
      case None    => parquetTable(spark, dir)
    }
  }

  def containerLake(spark: SparkSession, dir: String, suffix: String,
                    targetShardBytes: Long = Compact.DefaultTargetShardBytes): Health = {
    val format = ContainerFormat.all.find(_.suffix == suffix).getOrElse(
      throw new IllegalArgumentException(s"no container format has the suffix $suffix"))
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = format.shards(fs, p)
    // ONE manifest GET and ONE log GET serve every field below (an
    // object-store describe should not fan out metadata reads)
    val raw = GeomedeaManifest.read(fs, p)
    val valid = GeomedeaManifest.validated(raw, files)
    val manifestState =
      if (valid.isDefined) "valid (one-read planning)"
      else if (raw.isDefined || fs.exists(new Path(p, GeomedeaManifest.FileName)))
        "STALE (header-read fallback)"
      else "absent (header-read fallback)"
    val log = LakeGenerations.read(fs, p)
    Health(
      layout = format.name,
      files = files.size, bytes = files.map(_.getLen).sum,
      rows = valid.map(_.values.map(_.count).sum),
      manifestState = manifestState,
      generation = log.lastOption.map(_.gen).getOrElse(0L),
      history = log.map(g =>
        if (g.replacements.isEmpty)
          s"gen ${g.gen}: retired ${g.condemned.size} shard(s) [${g.token}]"
        else
          s"gen ${g.gen}: compacted ${g.condemned.size} -> ${g.replacements.size} " +
            s"shard(s) [${g.token}]"),
      pendingMaintenance = Compact.hasPendingSwap(fs, p, log),
      // what Compact.incremental(targetShardBytes) would rewrite
      // (manifest-only check) — the "trigger maintenance when the
      // manifest shows overlap" signal. Pass the operator's actual
      // shard-size target or the signal misclassifies deliberate small
      // shards as undersized forever.
      compactionCandidates =
        Compact.pickCandidates(files, targetShardBytes, 4.0,
          raw.getOrElse(Map.empty), log).size.toLong)
  }

  def parquetTable(spark: SparkSession, dir: String): Health = {
    val docsDir = new Path(dir, "docs")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = if (fs.exists(docsDir)) docsDir else p
    val files =
      if (fs.exists(dataDir))
        fs.listStatus(dataDir).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      else Seq.empty
    val vs = Ingest.snapshots(spark, dir)
    // rows from the LATEST snapshot only (one small parquet read);
    // older snapshots are listed, not read
    val rows =
      if (vs.isEmpty) None
      else Some(Ingest.lineageAt(spark, dir, vs.last)
        // sum over an EMPTY snapshot is SQL NULL — a zero-doc ingest must
        // describe as 0 features, not NPE the Info CLI
        .agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum("rows"),
          org.apache.spark.sql.functions.lit(0L))).head().getLong(0))
    Health(
      layout = "parquet",
      files = files.size, bytes = files.map(_.getLen).sum,
      rows = rows,
      manifestState =
        if (vs.nonEmpty) "valid (one-read planning)" else "absent (listing fallback)",
      generation = vs.lastOption.map(_.toLong).getOrElse(0L),
      history = vs.map(v => s"v=$v: lineage snapshot (time-travel: Ingest.lineageAt)"),
      pendingMaintenance = false)
  }

  /** The consistent render block all three layouts share. */
  def render(dir: String, h: Health): String = {
    val sb = new StringBuilder
    sb.append(s"lake: $dir (${h.layout})\n")
    sb.append(s"shards: ${h.files}  bytes: ${h.bytes}")
    h.rows.foreach(r => sb.append(s"  features: $r"))
    sb.append('\n')
    sb.append(s"manifest: ${h.manifestState}\n")
    sb.append(s"generation: ${h.generation}\n")
    sb.append(s"pending_compaction_swap: ${
      if (h.pendingMaintenance) "YES (next compact() completes it)" else "no"}\n")
    if (h.compactionCandidates >= 2)
      sb.append(s"compaction_candidates: ${h.compactionCandidates} " +
        "(overspread/undersized/undescribed shards Compact.incremental would rewrite)\n")
    if (h.history.nonEmpty) {
      sb.append("history:\n")
      h.history.foreach(l => sb.append(s"  $l\n"))
    }
    sb.toString
  }
}
