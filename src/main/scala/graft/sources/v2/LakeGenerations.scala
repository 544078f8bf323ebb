package graft.sources.v2

import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Generation log for a container-shard lake (`_generations.v<N>.tsv`) — the
  * piece that lets a tailing stream RESUME across compaction instead of
  * demanding a fresh checkpoint (the one place round 4's engine said
  * "restart your pipeline" where a production lake format would not).
  *
  * Each compaction appends one record between its rewrite job's commit
  * (into an invisible staging subdirectory, so the replacement names are
  * known and the rows durable) and the swap that makes the replacements
  * visible:
  *
  *   `gen \t token \t nC \t nR \t condemned... \t replacements...`
  *
  * Recording the EXPLICIT replacement names before any become visible
  * closes the duplicate-emission window: a stream that plans a batch at
  * any point during (or after a crash in) the swap already knows every
  * appearing replacement name is a rewrite of rows it consumed, never
  * new data — prefix/heuristic matching would mis-handle replacements
  * that first appear after the stream's generation has advanced. A
  * record is also the swap's crash journal: its staging dir + condemned
  * names describe exactly the renames and deletes outstanding
  * ([[graft.jobs.Compact]] finishes them before planning).
  *
  * Streaming offsets then carry `(generation, shard-name set WITHIN that
  * generation)` instead of the full ever-growing name set: compaction
  * resets the tracked set to the compacted shard count, so checkpoint
  * offsets stay O(live shards) instead of O(every shard ever).
  *
  * Durability: each publish EXCLUSIVELY CREATES a FRESH versioned name
  * (`_generations.v<gen>.tsv`, `create(overwrite = false)` — the atomic
  * claim; an exists+rename pair would both race and silently overwrite
  * on the local FS) whose first line is a `v1` record-count header.
  * Readers try versions newest-first and skip a torn file (count
  * mismatch / parse failure), falling back to the previous version —
  * which is deleted only after the new one is fully written — so no
  * crash point loses the log and no reader window sees an absent one
  * (the advisory manifest can afford such windows; this file is
  * correctness-bearing for resume-across-compaction). Racing publishers
  * of the same generation fail the create loudly — records are never
  * silently dropped (a TORN claimant is reclaimed only once it is older
  * than [[TornReclaimGraceMs]], i.e. provably a crashed publisher's
  * residue and not a live writer's in-flight file). If the log is
  * missing or unparseable, streams degrade to the loud rewrite error
  * (never to silent re-emission or loss).
  * Records are capped at [[MaxGenerations]] — a checkpoint older than
  * the horizon fails loudly with the missing-generation error.
  *
  * Reference note: the reference format has no streaming or compaction
  * surface at all (its answer to file maintenance is re-ingest,
  * `writer/mod.rs`); this is lake-level machinery a 100 TB deployment
  * needs around the container format.
  */
/** Job-unique shard-name token for the v2 writers: task ids restart
  * across Spark sessions, so `part-<pid>-<taskId>` names from two append
  * jobs could collide and fail the publish rename — a per-job token
  * makes appends always safe. Callers that need to ATTRIBUTE a job's
  * output (compaction identifying its replacement shards exactly, even
  * under concurrent appends) pass their own via `option("shardToken", t)`.
  */
private[graft] object ShardToken {
  def from(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): String =
    validated(Option(info.options.get("shardToken"))
      .getOrElse(java.util.UUID.randomUUID().toString.take(8)))

  def validated(t: String): String = {
    require(t.nonEmpty && t.length <= 64 && t.forall(c => c.isLetterOrDigit || c == '-'),
      s"shardToken must be [A-Za-z0-9-]{1,64}; got '$t'")
    t
  }
}

object LakeGenerations {

  /** Oldest records kept; resuming from before the horizon fails loudly. */
  val MaxGenerations = 1024

  /** A torn same-version claimant younger than this is NOT reclaimed: it
    * may be a live publisher's in-flight file (0 bytes until its close
    * flushes), and deleting it would silently destroy a generation
    * record. No real writer holds the tiny log open for minutes; crashed
    * residue is arbitrarily old, so a grace this wide never wedges
    * recovery for long while keeping same-version races loud.
    */
  val TornReclaimGraceMs: Long = 10L * 60 * 1000

  private def versionedPath(dir: Path, gen: Long): Path =
    new Path(dir, f"_generations.v$gen%019d.tsv")

  /** Versioned log files present, ascending by version. */
  private def versions(fs: FileSystem, dir: Path): Seq[Path] = {
    val glob = fs.globStatus(new Path(dir, "_generations.v*.tsv"))
    if (glob == null) Seq.empty
    else glob.map(_.getPath).filter { p =>
      val core = p.getName.stripPrefix("_generations.v").stripSuffix(".tsv")
      core.nonEmpty && core.forall(_.isDigit)
    }.sortBy(_.getName).toSeq
  }

  final case class Gen(gen: Long, token: String,
                       condemned: Set[String], replacements: Set[String]) {
    def line: String =
      (Seq(gen.toString, token, condemned.size.toString, replacements.size.toString) ++
        condemned.toSeq.sorted ++ replacements.toSeq.sorted).mkString("\t")
  }

  /** All recorded generations, ascending by number; empty when absent or
    * unparseable (streams then degrade to the loud rewrite error —
    * strictly safe, never wrong). Versions are tried NEWEST-FIRST and a
    * torn newest file (a publisher crashed mid-write — it creates the
    * final name exclusively and writes into it) falls back to the intact
    * previous version, so no crash point loses the whole log.
    */
  def read(fs: FileSystem, dir: Path): Seq[Gen] = {
    versions(fs, dir).reverseIterator.map(readOne(fs, _)).collectFirst { case Some(g) => g }
      .getOrElse(Seq.empty)
  }

  /** One file's records, or None when absent/torn/unparseable. The `v1`
    * count header makes a partially-written file — even one torn at a
    * line boundary, which would parse as a silently TRUNCATED history —
    * detectably incomplete; a file without it is unparseable.
    */
  private def readOne(fs: FileSystem, f: Path): Option[Seq[Gen]] = {
    try {
      if (!fs.exists(f)) return None
      val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try in.readFully(0, buf) finally in.close()
      val lines = new String(buf, StandardCharsets.UTF_8)
        .split('\n').toVector.filter(_.nonEmpty)
      if (!lines.headOption.exists(_.startsWith("v1\t"))) return None
      val body = lines.tail
      if (lines.head.split('\t')(1).toInt != body.size) return None // torn write
      val gens = body.map { line =>
        val p = line.split('\t')
        require(p.length >= 4, s"bad generation line: $line")
        val nc = p(2).toInt
        val nr = p(3).toInt
        require(p.length == 4 + nc + nr, s"generation line names mismatch: $line")
        Gen(p(0).toLong, p(1), p.slice(4, 4 + nc).toSet, p.drop(4 + nc).toSet)
      }.sortBy(_.gen)
      if (gens.isEmpty) None else Some(gens) // a valid log is never empty
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def currentGen(fs: FileSystem, dir: Path): Long =
    read(fs, dir).lastOption.map(_.gen).getOrElse(0L)

  /** Drop the whole log — for truncate-overwrite, which rewrites the lake
    * OUTSIDE the generation protocol (fresh gen-0 lake). A retained log
    * would resurrect its recorded replacement names as pending tracked
    * files and leave the lake permanently unstreamable even from a fresh
    * checkpoint. Streams holding gen>0 checkpoints over the truncated
    * lake then fail with the loud log-lost error — correct, their rows
    * were destroyed.
    */
  def clear(fs: FileSystem, dir: Path): Unit = {
    if (!fs.exists(dir)) return
    // every version, torn/orphaned _generations.* residue included
    fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_generations"))
      .foreach(s => fs.delete(s.getPath, false))
  }

  /** Record a new generation (the swap `condemned` -> `replacements`)
    * and return its number. Call AFTER the rewrite job has committed its
    * shards to the staging subdirectory (so the replacement names are
    * known and the data is durable) but BEFORE any of them become
    * visible in the lake — a stream planning a batch at any point of the
    * swap then already knows the appearing names are rewrites, never new
    * data. Unlike the advisory manifest this write must not fail
    * silently — a compaction that cannot record its generation must not
    * proceed to publish replacements or delete shards under tailing
    * streams.
    */
  def append(fs: FileSystem, dir: Path, token: String,
             condemned: Seq[String], replacements: Seq[String]): Long = {
    ShardToken.validated(token)
    (condemned.iterator ++ replacements.iterator).foreach(n =>
      require(!n.contains('\t') && !n.contains('\n'),
        s"shard name with tab/newline cannot be journaled: '$n'"))
    val old = read(fs, dir)
    val gen = old.lastOption.map(_.gen).getOrElse(0L) + 1
    val all = (old :+ Gen(gen, token, condemned.toSet, replacements.toSet))
      .takeRight(MaxGenerations)
    publishAt(fs, dir, gen, all)
    gen
  }

  /** Publish `all` at version `gen` by EXCLUSIVE CREATE of the fresh
    * versioned name (no tmp, no rename): create(overwrite = false) is
    * the atomic claim — a racing publisher that computed the same
    * version fails the create loudly instead of silently replacing this
    * record (Hadoop rename overwrites on the local FS, so an
    * exists()+rename() pair would have a TOCTOU window). A crash
    * mid-write leaves a torn file that readers DETECT via the v1 count
    * header and skip in favor of the previous version, which is only
    * deleted after this write completes. `private[graft]` so the spec
    * can drive the same-version collision directly.
    */
  private[graft] def publishAt(fs: FileSystem, dir: Path, gen: Long,
                               all: Seq[Gen]): Unit = {
    val fin = versionedPath(dir, gen)
    def claim(): org.apache.hadoop.fs.FSDataOutputStream =
      try fs.create(fin, false)
      catch {
        case e: java.io.IOException =>
          // the version may be claimed by a TORN file — a publisher that
          // crashed mid-write (readers already skip it via the count
          // header). Reclaim it ONLY when it is also STALE: a fresh torn
          // file can be a LIVE publisher between create and close (0
          // bytes until the flush), and deleting that would silently
          // destroy its record — the exact loss the exclusive create
          // exists to make loud. Crashed residue ages past the grace;
          // a parseable claimant is a complete record and always stays
          // a loud error.
          val stale = fs.exists(fin) && readOne(fs, fin).isEmpty &&
            System.currentTimeMillis() - fs.getFileStatus(fin).getModificationTime >
              TornReclaimGraceMs
          if (stale) {
            fs.delete(fin, false)
            try fs.create(fin, false)
            catch {
              case e2: java.io.IOException => throw new IllegalStateException(
                s"failed to publish ${fin.getName} under $dir (concurrent compaction?)", e2)
            }
          } else throw new IllegalStateException(
            s"failed to publish ${fin.getName} under $dir (concurrent compaction, or " +
              s"a crashed publisher's torn file younger than the " +
              s"${TornReclaimGraceMs / 60000}-minute reclaim grace — retry later)", e)
      }
    val out = claim()
    try out.write((s"v1\t${all.size}\n" + all.map(_.line).mkString("", "\n", "\n"))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // superseded versions go away best-effort — a failed delete only
    // costs a stale extra file that every reader already ignores in
    // favor of the highest version
    try versions(fs, dir).filter(_.getName < fin.getName).foreach(fs.delete(_, false))
    catch { case scala.util.control.NonFatal(_) => () }
  }
}
