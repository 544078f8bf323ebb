package graft.sources.v2

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}

/** Streaming READ side of a container lake — the inverse of a
  * foreachBatch sink that appends shards with the container writer:
  * `spark.readStream.format("geomedea" |
  * "flatgeobuf").load(dir)` tails a directory that another job keeps
  * appending shards to, emitting each NEW shard's features exactly once.
  *
  * Offsets are GENERATION-QUALIFIED name sets: `(generation, shard
  * names emitted within that generation)`. Shard names are
  * job-token-unique and shards are immutable once published by the
  * commit rename, so within a generation the name-set difference IS the
  * new-data set. Compaction bumps the lake's generation
  * ([[LakeGenerations]]), recording the condemned names and the token
  * its replacement shards are named with — so a tailing stream that had
  * consumed the condemned shards RESUMES across the compaction (the
  * replacements are recognized as rewrites of already-emitted rows and
  * skipped), and checkpoint offsets stay O(live shards) instead of
  * growing O(every shard ever). A stream that had NOT consumed every
  * condemned shard fails with an actionable error (their rows now exist
  * only mixed into replacement shards), as does any rewrite outside the
  * generation protocol — never silent re-emission or loss.
  *
  * Scale shape: one input partition per new shard, decoded by the SAME
  * streaming reader as the batch path (O(page) memory, no file-size
  * ceiling). In-flight `_tmp_` names are invisible by construction
  * (suffix filter), so a batch never observes a half-written shard.
  */
class ContainerMicroBatchStream(format: ContainerFormat, path: String,
                                bbox: Option[graft.geom.Envelope],
                                required: org.apache.spark.sql.types.StructType,
                                checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // driver-side listing; tasks get it as a broadcast per micro-batch
  private val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  private def fs: FileSystem = new Path(path).getFileSystem(conf)

  private def listStatuses(): Seq[FileStatus] = {
    val p = new Path(path)
    val f = fs
    if (!f.exists(p)) Seq.empty
    else if (f.getFileStatus(p).isFile) Seq(f.getFileStatus(p))
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(format.suffix))
      .sortBy(_.getPath.toString)
  }

  private var availableNowTarget: Option[GeomedeaOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(snapshot())

  private def snapshot(): GeomedeaOffset =
    GeomedeaOffset.snapshot(fs, new Path(path),
      () => listStatuses().map(_.getPath.toString))

  override def latestOffset(): Offset = availableNowTarget.getOrElse(snapshot())

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): no rate
  // limiting — each micro-batch takes every published shard; under
  // AvailableNow the target is the snapshot taken at prepare time
  override def latestOffset(start: Offset,
                            limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  // a stream that starts over an already-compacted lake begins at the
  // CURRENT generation (an empty set at generation 0 would look like it
  // predates every recorded compaction and trip the consumed check)
  override def initialOffset(): Offset =
    GeomedeaOffset(LakeGenerations.currentGen(fs, new Path(path)), Seq.empty)

  override def deserializeOffset(json: String): Offset = GeomedeaOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val statuses = listStatuses()
    val dir = new Path(path)
    val f = fs
    val fresh = GeomedeaOffset.resolveFresh(path, f, dir,
      statuses.map(_.getPath.toString),
      start.asInstanceOf[GeomedeaOffset], end.asInstanceOf[GeomedeaOffset])
    // manifest entries are used only when their recorded byte length
    // matches the live file: a compaction or out-of-protocol rewrite
    // invalidates by length. One read serves the whole batch.
    val lenByName = statuses.map(s => s.getPath.getName -> s.getLen).toMap
    val statusOf = statuses.map(s => s.getPath.toString -> s).toMap
    val manifest = GeomedeaManifest.read(f, dir).getOrElse(Map.empty)
      .filter { case (n, e) => lenByName.get(n).contains(e.len) }
    bbox match {
      case None =>
        // full-scan partitions split at the manifest's sampled boundaries
        // under the SAME rules as the batch planner: shape-validated
        // ([[GeomedeaManifest.Entry.validSplits]]), and the readers
        // re-derive the data-section base from the authoritative header,
        // so a stale list that survives both checks still fails LOUDLY
        // instead of shifting location ids. A backlogged stream that
        // receives one huge compacted shard decodes it as several tasks.
        fresh.flatMap { x =>
          manifest.get(new Path(x).getName) match {
            case Some(e) => ContainerTable.splitPartitions(x, e.len, e.validSplits)
            case _       => Seq(GeomedeaPartition(x, statusOf(x).getLen))
          }
        }.map(p => p: InputPartition).toArray
      case Some(q) =>
        // same planning-time file pruning as the batch scan: with a bbox
        // (the `bbox` READ OPTION — Spark's MicroBatchExecution builds this
        // scan straight from newScanBuilder and never calls pushFilters,
        // so the option is the streaming push channel), new shards that
        // cannot intersect the rect ([[ContainerFormat.mayIntersect]]) are
        // skipped ENTIRELY (the offset still advances past them — offsets
        // track names, not survivors, so pruned shards never replan; a
        // stale same-named manifest entry could therefore lose a fresh
        // shard silently and permanently, hence the length check). Shards
        // the manifest does not describe have their headers read on a
        // POOLED fan-out — a large backlog must not serialize planning on
        // one object-store round trip per shard. Filters stay residual, so
        // pruning is a superset and Spark re-applies them. Partitions stay
        // whole-file: the indexed reader scans per file, and a split copy
        // of it would re-emit hits.
        val (known, unknown) = fresh.partition(x => manifest.contains(new Path(x).getName))
        val keptKnown = known.filter(x => format.mayIntersect(manifest(new Path(x).getName), q))
        val keptUnknown = PlannerPool.mapFiles(unknown) { x =>
          if (format.mayIntersect(format.headerEntry(f, statusOf(x)), q)) Some(x)
          else None
        }.flatten
        (keptKnown ++ keptUnknown).sorted.map(x => GeomedeaPartition(x, statusOf(x).getLen): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ContainerReaderFactory(format, bbox, required, limit = None,
      conf = ContainerTable.shipConf(conf))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = `(generation, shard names already emitted within it)`,
  * JSON-encoded with the name set as a sorted array (deterministic
  * equality across restarts). Legacy round-4 offsets (a bare array) parse
  * as generation 0.
  */
final case class GeomedeaOffset(gen: Long, files: Seq[String]) extends Offset {
  override def json(): String =
    files.sorted.map(GeomedeaOffset.quote)
      .mkString(s"""{"gen":$gen,"files":[""", ",", "]}")
}

object GeomedeaOffset {

  def apply(files: Seq[String]): GeomedeaOffset = GeomedeaOffset(0L, files)

  private def nameOf(f: String): String = new Path(f).getName

  /** The end offset a micro-batch should advance to: the current
    * generation, with every live shard EXCEPT names condemned by a
    * recorded generation (during a swap window the condemned shards are
    * still on disk but their rows are owned by the replacements — a
    * stream must account them through the generation record, never both
    * ways), PLUS every recorded replacement name even if its rename is
    * still pending — a tailing stream crossing the generation must
    * commit replacements as tracked in the same batch that applies the
    * record, or a replacement first appearing after its generation was
    * crossed would replay as fresh data.
    */
  def snapshot(fs: FileSystem, dir: Path,
               listLive: () => Seq[String]): GeomedeaOffset = {
    // ORDER MATTERS against a concurrently completing swap (record ->
    // rename replacements -> delete condemned -> drop stage dir LAST):
    //
    //  - stage dir present at the check: renames may be outstanding, so
    //    the newest record's replacements are tracked as pending even if
    //    the listing missed them (a stream crossing the generation must
    //    commit them in the same batch, or a replacement appearing later
    //    would replay as fresh data = silent duplication);
    //  - stage dir ABSENT at the check: the swap (if any) fully
    //    completed BEFORE the check, so a listing taken strictly AFTER
    //    the check contains every replacement — which is why the listing
    //    happens after the stage check, never before. A pre-listed
    //    snapshot here could miss a replacement while also not tracking
    //    it as pending, and the next batch would re-emit it.
    //
    // Absent the stage dir, a recorded-but-missing replacement was
    // deleted OUTSIDE the protocol (retention); tracking it would make
    // the lake permanently unstreamable — every first batch, even from a
    // fresh checkpoint, would demand a name that can never reappear.
    // If the log GROWS while we list (a whole new swap landed), retry
    // with the fresh record; after the bounded retries a still-racing
    // maintenance job degrades to resolveFresh's loud error, never to
    // silent duplication.
    var attempt = 0
    while (true) {
      val log = LakeGenerations.read(fs, dir)
      // the empty-log case takes the SAME list-then-recheck path: a
      // lake's FIRST compaction landing mid-snapshot would otherwise
      // pair a gen-0 offset with a post-swap listing and re-emit the
      // replacement as fresh data
      val stageExists = log.lastOption.exists(g =>
        fs.exists(new Path(dir, s"${graft.jobs.Compact.StagePrefix}${g.token}")))
      val live = listLive()
      val logAfter = LakeGenerations.read(fs, dir)
      if (logAfter == log) {
        if (log.isEmpty) return GeomedeaOffset(0L, live)
        val last = log.last
        val condemned = log.iterator.flatMap(_.condemned).toSet
        val liveNames = live.iterator.map(nameOf).toSet
        val pendingRepl =
          if (!stageExists) Vector.empty
          else last.replacements.iterator
            .filterNot(n => liveNames(n) || condemned(n))
            .map(n => new Path(dir, n).toString).toVector
        // sorted: json() canonicalizes anyway, but Spark also compares
        // the in-memory case class against a checkpoint-deserialized
        // offset (which fromJson returns sorted) — unsorted pending
        // names appended here would make identical offsets compare
        // unequal and plan a spurious empty batch mid-swap
        return GeomedeaOffset(last.gen,
          (live.filterNot(f => condemned(nameOf(f))) ++ pendingRepl).sorted)
      }
      attempt += 1
      // a log that moves under FIVE consecutive listings (sliced
      // compaction publishes one generation per slice, so short bursts
      // are normal) is maintenance running faster than planning — fail
      // LOUDLY rather than pair a stale record with a fresh listing,
      // which would commit the new replacements at the old generation
      // and silently duplicate the condemned shards' rows next batch
      require(attempt < 5,
        s"lake $dir is being rewritten continuously (generation log moved " +
          s"under $attempt consecutive snapshot listings); pause maintenance " +
          "or retry the stream when compaction settles")
    }
    sys.error("unreachable")
  }

  /** The files a batch over `(start, end]` must emit, resolved through
    * the lake's generation log — exactly-once across compaction:
    *
    *  1. every generation in `(start.gen, end.gen]` must be recorded and
    *     must condemn only shards this stream had consumed (directly, or
    *     as replacements of earlier applied generations) — otherwise
    *     un-emitted rows now exist only mixed into replacement shards
    *     and resume is provably impossible: fail actionably;
    *  2. replacement shards (recorded BY NAME in an applied generation)
    *     are rewrites of already-emitted rows: skipped, though the end
    *     offset still tracks them;
    *  3. any tracked/offered name that is GONE with no generation record
    *     explaining it means the lake was rewritten or expired outside
    *     the protocol: fail actionably (round 4's requireNoRewrite,
    *     generation-aware). Retention deletion of consumed shards is
    *     still indistinguishable from a rewrite and still trips this —
    *     the documented price of exactly-once over name sets.
    */
  def resolveFresh(path: String, fs: FileSystem, dir: Path, live: Seq[String],
                   start: GeomedeaOffset, end: GeomedeaOffset): Seq[String] = {
    val log = LakeGenerations.read(fs, dir)
    val applied = log.filter(g => g.gen > start.gen && g.gen <= end.gen).sortBy(_.gen)
    if (applied.size != (end.gen - start.gen)) throw new IllegalStateException(
      s"streaming offsets span lake generations ${start.gen}->${end.gen} under $path " +
        s"but the generation log records only ${applied.size} of those compactions " +
        s"(log lost, or checkpoint older than the ${LakeGenerations.MaxGenerations}-" +
        "record horizon): cannot prove exactly-once across the missing rewrites. " +
        "Restart the stream with a FRESH checkpoint over the current lake.")
    val consumed = scala.collection.mutable.HashSet.empty[String]
    start.files.foreach(f => consumed += nameOf(f))
    val appliedRepl = scala.collection.mutable.HashSet.empty[String]
    applied.foreach { g =>
      val notConsumed = g.condemned.filterNot(n => consumed(n) || appliedRepl(n))
      if (notConsumed.nonEmpty) throw new IllegalStateException(
        if (g.replacements.isEmpty)
          s"lake generation ${g.gen} under $path RETIRED ${notConsumed.size} shard(s) " +
            s"this stream had not yet consumed (e.g. ${notConsumed.head}): their rows " +
            "were deleted by retention before emission — rows this stream can never " +
            "deliver. Retire only after tailing streams catch up, or restart with a " +
            "FRESH checkpoint over the current lake (accepting the loss)."
        else
          s"lake generation ${g.gen} under $path compacted ${notConsumed.size} shard(s) " +
            s"this stream had not yet consumed (e.g. ${notConsumed.head}): their rows now " +
            "live only inside replacement shards mixed with already-emitted rows, so " +
            "exactly-once resume is impossible. Compact after tailing streams catch up, " +
            "or restart the stream with a FRESH checkpoint over the compacted lake.")
      appliedRepl ++= g.replacements
    }
    val liveNames = live.iterator.map(nameOf).toSet
    val recordedEver = log.iterator
      .flatMap(g => g.condemned.iterator ++ g.replacements.iterator).toSet
    val endNames = end.files.map(nameOf)
    val gone = (consumed.iterator ++ endNames.iterator)
      .filterNot(n => liveNames(n) || recordedEver(n)).toSeq.distinct
    if (gone.nonEmpty) throw new IllegalStateException(
      s"streaming offsets reference ${gone.size} shard(s) no longer present under " +
        s"$path (e.g. ${gone.head}) with no generation record explaining them: the " +
        "lake was rewritten (truncate-overwrite) or expired by retention outside the " +
        "compaction protocol. Restart the stream with a FRESH checkpoint over the " +
        "current lake.")
    val freshNames = endNames.filterNot(n => consumed(n) || appliedRepl(n)).toSet
    val missing = freshNames.filterNot(liveNames)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"shard(s) this batch must emit are not present under $path (e.g. " +
        s"${missing.head}): either a compaction swap is mid-flight or crashed (run " +
        "graft.jobs.Compact.compact on the lake to finish it, then retry), or a " +
        "compaction overtook a replaying batch (restart the stream with a FRESH " +
        "checkpoint over the compacted lake).")
    end.files.filter(f => freshNames(nameOf(f)))
  }

  private[v2] def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def fromJson(json: String): GeomedeaOffset = {
    val t = json.trim
    // legacy (round 4) offsets were the bare name array — generation 0
    if (t.startsWith("[")) return GeomedeaOffset(0L, parseStringArray(t))
    require(t.startsWith("{") && t.endsWith("}"), s"bad geomedea offset: $json")
    // our own json() writes "gen" first, so the first match is the key
    val gen = """"gen"\s*:\s*(\d+)""".r.findFirstMatchIn(t)
      .getOrElse(throw new IllegalArgumentException(s"bad geomedea offset (no gen): $json"))
      .group(1).toLong
    val fi = t.indexOf("\"files\"")
    require(fi >= 0, s"bad geomedea offset (no files): $json")
    val open = t.indexOf('[', fi)
    require(open >= 0, s"bad geomedea offset (no files array): $json")
    // string-aware close-bracket scan: names may legally contain ']'
    var i = open
    var inStr = false
    var close = -1
    while (i < t.length && close < 0) {
      val c = t.charAt(i)
      if (inStr) { if (c == '\\') i += 1 else if (c == '"') inStr = false }
      else if (c == '"') inStr = true
      else if (c == ']') close = i
      i += 1
    }
    require(close > open, s"bad geomedea offset (unterminated files): $json")
    GeomedeaOffset(gen, parseStringArray(t.substring(open, close + 1)))
  }

  /** Inverse of the sorted-quoted-array encoding only. */
  private def parseStringArray(t: String): Seq[String] = {
    val body = t.substring(1, t.length - 1)
    if (body.trim.isEmpty) return Seq.empty
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (!inStr) {
        if (c == '"') inStr = true
        // commas/whitespace between strings ignored
      } else c match {
        case '"' => inStr = false; out += sb.result(); sb.clear()
        case '\\' =>
          i += 1
          body.charAt(i) match {
            case 'u' => sb += Integer.parseInt(body.substring(i + 1, i + 5), 16).toChar; i += 4
            case e   => sb += e
          }
        case other => sb += other
      }
      i += 1
    }
    out.result()
  }
}
