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
  * Scale shape: a micro-batch's new shards are planned and partitioned
  * exactly as a batch scan of them would be ([[ContainerFormat.planFiles]],
  * [[ContainerScan.partitions]]) and decoded by the SAME streaming reader
  * (O(page) memory, no file-size ceiling). In-flight `_tmp_` names are
  * invisible by construction (suffix filter), so a batch never observes a
  * half-written shard.
  */
class ContainerMicroBatchStream(format: ContainerFormat, path: String,
                                bbox: Option[graft.geom.Envelope],
                                required: org.apache.spark.sql.types.StructType,
                                checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // driver-side listing; tasks get it as a broadcast per micro-batch
  private val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  private def fs: FileSystem = new Path(path).getFileSystem(conf)

  /** The lake directory (None when `path` names one file) and its
    * container files.
    */
  private def listShards(): (Option[Path], Seq[FileStatus]) = {
    val p = new Path(path)
    val f = fs
    if (!f.exists(p)) (None, Seq.empty)
    else {
      val st = f.getFileStatus(p)
      if (st.isFile) (None, Seq(st)) else (Some(p), format.shards(f, p))
    }
  }

  private var availableNowTarget: Option[GeomedeaOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(snapshot())

  private def snapshot(): GeomedeaOffset =
    GeomedeaOffset.snapshot(fs, new Path(path),
      () => listShards()._2.map(_.getPath.toString))

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

  /** The batch's fresh shards, planned by the batch scan's own step
    * ([[ContainerFormat.planFiles]]) against the listing [[GeomedeaOffset.
    * resolveFresh]] checked: the manifest serves only while it matches
    * that whole listing, else the fresh shards' headers are read. With a
    * bbox (the `bbox` READ OPTION — Spark's MicroBatchExecution builds
    * this scan straight from newScanBuilder and never calls pushFilters,
    * so the option is the streaming push channel), shards that cannot
    * intersect the rect are skipped ENTIRELY; the offset still advances
    * past them (offsets track names, not survivors), which is why an
    * unvalidated manifest entry must never prune. Filters stay residual,
    * so pruning is a superset and Spark re-applies them.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (lakeDir, statuses) = listShards()
    val f = fs
    val fresh = GeomedeaOffset.resolveFresh(path, f, new Path(path),
      statuses.map(_.getPath.toString),
      start.asInstanceOf[GeomedeaOffset], end.asInstanceOf[GeomedeaOffset])
      .map(new Path(_).getName).toSet
    val files = format.planFiles(Seq(ContainerFormat.Listing(f, lakeDir, statuses,
      statuses.filter(s => fresh(s.getPath.getName)))), bbox)
    ContainerScan.partitions(format, files, bbox, limit = None)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ContainerReaderFactory(format, bbox, required, limit = None,
      conf = ContainerTable.shipConf(conf))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = `(generation, shard names already emitted within it)`,
  * JSON-encoded as `{"gen":N,"files":[...]}` with the name set sorted
  * (deterministic equality across restarts).
  */
final case class GeomedeaOffset(gen: Long, files: Seq[String]) extends Offset {
  override def json(): String = {
    val node = GeomedeaOffset.Json.createObjectNode()
    node.put("gen", gen)
    val names = node.putArray("files")
    files.sorted.foreach(n => names.add(n))
    GeomedeaOffset.Json.writeValueAsString(node)
  }
}

object GeomedeaOffset {

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

  /** A checkpointed offset; anything but a non-negative integral `gen`
    * and a `files` array of strings is an IllegalArgumentException.
    */
  def fromJson(json: String): GeomedeaOffset = {
    def bad(why: String, cause: Throwable = null) =
      new IllegalArgumentException(s"bad geomedea offset ($why): $json", cause)
    val node =
      try Json.readTree(json)
      catch { case e: com.fasterxml.jackson.core.JacksonException => throw bad("not JSON", e) }
    if (node == null || !node.isObject) throw bad("not an object")
    val gen = node.get("gen")
    if (gen == null || !gen.isIntegralNumber || !gen.canConvertToLong || gen.asLong < 0)
      throw bad("no non-negative integral gen")
    val files = node.get("files")
    if (files == null || !files.isArray) throw bad("no files array")
    val names = (0 until files.size).map(files.get)
    if (!names.forall(_.isTextual)) throw bad("non-string file name")
    GeomedeaOffset(gen.asLong, names.map(_.asText))
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
}
