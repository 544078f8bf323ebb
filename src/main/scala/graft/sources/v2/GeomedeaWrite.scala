package graft.sources.v2

import graft.codec.FeatureCodec.Feature
import graft.sources.GeomedeaFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Distributed `.geomedea` writer: `df.write.format("geomedea")
  * .mode("append").save(dir)` emits ONE shard file per input partition,
  * written EXECUTOR-side — the scale path the functional bridge
  * (`GeomedeaSpark.write`, driver collect) deliberately is not. Each
  * shard is a complete reference-format container (header + packed
  * R-tree + zstd pages, Hilbert-desc layout applied per shard by
  * [[graft.sources.ShardSpool]] — spill-backed, so task heap stays
  * O(index + one page) regardless of shard size), and the result
  * directory is exactly what [[GeomedeaDataSource]] and `readDir`
  * consume, with per-file pruning intact. Callers control shard
  * count/size via `repartition`; shards are capped at
  * [[graft.sources.GeomedeaSpark.MaxFileBytes]] (a format/reader
  * ergonomics bound, no longer a writer-memory one).
  *
  * Input contract: columns `wkb: binary` and `props: array<PropCell>`
  * (any extra columns are ignored). `option("compressed", "false")`
  * selects the uncompressed page codec.
  *
  * Commit protocol: tasks write to invisible `_tmp_...` names and
  * RENAME into place on job commit (driver), so readers never observe
  * partial output and an aborted job leaves nothing visible.
  */
class GeomedeaWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val compressed = info.options.getBoolean("compressed", true)
      // page size goal knob, like the reference's WriterOptions
      // (writer/mod.rs:24-27); default 64 KiB (lib.rs:47)
      val pageSizeGoal = info.options.getLong("pageSizeGoal", GeomedeaFile.DefaultPageSizeGoal)
      require(pageSizeGoal > 0, s"pageSizeGoal must be positive; got $pageSizeGoal")
      // split sampling granularity for the manifest's intra-shard
      // boundaries (Parquet row-group-split analog on the read side)
      val splitGranularity = info.options.getLong("splitGranularity",
        graft.sources.ShardSpool.DefaultSplitGranularity)
      require(splitGranularity > 0, s"splitGranularity must be positive; got $splitGranularity")
      new GeomedeaBatchWrite(path, info.schema(), compressed, pageSizeGoal, splitGranularity,
        doTruncate, ShardToken.from(info))
    }
  }
}

final case class GeomedeaCommit(tmpName: String, finalName: String,
                                bytes: Long, count: Long,
                                minLng: Int, minLat: Int, maxLng: Int, maxLat: Int,
                                splits: Seq[Long] = Seq.empty)
    extends WriterCommitMessage

class GeomedeaBatchWrite(path: String, schema: StructType, compressed: Boolean,
                         pageSizeGoal: Long, splitGranularity: Long, truncate: Boolean,
                         jobToken: String) extends BatchWrite {
  private val conf = new SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GeomedeaWriterFactory(path, schema, compressed, pageSizeGoal, splitGranularity,
      conf, jobToken)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    if (truncate && fs.exists(dir)) {
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".geomedea"))
        .foreach(s => fs.delete(s.getPath, false))
      graft.jobs.Compact.clearMaintenanceState(fs, dir)
    }
    val fresh = messages.collect {
      case c: GeomedeaCommit =>
        val ok = fs.rename(new Path(dir, c.tmpName), new Path(dir, c.finalName))
        require(ok, s"failed to publish ${c.tmpName} -> ${c.finalName} under $path")
        GeomedeaManifest.Entry(c.finalName, c.bytes, c.count,
          c.minLng, c.minLat, c.maxLng, c.maxLat, c.splits.toVector)
    }
    // refresh the extent manifest so planning reads ONE file, not one
    // header per shard. Self-healing for pre-existing shards this job
    // didn't write: carried from the old manifest when still accurate,
    // else re-read from their 45-byte heads (bounded driver work, once
    // per commit — amortized across every later query). Best-effort by
    // GeomedeaManifest.refresh's contract: a corrupt foreign file in
    // the dir degrades planning to header reads, never fails a commit
    // whose data is already published.
    GeomedeaManifest.refresh(fs, dir, ".geomedea", fresh.toSeq, jobToken) { s =>
      val head = new Array[Byte](math.min(GeomedeaTable.HeadBytes.toLong, s.getLen).toInt)
      val in = fs.open(s.getPath)
      try in.readFully(0, head) finally in.close()
      val count = graft.codec.FeatureCodec.decodeHeader(
        new graft.codec.FeatureCodec.R(head))._3
      val ext = GeomedeaTable.fileExtent(head).getOrElse(graft.geom.Envelope.empty)
      GeomedeaManifest.entryOf(s.getPath.getName, s.getLen, count, ext)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    messages.foreach {
      case c: GeomedeaCommit => fs.delete(new Path(dir, c.tmpName), false)
      case _                 => ()
    }
  }
}

class GeomedeaWriterFactory(path: String, schema: StructType, compressed: Boolean,
                            pageSizeGoal: Long, splitGranularity: Long,
                            conf: SerializableConfiguration, jobToken: String)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val wkbIdx = schema.fieldIndex("wkb")
      private val propsIdx = schema.fieldIndex("props")
      // spill-backed: features are bincode-encoded on arrival and page
      // assembly streams from local temp files, so task heap stays
      // O(index + one page) regardless of shard size (ShardSpool docs)
      private val spool =
        new graft.sources.ShardSpool(compressed, pageSizeGoal, splitGranularity)
      private val fin = f"part-$jobToken-$partitionId%05d-$taskId.geomedea"
      // tmp suffix must NOT be .geomedea: truncate and reader globs
      // select on that suffix and must never see in-flight shards
      private val tmp = s"_tmp_$fin.tmp"
      private var wroteTmp = false

      // the props layout was checked at planning (FeatureRows.requireWritable)
      override def write(record: InternalRow): Unit =
        spool.add(Feature(graft.geom.Wkb.read(record.getBinary(wkbIdx)),
          FeatureRows.propsOf(record.getArray(propsIdx))))

      override def commit(): WriterCommitMessage = {
        val written = spool.commit { total =>
          require(total <= graft.sources.GeomedeaSpark.MaxFileBytes,
            s"partition $partitionId: $total bytes > " +
              s"${graft.sources.GeomedeaSpark.MaxFileBytes}; repartition to more shards")
          val dir = new Path(path)
          val fs = dir.getFileSystem(conf.value)
          fs.mkdirs(dir)
          wroteTmp = true
          fs.create(new Path(dir, tmp), true)
        }
        GeomedeaCommit(tmp, fin, written.totalBytes, written.featureCount,
          written.extent.minLng, written.extent.minLat,
          written.extent.maxLng, written.extent.maxLat, written.splits)
      }

      /** Task-level abort: remove this task's own tmp shard (a commit
        * that failed mid-write would otherwise orphan it forever — the
        * job-level abort only sees tmp names that made it into commit
        * messages, and tmp names never collide with a retry's).
        */
      override def abort(): Unit = {
        spool.delete()
        if (wroteTmp) {
          val dir = new Path(path)
          try dir.getFileSystem(conf.value).delete(new Path(dir, tmp), false)
          catch { case _: java.io.IOException => () }
        }
      }
      override def close(): Unit = spool.delete()
    }
}
