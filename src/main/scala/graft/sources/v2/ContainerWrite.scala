package graft.sources.v2

import graft.codec.FeatureCodec.Feature
import graft.sources.FeatureSpool
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Distributed container writer: `df.write.format("geomedea" |
  * "flatgeobuf").mode(append|overwrite).save(dir)` emits ONE shard file
  * per input partition, written EXECUTOR-side — the scale path the
  * functional bridges (`GeomedeaSpark.write`, `FlatGeobufSpark.write`,
  * driver collect) deliberately are not. Each shard is a complete
  * container in its format's own layout, written by the one spill-backed
  * [[graft.sources.FeatureSpool]], so task heap stays O(index + one page)
  * regardless of shard size. The spool owns the spill, the Hilbert layout
  * sort, the body temp file, split sampling and the stream-out; each
  * format supplies its layout direction, an optional per-feature note and
  * its body encoder, which also builds its prefix (geomedea,
  * [[graft.sources.ShardSpool]]: Hilbert-desc zstd pages, header + packed
  * R-tree, page starts as splits; FGB, [[graft.sources.FlatGeobuf.FgbSpool]]:
  * Hilbert-asc Feature blocks noting geometry type and columns, magic +
  * header + packed R-tree, block starts as splits). The result
  * directory is exactly what [[ContainerSource]] consumes, with per-file
  * pruning intact. Callers control shard count/size via `repartition`;
  * shards are capped at [[ContainerWriterFactory.MaxFileBytes]].
  *
  * Input contract: columns `wkb: binary` and `props: array<PropCell>`
  * (any extra columns are ignored). Options: `splitGranularity` (both);
  * geomedea `compressed` (default true) and `pageSizeGoal`; FGB
  * `indexNodeSize` (default 16, spec default).
  *
  * Commit protocol: tasks write to invisible `_tmp_...` names and
  * RENAME into place on job commit (driver), so readers never observe
  * partial output and an aborted job leaves nothing visible.
  */
class ContainerWriteBuilder(format: ContainerFormat, path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      // split sampling granularity for the manifest's intra-shard
      // boundaries (Parquet row-group-split analog on the read side)
      val splitGranularity = info.options.getLong("splitGranularity",
        FeatureSpool.DefaultSplitGranularity)
      require(splitGranularity > 0, s"splitGranularity must be positive; got $splitGranularity")
      new ContainerBatchWrite(format, path, info.schema(),
        format.spool(info.options, splitGranularity), doTruncate, ShardToken.from(info))
    }
  }
}

final case class ContainerCommit(tmpName: String, finalName: String,
                                 bytes: Long, count: Long,
                                 minLng: Int, minLat: Int, maxLng: Int, maxLat: Int,
                                 splits: Seq[Long] = Seq.empty)
    extends WriterCommitMessage

class ContainerBatchWrite(format: ContainerFormat, path: String, schema: StructType,
                          spool: () => FeatureSpool, truncate: Boolean,
                          jobToken: String) extends BatchWrite {
  // commit and abort run on the driver; tasks get the conf as a broadcast
  private val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ContainerWriterFactory(format, path, schema, spool, ContainerTable.shipConf(conf), jobToken)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (truncate && fs.exists(dir)) {
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(format.suffix))
        .foreach(s => fs.delete(s.getPath, false))
      LakeGenerations.clear(fs, dir)
    }
    val fresh = messages.collect {
      case c: ContainerCommit =>
        require(fs.rename(new Path(dir, c.tmpName), new Path(dir, c.finalName)),
          s"failed to publish ${c.tmpName} -> ${c.finalName} under $path")
        GeomedeaManifest.Entry(c.finalName, c.bytes, c.count,
          c.minLng, c.minLat, c.maxLng, c.maxLat, c.splits.toVector)
    }
    // refresh the extent manifest so planning reads ONE file, not one
    // header per shard. Self-healing for pre-existing shards this job
    // didn't write: carried from the old manifest when still accurate,
    // else re-read from their headers (bounded driver work, once per
    // commit — amortized across every later query). Best-effort by
    // GeomedeaManifest.refresh's contract: a corrupt foreign file in
    // the dir degrades planning to header reads, never fails a commit
    // whose data is already published.
    GeomedeaManifest.refresh(fs, dir, format, fresh.toSeq, jobToken)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    messages.foreach {
      case c: ContainerCommit => fs.delete(new Path(dir, c.tmpName), false)
      case _                  => ()
    }
  }
}

object ContainerWriterFactory {
  /** Shard byte cap: a format/reader ergonomics bound (the spool keeps
    * task heap O(index + one page)), also the driver-side bridges' file
    * bound.
    */
  val MaxFileBytes: Long = 256L << 20
}

class ContainerWriterFactory(format: ContainerFormat, path: String, schema: StructType,
                             spool: () => FeatureSpool,
                             conf: Broadcast[SerializableConfiguration], jobToken: String)
    extends DataWriterFactory {
  import ContainerWriterFactory.MaxFileBytes

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val wkbIdx = schema.fieldIndex("wkb")
      private val propsIdx = schema.fieldIndex("props")
      // spill-backed: features spool to local temp files on arrival and
      // the container streams out at commit
      private val shard = spool()
      private val fin = f"part-$jobToken-$partitionId%05d-$taskId${format.suffix}"
      // tmp suffix must NOT be the container suffix: truncate and reader
      // globs select on it and must never see in-flight shards
      private val tmp = s"_tmp_$fin.tmp"
      private var wroteTmp = false

      // the props layout was checked at planning (FeatureRows.requireWritable)
      override def write(record: InternalRow): Unit =
        shard.add(Feature(graft.geom.Wkb.read(record.getBinary(wkbIdx)),
          FeatureRows.propsOf(record.getArray(propsIdx))))

      override def commit(): WriterCommitMessage = {
        val written = shard.commit { total =>
          require(total <= MaxFileBytes,
            s"partition $partitionId: $total bytes > $MaxFileBytes; repartition to more shards")
          val dir = new Path(path)
          val fs = dir.getFileSystem(conf.value.value)
          fs.mkdirs(dir)
          wroteTmp = true
          fs.create(new Path(dir, tmp), true)
        }
        ContainerCommit(tmp, fin, written.totalBytes, written.featureCount,
          written.extent.minLng, written.extent.minLat,
          written.extent.maxLng, written.extent.maxLat, written.splits)
      }

      /** Task-level abort: remove this task's own tmp shard (a commit
        * that failed mid-write would otherwise orphan it forever — the
        * job-level abort only sees tmp names that made it into commit
        * messages, and tmp names never collide with a retry's).
        */
      override def abort(): Unit = {
        shard.delete()
        if (wroteTmp) {
          val dir = new Path(path)
          try dir.getFileSystem(conf.value.value).delete(new Path(dir, tmp), false)
          catch { case _: java.io.IOException => () }
        }
      }
      override def close(): Unit = shard.delete()
    }
}
