package graft.sources.v2

import graft.codec.FeatureCodec.Feature
import graft.sources.FlatGeobuf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Distributed `.fgb` writer: `df.write.format("flatgeobuf")
  * .mode(append|overwrite).save(dir)` emits ONE spec-conformant FGB
  * shard per input partition, written EXECUTOR-side (Hilbert-asc layout
  * + packed R-tree index applied per shard by [[FlatGeobuf.write]]) —
  * the same scale shape, commit protocol (invisible `_tmp_` names,
  * job-commit rename, job-unique tokens, task-level abort) and input
  * contract (`wkb: binary` + `props: array<PropCell>`, extra columns
  * ignored) as [[GeomedeaWrite]]. `option("indexNodeSize", n)` tunes
  * the R-tree branching (default 16, spec default).
  */
class FgbWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val nodeSize = info.options.getInt("indexNodeSize", FlatGeobuf.DefaultNodeSize)
      // upper bound matters: the header field is a u16, so 65536 would
      // wrap to 0 ("no index") while index bytes are still written —
      // readers would parse R-tree bytes as feature blocks
      require(nodeSize >= 2 && nodeSize <= 0xFFFF,
        s"indexNodeSize must be in [2, 65535]; got $nodeSize")
      val splitGranularity = info.options.getLong("splitGranularity",
        graft.sources.ShardSpool.DefaultSplitGranularity)
      require(splitGranularity > 0, s"splitGranularity must be positive; got $splitGranularity")
      new FgbBatchWrite(path, info.schema(), nodeSize, splitGranularity, doTruncate,
        ShardToken.from(info))
    }
  }
}

final case class FgbCommit(tmpName: String, finalName: String,
                           bytes: Long, count: Long,
                           minLng: Int, minLat: Int, maxLng: Int, maxLat: Int,
                           splits: Seq[Long] = Seq.empty)
    extends WriterCommitMessage

class FgbBatchWrite(path: String, schema: StructType, nodeSize: Int,
                    splitGranularity: Long,
                    truncate: Boolean, jobToken: String) extends BatchWrite {
  private val conf = new SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FgbWriterFactory(path, schema, nodeSize, splitGranularity, conf, jobToken)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    if (truncate && fs.exists(dir)) {
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".fgb"))
        .foreach(s => fs.delete(s.getPath, false))
      graft.jobs.Compact.clearMaintenanceState(fs, dir)
    }
    val fresh = messages.collect {
      case c: FgbCommit =>
        require(fs.rename(new Path(dir, c.tmpName), new Path(dir, c.finalName)),
          s"failed to publish ${c.tmpName} -> ${c.finalName} under $path")
        GeomedeaManifest.Entry(c.finalName, c.bytes, c.count,
          c.minLng, c.minLat, c.maxLng, c.maxLat, c.splits.toVector)
    }
    // extent manifest, same shape/protocol as the geomedea lake's: one
    // planning read instead of two positioned header reads per shard.
    // Self-healing for shards this job didn't write (old manifest entry
    // when the byte length still matches, else a ranged header re-read);
    // best-effort per GeomedeaManifest.refresh — a corrupt foreign .fgb
    // degrades planning to header reads, never fails a published commit.
    GeomedeaManifest.refresh(fs, dir, ".fgb", fresh.toSeq, jobToken)(
      FgbBatchWrite.headerEntry(fs, _))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    messages.foreach {
      case c: FgbCommit => fs.delete(new Path(dir, c.tmpName), false)
      case _                 => ()
    }
  }
}

object FgbBatchWrite {
  /** Manifest entry from a shard's header alone (self-heal path for
    * files this writer didn't produce). FGB headers carry the envelope
    * in DEGREES (f64); rounding to scaled ints goes OUTWARD (floor min,
    * ceil max, clamped) so the manifest extent stays a superset and
    * pruning on it can never drop a hit. A header with no envelope but
    * a nonzero count maps to the world extent — count>0-with-unknown-
    * extent must never be pruned. features_count 0 (spec: UNKNOWN)
    * keeps the geomedea manifest encoding (extent None) and the FGB
    * planner treats it as keep-always (see FgbTable.scanFiles).
    */
  def headerEntry(fs: org.apache.hadoop.fs.FileSystem,
                  s: org.apache.hadoop.fs.FileStatus): GeomedeaManifest.Entry = {
    val in = fs.open(s.getPath)
    val h =
      try FlatGeobuf.readHeaderRanged((off, k) => {
        val b = new Array[Byte](k); in.readFully(off, b); b
      })
      finally in.close()
    def lo(d: Double) = math.max(Int.MinValue.toDouble, math.floor(d * 1e7)).toInt
    def hi(d: Double) = math.min(Int.MaxValue.toDouble, math.ceil(d * 1e7)).toInt
    val ext = h.envelope match {
      // non-finite doubles (NaN/Inf from a foreign writer) would cast to
      // 0 and FORGE a point extent at the origin — wrong pruning. An
      // unusable envelope means unknown, and unknown means world.
      case Some((mnx, mny, mxx, mxy))
        if Seq(mnx, mny, mxx, mxy).forall(java.lang.Double.isFinite) =>
        graft.geom.Envelope(lo(mnx), lo(mny), hi(mxx), hi(mxy))
      case _ if h.featuresCount > 0 => GeomedeaTable.World
      case _ => graft.geom.Envelope.empty
    }
    GeomedeaManifest.entryOf(s.getPath.getName, s.getLen, h.featuresCount, ext)
  }
}

class FgbWriterFactory(path: String, schema: StructType, nodeSize: Int,
                       splitGranularity: Long,
                       conf: SerializableConfiguration, jobToken: String)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val wkbIdx = schema.fieldIndex("wkb")
      private val propsIdx = schema.fieldIndex("props")
      // spill-backed (FlatGeobuf.FgbSpool): features spool to local temp
      // files and page out streaming, so task heap stays O(index + one
      // block) regardless of shard size
      private val spool =
        new FlatGeobuf.FgbSpool(nodeSize = nodeSize, splitGranularity = splitGranularity)
      private val fin = f"part-$jobToken-$partitionId%05d-$taskId.fgb"
      // tmp suffix must NOT be .fgb: reader globs/truncate select on it
      private val tmp = s"_tmp_$fin.tmp"
      private var wroteTmp = false

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
        FgbCommit(tmp, fin, written.totalBytes, written.featureCount,
          written.extent.minLng, written.extent.minLat,
          written.extent.maxLng, written.extent.maxLat, written.splits)
      }

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
