package graft.sources.v2

import graft.geom.Envelope
import graft.sources.FlatGeobuf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("flatgeobuf")` — FlatGeobuf as a first-class
  * DataSourceV2, the exact sibling of the geomedea source: WHERE
  * filters on the envelope stat columns prune whole `.fgb` files at
  * PLANNING (header envelope, read via two positioned range reads) and
  * drive the bounded-transfer indexed scan at READ
  * ([[FlatGeobuf.selectBboxRange]]: header -> needed index levels ->
  * hit feature blocks in batched windows). Full scans stream block by
  * block with O(feature) memory. Together with the geomedea source this
  * reproduces the reference README's geomedea-vs-FGB comparison inside
  * one engine, query for query. Like the geomedea source, `load(path)`
  * reads one `.fgb` file or a directory of them and `load(paths*)` reads
  * the listed ones as one table; writes and streams take one path.
  *
  * Pruning is a strict superset of the predicate; every pushed filter
  * stays residual, so correctness never depends on the index. The
  * source is read-only (FGB writing is [[graft.sources.FlatGeobufSpark.write]];
  * the distributed write path of this engine is the geomedea/parquet
  * side).
  */
class FgbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "flatgeobuf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FgbTable.Schema
  // true so df.write.format("flatgeobuf") hands the dataframe's schema
  // through (the WRITE contract is wkb+props; extra columns ignored)
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    new FgbTable(GeomedeaTable.pathsOf(properties,
      "flatgeobuf source needs load(path), load(paths*) or save(path) — " +
        "each a .fgb file or a directory of them"),
      if (schema == null || schema.isEmpty) FgbTable.Schema else schema)
  }
}

object FgbTable {
  /** feature_offset is the feature's byte offset within the features
    * section — the format's own stable id, identical across pruned and
    * full scans (like geomedea's FeatureLocation).
    */
  val Schema: StructType =
    FeatureRows.tableSchema(StructField("feature_offset", LongType, nullable = false))

  /** Surviving files with length and feature count
    * ([[GeomedeaTable.planFiles]]). A v2-written directory carries the
    * same `_manifest.tsv` a geomedea lake does. Manifest extents were
    * rounded OUTWARD from the header's degree envelope (or are the
    * writer's exact ints), so manifest pruning is a strict superset of
    * the predicate; a count-0 entry (spec: UNKNOWN) is never pruned,
    * mirroring the header fallback below. Fallback: the header is read
    * via two positioned range reads per file (12 bytes + header block);
    * with a bbox, files whose header envelope misses the rect are
    * dropped.
    */
  def scanFiles(paths: Seq[String], bbox: Option[Envelope]): Seq[GeomedeaTable.ScanFile] =
    GeomedeaTable.planFiles(paths, ".fgb") { (f, e) =>
      val keep = bbox match {
        case None    => true
        // extent None == count unknown/empty: keep (the FGB spec's
        // features_count=0-means-unknown rule — never prune on it)
        case Some(q) => e.extent.forall(_.intersects(q))
      }
      if (keep) Some(GeomedeaTable.ScanFile(f.getPath.toString, f.getLen, e.count, e.validSplits))
      else None
    } { (fs, s) =>
      require(s.getLen >= FlatGeobuf.Magic.length + 4,
        s"${s.getPath}: ${s.getLen} bytes is shorter than a FlatGeobuf magic+header " +
          "prefix — truncated or not an fgb file")
      val in = fs.open(s.getPath)
      val h =
        try FlatGeobuf.readHeaderRanged((off, k) => {
          val b = new Array[Byte](k); in.readFully(off, b); b
        })
        finally in.close()
      // features_count 0 means UNKNOWN per spec (streamed writers), so
      // it must never prune; only a present, non-intersecting envelope
      // does (pruning stays a strict superset of the predicate)
      val keep = bbox match {
        case None => true
        case Some(q) =>
          h.envelope.forall { case (mnx, mny, mxx, mxy) =>
            !(mxx < q.minLng / 1e7 || mxy < q.minLat / 1e7 ||
              mnx > q.maxLng / 1e7 || mny > q.maxLat / 1e7)
          }
      }
      if (keep) Some(GeomedeaTable.ScanFile(s.getPath.toString, s.getLen, h.featuresCount))
      else None
    }

  /** [[scanFiles]] of one `load(path)`. */
  def scanFiles(path: String, bbox: Option[Envelope]): Seq[GeomedeaTable.ScanFile] =
    scanFiles(Seq(path), bbox)
}

class FgbTable(paths: Seq[String], tableSchema: StructType) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"flatgeobuf.`${paths.mkString(",")}`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(tableSchema == FgbTable.Schema,
      "flatgeobuf reads use the source's own schema; user-specified read schemas are unsupported")
    new FgbScanBuilder(paths, BboxFilterAbsorber.fromOptions(options))
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder = {
    FeatureRows.requireWritable("flatgeobuf", info.schema())
    new FgbWriteBuilder(GeomedeaTable.onePath(paths, "a flatgeobuf write"), info)
  }
}

class FgbScanBuilder(paths: Seq[String],
                     optBbox: Option[Envelope] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private val absorber = new BboxFilterAbsorber
  optBbox.foreach(absorber.seed)
  private var pushed = Array.empty[Filter]
  private var required: StructType = FgbTable.Schema
  private var limit: Option[Int] = None
  private var countPushed = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(absorber.absorb)
    filters // residual: the prune is a superset
  }
  override def pushedFilters(): Array[Filter] = pushed
  /** Top-level pruning only; nested-pruned schemas widened back (same
    * struct-ordinal argument as the geomedea source).
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f => FgbTable.Schema(f.name)))

  /** Partial push (same contract as the geomedea source): each partition
    * emits at most n rows and Spark applies the global limit; filters
    * block limit offers upstream because ours are all residual.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  private def isCountStarOnly(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions().isEmpty && agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  /** Filterless COUNT(*) from headers — accepted ONLY when every file
    * carries a REAL features_count (0 = unknown per spec, streamed
    * writers); otherwise Spark counts normally. The header reads this
    * decision costs are the same ones planning performs anyway.
    */
  private lazy val allFiles: Seq[GeomedeaTable.ScanFile] = FgbTable.scanFiles(paths, None)

  // the explicit bbox option restricts the scan like a filter would, so
  // a header-only count (whole-table) must not be offered with it set
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    isCountStarOnly(agg) && optBbox.isEmpty && allFiles.forall(_.count > 0)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (isCountStarOnly(agg) && optBbox.isEmpty && allFiles.forall(_.count > 0)) {
      countPushed = true; true
    } else false

  override def build(): Scan = {
    val bbox = absorber.bbox
    if (countPushed) {
      require(pushed.isEmpty && bbox.isEmpty,
        "COUNT(*) pushdown reached with filters absorbed — header-only count would be wrong")
      new FgbCountScan(paths, allFiles.map(_.count).sum)
    } else new FgbScan(paths, bbox, pushed, required, limit)
  }
}

/** Complete-pushdown COUNT(*): one row from the already-read headers. */
class FgbCountScan(paths: Seq[String], total: Long) extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("count",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = s"FgbCountScan path=${paths.mkString(",")} (header-only count)"
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(16L)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(1L)
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(GeomedeaPartition("<header-count>"))
  override def createReaderFactory(): PartitionReaderFactory =
    GeomedeaStatsReaderFactory(Array[Any](total))
}

class FgbScan(paths: Seq[String], bbox: Option[Envelope], pushed: Array[Filter],
              required: StructType, limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"FgbScan path=${paths.mkString(",")} bbox=${bbox.getOrElse("all")} limit=${limit.getOrElse(-1)} " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GmBytesMetric, new GmRowsMetric)

  private lazy val keptFiles: Seq[GeomedeaTable.ScanFile] = FgbTable.scanFiles(paths, bbox)

  /** With a pushed limit and no bbox, only enough files to cover it are
    * planned when every count is KNOWN; an unknown (0) count could hide
    * any number of rows, so file planning stops short-cutting there and
    * the reader-side per-partition stop carries the bound.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    (bbox, limit) match {
      case (None, Some(n)) if keptFiles.forall(_.count > 0) =>
        var cum = 0L
        keptFiles.takeWhile { f => val need = cum < n; cum += f.count; need }
          .map(f => GeomedeaPartition(f.path): InputPartition).toArray
      case (None, None) =>
        // full scan: split oversized shards at the manifest's
        // writer-sampled feature-block boundaries (Parquet row-group
        // analog) so parallelism is not capped at the shard count
        keptFiles.flatMap(f => GeomedeaTable.splitPartitions(f.path, f.len, f.splits))
          .map(p => p: InputPartition).toArray
      case _ => keptFiles.map(f => GeomedeaPartition(f.path): InputPartition).toArray
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(keptFiles.map(_.len).sum)
    // a 0 count means UNKNOWN (spec) — summing it in would under-report
    // and invite a bad broadcast; real row counts only when every kept
    // file carries one (empty dirs are genuinely 0 rows)
    override def numRows(): java.util.OptionalLong =
      if (keptFiles.forall(_.count > 0) || keptFiles.isEmpty)
        java.util.OptionalLong.of(keptFiles.map(_.count).sum)
      else java.util.OptionalLong.empty()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FgbReaderFactory(bbox, required, limit,
      new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf()))

  /** Streaming read: tail a growing `.fgb` lake, same model as the
    * geomedea source (exactly-once by shard-name set difference).
    */
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FgbMicroBatchStream(GeomedeaTable.onePath(paths, "a flatgeobuf stream"), bbox,
      required, checkpointLocation)
}

class FgbReaderFactory(bbox: Option[Envelope], required: StructType,
                       limit: Option[Int],
                       conf: SerializableConfiguration) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[GeomedeaPartition]
    val file = part.file
    new PartitionReader[InternalRow] {
      private var bytesDecoded = 0L
      private var rowsDecoded = 0L
      private var rangedScan: FlatGeobuf.RangedFgbScan = null

      private val p = new Path(file)
      private val fs = p.getFileSystem(conf.value)
      private var stream: org.apache.hadoop.fs.FSDataInputStream = null

      // declared BEFORE iter (class-body init order): the stream scans
      // capture it at construction. geometry-only block decode skips the
      // props vector copy + parse when no property column is projected.
      private val geomOnly = FeatureRows.geomOnly(required)

      private val iter = {
        val len = fs.getFileStatus(p).getLen
        stream = fs.open(p)
        def ranged(off: Long, k: Int): Array[Byte] = {
          val buf = new Array[Byte](k); stream.readFully(off, buf); buf
        }
        // an index needs BOTH node_size > 0 and a trustworthy count (0 =
        // unknown, spec-legal for streamed writers); otherwise stream the
        // whole file — Spark re-applies the residual filters either way
        val header = FlatGeobuf.readHeaderRanged(ranged)
        val indexed = header.nodeSize > 0 && header.featuresCount > 0
        val raw: Iterator[(Long, graft.codec.FeatureCodec.Feature)] = bbox match {
          case Some(q) if indexed =>
            // bounded transfer: header -> needed index levels -> hit blocks
            rangedScan = FlatGeobuf.selectBboxRange(ranged, len, q)
            rangedScan
          case _ if part.start >= 0 =>
            // intra-shard split (manifest-sampled block boundary): the
            // header just read is authoritative for the section start —
            // refuse a stale/forged boundary list loudly rather than
            // emitting shifted feature-offset ids
            require(header.featuresOffset == part.dataStart,
              s"$file: manifest split base ${part.dataStart} != feature section " +
                s"at ${header.featuresOffset} — stale manifest splits; re-run a writer commit")
            stream.seek(part.start)
            FlatGeobuf.selectRangeStream(stream, header, part.start, part.end,
              onBlock = bytesDecoded += _, geomOnly = geomOnly)
          case _ =>
            FlatGeobuf.selectAllStream(stream, len, onBlock = bytesDecoded += _,
              geomOnly = geomOnly)
        }
        // pushed limit: per-partition stop (decoding halts with the
        // iterator — later blocks are never read off the stream)
        limit.fold(raw)(raw.take)
      }

      // column-pruned direct row building, shared with the geomedea reader
      private val toRow = FeatureRows.rowBuilder[Long](required, file) {
        case "feature_offset" => off => off
      }

      private var current: InternalRow = _
      override def next(): Boolean = {
        if (!iter.hasNext) return false
        val (off, f) = iter.next()
        rowsDecoded += 1
        current = toRow(off, f)
        true
      }
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
        if (rangedScan != null) bytesDecoded = rangedScan.bytesTransferred
        Array(GmTaskMetric("bytesDecoded", bytesDecoded),
          GmTaskMetric("rowsDecoded", rowsDecoded))
      }
      override def close(): Unit = if (stream != null) { stream.close(); stream = null }
    }
  }
}
