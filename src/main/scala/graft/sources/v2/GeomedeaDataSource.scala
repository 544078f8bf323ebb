package graft.sources.v2

import graft.geom.Envelope
import graft.sources.GeomedeaFile
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("geomedea")` — a DataSourceV2 over the reference's
  * single-file container, making the native-format interop first-class:
  * plain SQL / `spark.read` users get the same per-file packed-R-tree
  * pruning as the reference's `select_bbox` (`reader.rs:313-346`), driven
  * by ordinary Catalyst `WHERE` filters on the envelope stat columns
  * instead of a side-channel parameter.
  *
  * `load(path)` reads one `.geomedea` file or a directory of them;
  * `load(paths*)` reads the listed files and directories as one table
  * (one scan, every planner over the same concatenated file list).
  * Writes and streams take one path.
  *
  * Scale shape: one input partition per `.geomedea` file (the format is a
  * single-node container; a data lake of them fans out per file, same as
  * `GeomedeaSpark.readDir`). Pushed bbox filters prune twice:
  *  1. at PLANNING, whole files whose R-tree ROOT bounds (= file extent,
  *     read from the first 45 header bytes, never the whole file) miss
  *     the query rect are never planned as partitions;
  *  2. at READ, surviving files run the bounded-transfer indexed scan
  *     ([[GeomedeaFile.selectBboxRange]]): positioned range reads walk
  *     header -> needed index levels -> hit pages, so pruned pages never
  *     leave storage OR decompress — the reference's partial-download
  *     behavior (`http_reader.rs:86-107`) at both the transfer and the
  *     decode level.
  * Pruning is a strict SUPERSET of the predicate (closed-interval R-tree
  * intersection), so every pushed filter is also returned as a residual
  * for Spark to re-evaluate — correctness never depends on the index.
  *
  * Filter mapping (query rect q): `max_lng >= v` or `min_lng >= v` or
  * `lng = v` tighten q.minLng (a row's max >= min, so both imply
  * max_lng >= v — the intersection test's left bound); symmetrically for
  * the other three bounds. And() recurses; anything else is ignored
  * (left to Spark).
  */
class GeomedeaDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geomedea"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GeomedeaTable.Schema
  // true so df.write.format("geomedea").save(dir) hands the dataframe's
  // schema through (the WRITE contract is wkb+props; extra columns ignored)
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    new GeomedeaTable(GeomedeaTable.pathsOf(properties,
      "geomedea source needs load(path), load(paths*) or save(path) — " +
        "each a .geomedea file or a directory of them"),
      if (schema == null || schema.isEmpty) GeomedeaTable.Schema else schema)
  }
}

object GeomedeaTable {
  /** Output row ([[FeatureRows.tableSchema]]): (page_offset,
    * feature_offset) is the format's own stable FeatureLocation
    * (`format.rs:4-10`), identical across pruned and full scans.
    */
  val Schema: StructType = FeatureRows.tableSchema(
    StructField("page_offset", LongType, nullable = false),
    StructField("feature_offset", IntegerType, nullable = false))

  val World: Envelope = Envelope(Int.MinValue, Int.MinValue, Int.MaxValue, Int.MaxValue)

  /** File extent without reading the file: header (17B) + R-tree root
    * node bounds (nodes are root-first, `packed_r_tree/mod.rs:32-41`).
    * None when the file is empty (featureCount 0 — no root exists).
    */
  def fileExtent(head: Array[Byte]): Option[Envelope] = {
    val r = new graft.codec.FeatureCodec.R(head)
    val (_, _, featureCount) = graft.codec.FeatureCodec.decodeHeader(r)
    if (featureCount == 0) return None
    val bb = java.nio.ByteBuffer.wrap(head, r.pos, 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Some(Envelope(bb.getInt, bb.getInt, bb.getInt, bb.getInt))
  }

  val HeadBytes: Int = graft.codec.FeatureCodec.HeaderBytes + graft.index.PackedRTree.NodeBytes

  /** One plannable file: byte length, header feature count, and (from a
    * validated manifest only) the writer-sampled intra-file split
    * boundaries — absolute page-aligned offsets, first = data-section
    * start — that let a full scan read ONE oversized shard as several
    * input partitions (the Parquet row-group-split analog).
    */
  final case class ScanFile(path: String, len: Long, count: Long,
                            splits: Vector[Long] = Vector.empty,
                            extent: Option[Envelope] = None)

  /** Intra-shard split expansion — the ONE copy every full-scan planner
    * (batch geomedea + fgb, both streams) uses: one partition per
    * sampled boundary run, the whole file when the list is degenerate
    * (< 2 boundaries). Boundary pairing must be identical everywhere or
    * the same manifest plans differently-shaped partitions per caller.
    */
  def splitPartitions(path: String, len: Long,
                      splits: Vector[Long]): Seq[GeomedeaPartition] =
    if (splits.size < 2) Seq(GeomedeaPartition(path))
    else {
      val bounds = splits :+ len
      bounds.zip(bounds.tail).map { case (s, e) =>
        GeomedeaPartition(path, s, e, splits.head)
      }
    }

  /** The load's path list. `DataFrameReader.load(paths*)` hands one path
    * as the `path` option and several as `paths`, a JSON array (the same
    * reading as Spark's file sources).
    */
  def pathsOf(properties: java.util.Map[String, String], missing: String): Seq[String] = {
    val listed = Option(properties.get("paths")).toSeq.flatMap(json =>
      new com.fasterxml.jackson.databind.ObjectMapper().readValue(json, classOf[Array[String]]))
    val paths = listed ++ Option(properties.get("path"))
    if (paths.isEmpty) throw new IllegalArgumentException(missing)
    paths
  }

  /** Writes and streams address one location; only batch reads take a list. */
  def onePath(paths: Seq[String], use: String): String = {
    require(paths.size == 1,
      s"$use takes exactly one path; got ${paths.size}: ${paths.mkString(", ")}")
    paths.head
  }

  /** Planning shared by both container sources: each entry of `paths` is
    * one container file or a directory of them. A directory written by
    * the v2 writer carries a [[GeomedeaManifest]] — extents/counts for the
    * whole lake in ONE driver read (validated against the listing: exact
    * file-name coverage with matching byte lengths, else ignored), so a
    * 100k-shard lake plans without 100k header round trips on every
    * query; its files go through `fromManifest`. Every other file (a
    * listed file, or a directory without a valid manifest) goes through
    * `fromHeader`, all of them fanned out on one bounded pool — serial
    * object-store round trips would make PLANNING the bottleneck
    * (Spark's own parquet footer reads use the same trick). Concatenated
    * and re-sorted by path for deterministic planning.
    */
  private[v2] def planFiles(paths: Seq[String], suffix: String)(
      fromManifest: (FileStatus, GeomedeaManifest.Entry) => Option[ScanFile])(
      fromHeader: (FileSystem, FileStatus) => Option[ScanFile]): Seq[ScanFile] = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val (described, unread) = paths.partitionMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) Right(Seq(fs -> st))
      else {
        val files =
          fs.listStatus(p).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
        GeomedeaManifest.validated(fs, p, files) match {
          case Some(m) => Left(files.flatMap(f => fromManifest(f, m(f.getPath.getName))))
          case None    => Right(files.map(fs -> _)) // absent or stale: header reads
        }
      }
    }
    val headed = PlannerPool.mapFiles(unread.flatten) { case (fs, s) => fromHeader(fs, s) }
    (described.flatten ++ headed.flatten).sortBy(_.path)
  }

  /** Surviving files with byte length and header feature count
    * ([[planFiles]]): manifest entries, or one 45-byte head read per
    * file (the format's analog of a parquet footer read). With a bbox,
    * files whose R-tree ROOT bounds (= manifest extent) miss the rect
    * are dropped.
    */
  def scanFiles(paths: Seq[String], bbox: Option[Envelope]): Seq[ScanFile] =
    planFiles(paths, ".geomedea") { (f, e) =>
      val keep = bbox match {
        case None    => true
        case Some(q) => e.extent.exists(_.intersects(q))
      }
      if (keep) Some(ScanFile(f.getPath.toString, f.getLen, e.count, e.validSplits, e.extent))
      else None
    } { (fs, s) =>
      require(s.getLen >= graft.codec.FeatureCodec.HeaderBytes,
        s"${s.getPath}: ${s.getLen} bytes is shorter than a .geomedea header " +
          s"(${graft.codec.FeatureCodec.HeaderBytes}) — truncated or not a geomedea file")
      val in = fs.open(s.getPath)
      val head = new Array[Byte](math.min(HeadBytes.toLong, s.getLen).toInt)
      try in.readFully(0, head) finally in.close()
      val count = graft.codec.FeatureCodec.decodeHeader(
        new graft.codec.FeatureCodec.R(head))._3
      val keep = bbox match {
        case None    => true
        case Some(q) => fileExtent(head).exists(_.intersects(q))
      }
      if (keep) Some(ScanFile(s.getPath.toString, s.getLen, count, Vector.empty,
        fileExtent(head))) else None
    }

  /** [[scanFiles]] of one `load(path)`. */
  def scanFiles(path: String, bbox: Option[Envelope]): Seq[ScanFile] =
    scanFiles(Seq(path), bbox)
}

/** Which per-file format invariant answers a pushed aggregate without
  * touching a page: COUNT(*) = sum of header featureCounts
  * (`writer/mod.rs` finish()); MIN(min_lng)/MIN(min_lat)/MAX(max_lng)/
  * MAX(max_lat) = the fold of per-shard R-tree ROOT bounds, which the
  * writer maintains as the EXACT union of the feature envelopes — so
  * the table-wide extent (the reference's `info` summary / our q01) is
  * a header-only read. The misaligned pairs (e.g. MIN(max_lng)) are not
  * derivable from bounds and are never claimed. The FGB source offers
  * COUNT(*) only: its header envelope is degree doubles, outward-rounded
  * against the scaled-int columns, and spec-legal foreign writers may
  * store loose bounds — a pushed min/max there could be wrong by a unit.
  */
sealed trait HeaderStat
object HeaderStat {
  case object CountRows extends HeaderStat
  case object MinLng extends HeaderStat
  case object MinLat extends HeaderStat
  case object MaxLng extends HeaderStat
  case object MaxLat extends HeaderStat

  /** The stat list iff EVERY aggregate (no grouping) is header-answerable;
    * None otherwise — partial pushdown is never claimed.
    */
  def parse(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
  : Option[Seq[HeaderStat]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def field(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    if (agg.groupByExpressions().nonEmpty) return None
    val stats = agg.aggregateExpressions().map {
      case _: CountStar => Some(CountRows)
      case m: Min => field(m.column()) match {
        case Some("min_lng") => Some(MinLng)
        case Some("min_lat") => Some(MinLat)
        case _               => None
      }
      case m: Max => field(m.column()) match {
        case Some("max_lng") => Some(MaxLng)
        case Some("max_lat") => Some(MaxLat)
        case _               => None
      }
      case _ => None
    }
    if (stats.forall(_.isDefined)) Some(stats.map(_.get).toSeq) else None
  }
}

/** Complete-pushdown header aggregates: one partition, one row, computed
  * from the same per-file header reads (or the one manifest read)
  * planning does — no page is ever decompressed, no feature decoded.
  */
class GeomedeaStatsScan(paths: Seq[String], stats: Seq[HeaderStat])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = StructType(stats.map {
    case HeaderStat.CountRows => StructField("count", LongType, nullable = false)
    // min/max over zero rows is NULL (an empty lake has no extent)
    case s => StructField(s.toString, IntegerType, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"GeomedeaStatsScan path=${paths.mkString(",")} (header-only ${stats.mkString(",")})"
  // statically known: one short row — without this, a join against the
  // pushed aggregate would see default-huge stats and decline to broadcast
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(16L)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(1L)
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(GeomedeaPartition("<header-stats>"))
  override def createReaderFactory(): PartitionReaderFactory = {
    val files = GeomedeaTable.scanFiles(paths, None)
    // count-0 shards have no root node and map to extent None — they
    // contribute to COUNT (nothing) but must not poison the extent fold
    val extent = files.flatMap(_.extent).reduceOption(_ union _)
    val values: Array[Any] = stats.map {
      case HeaderStat.CountRows => files.map(_.count).sum: Any
      case HeaderStat.MinLng    => extent.map(e => Int.box(e.minLng)).orNull: Any
      case HeaderStat.MinLat    => extent.map(e => Int.box(e.minLat)).orNull: Any
      case HeaderStat.MaxLng    => extent.map(e => Int.box(e.maxLng)).orNull: Any
      case HeaderStat.MaxLat    => extent.map(e => Int.box(e.maxLat)).orNull: Any
    }.toArray
    GeomedeaStatsReaderFactory(values)
  }
}

final case class GeomedeaStatsReaderFactory(values: Array[Any]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(values)
      override def close(): Unit = ()
    }
}

class GeomedeaTable(paths: Seq[String], tableSchema: StructType = GeomedeaTable.Schema)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"geomedea.`${paths.mkString(",")}`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(tableSchema == GeomedeaTable.Schema,
      "geomedea reads use the source's own schema; user-specified read schemas are unsupported")
    new GeomedeaScanBuilder(paths, BboxFilterAbsorber.fromOptions(options))
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder = {
    FeatureRows.requireWritable("geomedea", info.schema())
    new GeomedeaWriteBuilder(GeomedeaTable.onePath(paths, "a geomedea write"), info)
  }
}

class GeomedeaScanBuilder(paths: Seq[String],
                          optBbox: Option[graft.geom.Envelope] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  private val absorber = new BboxFilterAbsorber
  optBbox.foreach(absorber.seed)
  private var pushed = Array.empty[Filter]
  private var required: StructType = GeomedeaTable.Schema
  private var limit: Option[Int] = None

  /** Catalyst only offers the limit when no residual filter sits between
    * LIMIT and the scan (we keep every filter residual, so a filtered
    * query never reaches here). Partial push (return false): each
    * partition emits at most `n` rows — decoding stops early and file
    * planning keeps only enough files — and Spark still applies the
    * global limit.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  private var pushedStats: Option[Seq[HeaderStat]] = None

  /** Filterless COUNT(*) / envelope MIN-MAX aggregates are answered
    * ENTIRELY from the 45-byte file headers (featureCount and the
    * R-tree root bounds are format invariants the writer maintains —
    * see [[HeaderStat]]): no page is ever decompressed, no feature
    * decoded. Catalyst only offers aggregate pushdown when every filter
    * was fully pushed; ours are always residual, so a filtered
    * aggregate never reaches here. The explicit bbox OPTION restricts
    * the scan like a filter would, so header-only answers (whole-table)
    * must not be offered with it set.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    optBbox.isEmpty && HeaderStat.parse(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (optBbox.isEmpty) {
      pushedStats = HeaderStat.parse(agg)
      pushedStats.isDefined
    } else false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // superset semantics (see BboxFilterAbsorber): the absorbed rect's
    // closed-interval intersection admits every row the filter admits
    pushed = filters.filter(absorber.absorb)
    filters // all filters stay residual: the index prune is a superset
  }
  override def pushedFilters(): Array[Filter] = pushed
  /** Top-level column pruning only: Spark may hand us a NESTED-pruned
    * schema (e.g. props element struct reduced to {kind,i}); widen each
    * kept field back to its full type — the reader emits whole cells, and
    * a narrowed readSchema would shift struct ordinals and misread them.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f => GeomedeaTable.Schema(f.name)))

  override def build(): Scan = {
    val bbox = absorber.bbox
    pushedStats match {
      case Some(stats) =>
        // invariant, enforced loudly: header-only answers are correct ONLY
        // for an unfiltered table. Catalyst never offers aggregate pushdown
        // while residual filters exist, and all our filters stay residual —
        // but if a future change ever claims a filter as fully pushed, this
        // turns silent wrong answers into an immediate error.
        require(pushed.isEmpty && bbox.isEmpty,
          "aggregate pushdown reached with filters absorbed — header-only answers would be wrong")
        new GeomedeaStatsScan(paths, stats)
      case None => new GeomedeaScan(paths, bbox, pushed, required, limit)
    }
  }
}

class GeomedeaScan(paths: Seq[String], bbox: Option[Envelope], pushed: Array[Filter],
                   required: StructType, limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GeomedeaScan path=${paths.mkString(",")} bbox=${bbox.getOrElse("all")} " +
      s"limit=${limit.getOrElse(-1)} PushedFilters: [${pushed.mkString(", ")}]"

  /** SQL-UI scan metrics: decoded pages/bytes/rows summed across tasks —
    * the distributed twin of the reference's CountingReader request/byte
    * accounting (its README's "153 requests, 81,175,859 bytes").
    */
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GmPagesMetric, new GmBytesMetric, new GmRowsMetric)

  private lazy val keptFiles: Seq[GeomedeaTable.ScanFile] = GeomedeaTable.scanFiles(paths, bbox)

  /** With a pushed limit and no bbox (no residual filtering possible —
    * filters block limit pushdown upstream), only enough files to cover
    * the limit are planned: header featureCounts accumulate until >= n.
    * A plain full scan (no bbox, no limit) additionally SPLITS each
    * shard at the manifest's writer-sampled page boundaries, so one
    * oversized shard decodes as several tasks instead of one serial
    * read — parallelism is no longer capped at the shard count.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    (bbox, limit) match {
      case (None, Some(n)) =>
        var cum = 0L
        keptFiles.takeWhile { f => val need = cum < n; cum += f.count; need }
          .map(f => GeomedeaPartition(f.path): InputPartition).toArray
      case (None, None) =>
        keptFiles.flatMap(f => GeomedeaTable.splitPartitions(f.path, f.len, f.splits))
          .map(p => p: InputPartition).toArray
      case _ => keptFiles.map(f => GeomedeaPartition(f.path): InputPartition).toArray
    }
  }

  /** True statistics from the headers — Catalyst's join-side sizing (e.g.
    * auto-broadcast of a small geomedea table) sees real numbers, not a
    * default-huge relation. With a bbox pushed, rows/bytes are the kept
    * files' totals: a safe upper bound of what the page-pruned read
    * returns.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(keptFiles.map(_.len).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(keptFiles.map(_.count).sum)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GeomedeaReaderFactory(bbox, required, limit,
      new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf()))

  /** Streaming read (`spark.readStream.format("geomedea")`): tail the
    * shard directory, one micro-batch partition per NEW shard, with the
    * same pushed-bbox file pruning and column pruning as the batch scan.
    */
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GeomedeaMicroBatchStream(GeomedeaTable.onePath(paths, "a geomedea stream"), bbox,
      required, checkpointLocation)
}

/** Sum-aggregated scan metrics. Concrete 0-arg classes, NOT a
  * parameterized one: the SQL UI's SQLAppStatusListener re-instantiates
  * the metric by CLASS NAME via a zero-argument constructor to aggregate
  * task values — a constructor-parameterized metric silently breaks UI
  * aggregation (Utils.loadExtensions warning at execution end).
  */
class GmPagesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "pagesDecoded"
  override def description(): String = "container pages decompressed"
}
class GmBytesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bytesDecoded"
  override def description(): String = "container bytes transferred/decoded"
}
class GmRowsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowsDecoded"
  override def description(): String = "features decoded"
}

final case class GmTaskMetric(name: String, value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric

/** `start >= 0` selects a page-aligned byte range `[start, end)` of the
  * file (an intra-shard split from the manifest's sampled boundaries;
  * `dataStart` anchors the stable page-offset location ids); the
  * defaults mean "the whole file".
  */
final case class GeomedeaPartition(file: String, start: Long = -1L, end: Long = -1L,
                                   dataStart: Long = -1L) extends InputPartition

class GeomedeaReaderFactory(bbox: Option[Envelope], required: StructType,
                            limit: Option[Int], conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[GeomedeaPartition]
    val file = part.file
    new PartitionReader[InternalRow] {
      // column-pruned direct row building: only the projected columns
      // are generated, props included
      private val toRow = FeatureRows.rowBuilder[(Long, Int)](required, file) {
        case "page_offset"    => _._1
        case "feature_offset" => _._2
      }
      // geometry-only page decode: when no property column is projected,
      // the scan jumps over each feature's props bytes instead of
      // materializing strings/values the query never reads
      private val geomOnly = FeatureRows.geomOnly(required)
      private var pagesDecoded = 0L
      private var bytesDecoded = 0L
      private var rowsDecoded = 0L
      // live accounting override for scans that track their own counters
      private var metricSource: () => (Long, Long) = null

      // every branch STREAMS with bounded memory and bounded transfer —
      // nothing ever materializes a whole file, so shard size is
      // unconstrained on the read side (the reference reader's O(page)
      // shape, `reader.rs:11-156`)
      private val p = new Path(file)
      private val fs = p.getFileSystem(conf.value)
      private var stream: org.apache.hadoop.fs.FSDataInputStream = null

      private val iter = {
        val len = fs.getFileStatus(p).getLen
        val feats: Iterator[((Long, Int), graft.codec.FeatureCodec.Feature)] =
          (bbox, limit) match {
            case (Some(q), _) =>
              // bounded TRANSFER bbox read (the reference's partial-
              // download path, http_reader.rs:86-107): positioned range
              // reads walk header -> needed index levels (range-merged)
              // -> hit pages (batched windows); pruned pages and index
              // subtrees never leave storage
              stream = fs.open(p)
              val scan = GeomedeaFile.selectBboxRange((off, k) => {
                val buf = new Array[Byte](k); stream.readFully(off, buf); buf
              }, len, q)
              metricSource = () => (scan.pagesDecoded, scan.bytesTransferred)
              limit.fold(scan: Iterator[((Long, Int), graft.codec.FeatureCodec.Feature)])(scan.take)
            case (None, Some(n)) =>
              // bounded transfer AND bounded decode: header + page prefix
              // only, never the index or the remaining pages
              val in = fs.open(p)
              try {
                val read = GeomedeaFile.selectLimitRange((off, k) => {
                  val buf = new Array[Byte](k); in.readFully(off, buf); buf
                }, n)
                pagesDecoded = read.pagesDecoded
                bytesDecoded = read.bytesDecoded
                read.features.iterator
              } finally in.close()
            case (None, None) if part.start >= 0 =>
              // intra-shard split (manifest-sampled page boundary):
              // positioned header read for the compressed flag — and to
              // RE-DERIVE the data-section start from the authoritative
              // header, refusing a stale/forged boundary list loudly
              // rather than emitting shifted location ids
              stream = fs.open(p)
              val head = new Array[Byte](graft.codec.FeatureCodec.HeaderBytes)
              stream.readFully(0, head)
              val (comp, _, fc) =
                graft.codec.FeatureCodec.decodeHeader(new graft.codec.FeatureCodec.R(head))
              val realDataStart = graft.codec.FeatureCodec.HeaderBytes.toLong +
                graft.index.PackedRTree.nodeCount(fc) * graft.index.PackedRTree.NodeBytes
              require(realDataStart == part.dataStart,
                s"$file: manifest split base ${part.dataStart} != data section " +
                  s"at $realDataStart — stale manifest splits; re-run a writer commit")
              stream.seek(part.start)
              GeomedeaFile.selectPageRange(stream, comp, part.start, part.end,
                part.dataStart, onPage = bytes => {
                  pagesDecoded += 1; bytesDecoded += bytes
                }, geomOnly = geomOnly)
            case (None, None) =>
              // page-by-page streaming full scan: O(page) task memory
              stream = fs.open(p)
              GeomedeaFile.selectAllStream(stream, onPage = bytes => {
                pagesDecoded += 1; bytesDecoded += bytes
              }, geomOnly = geomOnly)
          }
        feats
      }

      private var current: InternalRow = _
      override def next(): Boolean = {
        if (!iter.hasNext) return false
        val (loc, f) = iter.next()
        rowsDecoded += 1
        current = toRow(loc, f)
        true
      }
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
        if (metricSource != null) {
          val (pages, bytes) = metricSource()
          pagesDecoded = pages; bytesDecoded = bytes
        }
        Array(GmTaskMetric("pagesDecoded", pagesDecoded),
          GmTaskMetric("bytesDecoded", bytesDecoded),
          GmTaskMetric("rowsDecoded", rowsDecoded))
      }
      override def close(): Unit = if (stream != null) { stream.close(); stream = null }
    }
  }
}
