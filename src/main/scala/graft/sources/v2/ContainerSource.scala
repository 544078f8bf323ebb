package graft.sources.v2

import graft.geom.Envelope
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
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

/** `spark.read.format("geomedea")` and `spark.read.format("flatgeobuf")` —
  * one DataSourceV2 over both single-file containers ([[ContainerFormat]]
  * holds what differs), making the native-format interop first-class:
  * plain SQL / `spark.read` users get the same per-file packed-R-tree
  * pruning as the reference's `select_bbox` (`reader.rs:313-346`), driven
  * by ordinary Catalyst `WHERE` filters on the envelope stat columns
  * instead of a side-channel parameter. Reading both formats in one engine
  * reproduces the reference README's geomedea-vs-FGB comparison query for
  * query. Both formats read, stream and write ([[ContainerWriteBuilder]]).
  *
  * `load(path)` reads one container file or a directory of them;
  * `load(paths*)` reads the listed files and directories as one table
  * (one scan, every planner over the same concatenated file list).
  * Writes and streams take one path.
  *
  * Scale shape: one input partition per file (the formats are
  * single-node containers; a data lake of them fans out per file), or per
  * manifest-sampled split of an oversized one. Each partition reads in one
  * of two shapes ([[ContainerFormat.decode]]): one forward stream over its
  * byte range, or, with a bbox, the ranged index descent. A pushed limit
  * is a prefix of either. Pushed bbox filters prune twice:
  *  1. at PLANNING, whole files whose extent (manifest entry, or the
  *     header read — never the whole file) misses the query rect are
  *     never planned as partitions;
  *  2. at READ, surviving files run the bounded-transfer indexed scan
  *     ([[graft.sources.GeomedeaFile.selectBboxRange]],
  *     [[graft.sources.FlatGeobuf.selectBboxRange]]): positioned range
  *     reads walk header -> needed index levels -> hit pages/blocks, so
  *     pruned data never leaves storage OR decompresses — the reference's
  *     partial-download behavior (`http_reader.rs:86-107`) at both the
  *     transfer and the decode level.
  * Filter mapping (query rect q): `max_lng >= v` or `min_lng >= v` or
  * `lng = v` tighten q.minLng (a row's max >= min, so both imply
  * max_lng >= v — the intersection test's left bound); symmetrically for
  * the other three bounds. And() recurses; anything else is ignored
  * (left to Spark). The rect is a SUPERSET of the predicate, so a pushed
  * filter stays a residual for Spark to re-evaluate — except, for a
  * format whose index leaves hold the envelope columns' own values
  * ([[ContainerFormat.exactIndex]]: geomedea), the sides that ARE the
  * closed-interval intersection test ([[BboxFilterAbsorber.exact]]).
  * Those are claimed as fully pushed; when every filter is, a window
  * COUNT(*) is the count of intersecting index leaves ([[IndexCountScan]]).
  */
abstract class ContainerSource(format: ContainerFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = format.schema
  // true so df.write.format(...).save(dir) hands the dataframe's schema
  // through (the WRITE contract is wkb+props; extra columns ignored)
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    new ContainerTable(format, ContainerTable.pathsOf(properties,
      s"${format.name} source needs load(path), load(paths*) or save(path) — " +
        s"each a ${format.suffix} file or a directory of them"),
      if (schema == null || schema.isEmpty) format.schema else schema)
  }
}

// Spark registers one provider class per short name
class GeomedeaDataSource extends ContainerSource(ContainerFormat.Geomedea)
class FgbDataSource extends ContainerSource(ContainerFormat.FlatGeobuf)

object ContainerTable {

  /** One plannable file: byte length, header feature count, and (from a
    * validated manifest only) the writer-sampled intra-file split
    * boundaries — absolute page/block-aligned offsets, first = data-section
    * start — that let a full scan read ONE oversized shard as several
    * input partitions (the Parquet row-group-split analog).
    */
  final case class ScanFile(path: String, len: Long, count: Long,
                            splits: Vector[Long] = Vector.empty,
                            extent: Option[Envelope] = None)

  /** Intra-shard split expansion — the ONE copy every full-scan planner
    * (batch and stream) uses: one partition per sampled boundary run, the
    * whole file when the list is degenerate (< 2 boundaries).
    */
  def splitPartitions(path: String, len: Long,
                      splits: Vector[Long]): Seq[GeomedeaPartition] =
    if (splits.size < 2) Seq(GeomedeaPartition(path, len))
    else {
      val bounds = splits :+ len
      bounds.zip(bounds.tail).map { case (s, e) =>
        GeomedeaPartition(path, len, s, e, splits.head)
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

  /** The Hadoop conf for the tasks of one scan, micro-batch or write,
    * shipped once per executor as a broadcast (Spark's
    * `ParquetPartitionReaderFactory.broadcastedConf`), not inside every
    * task. It is read once here, so the driver's handle holds the value
    * and a factory driven on the driver fetches nothing: a fetch loads
    * Spark's compression codec through the thread's context class loader.
    */
  def shipConf(conf: Configuration): Broadcast[SerializableConfiguration] = {
    val shipped = SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))
    shipped.value
    shipped
  }

  /** Writes and streams address one location; only batch reads take a list. */
  def onePath(paths: Seq[String], use: String): String = {
    require(paths.size == 1,
      s"$use takes exactly one path; got ${paths.size}: ${paths.mkString(", ")}")
    paths.head
  }
}

/** Which per-file format invariant answers a pushed aggregate without
  * touching a page: COUNT(*) = sum of header feature counts
  * (`writer/mod.rs` finish()); MIN(min_lng)/MIN(min_lat)/MAX(max_lng)/
  * MAX(max_lat) = the fold of per-shard R-tree ROOT bounds, which the
  * geomedea writer maintains as the EXACT union of the feature envelopes —
  * so the table-wide extent (the reference's `info` summary / our q01) is
  * a header-only read. The misaligned pairs (e.g. MIN(max_lng)) are not
  * derivable from bounds and are never claimed. Each format names the
  * stats it answers ([[ContainerFormat.headerStats]]).
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

/** A complete-pushdown aggregate answered while Spark plans the query:
  * one row, which Spark plans as a `LocalTableScanExec` — no input
  * partition, no page decompressed, no feature decoded. (The aggregate's
  * output projection over it still runs as one single-task job.)
  */
abstract class AnswerScan(stats: Seq[HeaderStat]) extends LocalScan with SupportsReportStatistics {
  override def readSchema(): StructType = StructType(stats.map {
    case HeaderStat.CountRows => StructField("count", LongType, nullable = false)
    // min/max over zero rows is NULL (an empty lake has no extent)
    case s => StructField(s.toString, IntegerType, nullable = true)
  })
  // statically known: one short row — without this, a join against the
  // pushed aggregate would see default-huge stats and decline to broadcast
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(16L)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(1L)
  }
  /** The row's values, in `stats` order. */
  protected def values: Array[Any]
  private lazy val answer: Array[InternalRow] = Array(new GenericInternalRow(values))
  override def rows(): Array[InternalRow] = answer
}

/** Filterless header aggregates, computed from the builder's planned
  * files (per-file header reads or the one manifest read).
  */
class HeaderStatsScan(format: ContainerFormat, paths: Seq[String], stats: Seq[HeaderStat],
                      files: Seq[ContainerTable.ScanFile])
    extends AnswerScan(stats) {
  override def description(): String =
    s"HeaderStatsScan ${format.name} path=${paths.mkString(",")} " +
      s"(header-only ${stats.mkString(",")})"
  protected def values: Array[Any] = {
    // count-0 shards have no root node and map to extent None — they
    // contribute to COUNT (nothing) but must not poison the extent fold
    val extent = files.flatMap(_.extent).reduceOption(_ union _)
    stats.map {
      case HeaderStat.CountRows => files.map(_.count).sum: Any
      case HeaderStat.MinLng    => extent.map(e => Int.box(e.minLng)).orNull: Any
      case HeaderStat.MinLat    => extent.map(e => Int.box(e.minLat)).orNull: Any
      case HeaderStat.MaxLng    => extent.map(e => Int.box(e.maxLng)).orNull: Any
      case HeaderStat.MaxLat    => extent.map(e => Int.box(e.maxLat)).orNull: Any
    }.toArray
  }
}

/** A window COUNT(*) whose every filter was claimed exact: the sum, over
  * the files the window keeps, of the index leaves intersecting `q`
  * ([[ContainerFormat.indexCount]] — header and the needed index levels
  * only), walked on the planner pool.
  */
class IndexCountScan(format: ContainerFormat, paths: Seq[String], stats: Seq[HeaderStat],
                     q: Envelope, files: Seq[ContainerTable.ScanFile])
    extends AnswerScan(stats) {
  override def description(): String =
    s"IndexCountScan ${format.name} path=${paths.mkString(",")} bbox=$q"
  protected def values: Array[Any] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val n = PlannerPool.mapFiles(files) { f =>
      val p = new Path(f.path)
      format.indexCount(p.getFileSystem(conf), p, f.len, q)
    }.sum
    stats.map(_ => n: Any).toArray
  }
}

class ContainerTable(format: ContainerFormat, paths: Seq[String],
                     tableSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  def this(format: ContainerFormat, paths: Seq[String]) = this(format, paths, format.schema)
  override def name(): String = s"${format.name}.`${paths.mkString(",")}`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(tableSchema == format.schema,
      s"${format.name} reads use the source's own schema; " +
        "user-specified read schemas are unsupported")
    new ContainerScanBuilder(format, paths, BboxFilterAbsorber.fromOptions(options))
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder = {
    FeatureRows.requireWritable(format.name, info.schema())
    new ContainerWriteBuilder(format,
      ContainerTable.onePath(paths, s"a ${format.name} write"), info)
  }
}

class ContainerScanBuilder(format: ContainerFormat, paths: Seq[String],
                           optBbox: Option[Envelope] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  private val absorber = new BboxFilterAbsorber
  optBbox.foreach(absorber.seed)
  private var pushed = Array.empty[Filter]
  private var residual = Array.empty[Filter]
  private var required: StructType = format.schema
  private var limit: Option[Int] = None

  /** Catalyst only offers the limit when no residual filter sits between
    * LIMIT and the scan. Partial push (return false): each partition
    * emits at most `n` rows — decoding stops early and file planning
    * keeps only enough files — and Spark still applies the global limit.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  private var pushedStats: Option[Seq[HeaderStat]] = None

  /** The query's files, planned once for whichever scan [[build]] makes:
    * the header reads an accepted aggregate is answered from are the ones
    * its acceptance checked. Filters are pushed before aggregates and
    * the build, so the rect is final when this is first read.
    */
  private lazy val files: Seq[ContainerTable.ScanFile] = format.scanFiles(paths, absorber.bbox)

  /** Filterless aggregates the format's headers answer exactly
    * ([[ContainerFormat.headerStats]]: COUNT(*), and for geomedea the
    * envelope MIN/MAX from the R-tree root bounds) are answered ENTIRELY
    * from the headers — and only when every planned count is known (an
    * FGB count of 0 is UNKNOWN; otherwise Spark counts normally). The
    * explicit bbox OPTION restricts the scan like a filter would, so
    * whole-table answers are not offered with it set.
    */
  private def headerAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
  : Option[Seq[HeaderStat]] =
    if (pushed.nonEmpty || optBbox.isDefined) None
    else HeaderStat.parse(agg).filter(stats =>
      stats.forall(format.headerStats) && files.forall(f => format.countKnown(f.count)))

  /** COUNT(*) under a window whose every filter was claimed exact
    * ([[pushFilters]]) is the count of intersecting index leaves.
    * Catalyst only offers aggregates when no residual filter is left.
    */
  private def indexAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
  : Option[Seq[HeaderStat]] =
    if (pushed.isEmpty || residual.nonEmpty) None
    else HeaderStat.parse(agg).filter(_.forall(_ == HeaderStat.CountRows))

  private def answer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
  : Option[Seq[HeaderStat]] = headerAnswer(agg).orElse(indexAnswer(agg))

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedStats = answer(agg)
    pushedStats.isDefined
  }

  /** Every filter the rect absorbs is pushed (it prunes files, index
    * subtrees and pages). The residual, for Spark to re-evaluate, is
    * every filter except the exact sides ([[BboxFilterAbsorber.exact]]),
    * which are claimed only for a format with an exact index, with no
    * `bbox` option, and while the rect is not inverted.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(absorber.absorb)
    val claims = format.exactIndex && optBbox.isEmpty && !absorber.inverted
    residual = if (claims) filters.filterNot(BboxFilterAbsorber.exact) else filters
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  /** Top-level column pruning only: Spark may hand us a NESTED-pruned
    * schema (e.g. props element struct reduced to {kind,i}); widen each
    * kept field back to its full type — the reader emits whole cells, and
    * a narrowed readSchema would shift struct ordinals and misread them.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f => format.schema(f.name)))

  override def build(): Scan = {
    val bbox = absorber.bbox
    pushedStats match {
      case Some(stats) =>
        // invariant, enforced loudly: header answers are whole-table, so
        // they need no filter and no bbox; an index count (COUNT(*) only)
        // needs every filter claimed exact. Anything else would be a
        // silent wrong answer, so it is an immediate error instead.
        val headerOnly = pushed.isEmpty && bbox.isEmpty
        require(headerOnly || (pushed.nonEmpty && residual.isEmpty && format.exactIndex &&
          stats.forall(_ == HeaderStat.CountRows)),
          "aggregate pushdown reached with unclaimed filters — its answer would be wrong")
        if (headerOnly) new HeaderStatsScan(format, paths, stats, files)
        else new IndexCountScan(format, paths, stats, absorber.rect, files)
      case None => new ContainerScan(format, paths, bbox, pushed, required, limit, () => files)
    }
  }
}

/** `planned` is the builder's file list for this query: a batch read
  * plans it once, and a stream never does.
  */
class ContainerScan(format: ContainerFormat, paths: Seq[String], bbox: Option[Envelope],
                    pushed: Array[Filter], required: StructType, limit: Option[Int],
                    planned: () => Seq[ContainerTable.ScanFile])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ContainerScan ${format.name} path=${paths.mkString(",")} bbox=${bbox.getOrElse("all")} " +
      s"limit=${limit.getOrElse(-1)} PushedFilters: [${pushed.mkString(", ")}]"

  /** SQL-UI scan metrics: decoded pages/bytes/rows summed across tasks —
    * the distributed twin of the reference's CountingReader request/byte
    * accounting (its README's "153 requests, 81,175,859 bytes").
    */
  override def supportedCustomMetrics(): Array[CustomMetric] = format.metrics

  private lazy val keptFiles: Seq[ContainerTable.ScanFile] = planned()

  private def countsKnown: Boolean = keptFiles.forall(f => format.countKnown(f.count))

  override def planInputPartitions(): Array[InputPartition] =
    ContainerScan.partitions(format, keptFiles, bbox, limit)

  /** True statistics from the headers — Catalyst's join-side sizing (e.g.
    * auto-broadcast of a small container table) sees real numbers, not a
    * default-huge relation. With a bbox pushed, rows/bytes are the kept
    * files' totals: a safe upper bound of what the pruned read returns.
    * Rows only when every count is known: summing an unknown in would
    * under-report and invite a bad broadcast.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(keptFiles.map(_.len).sum)
    override def numRows(): java.util.OptionalLong =
      if (countsKnown) java.util.OptionalLong.of(keptFiles.map(_.count).sum)
      else java.util.OptionalLong.empty()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ContainerReaderFactory(format, bbox, required, limit,
      ContainerTable.shipConf(SparkSession.active.sessionState.newHadoopConf()))

  /** Streaming read (`spark.readStream.format(...)`): tail the shard
    * directory, planning each micro-batch's NEW shards through the same
    * file planner and partition builder as the batch scan.
    */
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ContainerMicroBatchStream(format,
      ContainerTable.onePath(paths, s"a ${format.name} stream"), bbox, required,
      checkpointLocation)
}

object ContainerScan {

  /** Input partitions over planned files, for a batch scan and a
    * micro-batch alike (a stream passes no limit). With a pushed limit and
    * no bbox (no residual filtering possible — filters block limit
    * pushdown upstream), only enough files to cover the limit are
    * planned: header counts accumulate until >= n, when every count is
    * known — an unknown one could hide any number of rows, and the
    * reader-side per-partition stop carries the bound. A plain full scan
    * (no bbox, no limit) additionally SPLITS each shard at the manifest's
    * writer-sampled boundaries, so one oversized shard decodes as several
    * tasks instead of one serial read. With a bbox, partitions stay
    * whole-file: the indexed reader scans per file, and a split copy of
    * it would re-emit hits.
    */
  private[v2] def partitions(format: ContainerFormat, files: Seq[ContainerTable.ScanFile],
                             bbox: Option[Envelope], limit: Option[Int]): Array[InputPartition] =
    (bbox, limit) match {
      case (None, Some(n)) if files.forall(f => format.countKnown(f.count)) =>
        var cum = 0L
        files.takeWhile { f => val need = cum < n; cum += f.count; need }
          .map(f => GeomedeaPartition(f.path, f.len): InputPartition).toArray
      case (None, None) =>
        files.flatMap(f => ContainerTable.splitPartitions(f.path, f.len, f.splits))
          .map(p => p: InputPartition).toArray
      case _ => files.map(f => GeomedeaPartition(f.path, f.len): InputPartition).toArray
    }
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

/** One `len`-byte container file, as planning listed it. `start >= 0`
  * selects a page/block-aligned byte range `[start, end)` of the file (an
  * intra-shard split from the manifest's sampled boundaries; `dataStart`
  * anchors the stable location ids); the defaults mean "the whole file".
  */
final case class GeomedeaPartition(file: String, len: Long, start: Long = -1L, end: Long = -1L,
                                   dataStart: Long = -1L) extends InputPartition

class ContainerReaderFactory(format: ContainerFormat, bbox: Option[Envelope],
                             required: StructType, limit: Option[Int],
                             conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[GeomedeaPartition]
    val p = new Path(part.file)
    // geometry-only decode: when no property column is projected, the
    // scan jumps over each feature's props bytes instead of materializing
    // strings/values the query never reads
    val decode = format.decode(p.getFileSystem(conf.value.value), part, bbox,
      FeatureRows.geomOnly(required))
    // the pushed limit, applied once for every shape: decoding stops with
    // the iterator, so later pages/blocks are never read
    val features = limit.fold(decode.features)(decode.features.take)
    new PartitionReader[InternalRow] {
      // column-pruned direct row building: only the projected columns
      // are generated, props included
      private val toRow =
        FeatureRows.rowBuilder[format.Loc](required, part.file)(format.locationColumns)
      private val metrics = format.metrics
      private var stream = decode.stream
      private var rowsDecoded = 0L
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (!features.hasNext) return false
        val (loc, f) = features.next()
        rowsDecoded += 1
        current = toRow(loc, f)
        true
      }
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
        val (pages, bytes) = decode.counters()
        metrics.map(m => GmTaskMetric(m.name, m match {
          case _: GmPagesMetric => pages
          case _: GmBytesMetric => bytes
          case _                => rowsDecoded
        }))
      }
      override def close(): Unit = if (stream != null) { stream.close(); stream = null }
    }
  }
}
