package graft

import graft.expr.GraftFunctions._
import graft.geom.Envelope
import graft.jobs.{AsOf, Dedup, Ingest, IntervalJoin, Knn, Media, Quantiles, Sessions, Similarity, SpatialJoin, Split, TextOps, Tiles}
import graft.table.InterleavedDocs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: every implemented operator appears in [[queries]];
  * SQL-expressible ones carry a DuckDB oracle in [[oracleSql]] (the
  * driver's correctness gate), the rest get rows-only checks and are
  * cross-verified against brute-force equivalents in the ScalaTest suite.
  *
  * All geometry reaching these queries flows through the real engine path:
  * spans array -> hex WKB -> envelope expressions -> cells/Hilbert/R-tree;
  * the oracles replay the geometry with pure integer SQL arithmetic,
  * never parsing WKB — an independent check of the whole codec stack.
  */
object SparkEntry {

  private def geo(s: SparkSession, dir: String): DataFrame =
    InterleavedDocs.withGeometry(InterleavedDocs.docs(s, dir))

  /** Docs as (wkb, props[, band]) shards under a fresh temp dir via the
    * DISTRIBUTED v2 writer; `part` picks the shard partitioning (band
    * range for extent-distinct files, plain repartition for count).
    */
  private def writeDsv2Shards(s: SparkSession, dir: String, prefix: String,
                              part: DataFrame => DataFrame): String = {
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory(prefix).toString + "/shards"
    val framed = geo(s, dir)
      .select(col("wkb"), col("doc_id"),
        floor((col("lat").cast("bigint") + 900000000L) / 450000000L).cast("int").as("band"))
      .as[(Array[Byte], String, Int)]
      .map { case (wkb, id, band) =>
        (wkb, Seq(graft.sources.GeoJsonIngest.toCell(
          "doc", graft.codec.FeatureCodec.PString(id))), band)
      }
      .toDF("wkb", "props", "band")
    part(framed).write.format("geomedea").mode("append").save(out)
    out
  }

  /** Docs framed for the container writers — (wkb, props=[doc_id]) — plus
    * a deterministic `first` half-split so two-append streaming scenarios
    * can deliver each half as its own micro-batch generation.
    */
  private def frameDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    geo(s, dir)
      .select(col("wkb"), col("doc_id"),
        (pmod(substring(col("doc_id"), 5, 16).cast("long"), lit(2L)) === 0L).as("first"))
      .as[(Array[Byte], String, Boolean)]
      .map { case (wkb, id, first) =>
        (wkb, Seq(graft.sources.GeoJsonIngest.toCell(
          "doc", graft.codec.FeatureCodec.PString(id))), first)
      }
      .toDF("wkb", "props", "first")
  }

  /** Append one `first`-half of the framed docs to a container lake. */
  private def appendHalf(framed: DataFrame, fmt: String, lake: String,
                         first: Boolean): Unit =
    framed.where(col("first") === first).select("wkb", "props")
      .repartition(2).write.format(fmt).mode("append").save(lake)

  /** One exactly-once AvailableNow pass over a tailing container lake:
    * `transform` shapes the micro-batches, rows stage to parquet.
    */
  private def runAvailableNow(s: SparkSession, fmt: String, lake: String,
                              staged: String, ckpt: String)(
                              transform: DataFrame => DataFrame): Unit = {
    val q = transform(s.readStream.format(fmt).load(lake))
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(staged); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** q46/q47's per-row micro-batch shape: id + long coords. */
  private def idLngLat(df: DataFrame): DataFrame =
    df.select(element_at(col("prop_vals"), 1).as("doc_id"),
      col("min_lng").cast("long").as("lng"), col("min_lat").cast("long").as("lat"))

  /** q46/q47's deterministic staged-row aggregation (order-free). */
  private def bucketAgg(s: SparkSession, staged: String): DataFrame =
    s.read.parquet(staged)
      .groupBy(pmod(substring(col("doc_id"), 5, 16).cast("long"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("lng")).as("sum_lng"), sum(col("lat")).as("sum_lat"))
      .orderBy("bucket")

  /** Flagship: spatial join + tile assignment on sf0.001 (rows>0 smoke). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val joined = SpatialJoin.cellJoin(geo(spark, dir), InterleavedDocs.nationRects(spark, dir))
    joined.withColumn("tile_id", gmTile(col("lng"), col("lat"), 4))
      .groupBy("poly_id", "tile_id").agg(count(lit(1)).as("n"))
  }

  // query rectangle inside the hot cluster (deg: -118.3,33.5 .. -117.0,34.5)
  private val QueryRect = Envelope(-1183000000, 335000000, -1170000000, 345000000)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: extent aggregation (writer/mod.rs:57-61)
    "q01_extent" -> ((s, dir) => {
      geo(s, dir).agg(
        min("min_lng").cast("long").as("ext_min_lng"),
        min("min_lat").cast("long").as("ext_min_lat"),
        max("max_lng").cast("long").as("ext_max_lng"),
        max("max_lat").cast("long").as("ext_max_lat"))
    }),

    // S5: select_bbox as pruned scan + closed-interval predicate
    "q02_bbox_filter" -> ((s, dir) => {
      SpatialJoin.bboxFilter(geo(s, dir), QueryRect)
        .select(col("doc_id"), col("lng").cast("long").as("lng"), col("lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // O1-O3: Hilbert clustering key + descending layout order (rows-only)
    "q03_hilbert_layout" -> ((s, dir) => {
      val g = geo(s, dir)
      Ingest.withHilbert(g, Ingest.extent(g))
        .orderBy(col("hilbert").desc, col("doc_id"))
        .select(col("doc_id"), col("hilbert"))
        .limit(100)
    }),

    // spatial join, strategy 1: cell-cover equi-join + PIP refine
    "q04_join_cells" -> ((s, dir) => {
      SpatialJoin.cellJoin(geo(s, dir), InterleavedDocs.nationRects(s, dir))
        .select(col("poly_id"), col("doc_id")).orderBy("poly_id", "doc_id")
    }),

    // spatial join, strategy 2: broadcast packed R-tree probe
    "q05_join_rtree" -> ((s, dir) => {
      SpatialJoin.rtreeJoin(geo(s, dir), InterleavedDocs.nationRects(s, dir))
        .select(col("poly_id"), col("doc_id")).orderBy("poly_id", "doc_id")
    }),

    // spatial join, strategy 3: salted hot-cell join
    "q06_join_salted" -> ((s, dir) => {
      SpatialJoin.saltedCellJoin(geo(s, dir), InterleavedDocs.nationRects(s, dir))
        .select(col("poly_id"), col("doc_id")).orderBy("poly_id", "doc_id")
    }),

    // kNN via cell-ring expansion
    "q07_knn" -> ((s, dir) => {
      Knn.knn(geo(s, dir), InterleavedDocs.nationQueryPoints(s, dir), k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("doc_id"))
        .orderBy("query_id", "rank")
    }),

    // raster tiles (heat grid)
    "q08_tile_raster" -> ((s, dir) => {
      Tiles.raster(geo(s, dir), zoom = 4)
        .select(col("tile_id"), col("tile_x"), col("tile_y"), col("n"))
        .orderBy("tile_id")
    }),

    // vector tiles (membership lists; bucketed sub-tiles combined — the
    // scale path is the bucketed Tiles.vector itself)
    "q09_tile_vector" -> ((s, dir) => {
      Tiles.vectorCombined(geo(s, dir), zoom = 3)
        .select(col("tile_id"), col("n"), col("doc_ids"))
        .orderBy("tile_id")
    }),

    // vector tiles on the SCALE path itself (bucketed sub-tiles — the
    // hot tile spreads over buckets, every payload bounded; q09 gates
    // the combined per-tile view). Bucket key = numeric doc id % 8 so
    // the DuckDB oracle replays the bucketing arithmetically.
    "q18_tile_vector_scale" -> ((s, dir) => {
      // substring length 16, not 9: doc-%09d widens past 9 digits at
      // nDocs >= 1e9 and the DuckDB oracle's substr(doc_id, 5) is
      // unbounded — the two must agree at every scale
      Tiles.vectorBy(geo(s, dir), zoom = 3,
          pmod(substring(col("doc_id"), 5, 16).cast("long"), lit(8L)))
        .select(col("tile_id"), col("bucket").cast("long").as("bucket"), col("n"),
          array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy("tile_id", "bucket")
    }),

    // COUNT(*) through the DataSourceV2's aggregate pushdown: the count
    // comes from the shard headers alone (HeaderStatsScan — asserted
    // in the spec); shards written by the distributed v2 writer
    "q19_dsv2_count" -> ((s, dir) => {
      val out = writeDsv2Shards(s, dir, "graft_dsv2c", _.repartition(4))
      s.read.format("geomedea").load(out).groupBy().count()
    }),

    // lake extent through the DSv2 aggregate pushdown: filterless
    // min/max over the envelope columns folds from the per-shard R-tree
    // ROOT bounds alone (HeaderStatsScan — asserted in the spec), the
    // header-only analog of the reference's `info` extent summary
    "q48_dsv2_extent" -> ((s, dir) => {
      val out = writeDsv2Shards(s, dir, "graft_dsv2e", _.repartition(4))
      s.read.format("geomedea").load(out).groupBy()
        .agg(min("min_lng").as("a"), min("min_lat").as("b"),
          max("max_lng").as("c"), max("max_lat").as("d"), count("*").as("n"))
        .select(col("a").cast("long").as("ext_min_lng"),
          col("b").cast("long").as("ext_min_lat"),
          col("c").cast("long").as("ext_max_lng"),
          col("d").cast("long").as("ext_max_lat"), col("n"))
    }),

    // kNN through the DISTRIBUTED ring-expansion fallback (maxBroadcast
    // forced below the query count): the path oversized query sets take
    // automatically — same math as q07, executor-side ring planning, the
    // cell equi-join shuffling both sides. Oracled against the same
    // brute-force top-k SQL, so the driver gate proves path equivalence.
    "q49_knn_ring" -> ((s, dir) => {
      Knn.knn(geo(s, dir), InterleavedDocs.nationQueryPoints(s, dir), k = 3,
          maxBroadcast = 0)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("doc_id"))
        .orderBy("query_id", "rank")
    }),

    // RETENTION through the swap protocol: the even-id docs land in their
    // own shards, get retired (a generation with no replacements — the
    // TTL path tailing streams survive), and the lake reads back exactly
    // the odd-id rows. Oracled as a plain WHERE over the same parquet.
    "q51_retired_read" -> ((s, dir) => {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft_ret").toString + "/shards"
      def framed(even: Boolean) = geo(s, dir)
        .where((substring(col("doc_id"), 5, 16).cast("long") % 2 === 0) === even)
        .select(col("wkb"), col("doc_id")).as[(Array[Byte], String)]
        .map { case (wkb, id) => (wkb, Seq(graft.sources.GeoJsonIngest.toCell(
          "doc", graft.codec.FeatureCodec.PString(id)))) }
        .toDF("wkb", "props")
      framed(even = true).repartition(2)
        .write.format("geomedea").mode("append").save(out)
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      val evenShards = fs.listStatus(p)
        .filter(_.getPath.getName.endsWith(".geomedea")).map(_.getPath.getName).toSet
      framed(even = false).repartition(2)
        .write.format("geomedea").mode("append").save(out)
      graft.jobs.Compact.retire(s, out, st => evenShards(st.getPath.getName))
      s.read.format("geomedea").load(out)
        .select(element_at(col("prop_vals"), 1).as("doc_id"),
          col("min_lng").cast("long").as("lng"), col("min_lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // near-dup CLUSTERING: connected components over the q31 pair set
    // (min-label propagation + pointer jumping, O(log diameter) rounds)
    // with the canonical pick — pairwise dup evidence turned into
    // keep/drop decisions. Oracled against a DuckDB recursive-CTE
    // transitive closure over the identical pair SQL.
    "q50_dedup_cluster" -> ((s, dir) => {
      val corpus = Dedup.corpusWithDups(s, dir)
      Dedup.cluster(Dedup.ngramJaccard(corpus, 6000), corpus)
        .select(col("doc_id"), col("cluster_id"),
          col("is_canonical").cast("long").as("is_canonical"))
        .orderBy("doc_id")
    }),

    // table maintenance: a RANDOMLY-partitioned multi-shard lake (every
    // shard extent ~= global, the worst case appends converge to) is
    // re-clustered by Compact.compact (global Hilbert-desc rewrite via
    // the v2 writer, truncate-at-commit), then bbox-read through the
    // DSv2 — planning-time pruning restored, rows identical to q16's
    "q45_compacted_bbox" -> ((s, dir) => {
      val out = writeDsv2Shards(s, dir, "graft_cmp", _.repartition(6))
      graft.jobs.Compact.compact(s, out, numShards = 4)
      s.read.format("geomedea").load(out)
        .where(col("max_lng") >= QueryRect.minLng && col("max_lat") >= QueryRect.minLat &&
          col("min_lng") <= QueryRect.maxLng && col("min_lat") <= QueryRect.maxLat)
        .select(element_at(col("prop_vals"), 1).as("doc_id"),
          col("min_lng").cast("long").as("lng"), col("min_lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // §2.9++: streaming READ of a .geomedea lake, exactly-once ACROSS a
    // compaction. Two AvailableNow passes over one checkpoint: pass 1
    // consumes the first half of the docs, the lake is compacted
    // (generation 1 — round 4 killed the stream here), pass 2 appends
    // and consumes the second half. The grouped aggregate over the
    // streamed rows equals the batch answer over ALL docs iff no row was
    // lost, re-emitted across the generation, or double-counted from
    // replacement shards — which is exactly what the oracle replays.
    "q46_stream_read" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_sr").toString
      val lake = s"$base/lake"
      val staged = s"$base/rows"
      val framed = frameDocs(s, dir)
      def run(): Unit =
        runAvailableNow(s, "geomedea", lake, staged, s"$base/ckpt")(idLngLat)
      appendHalf(framed, "geomedea", lake, first = true); run()
      graft.jobs.Compact.compact(s, lake, numShards = 1)
      appendHalf(framed, "geomedea", lake, first = false); run()
      bucketAgg(s, staged)
    }),

    // q46's twin over the SECOND container: streaming READ of a .fgb
    // lake, exactly-once across a compaction (the FGB micro-batch source
    // shares the generation-qualified offset protocol). Also end-to-end
    // exercises the spill-backed FGB shard writer in the driver gate.
    "q47_stream_fgb" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_srf").toString
      val lake = s"$base/lake"
      val staged = s"$base/rows"
      val framed = frameDocs(s, dir)
      def run(): Unit =
        runAvailableNow(s, "flatgeobuf", lake, staged, s"$base/ckpt")(idLngLat)
      appendHalf(framed, "flatgeobuf", lake, first = true); run()
      graft.jobs.Compact.compact(s, lake, numShards = 1, format = "flatgeobuf")
      appendHalf(framed, "flatgeobuf", lake, first = false); run()
      bucketAgg(s, staged)
    }),

    // STREAMING exactly-once dedup: dropDuplicates keyed state over the
    // tailing lake — duplicates arriving in LATER batches (and across a
    // checkpoint restart) are suppressed by the state store; the whole
    // second append re-delivers every row and not one re-emits. The
    // 100 TB path bounds the state with dropDuplicatesWithinWatermark.
    "q63_stream_dedup" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_sd").toString
      val lake = s"$base/lake"
      val staged = s"$base/rows"
      val framed = frameDocs(s, dir)
      def append(): Unit = framed.select("wkb", "props")
        .repartition(2).write.format("geomedea").mode("append").save(lake)
      def run(): Unit =
        runAvailableNow(s, "geomedea", lake, staged, s"$base/ckpt")(
          _.select(element_at(col("prop_vals"), 1).as("doc_id"))
            .dropDuplicates("doc_id"))
      append(); run()
      append(); run() // identical rows re-delivered — all suppressed
      s.read.parquet(staged).select("doc_id").orderBy("doc_id")
    }),

    // STREAM-STATIC spatial join: the full composition a tailing
    // pipeline runs — readStream over a growing .geomedea lake joined
    // per micro-batch to the static polygon set (broadcast cell join +
    // PIP refine, the q04 plan inside each batch), exactly-once across
    // two appends. The oracle replays the aggregated join batch-side.
    "q56_stream_spatial_join" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_ssj").toString
      val lake = s"$base/lake"
      val staged = s"$base/rows"
      val rects = InterleavedDocs.nationRects(s, dir)
      val framed = frameDocs(s, dir)
      def run(): Unit =
        runAvailableNow(s, "geomedea", lake, staged, s"$base/ckpt") { in =>
          val pts = in.select(element_at(col("prop_vals"), 1).as("doc_id"),
            col("min_lng").as("lng"), col("min_lat").as("lat"))
          SpatialJoin.cellJoin(pts, rects).select(col("poly_id"), col("doc_id"))
        }
      appendHalf(framed, "geomedea", lake, first = true); run()
      appendHalf(framed, "geomedea", lake, first = false); run()
      s.read.parquet(staged)
        .groupBy("poly_id").agg(count(lit(1)).as("n"))
        .orderBy("poly_id")
    }),

    // cell cover of build-side polygons (H3/S2 analog generator)
    "q10_cell_cover" -> ((s, dir) => {
      InterleavedDocs.nationRects(s, dir)
        .withColumn("cell_id",
          explode(gmCellCover(col("p_min_lng"), col("p_min_lat"), col("p_max_lng"), col("p_max_lat"), 4)))
        .select(col("poly_id"), col("cell_id"))
        .orderBy("poly_id", "cell_id")
    }),

    // delta/zigzag codec roundtrip as a query
    "q11_dz_roundtrip" -> ((s, dir) => {
      geo(s, dir)
        .withColumn("decoded",
          gmDzDecode(gmDzEncode(array(col("lng"), col("lat"), col("lng") + 1, col("lat") - 1))))
        .select(
          col("doc_id"),
          element_at(col("decoded"), 1).cast("long").as("lng"),
          element_at(col("decoded"), 2).cast("long").as("lat"),
          element_at(col("decoded"), 3).cast("long").as("lng1"),
          element_at(col("decoded"), 4).cast("long").as("lat1"))
        .orderBy("doc_id")
    }),

    // coordinate scale-down codec (F8)
    "q12_scale_down" -> ((s, dir) => {
      geo(s, dir)
        .select(col("doc_id"), stScaleDown(col("lng")).as("lng_deg"), stScaleDown(col("lat")).as("lat_deg"))
        .orderBy("doc_id")
    }),

    // F2: bincode feature codec roundtrip (encode point+prop, decode back;
    // n_bytes is the exact fixint-LE size: 40 + len(key) + len(value))
    "q13_feature_codec" -> ((s, dir) => {
      val g = geo(s, dir)
        .withColumn("fb", gmEncodePointFeature(col("lng"), col("lat"), lit("doc"), col("doc_id")))
        .withColumn("f", gmDecodeFeature(col("fb")))
        .withColumn("env", stEnvelope(col("f.wkb")))
      g.select(col("doc_id"),
          length(col("fb")).cast("long").as("n_bytes"),
          col("env.min_lng").cast("long").as("lng"),
          col("env.min_lat").cast("long").as("lat"),
          element_at(col("f.prop_vals"), 1).as("prop_doc"))
        .orderBy("doc_id")
    }),

    // F6: WKT roundtrip — our WKT formatting parsed back through the
    // runtime WKT parser lands on the same scaled ints
    "q14_wkt_roundtrip" -> ((s, dir) => {
      val g = geo(s, dir)
        .withColumn("wkb2", stGeomFromText(stAsText(stPointWkb(col("lng"), col("lat")))))
        .withColumn("env", stEnvelope(col("wkb2")))
      g.select(col("doc_id"),
          col("env.min_lng").cast("long").as("lng"),
          col("env.min_lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // S5/S7 through the DataSourceV2, BOTH directions: docs written as
    // .geomedea shards by the DISTRIBUTED v2 writer (one executor-side
    // shard per latitude-band partition -> distinct file extents), read
    // back via spark.read.format("geomedea") with a WHERE that the
    // source turns into planning-time file pruning (R-tree root bounds)
    // + page-pruned indexed reads — the reference's select_bbox
    // (reader.rs:313-346) driven by ordinary Catalyst filters
    "q16_dsv2_bbox" -> ((s, dir) => {
      val out = writeDsv2Shards(s, dir, "graft_dsv2",
        _.repartitionByRange(5, col("band")))
      s.read.format("geomedea").load(out)
        .where(col("max_lng") >= QueryRect.minLng && col("max_lat") >= QueryRect.minLat &&
          col("min_lng") <= QueryRect.maxLng && col("min_lat") <= QueryRect.maxLat)
        .select(element_at(col("prop_vals"), 1).as("doc_id"),
          col("min_lng").cast("long").as("lng"), col("min_lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // CSV any-direction bridge in the gate: engine frame -> CSV files
    // (geometry WKT + property columns, geozero CsvWriter shape) -> read
    // back -> parse WKT -> envelope ints. Exact because WKT formatting
    // and parsing are a proven fixpoint (q14).
    "q17_csv_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/csv"
      val frame = geo(s, dir).select(col("wkb"),
        array(lit("doc")).as("prop_keys"), array(col("doc_id")).as("prop_vals"))
      graft.sources.GeoJsonIngest.toCsvFrame(frame)
        .write.option("header", true).csv(out)
      graft.sources.GeoJsonIngest.fromCsvFrame(
          s.read.option("header", true).csv(out))
        .select(element_at(col("prop_vals"), 1).as("doc_id"),
          col("min_lng").cast("long").as("lng"), col("min_lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // FlatGeobuf any-direction bridge in the gate (the format the
    // reference's README benchmarks head-to-head): engine frame -> .fgb
    // file (hand-rolled FlatBuffers, Hilbert-asc layout + packed R-tree)
    // -> read back -> envelope ints. Exact: degrees roundtrip through
    // ScaledCoord's truncating scale both ways (proven fixpoint, q12)
    "q43_fgb_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_fgb").toString + "/docs.fgb"
      // engine frame with one string prop (doc id), via the shared cell bridge
      import s.implicits._
      val cells = geo(s, dir).select(col("wkb"), col("doc_id"))
        .as[(Array[Byte], String)]
        .map { case (wkb, id) => (wkb, Seq(graft.sources.GeoJsonIngest.toCell(
          "doc", graft.codec.FeatureCodec.PString(id)))) }
        .toDF("wkb", "props")
      graft.sources.FlatGeobufSpark.write(cells, out)
      graft.sources.FlatGeobufSpark.read(s, out)
        .select(element_at(col("prop_vals"), 1).as("doc_id"),
          col("min_lng").cast("long").as("lng"), col("min_lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // FGB through ITS DataSourceV2: docs written as banded .fgb shards,
    // read back via spark.read.format("flatgeobuf") with a WHERE the
    // source turns into planning-time file pruning + the bounded-transfer
    // indexed scan — the geomedea-vs-FGB README comparison, driver-gated
    // on both sides (q16 is the geomedea half)
    "q44_fgb_dsv2_bbox" -> ((s, dir) => {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft_fgb2").toString + "/shards"
      // DISTRIBUTED v2 writer: one executor-side .fgb shard per latitude
      // band (distinct file extents -> observable planning-time pruning)
      geo(s, dir)
        .select(col("wkb"), col("doc_id"),
          floor((col("lat").cast("bigint") + 900000000L) / 450000000L).cast("int").as("band"))
        .as[(Array[Byte], String, Int)]
        .map { case (wkb, id, band) =>
          (wkb, Seq(graft.sources.GeoJsonIngest.toCell(
            "doc", graft.codec.FeatureCodec.PString(id))), band)
        }
        .toDF("wkb", "props", "band")
        .repartitionByRange(5, col("band"))
        .write.format("flatgeobuf").mode("append").save(out)
      s.read.format("flatgeobuf").load(out)
        .where(col("max_lng") >= QueryRect.minLng && col("max_lat") >= QueryRect.minLat &&
          col("min_lng") <= QueryRect.maxLng && col("min_lat") <= QueryRect.maxLat)
        .select(element_at(col("prop_vals"), 1).as("doc_id"),
          col("min_lng").cast("long").as("lng"), col("min_lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // spatial join, strategy 4 (J6): Hilbert-range shuffle join
    "q15_join_range" -> ((s, dir) => {
      SpatialJoin.hilbertRangeJoin(geo(s, dir), InterleavedDocs.nationRects(s, dir))
        .select(col("poly_id"), col("doc_id")).orderBy("poly_id", "doc_id")
    }),

    // spatial join, strategy 5: distance-within (DWithin) join — kNN's
    // keyed probe with the radius as its bound: one broadcast key
    // equi-join + exact distance filter, no cross product
    "q52_distance_join" -> ((s, dir) => {
      SpatialJoin.distanceJoin(geo(s, dir),
          InterleavedDocs.nationQueryPoints(s, dir), radius = 300000000L)
        .orderBy("query_id", "doc_id")
    }),

    // raster tile PYRAMID, zooms 0..6 from ONE scan: aggregate to the
    // base-zoom grid first (map-side combined), ancestors derived
    // arithmetically from the aggregated grid — the raw table is never
    // re-scanned per zoom and never exploded (maxZoom+1)x
    "q53_tile_pyramid" -> ((s, dir) => {
      Tiles.pyramid(geo(s, dir), maxZoom = 6)
        .orderBy("zoom", "tile_id")
    }),

    // spatial ANTI-join: points contained by NO polygon (outlier /
    // offshore filtering) — semi-join matches removed by one left_anti.
    // Rect subset {3, 15} only: the full nation grid tiles the whole
    // world (complement trivially empty), and at small SF every
    // scattered doc sits in rect 0 (ids too small to wrap the modulus) —
    // {3, 15} keeps the hot cluster matched, rect 3 empty, rect 0 out
    "q54_spatial_antijoin" -> ((s, dir) => {
      SpatialJoin.antiJoin(geo(s, dir),
          InterleavedDocs.nationRects(s, dir).where(col("poly_id") % 12 === 3))
        .select(col("doc_id"), col("lng").cast("long").as("lng"),
          col("lat").cast("long").as("lat"))
        .orderBy("doc_id")
    }),

    // zonal statistics: per-polygon count + contained-coordinate extent,
    // empty polygons kept with n = 0 (the rect subset leaves some zones
    // genuinely empty at small SF — the left-outer contract is exercised)
    "q55_zonal_stats" -> ((s, dir) => {
      SpatialJoin.zonalStats(geo(s, dir),
          InterleavedDocs.nationRects(s, dir).where(col("poly_id") % 12 === 3))
        .orderBy("poly_id")
    }),

    // polygon x polygon envelope-intersection join: cell covers on BOTH
    // sides, equi-join on cell, exactly-once emission from the cell owning
    // the intersection's min corner (no distinct shuffle)
    "q59_poly_poly_join" -> ((s, dir) => {
      SpatialJoin.polyPolyJoin(InterleavedDocs.nationRects(s, dir),
          InterleavedDocs.regionRects(s, dir))
        .orderBy("a_id", "b_id")
    }),

    // as-of (point-in-time) join: each purchase event picks up the same
    // user's latest click at-or-before it — union + single-shuffle window,
    // no join node, left-outer null for never-clicked users
    "q57_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
      AsOf.join(purchases, clicks, "user_id", "ts", "ts", Seq("click_id", "value"))
        .select(col("event_id"), col("asof.click_id").as("click_id"),
          col("asof.value").as("click_value"))
        .orderBy("event_id")
    }),

    // point-in-interval join (temporal cell join): overlapping 3-day
    // maintenance windows x events — intervals explode to day buckets,
    // events key to ONE bucket (exactly-once for free), equi-join +
    // closed BETWEEN refinement; zonal-style left join keeps empty windows
    "q60_interval_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
      val k = col("n_nationkey").cast("long")
      val start = lit(1704067200000000L) + k * 86400000000L // 2024-01-01 UTC + key days
      val win = s.read.parquet(s"$dir/nation.parquet")
        .select(k.as("window_id"), start.as("w_start"),
          (start + 3L * 86400000000L).as("w_end"))
      val agg = IntervalJoin.pointInInterval(ev, "t", win, "w_start", "w_end", 86400000000L)
        .groupBy("window_id").agg(count(lit(1)).as("n"),
          min("event_id").as("min_event_id"), max("event_id").as("max_event_id"))
      win.select("window_id").join(broadcast(agg), Seq("window_id"), "left_outer")
        .select(col("window_id"), coalesce(col("n"), lit(0L)).as("n"),
          col("min_event_id"), col("max_event_id"))
        .orderBy("window_id")
    }),

    // deterministic md5-bucket train/val/test split: pure function of
    // (salt, key) — reshuffle/rerun/cluster-size stable, zero shuffles;
    // exact assignment (not just sizes) replayed in the oracle
    "q61_split" -> ((s, dir) => {
      Split.assign(s.read.parquet(s"$dir/documents.parquet").select("doc_id"),
          "doc_id", "graft")
        .select(col("doc_id"), col("split_bucket"), col("split"))
        .orderBy("doc_id")
    }),

    // exact per-group quantiles (discrete/type-1, integer rank math):
    // one shuffle, all percentiles in one pass, hash-exact cross-engine
    "q62_group_quantiles" -> ((s, dir) => {
      Quantiles.exact(s.read.parquet(s"$dir/events.parquet"),
          Seq("event_type"), "value", Seq(50, 90, 99))
        .orderBy("event_type")
    }),

    // batch gap-sessionization over the event stream (30-minute gap):
    // ONE shuffle on user_id; bit-exact epoch-microsecond math
    "q64_sessionize" -> ((s, dir) => {
      Sessions.sessionize(s.read.parquet(s"$dir/events.parquet"),
          "user_id", "ts", gapSeconds = 1800)
        .orderBy("user_id", "session_id")
    }),

    // BM25 document retrieval for a fixed query-term set (integer-milli
    // factors so the score replays hash-exact cross-engine)
    "q65_bm25" -> ((s, dir) => {
      TextOps.bm25Top(s.read.parquet(s"$dir/documents.parquet"),
        Seq("spark", "join", "vector"), k = 20)
    }),

    // balanced per-group downsampling: cap each event_type at 50 rows by
    // deterministic salted md5 order — one hash exchange, no global sort
    "q68_capped_sample" -> ((s, dir) => {
      Split.cappedPerGroup(
          s.read.parquet(s"$dir/events.parquet").select("event_type", "event_id"),
          "event_type", col("event_id"), "graft", k = 50)
        .select(col("event_type"), col("event_id"), col("sample_rank"))
        .orderBy("event_type", "sample_rank")
    }),

    // Gopher/C4-style repetition quality scores: duplicate word/2-gram/
    // 3-gram fractions as floor-milli ints; pure codegen projection
    "q67_repetition" -> ((s, dir) => {
      TextOps.repetition(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))
        .orderBy("doc_id")
    }),

    // test-set decontamination: corpus docs sharing any exact word 8-gram
    // with the benchmark subset (doc_id % 20 == 0); benchmark grams
    // broadcast so the corpus gram stream is filtered map-side — only
    // contaminated grams ever shuffle
    "q66_decontaminate" -> ((s, dir) => {
      TextOps.contaminated(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id") % 20 === 0, n = 8)
        .orderBy("doc_id")
    }),

    // relational coverage: agg, broadcast join + top-n, window
    "q20_lineitem_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q21_orders_topn" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q22_events_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("user_id"), col("rank").cast("long").as("rank"), col("event_id"), col("value"))
        .orderBy("user_id", "rank")
    }),

    // --- training-data pipeline ops ---------------------------------------

    // exact dedup: hash groups with canonical member
    "q30_dedup_exact" -> ((s, dir) => {
      Dedup.exact(Dedup.corpusWithDups(s, dir))
        .select(col("text_md5"), col("n"), col("canonical_id").cast("long").as("canonical_id"))
        .orderBy("text_md5")
    }),

    // n-gram Jaccard near-dup pairs (threshold 0.6)
    "q31_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccard(Dedup.corpusWithDups(s, dir), 6000)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"),
          col("jacc_x10000"))
        .orderBy("id_a", "id_b")
    }),

    // MinHash+LSH banding candidates, Jaccard-verified (oracled: the md5
    // hash family, banding, and verification replay in DuckDB SQL; recall
    // vs injected near-dups asserted in the test suite)
    "q32_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLsh(Dedup.corpusWithDups(s, dir), 6000)
        .select(col("id_a").cast("long"), col("id_b").cast("long"), col("jacc_x10000"))
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup pairs, hamming <= 3 (oracled: FNV-1a + majority
    // vote replayed per char in DuckDB SQL against the brute pair join,
    // which the chunk blocking provably equals by pigeonhole)
    "q33_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(Dedup.corpusWithDups(s, dir))
        .select(col("id_a").cast("long"), col("id_b").cast("long"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // embedding-cosine near-dup pairs via the SCALE path (exact grid
    // blocking — provably equal to the cross join, so the oracle holds)
    "q34_embed_cosine_pairs" -> ((s, dir) => {
      Similarity.cosinePairs(
          s.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding"),
          thresholdX10000 = 4000, dim = 64, bruteForce = false)
        .orderBy("id_a", "id_b")
    }),

    // brute-force cosine top-k (ANN baseline)
    "q35_sim_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      val q = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.bruteTopK(e, q, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"))
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed ANN top-k (oracled: seeded plane literals + multiprobe
    // replayed in SQL; recall vs brute asserted in tests)
    "q36_sim_lsh" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      val q = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.lshTopK(e, q, k = 5, dim = 64, numPlanes = 4)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"))
        .orderBy("query_id", "rank")
    }),

    // IVF ANN top-k, probing all lists (exact => oracled; the recall/cost
    // ladder at smaller nProbe is asserted in tests)
    "q41_sim_ivf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      val q = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.ivfTopK(e, q, k = 5, dim = 64, nLists = 16, nProbe = 16)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"))
        .orderBy("query_id", "rank")
    }),

    // text stats: token counts, quality scores (scaled ints)
    "q37_text_stats" -> ((s, dir) => {
      TextOps.stats(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))
        .orderBy("doc_id")
    }),

    // language-ID heuristic
    "q38_text_langid" -> ((s, dir) => {
      TextOps.langId(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))
        .orderBy("doc_id")
    }),

    // TF-IDF distinctive terms, top-3 per doc: explode -> two map-side
    // combined aggs -> term equi-join -> integer idf_milli scoring ->
    // per-doc window top-k (all-integer score, hash-exact cross-engine)
    "q58_tfidf_terms" -> ((s, dir) => {
      TextOps.tfidfTop(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"), 3)
        .orderBy("doc_id", "rank")
    }),

    // document fingerprints (oracled: rolling mod-2^61-1 + winnowing
    // 16-gram FNV minimum replayed per char in HUGEINT SQL)
    "q39_fingerprints" -> ((s, dir) => {
      TextOps.fingerprints(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))
        .orderBy("doc_id")
    }),

    // multimodal plumbing: media table metadata (decode is a marked stub;
    // features covered in tests)
    "q40_media_meta" -> ((s, dir) => {
      Media.extractFeatures(Media.mediaTable(s, dir), partitions = 8)
        .toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes").cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),

    // multimodal frame sampling (1->N flatMap): per-video sampled frame
    // counts are pure arithmetic on payload size -> exact oracle
    "q42_media_frames" -> ((s, dir) => {
      Media.frameSample(Media.mediaTable(s, dir), everyN = 3)
        .toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"), max("frame_idx").cast("long").as("last_frame"))
        .orderBy("doc_id")
    })
  )

  private val P = InterleavedDocs.OracleSqlPts
  private val R = InterleavedDocs.OracleSqlRects
  private val Q = InterleavedDocs.OracleSqlQueryPts

  def oracleSql: Map[String, String] = Map(
    "q01_extent" ->
      s"""WITH $P SELECT CAST(min(lng) AS BIGINT) AS ext_min_lng, CAST(min(lat) AS BIGINT) AS ext_min_lat,
         |CAST(max(lng) AS BIGINT) AS ext_max_lng, CAST(max(lat) AS BIGINT) AS ext_max_lat FROM pts""".stripMargin,

    "q02_bbox_filter" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts
         |WHERE lng BETWEEN -1183000000 AND -1170000000 AND lat BETWEEN 335000000 AND 345000000
         |ORDER BY doc_id""".stripMargin,

    // the Hilbert curve itself, re-implemented INDEPENDENTLY in DuckDB SQL
    // (pure bit ops — validated against the 143165576/2720145952 goldens),
    // oracles the layout key end-to-end
    "q03_hilbert_layout" ->
      s"""WITH $P,
         |ext AS (SELECT min(lng) AS mnx, min(lat) AS mny, max(lng) AS mxx, max(lat) AS mxy FROM pts),
         |xy AS (SELECT doc_id,
         |  CAST(CAST(lng - mnx AS BIGINT) * 65535 // (mxx - mnx) AS BIGINT) AS x,
         |  CAST(CAST(lat - mny AS BIGINT) * 65535 // (mxy - mny) AS BIGINT) AS y
         |  FROM pts, ext),
         |$HilbertSql
         |SELECT doc_id, hilbert FROM hout ORDER BY hilbert DESC, doc_id LIMIT 100""".stripMargin,

    "q04_join_cells" ->
      s"""WITH $P, $R SELECT r.poly_id, p.doc_id FROM pts p JOIN rects r
         |ON p.lng BETWEEN r.p_min_lng AND r.p_max_lng AND p.lat BETWEEN r.p_min_lat AND r.p_max_lat
         |ORDER BY r.poly_id, p.doc_id""".stripMargin,

    "q05_join_rtree" ->
      s"""WITH $P, $R SELECT r.poly_id, p.doc_id FROM pts p JOIN rects r
         |ON p.lng BETWEEN r.p_min_lng AND r.p_max_lng AND p.lat BETWEEN r.p_min_lat AND r.p_max_lat
         |ORDER BY r.poly_id, p.doc_id""".stripMargin,

    "q06_join_salted" ->
      s"""WITH $P, $R SELECT r.poly_id, p.doc_id FROM pts p JOIN rects r
         |ON p.lng BETWEEN r.p_min_lng AND r.p_max_lng AND p.lat BETWEEN r.p_min_lat AND r.p_max_lat
         |ORDER BY r.poly_id, p.doc_id""".stripMargin,

    "q07_knn" ->
      s"""WITH $P, $Q, d AS (
         |  SELECT q.query_id, p.doc_id,
         |         CAST(p.lng - q.q_lng AS DOUBLE) * CAST(p.lng - q.q_lng AS DOUBLE)
         |       + CAST(p.lat - q.q_lat AS DOUBLE) * CAST(p.lat - q.q_lat AS DOUBLE) AS dist2
         |  FROM pts p CROSS JOIN qpts q),
         |r AS (SELECT query_id, doc_id,
         |             row_number() OVER (PARTITION BY query_id ORDER BY dist2, doc_id) AS rank FROM d)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    "q08_tile_raster" ->
      s"""WITH $P SELECT ((lng + 1800000000) // 225000000) * 16 + ((lat + 900000000) // 112500000) AS tile_id,
         |(lng + 1800000000) // 225000000 AS tile_x, (lat + 900000000) // 112500000 AS tile_y,
         |count(*) AS n FROM pts GROUP BY 1, 2, 3 ORDER BY tile_id""".stripMargin,

    "q09_tile_vector" ->
      s"""WITH $P SELECT ((lng + 1800000000) // 450000000) * 8 + ((lat + 900000000) // 225000000) AS tile_id,
         |count(*) AS n, string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
         |FROM pts GROUP BY 1 ORDER BY tile_id""".stripMargin,

    "q19_dsv2_count" ->
      s"""WITH $P SELECT count(*) AS count FROM pts""",

    "q48_dsv2_extent" ->
      s"""WITH $P SELECT CAST(min(lng) AS BIGINT) AS ext_min_lng, CAST(min(lat) AS BIGINT) AS ext_min_lat,
         |CAST(max(lng) AS BIGINT) AS ext_max_lng, CAST(max(lat) AS BIGINT) AS ext_max_lat,
         |count(*) AS n FROM pts""".stripMargin,

    "q51_retired_read" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts
         |WHERE CAST(substr(doc_id, 5) AS BIGINT) % 2 = 1
         |ORDER BY doc_id""".stripMargin,

    // the q31 pair set -> symmetric edges -> recursive transitive
    // closure -> per-vertex component min == Spark's converged min-label
    // propagation (the fixpoint is algorithm-independent); singletons
    // keep their own id via the left join over the full corpus
    "q50_dedup_cluster" ->
      s"""WITH RECURSIVE $C, $S,
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |cm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |prs AS (SELECT cm.id_a, cm.id_b
         |        FROM cm JOIN sz sa ON sa.doc_id = cm.id_a JOIN sz sb ON sb.doc_id = cm.id_b
         |        WHERE CAST(floor(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) * 10000) AS BIGINT) >= 6000),
         |eg AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
         |reach AS (SELECT a, b FROM eg UNION SELECT r.a, e.b FROM reach r JOIN eg e ON r.b = e.a),
         |comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a)
         |SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
         |       CAST(least(c.doc_id, coalesce(comp.mn, c.doc_id)) AS BIGINT) AS cluster_id,
         |       CAST(c.doc_id = least(c.doc_id, coalesce(comp.mn, c.doc_id)) AS BIGINT) AS is_canonical
         |FROM corpus c LEFT JOIN comp ON comp.doc_id = c.doc_id
         |ORDER BY doc_id""".stripMargin,

    // identical oracle to q07: the distributed fallback must return the
    // exact same neighbors the broadcast path does
    "q49_knn_ring" ->
      s"""WITH $P, $Q, d AS (
         |  SELECT q.query_id, p.doc_id,
         |         CAST(p.lng - q.q_lng AS DOUBLE) * CAST(p.lng - q.q_lng AS DOUBLE)
         |       + CAST(p.lat - q.q_lat AS DOUBLE) * CAST(p.lat - q.q_lat AS DOUBLE) AS dist2
         |  FROM pts p CROSS JOIN qpts q),
         |r AS (SELECT query_id, doc_id,
         |             row_number() OVER (PARTITION BY query_id ORDER BY dist2, doc_id) AS rank FROM d)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    "q18_tile_vector_scale" ->
      s"""WITH $P SELECT ((lng + 1800000000) // 450000000) * 8 + ((lat + 900000000) // 225000000) AS tile_id,
         |CAST(substr(doc_id, 5) AS BIGINT) % 8 AS bucket, count(*) AS n,
         |string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
         |FROM pts GROUP BY 1, 2 ORDER BY tile_id, bucket""".stripMargin,

    "q10_cell_cover" ->
      s"""WITH $R SELECT r.poly_id, cx.range * 16 + cy.range AS cell_id
         |FROM rects r, range(0, 16) cx, range(0, 16) cy
         |WHERE cx.range BETWEEN (r.p_min_lng + 1800000000) // 225000000
         |                   AND LEAST(15, (r.p_max_lng + 1800000000) // 225000000)
         |  AND cy.range BETWEEN (r.p_min_lat + 900000000) // 112500000
         |                   AND LEAST(15, (r.p_max_lat + 900000000) // 112500000)
         |ORDER BY r.poly_id, cell_id""".stripMargin,

    "q11_dz_roundtrip" ->
      s"""WITH $P SELECT doc_id, lng, lat, lng + 1 AS lng1, lat - 1 AS lat1 FROM pts ORDER BY doc_id""".stripMargin,

    "q12_scale_down" ->
      s"""WITH $P SELECT doc_id, CAST(lng AS DOUBLE) / 10000000.0 AS lng_deg,
         |CAST(lat AS DOUBLE) / 10000000.0 AS lat_deg FROM pts ORDER BY doc_id""".stripMargin,

    "q13_feature_codec" ->
      s"""WITH $P SELECT doc_id, CAST(43 + length(doc_id) AS BIGINT) AS n_bytes,
         |lng, lat, doc_id AS prop_doc FROM pts ORDER BY doc_id""".stripMargin,

    "q14_wkt_roundtrip" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts ORDER BY doc_id""".stripMargin,

    "q16_dsv2_bbox" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts
         |WHERE lng BETWEEN -1183000000 AND -1170000000 AND lat BETWEEN 335000000 AND 345000000
         |ORDER BY doc_id""".stripMargin,

    "q17_csv_roundtrip" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts ORDER BY doc_id""".stripMargin,

    "q45_compacted_bbox" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts
         |WHERE lng BETWEEN -1183000000 AND -1170000000 AND lat BETWEEN 335000000 AND 345000000
         |ORDER BY doc_id""".stripMargin,

    "q43_fgb_roundtrip" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts ORDER BY doc_id""".stripMargin,

    "q46_stream_read" ->
      s"""WITH $P SELECT CAST(substr(doc_id, 5) AS BIGINT) % 16 AS bucket, count(*) AS n,
         |CAST(sum(lng) AS BIGINT) AS sum_lng, CAST(sum(lat) AS BIGINT) AS sum_lat
         |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin,

    "q47_stream_fgb" ->
      s"""WITH $P SELECT CAST(substr(doc_id, 5) AS BIGINT) % 16 AS bucket, count(*) AS n,
         |CAST(sum(lng) AS BIGINT) AS sum_lng, CAST(sum(lat) AS BIGINT) AS sum_lat
         |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin,

    // every row delivered twice; exactly-once dedup state means the
    // result is the plain distinct set — one extra row fails the gate
    "q63_stream_dedup" ->
      s"""WITH $P SELECT doc_id FROM pts ORDER BY doc_id""".stripMargin,

    "q44_fgb_dsv2_bbox" ->
      s"""WITH $P SELECT doc_id, lng, lat FROM pts
         |WHERE lng BETWEEN -1183000000 AND -1170000000 AND lat BETWEEN 335000000 AND 345000000
         |ORDER BY doc_id""".stripMargin,

    "q15_join_range" ->
      s"""WITH $P, $R SELECT r.poly_id, p.doc_id FROM pts p JOIN rects r
         |ON p.lng BETWEEN r.p_min_lng AND r.p_max_lng AND p.lat BETWEEN r.p_min_lat AND r.p_max_lat
         |ORDER BY r.poly_id, p.doc_id""".stripMargin,

    // brute-force DWithin replay: the engine's ring-join must equal the
    // cross join + exact predicate (the same IEEE double arithmetic)
    "q52_distance_join" ->
      s"""WITH $P, $Q SELECT q.query_id, p.doc_id FROM pts p CROSS JOIN qpts q
         |WHERE CAST(p.lng - q.q_lng AS DOUBLE) * CAST(p.lng - q.q_lng AS DOUBLE)
         |    + CAST(p.lat - q.q_lat AS DOUBLE) * CAST(p.lat - q.q_lat AS DOUBLE)
         |   <= CAST(300000000 AS DOUBLE) * CAST(300000000 AS DOUBLE)
         |ORDER BY query_id, doc_id""".stripMargin,

    // pyramid replay: base grid at zoom 6 (cell 56250000 x 28125000 —
    // exact integers, Cells.scala invariant), ancestors by bit shift
    "q53_tile_pyramid" ->
      s"""WITH $P, base AS (
         |  SELECT (lng + 1800000000) // 56250000 AS bx, (lat + 900000000) // 28125000 AS by,
         |         count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |z AS (SELECT range AS zoom FROM range(0, 7))
         |SELECT CAST(z.zoom AS BIGINT) AS zoom,
         |       (bx >> (6 - z.zoom)) * (1 << z.zoom) + (by >> (6 - z.zoom)) AS tile_id,
         |       bx >> (6 - z.zoom) AS tile_x, by >> (6 - z.zoom) AS tile_y,
         |       CAST(sum(n) AS BIGINT) AS n
         |FROM base CROSS JOIN z GROUP BY 1, 2, 3, 4 ORDER BY zoom, tile_id""".stripMargin,

    // join replay, aggregated: identical to q04's predicate, counted
    "q56_stream_spatial_join" ->
      s"""WITH $P, $R SELECT r.poly_id, count(*) AS n FROM pts p JOIN rects r
         |ON p.lng BETWEEN r.p_min_lng AND r.p_max_lng AND p.lat BETWEEN r.p_min_lat AND r.p_max_lat
         |GROUP BY 1 ORDER BY r.poly_id""".stripMargin,

    "q54_spatial_antijoin" ->
      s"""WITH $P, $R SELECT p.doc_id, p.lng, p.lat FROM pts p
         |WHERE NOT EXISTS (SELECT 1 FROM rects r
         |  WHERE r.poly_id % 12 = 3
         |    AND p.lng BETWEEN r.p_min_lng AND r.p_max_lng
         |    AND p.lat BETWEEN r.p_min_lat AND r.p_max_lat)
         |ORDER BY p.doc_id""".stripMargin,

    "q55_zonal_stats" ->
      s"""WITH $P, $R, z AS (
         |  SELECT r.poly_id, count(*) AS n,
         |         CAST(min(p.lng) AS BIGINT) AS z_min_lng, CAST(min(p.lat) AS BIGINT) AS z_min_lat,
         |         CAST(max(p.lng) AS BIGINT) AS z_max_lng, CAST(max(p.lat) AS BIGINT) AS z_max_lat
         |  FROM pts p JOIN rects r
         |    ON r.poly_id % 12 = 3
         |   AND p.lng BETWEEN r.p_min_lng AND r.p_max_lng
         |   AND p.lat BETWEEN r.p_min_lat AND r.p_max_lat
         |  GROUP BY 1)
         |SELECT r.poly_id, coalesce(z.n, 0) AS n,
         |       z.z_min_lng, z.z_min_lat, z.z_max_lng, z.z_max_lat
         |FROM rects r LEFT JOIN z ON z.poly_id = r.poly_id
         |WHERE r.poly_id % 12 = 3
         |ORDER BY r.poly_id""".stripMargin,

    "q59_poly_poly_join" ->
      s"""WITH $R, ${InterleavedDocs.OracleSqlRegionRects}
         |SELECT a.poly_id AS a_id, b.poly_id AS b_id
         |FROM rects a JOIN rrects b
         |  ON a.p_max_lng >= b.p_min_lng AND b.p_max_lng >= a.p_min_lng
         | AND a.p_max_lat >= b.p_min_lat AND b.p_max_lat >= a.p_min_lat
         |ORDER BY a_id, b_id""".stripMargin,

    "q57_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id, ts, value
        |  FROM events WHERE event_type = 'click'
        |), m AS (
        |  -- one ROW picked per purchase (never column-wise mixing), with
        |  -- the engine's exact tiebreak: latest ts, then max payload
        |  SELECT event_id, click_id, click_value FROM (
        |    SELECT p.event_id, c.click_id, c.value AS click_value,
        |           row_number() OVER (PARTITION BY p.event_id
        |             ORDER BY c.ts DESC, c.click_id DESC, c.value DESC) AS rn
        |    FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
        |  ) WHERE rn = 1
        |)
        |SELECT p.event_id, m.click_id, m.click_value
        |FROM p LEFT JOIN m ON m.event_id = p.event_id
        |ORDER BY p.event_id""".stripMargin,

    "q60_interval_join" ->
      """WITH win AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS window_id,
        |         1704067200000000 + CAST(n_nationkey AS BIGINT) * 86400000000 AS w_start
        |  FROM nation
        |), ev AS (
        |  SELECT event_id, epoch_us(ts) AS t FROM events
        |), j AS (
        |  SELECT w.window_id, count(*) AS n,
        |         min(e.event_id) AS min_event_id, max(e.event_id) AS max_event_id
        |  FROM win w JOIN ev e
        |    ON e.t >= w.w_start AND e.t <= w.w_start + 259200000000
        |  GROUP BY 1
        |)
        |SELECT w.window_id, coalesce(j.n, 0) AS n, j.min_event_id, j.max_event_id
        |FROM win w LEFT JOIN j ON j.window_id = w.window_id
        |ORDER BY w.window_id""".stripMargin,

    "q62_group_quantiles" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |)
        |SELECT event_type, max(n) AS n,
        |       max(CASE WHEN rn = (n*50+99)//100 THEN value END) AS p50,
        |       max(CASE WHEN rn = (n*90+99)//100 THEN value END) AS p90,
        |       max(CASE WHEN rn = (n*99+99)//100 THEN value END) AS p99
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q64_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
        |), d AS (
        |  SELECT user_id, ts_us,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                   OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS b
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        |), s AS (
        |  SELECT user_id, ts_us,
        |         sum(b) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM d
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us, count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q65_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |         COALESCE(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''), []) AS toks
        |  FROM documents
        |), dls AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM docs
        |), tf AS (
        |  SELECT doc_id, dl, u.term, count(*) AS tf
        |  FROM dls, unnest(toks) AS u(term)
        |  WHERE u.term IN ('spark', 'join', 'vector')
        |  GROUP BY 1, 2, 3
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM dls
        |), scored AS (
        |  SELECT tf.doc_id,
        |         CAST(round(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) * 1000) AS BIGINT)
        |         * CAST(round(1000.0 * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))) AS BIGINT)
        |           AS term_score
        |  FROM tf JOIN df USING (term) CROSS JOIN stats s
        |)
        |SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score, count(*) AS n_terms_matched
        |FROM scored GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q68_capped_sample" ->
      """WITH r AS (
        |  SELECT event_type, event_id,
        |         row_number() OVER (PARTITION BY event_type ORDER BY
        |           CAST(('0x' || substr(md5('graft:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |           CAST(event_id AS VARCHAR)) AS sample_rank
        |  FROM events
        |)
        |SELECT event_type, event_id, CAST(sample_rank AS BIGINT) AS sample_rank
        |FROM r WHERE sample_rank <= 50
        |ORDER BY event_type, sample_rank""".stripMargin,

    "q67_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         COALESCE(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''), []) AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, t,
        |    CASE WHEN len(t) >= 2 THEN list_transform(range(0, len(t)-1), i -> array_to_string(t[i+1:i+2], ' ')) ELSE [] END AS g2,
        |    CASE WHEN len(t) >= 3 THEN list_transform(range(0, len(t)-2), i -> array_to_string(t[i+1:i+3], ' ')) ELSE [] END AS g3
        |  FROM toks
        |)
        |SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN len(t) > 0 THEN floor(1000.0 * (len(t) - len(list_distinct(t))) / len(t)) ELSE 0 END AS BIGINT) AS dup_word_milli,
        |  CAST(CASE WHEN len(g2) > 0 THEN floor(1000.0 * (len(g2) - len(list_distinct(g2))) / len(g2)) ELSE 0 END AS BIGINT) AS dup_2gram_milli,
        |  CAST(CASE WHEN len(g3) > 0 THEN floor(1000.0 * (len(g3) - len(list_distinct(g3))) / len(g3)) ELSE 0 END AS BIGINT) AS dup_3gram_milli
        |FROM g ORDER BY doc_id""".stripMargin,

    "q66_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         COALESCE(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''), []) AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, array_to_string(t[i+1:i+8], ' ') AS gram
        |  FROM toks, unnest(CASE WHEN len(t) >= 8 THEN range(0, len(t)-8+1) ELSE [] END) AS u(i)
        |), bench AS (
        |  SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0
        |), corpus AS (
        |  SELECT doc_id, gram FROM grams WHERE doc_id % 20 <> 0
        |)
        |SELECT doc_id, count(DISTINCT gram) AS n_hits
        |FROM corpus JOIN bench USING (gram)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q61_split" ->
      """SELECT doc_id,
        |       CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS split_bucket,
        |       CASE WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 8000 THEN 'train'
        |            WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q58_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, u.t AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE u.t <> ''
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         tf.tf * CAST(round(ln(n.n_docs / df.df) * 1000) AS BIGINT) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "q20_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |count(*) AS n FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q21_orders_topn" ->
      """SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q22_events_window" ->
      """SELECT user_id, CAST(rank AS BIGINT) AS rank, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
        |  FROM events) WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    "q30_dedup_exact" ->
      s"""WITH $C SELECT md5(text) AS text_md5, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS canonical_id
         |FROM corpus GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin,

    "q31_dedup_ngram" ->
      s"""WITH $C, $S,
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |cm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT CAST(cm.id_a AS BIGINT) AS id_a, CAST(cm.id_b AS BIGINT) AS id_b,
         |       CAST(floor(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) * 10000) AS BIGINT) AS jacc_x10000
         |FROM cm JOIN sz sa ON sa.doc_id = cm.id_a JOIN sz sb ON sb.doc_id = cm.id_b
         |WHERE CAST(floor(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) * 10000) AS BIGINT) >= 6000
         |ORDER BY id_a, id_b""".stripMargin,

    "q34_embed_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
        |       CAST(floor(list_dot_product(a.emb, b.emb)
        |            / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
        |            * 10000) AS BIGINT) AS cos_x10000
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE floor(list_dot_product(a.emb, b.emb)
        |      / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
        |      * 10000) >= 4000
        |ORDER BY id_a, id_b""".stripMargin,

    "q35_sim_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id % 50 = 0),
        |d AS (SELECT q.query_id, e.vec_id,
        |             list_dot_product(e.emb, q.q_emb)
        |             / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))) AS cos
        |      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id,
        |             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM d)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q41_sim_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id % 50 = 0),
        |d AS (SELECT q.query_id, e.vec_id,
        |             list_dot_product(e.emb, q.q_emb)
        |             / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))) AS cos
        |      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id,
        |             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM d)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q37_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_split_to_array(text, '[^a-zA-Z0-9]+')) AS BIGINT) AS n_tokens_re,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000) AS BIGINT) AS distinct_ratio_x10000,
        |  CAST(floor(CAST(length(text) AS DOUBLE)
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE) * 100) AS BIGINT) AS mean_tok_len_x100,
        |  CAST(floor(CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a' OR t = 'of')) AS DOUBLE)
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000) AS BIGINT) AS stopword_ratio_x10000
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q38_text_langid" ->
      """SELECT doc_id,
        |  CASE WHEN text LIKE '% the %' OR text LIKE 'the %' THEN 'en'
        |       WHEN text LIKE '% le %' OR text LIKE '% la %' THEN 'fr'
        |       WHEN text LIKE '% der %' OR text LIKE '% und %' THEN 'de'
        |       WHEN text LIKE '% el %' OR text LIKE '% los %' THEN 'es'
        |       ELSE 'und' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q40_media_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(16 * (n_chars // 50 + 1) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q42_media_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 16 * (n_chars // 50 + 1) AS n_bytes FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, (n_bytes + 255) // 256 AS n_chunks FROM v)
        |SELECT doc_id, CAST((n_chunks + 2) // 3 AS BIGINT) AS n_frames,
        |       CAST(((n_chunks + 2) // 3 - 1) * 3 AS BIGINT) AS last_frame
        |FROM f ORDER BY doc_id""".stripMargin,

    // MinHash+LSH replayed end-to-end: the md5-prefix 60-bit hash family
    // (h1 XOR rot_k(h2)), band buckets, candidate join, and Jaccard
    // verification are all re-derived in DuckDB SQL
    "q32_dedup_minhash" ->
      s"""WITH $C, $S,
         |$MinhashSql,
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |cm AS (SELECT c.id_a, c.id_b, count(*) AS common
         |       FROM cand c JOIN sh a ON a.doc_id = c.id_a
         |                   JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
         |       GROUP BY 1, 2)
         |SELECT CAST(cm.id_a AS BIGINT) AS id_a, CAST(cm.id_b AS BIGINT) AS id_b,
         |       CAST(floor(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) * 10000) AS BIGINT) AS jacc_x10000
         |FROM cm JOIN sz sa ON sa.doc_id = cm.id_a JOIN sz sb ON sb.doc_id = cm.id_b
         |WHERE CAST(floor(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) * 10000) AS BIGINT) >= 6000
         |ORDER BY id_a, id_b""".stripMargin,

    // SimHash replayed end-to-end: FNV-1a-64 per word (per-char
    // list_reduce in mod-2^64 HUGEINT arithmetic), per-bit majority vote,
    // then the BRUTE hamming<=3 pair join — which simhashPairs's chunk
    // blocking provably equals (pigeonhole; also asserted vs brute in the
    // suite)
    "q33_dedup_simhash" ->
      s"""WITH $C,
         |hs AS (
         |  SELECT doc_id,
         |    list_transform(string_split(text, ' '), w ->
         |      list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
         |          list_transform(string_split(w, ''), c -> CAST(ord(c) AS HUGEINT))),
         |        (acc, c) -> ((acc - acc % 256 + CAST(xor(CAST(acc % 256 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT)) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))
         |    ) AS hl,
         |    len(string_split(text, ' ')) AS nw
         |  FROM corpus),
         |sims AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN su >= CAST(9223372036854775808 AS HUGEINT)
         |              THEN su - CAST(18446744073709551616 AS HUGEINT) ELSE su END AS BIGINT) AS sim
         |  FROM (
         |    SELECT doc_id,
         |      list_sum(list_transform(range(0, 64), b ->
         |        CASE WHEN 2 * len(list_filter(hl, h -> (h >> b) % 2 = 1)) > nw
         |             THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END)) AS su
         |    FROM hs))
         |SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
         |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // random-hyperplane LSH replayed: the seeded plane literals are
    // interpolated into the SQL verbatim (shortest-repr doubles
    // round-trip exactly), buckets re-derived per vector, and the
    // radius-3 multiprobe set {bucket XOR m : popcount(m) <= 3} expressed
    // as its equivalent hamming join
    "q36_sim_lsh" -> {
      val bucketExpr = (0 until LshOracleNumPlanes).map { i =>
        s"(CASE WHEN list_dot_product(emb, ${planeLiteral(LshOraclePlanes(i))}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n       + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |d AS (SELECT vec_id, emb,
         |       $bucketExpr AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket FROM d WHERE vec_id % 50 = 0),
         |c AS (SELECT q.query_id, d.vec_id,
         |        list_dot_product(d.emb, q.q_emb)
         |        / (sqrt(list_dot_product(d.emb, d.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))) AS cos
         |      FROM d JOIN q ON bit_count(xor(d.bucket, q.q_bucket)) <= 3 AND d.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM c)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // fingerprints replayed: the rolling mod-2^61-1 polynomial and the
    // winnowing 16-gram FNV minimum re-derived per char in HUGEINT SQL
    "q39_fingerprints" ->
      """WITH t AS (
        |  SELECT doc_id, list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT)) AS cs FROM documents),
        |f AS (
        |  SELECT doc_id, cs, len(cs) AS n,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
        |      (acc, c) -> (acc*257 + c + 1) % CAST(2305843009213693951 AS HUGEINT)) AS BIGINT) AS fp
        |  FROM t)
        |SELECT doc_id, fp,
        |  CASE WHEN n < 16 THEN fp ELSE
        |    list_min(list_transform(range(1, n - 14), i ->
        |      CAST(list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), cs[i:i+15]),
        |        (acc, c) -> ((acc - acc % 256 + CAST(xor(CAST(acc % 256 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT)) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
        |      ) % CAST(9223372036854775808 AS HUGEINT) AS BIGINT)))
        |  END AS min_shingle_fp
        |FROM f ORDER BY doc_id""".stripMargin
  )

  // --- q32/q36 oracle SQL generators ---------------------------------------

  /** DuckDB twin of [[Dedup.rot60]]/[[Dedup.md5Half]]: the k-th minhash
    * function over the two md5-prefix halves, as SQL text.
    */
  private def rotSql(k: Int): String =
    if (k == 0) "h2"
    else s"((h2 & ${(1L << (60 - k)) - 1}) << $k) | (h2 >> ${60 - k})"

  /** Signature + banding + candidate CTEs for the q32 oracle, generated
    * from the SAME constants as [[Dedup.minhashSignatures]]/[[Dedup.minhashLsh]].
    */
  private def MinhashSql: String = {
    val mins = (0 until Dedup.NumHashes)
      .map(k => s"min(xor(h1, ${rotSql(k)})) AS mh$k").mkString(",\n    ")
    val rowsPerBand = Dedup.NumHashes / Dedup.Bands
    val bands = (0 until Dedup.Bands).map { bnd =>
      val cols = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(k => s"mh$k").mkString(", ")
      s"SELECT doc_id, $bnd AS band, CAST(('0x' || substr(md5(concat_ws(',', $cols)), 1, 15)) AS BIGINT) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""hh AS (
       |  SELECT doc_id, sh,
       |    CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h1,
       |    CAST(('0x' || substr(md5(sh), 17, 15)) AS BIGINT) AS h2
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hh GROUP BY doc_id),
       |bb AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  }

  private val LshOracleNumPlanes = 4
  private lazy val LshOraclePlanes = Similarity.planes(64, LshOracleNumPlanes)
  private def planeLiteral(p: Array[Double]): String =
    p.mkString("[", ", ", "]")

  /** The branch-free 16-bit Hilbert index (curve/Hilbert.scala, the
    * public-domain rawrunprotected algorithm) translated to DuckDB SQL
    * CTE stages over (doc_id, x, y) — an independent implementation used
    * to oracle the layout key. Validated against the same goldens as the
    * Scala code (143165576 / 2720145952).
    */
  private val HilbertSql: String =
    """s1 AS (SELECT *, xor(x, y) AS a, xor(65535, xor(x, y)) AS b,
      |  xor(65535, x | y) AS c, x & xor(y, 65535) AS d FROM xy),
      |s2 AS (SELECT *, a | (b >> 1) AS a2, xor(a >> 1, a) AS b2,
      |  xor(xor(c >> 1, b & (d >> 1)), c) AS c2,
      |  xor(xor(a & (c >> 1), d >> 1), d) AS d2 FROM s1),
      |s3 AS (SELECT *,
      |  xor(a2 & (a2 >> 2), b2 & (b2 >> 2)) AS a3,
      |  xor(a2 & (b2 >> 2), b2 & (xor(a2, b2) >> 2)) AS b3,
      |  xor(c2, xor(a2 & (c2 >> 2), b2 & (d2 >> 2))) AS c3,
      |  xor(d2, xor(b2 & (c2 >> 2), xor(a2, b2) & (d2 >> 2))) AS d3 FROM s2),
      |s4 AS (SELECT *,
      |  xor(a3 & (a3 >> 4), b3 & (b3 >> 4)) AS a4,
      |  xor(a3 & (b3 >> 4), b3 & (xor(a3, b3) >> 4)) AS b4,
      |  xor(c3, xor(a3 & (c3 >> 4), b3 & (d3 >> 4))) AS c4,
      |  xor(d3, xor(b3 & (c3 >> 4), xor(a3, b3) & (d3 >> 4))) AS d4 FROM s3),
      |s5 AS (SELECT *,
      |  xor(c4, xor(a4 & (c4 >> 8), b4 & (d4 >> 8))) AS c5,
      |  xor(d4, xor(b4 & (c4 >> 8), xor(a4, b4) & (d4 >> 8))) AS d5 FROM s4),
      |s6 AS (SELECT *, xor(c5, c5 >> 1) AS aa, xor(d5, d5 >> 1) AS bb FROM s5),
      |s7 AS (SELECT *, xor(x, y) AS i0,
      |  bb | xor(65535, (xor(x, y) | aa)) AS i1 FROM s6),
      |e0 AS (SELECT *, (i0 | (i0 << 8)) & 16711935 AS i0a FROM s7),
      |e1 AS (SELECT *, (i0a | (i0a << 4)) & 252645135 AS i0b FROM e0),
      |e2 AS (SELECT *, (i0b | (i0b << 2)) & 858993459 AS i0c FROM e1),
      |e3 AS (SELECT *, (i0c | (i0c << 1)) & 1431655765 AS i0d FROM e2),
      |f0 AS (SELECT *, (i1 | (i1 << 8)) & 16711935 AS i1a FROM e3),
      |f1 AS (SELECT *, (i1a | (i1a << 4)) & 252645135 AS i1b FROM f0),
      |f2 AS (SELECT *, (i1b | (i1b << 2)) & 858993459 AS i1c FROM f1),
      |f3 AS (SELECT *, (i1c | (i1c << 1)) & 1431655765 AS i1d FROM f2),
      |hout AS (SELECT *, ((i1d << 1) | i0d) AS hilbert FROM f3)""".stripMargin

  private val C = Dedup.OracleSqlCorpus

  /** DuckDB shingle CTE matching [[Dedup.shingles]] (distinct word trigrams). */
  private val S: String =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(string_split(text, ' ')) >= 3
      |         THEN list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |              i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])
      |         ELSE CAST([] AS VARCHAR[]) END)) AS sh
      |  FROM corpus
      |)""".stripMargin
}
