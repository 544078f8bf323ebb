package graft

import graft.codec.FeatureCodec.{Feature, PInt64, PString, PValue}
import graft.geom.{Envelope, Wkb}
import graft.sources.GeomedeaFile
import graft.sources.v2.ContainerScan
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.read.format("geomedea")` — the first-class native-format read
  * path (reference `reader.rs:313-346` select/select_bbox semantics
  * driven by ordinary Catalyst WHERE filters).
  */
class DataSourceV2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Two shards with DISJOINT extents (west ~[0,10], east ~[100,110] deg)
    * plus one empty file — so file-level pruning is observable.
    */
  lazy val shardDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("gm_dsv2").toString
    def pt(lngDeg: Double, latDeg: Double, id: Long) = Feature(
      Wkb.Pt((lngDeg * 1e7).toInt, (latDeg * 1e7).toInt),
      Vector("doc" -> PString(s"doc-$id"), "id" -> PInt64(id)))
    val west = (0 until 40).map(i => pt(i % 10, i / 10, i.toLong))
    val east = (0 until 40).map(i => pt(100 + i % 10, i / 10, 1000L + i))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/west.geomedea"),
      GeomedeaFile.write(west, compressed = true, pageSizeGoal = 256))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/east.geomedea"),
      GeomedeaFile.write(east, compressed = false, pageSizeGoal = 256))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/empty.geomedea"),
      GeomedeaFile.write(Seq.empty, compressed = true, pageSizeGoal = 256))
    dir
  }

  private def bboxWhere(df: DataFrame, q: Envelope): DataFrame =
    df.where(col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
      col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat)

  private def scanOf(df: DataFrame): ContainerScan =
    // logical plan, not executedPlan: AQE (any shuffle, e.g. ORDER BY)
    // hides the BatchScanExec inside AdaptiveSparkPlanExec
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: ContainerScan => s }
      .getOrElse(fail("no ContainerScan in plan"))

  test("full scan reads every feature of every shard with stable FeatureLocations") {
    val df = spark.read.format("geomedea").load(shardDir)
    assert(df.count() == 80)
    // row surface: the table columns, and per file the same rows as the
    // in-memory scan of that file
    assert(df.columns.toSet == Set("source_file", "page_offset", "feature_offset", "wkb",
      "props", "prop_keys", "prop_vals", "min_lng", "min_lat", "max_lng", "max_lat"))
    def key(d: DataFrame) = d
      .select(regexp_extract(col("source_file"), "([a-z]+)\\.geomedea", 1),
        col("page_offset"), col("feature_offset"), element_at(col("prop_vals"), 1))
      .collect().map(_.toSeq).toSet
    val inMemory = new java.io.File(shardDir).listFiles.filter(_.getName.endsWith(".geomedea"))
      .flatMap { f =>
        GeomedeaFile.selectAllLocated(java.nio.file.Files.readAllBytes(f.toPath)).map {
          case ((pageOff, featOff), feat) => Seq(f.getName.stripSuffix(".geomedea"), pageOff, featOff,
            graft.sources.GeoJson.propValueString(feat.props.head._2))
        }
      }.toSet
    assert(inMemory.size == 80)
    assert(key(df) == inMemory)
    // full scan plans one partition per non-empty-or-not file (no filter
    // pushed -> no planning-time prune; the empty file just yields 0 rows)
    assert(scanOf(df).toBatch.planInputPartitions().length == 3)
  }

  test("geom-only projections equal the full read (props skip is value-invisible)") {
    // r6: a projection with no props/prop_keys/prop_vals column decodes
    // pages geometry-only (pointer jump over the props bytes) — the
    // emitted wkb/offsets/envelope values must be identical to the full
    // decode, on both the compressed and uncompressed shard
    val full = spark.read.format("geomedea").load(shardDir)
    def key(d: DataFrame) = d
      .select(col("page_offset"), col("feature_offset"), hex(col("wkb")),
        col("min_lng"), col("min_lat"), col("max_lng"), col("max_lat"))
      .collect().map(_.toSeq).toSet
    val geomOnly = key(full) // projection has no props column -> skip path
    val viaFull = full.select(col("page_offset"), col("feature_offset"), hex(col("wkb")),
        col("min_lng"), col("min_lat"), col("max_lng"), col("max_lat"),
        element_at(col("prop_vals"), 1).as("pv")) // props required -> full decode path
      .drop("pv")
      .collect().map(_.toSeq).toSet
    assert(geomOnly == viaFull && geomOnly.size == 80)
  }

  test("WHERE bbox pushes filters, prunes whole files at planning, equals post-filter") {
    val q = Envelope.fromDegrees(100, 0, 110, 10) // east shard only
    val full = spark.read.format("geomedea").load(shardDir)
    val pruned = bboxWhere(full, q)
    // correctness: identical to filtering the full scan
    val expect = full.collect().count { r =>
      r.getAs[Int]("max_lng") >= q.minLng && r.getAs[Int]("max_lat") >= q.minLat &&
        r.getAs[Int]("min_lng") <= q.maxLng && r.getAs[Int]("min_lat") <= q.maxLat
    }
    assert(expect == 40)
    assert(pruned.count() == 40)
    assert(pruned.select("source_file").distinct().collect()
      .forall(_.getString(0).endsWith("east.geomedea")))
    // pushdown evidence: the scan carries the bbox + pushed filters
    val scan = scanOf(pruned)
    assert(scan.description().contains("PushedFilters: ["), scan.description())
    assert(scan.description().contains("GreaterThanOrEqual(max_lng"), scan.description())
    // planning-time prune: west + empty shards are never planned
    assert(scan.toBatch.planInputPartitions().length == 1)
  }

  test("point-query filters on min_* columns prune too (max >= min superset argument)") {
    // a user filtering points often writes equality-ish bounds on min_*
    val df = spark.read.format("geomedea").load(shardDir)
      .where(col("min_lng") >= 1000000000 && col("min_lng") <= 1100000000 &&
        col("min_lat") >= 0 && col("min_lat") <= 100000000)
    assert(df.count() == 40)
    assert(scanOf(df).toBatch.planInputPartitions().length == 1)
  }

  test("column pruning: narrow projection still correct (ReadSchema subset)") {
    val df = spark.read.format("geomedea").load(shardDir)
      .select("source_file", "min_lng")
    val rows = df.collect()
    assert(rows.length == 80)
    assert(rows.forall(_.length == 2))
    val west = rows.filter(_.getString(0).endsWith("west.geomedea"))
    assert(west.map(_.getInt(1)).min == 0)
    assert(scanOf(df).readSchema().fieldNames.toSeq == Seq("source_file", "min_lng"))
  }

  test("SQL over the format: CREATE TABLE USING geomedea + WHERE drives the same prune") {
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gm USING geomedea OPTIONS (path '$shardDir')")
    val out = spark.sql(
      """SELECT element_at(prop_vals, 2) AS id FROM gm
        |WHERE max_lng >= 1000000000 AND min_lng <= 1100000000
        |  AND max_lat >= 0 AND min_lat <= 100000000
        |ORDER BY id""".stripMargin)
    val ids = out.collect().map(_.getString(0))
    assert(ids.length == 40 && ids.forall(_.toLong >= 1000L))
    assert(scanOf(out).toBatch.planInputPartitions().length == 1)
  }

  test("limit pushdown: plans only enough files, decodes only enough pages, reports metrics") {
    val df = spark.read.format("geomedea").load(shardDir).limit(10)
    assert(df.count() == 10)
    val scan = scanOf(df)
    assert(scan.description().contains("limit=10"), scan.description())
    // file planning: 10 rows fit in the first shard (40 features) — only
    // one partition planned instead of three
    assert(scan.toBatch.planInputPartitions().length == 1)
    // reader-level early stop: drive a reader directly and check the
    // task metrics — with pageSizeGoal=256 the 40-feature shard holds
    // ~10 pages, and the pushed limit of 10 (~4 features/page) must
    // range-read only a strict prefix of them
    val parts = scan.toBatch.planInputPartitions()
    val reader = scan.toBatch.createReaderFactory().createReader(parts.head)
    var n = 0
    while (reader.next()) n += 1
    assert(n <= 10 && n > 0)
    val metrics = reader.currentMetricsValues().map(m => m.name() -> m.value()).toMap
    assert(metrics("rowsDecoded") == n)
    val totalPages = {
      val f = new java.io.File(shardDir).listFiles
        .filter(_.getName.endsWith(".geomedea")).minBy(_.getName)
      GeomedeaFile.header(java.nio.file.Files.readAllBytes(f.toPath))._2
    }
    assert(metrics("pagesDecoded") < totalPages,
      s"limit must stop decoding early: ${metrics("pagesDecoded")} of $totalPages pages")
    assert(metrics("bytesDecoded") > 0)
    // supported metric names line up with what readers emit
    assert(scan.supportedCustomMetrics().map(_.name()).toSet ==
      Set("pagesDecoded", "bytesDecoded", "rowsDecoded"))

    // file-level: a limit is a prefix of the one stream — exactly the
    // full scan's prefix, and its transfer is header + needed pages only
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      new java.io.File(shardDir).listFiles.filter(_.getName.endsWith(".geomedea"))
        .minBy(_.getName).toString))
    val all = GeomedeaFile.selectAllLocated(bytes)
    val (compressed, _, featureCount) = GeomedeaFile.header(bytes)
    val dataStart = GeomedeaFile.dataStart(featureCount)
    var transferred = graft.codec.FeatureCodec.HeaderBytes.toLong
    val in = new java.io.DataInputStream(new java.io.InputStream {
      private var pos = dataStart.toInt
      override def read(): Int = {
        val b = Array.ofDim[Byte](1)
        if (read(b, 0, 1) < 0) -1 else b(0) & 0xFF
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = math.min(len, bytes.length - pos)
        if (n <= 0) -1
        else { System.arraycopy(bytes, pos, b, off, n); pos += n; transferred += n; n }
      }
    })
    val lim = GeomedeaFile.selectPageRange(in, compressed, dataStart, bytes.length.toLong,
      dataStart).take(7).toVector
    assert(lim.map(_._1) == all.take(7).map(_._1))
    assert(lim.map(f => Wkb.asText(f._2.geom)) ==
      all.take(7).map(f => Wkb.asText(f._2.geom)))
    assert(transferred < bytes.length / 2,
      s"bounded transfer: $transferred of ${bytes.length} bytes")
  }

  test("COUNT(*) pushdown: answered from file headers, no page decoded") {
    val df = spark.read.format("geomedea").load(shardDir)
    // the count itself
    assert(df.count() == 80)
    // and the plan proves it came from the header-count scan, not a scan
    // of decoded features
    val agg = df.groupBy().count()
    val scans = agg.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(scans.exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]),
      agg.queryExecution.optimizedPlan.toString)
    assert(agg.head().getLong(0) == 80)
    // filtered counts must NOT take the header answer (it is whole-table)
    val filtered = bboxWhere(df, Envelope.fromDegrees(100, 0, 110, 10)).groupBy().count()
    val fScans = filtered.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(!fScans.exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]))
    assert(filtered.head().getLong(0) == 40)
  }

  test("envelope MIN/MAX pushdown: lake extent answered from headers") {
    val df = spark.read.format("geomedea").load(shardDir)
    val agg = df.groupBy().agg(
      min("min_lng").as("a"), min("min_lat").as("b"),
      max("max_lng").as("c"), max("max_lat").as("d"), count("*").as("n"))
    val scans = agg.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(scans.exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]),
      agg.queryExecution.optimizedPlan.toString)
    // ground truth through the NON-pushed path: a residual filter blocks
    // aggregate pushdown (a non-envelope column filter is never claimed),
    // forcing decode
    val brute = df.where(col("feature_offset") >= 0).groupBy().agg(
      min("min_lng"), min("min_lat"), max("max_lng"), max("max_lat"), count("*"))
    val bScans = brute.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(!bScans.exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]))
    assert(agg.head().toSeq == brute.head().toSeq,
      "header-derived extent must equal the decoded aggregation exactly")

    // the misaligned pair is NOT derivable from root bounds: never pushed
    val wrongPair = df.groupBy().agg(min("max_lng"))
    val wScans = wrongPair.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(!wScans.exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]))
    // and a mixed list with one unsupported aggregate rejects the whole push
    val mixed = df.groupBy().agg(min("min_lng"), avg("min_lat"))
    val mScans = mixed.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(!mScans.exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]))
    assert(mixed.head().getInt(0) == brute.head().getInt(0))
  }

  test("scan reports true header statistics (rows/bytes) to Catalyst") {
    val df = spark.read.format("geomedea").load(shardDir)
    val full = scanOf(df).estimateStatistics()
    assert(full.numRows().getAsLong == 80)
    assert(full.sizeInBytes().getAsLong ==
      new java.io.File(shardDir).listFiles.filter(_.getName.endsWith(".geomedea"))
        .map(_.length).sum)
    // bbox narrows the estimate to the surviving shard's totals
    val east = scanOf(bboxWhere(df, Envelope.fromDegrees(100, 0, 110, 10)))
      .estimateStatistics()
    assert(east.numRows().getAsLong == 40)
    // and Catalyst's plan-level stats see the scan's sizeInBytes (not a
    // default-huge relation), so broadcast decisions are informed
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(planBytes > 0 && planBytes < 10L * 1024 * 1024, planBytes)
  }

  test("distributed write: one executor-side shard per partition, roundtrip + overwrite") {
    val src = spark.read.format("geomedea").load(shardDir)
    val out = java.nio.file.Files.createTempDirectory("gm_wr").toString + "/out"
    src.select("wkb", "props").repartition(2)
      .write.format("geomedea").mode("append").save(out)
    def shards = new java.io.File(out).listFiles.toSeq
      .map(_.getName).filter(_.endsWith(".geomedea")).sorted
    assert(shards.length == 2 && shards.forall(!_.startsWith("_tmp")), shards)
    val back = spark.read.format("geomedea").load(out)
    assert(back.count() == 80)
    // same feature multiset (geometry + flat prop view) as the source dir
    def key(d: DataFrame) = d.select(hex(col("wkb")), col("prop_vals").cast("string"))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(key(back) == key(src))
    // a SECOND append job (fresh job token) must never collide with the
    // first job's shard names — appends accumulate
    src.select("wkb", "props").repartition(1)
      .write.format("geomedea").mode("append").save(out)
    assert(shards.length == 3, shards)
    // decode-path check, NOT count(): count() is answered from headers
    // (aggregate pushdown), which would mask a writer that stamps a
    // correct header over corrupt pages
    assert(spark.read.format("geomedea").load(out).collect().length == 160)
    // extra columns are ignored; overwrite truncates previous shards
    src.select(col("wkb"), col("props"), col("min_lng").as("junk")).repartition(1)
      .write.format("geomedea").mode("overwrite").save(out)
    assert(shards.length == 1, shards)
    assert(spark.read.format("geomedea").load(out).count() == 80)
    // a written shard is a genuine reference-format container
    val one = GeomedeaFile.selectAll(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/${shards.head}")))
    assert(one.length == 80)
  }

  test("all 7 geometry types + empties + holes + typed vec/map roundtrip write->read") {
    import graft.codec.FeatureCodec._
    def pk(x: Int, y: Int) = Wkb.pack(x, y)
    val outer = Array(pk(0, 0), pk(100, 0), pk(100, 100), pk(0, 100), pk(0, 0))
    val hole = Array(pk(40, 40), pk(60, 40), pk(60, 60), pk(40, 60), pk(40, 40))
    val geoms: Seq[Wkb.Geom] = Seq(
      Wkb.Pt(15000000, -25000000),
      Wkb.Line(Array(pk(0, 0), pk(10, 10), pk(-10, 5))),
      Wkb.Line(Array.empty),
      Wkb.Poly(Vector(outer, hole)),
      Wkb.Poly(Vector.empty),
      Wkb.MultiPt(Array(pk(1, 1), pk(2, 2))),
      Wkb.MultiLine(Vector(Array(pk(0, 0), pk(5, 5)), Array.empty)),
      Wkb.MultiPoly(Vector(Vector(outer), Vector.empty)),
      Wkb.Collection(Vector(Wkb.Pt(7, 7), Wkb.Line(Array(pk(1, 0), pk(0, 1))))))
    // every scalar kind of the columnar bridge, plus one level of vec/map
    val feats = geoms.zipWithIndex.map { case (g, i) =>
      Feature(g, Vector(
        "bool" -> PBool(i % 2 == 0),
        "i8" -> PInt8((-i).toByte), "u8" -> PUInt8(250 + i % 6),
        "i16" -> PInt16((-300 * i).toShort), "u16" -> PUInt16(65000 + i),
        "i32" -> PInt32(-70000 * i), "u32" -> PUInt32(4000000000L + i),
        "i" -> PInt64(i.toLong), "u64" -> PUInt64(-1L - i),
        "f32" -> PFloat32(i * 0.25f), "f64" -> PFloat64(i * -1.5),
        "bytes" -> PBytes(Array[Byte](i.toByte, -1, 0)), "string" -> PString(s"s\u00e9$i"),
        "v" -> PVec(Vector(PBool(i % 2 == 0), PString(s"elem$i"), PInt32(-i), PUInt8(i))),
        "m" -> PMap(Vector("z" -> PFloat64(i * 0.5), "a" -> PUInt64(-1L),
          "b" -> PBytes(Array[Byte](7, i.toByte))))))
    }
    val s = spark
    import s.implicits._
    val df = feats.map(f => (Wkb.write(f.geom),
        f.props.map { case (k, v) => graft.sources.GeoJsonIngest.toCell(k, v) }))
      .toDF("wkb", "props")
    def readBack(format: String, dir: String) = spark.read.format(format).load(dir)
      .select("wkb", "props").as[(Array[Byte], Seq[graft.sources.GeoJsonIngest.PropCell])]
      .collect()
      .map { case (wkb, cells) =>
        (Wkb.asText(Wkb.read(wkb)), cells.map(graft.sources.GeoJsonIngest.fromCell).toVector)
      }.toSet
    val out = java.nio.file.Files.createTempDirectory("gm_geoms").toString + "/g"
    df.repartition(3).write.format("geomedea").mode("append").save(out)
    val expect = feats.map(f => (Wkb.asText(f.geom), f.props)).toSet
    assert(readBack("geomedea", out) == expect)
    // the same frame through the FGB source: FGB stores vec/map as JSON,
    // so the reference is the format's own decode of the written shards
    val fgbOut = java.nio.file.Files.createTempDirectory("fgb_geoms").toString + "/g"
    df.repartition(3).write.format("flatgeobuf").mode("append").save(fgbOut)
    val fgbShards = new java.io.File(fgbOut).listFiles.filter(_.getName.endsWith(".fgb"))
    val fgbExpect = fgbShards.toSeq.flatMap(f => graft.sources.FlatGeobuf.selectAll(
      java.nio.file.Files.readAllBytes(f.toPath))).map(f => (Wkb.asText(f.geom), f.props)).toSet
    assert(fgbExpect.size == feats.size)
    assert(readBack("flatgeobuf", fgbOut) == fgbExpect)
  }

  test("declared schemas: the source tables and the props cell layout the bridges read") {
    import org.apache.spark.sql.types.DataType
    // the schemas the seed derived from its row case classes, nullability
    // included (captured StructType.json)
    val scalar = """{"type":"struct","fields":[{"name":"kind","type":"string","nullable":true,"metadata":{}},{"name":"b","type":"boolean","nullable":true,"metadata":{}},{"name":"i","type":"long","nullable":true,"metadata":{}},{"name":"d","type":"double","nullable":true,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}},{"name":"bin","type":"binary","nullable":true,"metadata":{}}]}"""
    val cell = s"""{"type":"struct","fields":[{"name":"key","type":"string","nullable":true,"metadata":{}},{"name":"kind","type":"string","nullable":true,"metadata":{}},{"name":"b","type":"boolean","nullable":true,"metadata":{}},{"name":"i","type":"long","nullable":true,"metadata":{}},{"name":"d","type":"double","nullable":true,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}},{"name":"bin","type":"binary","nullable":true,"metadata":{}},{"name":"vec","type":{"type":"array","elementType":$scalar,"containsNull":true},"nullable":true,"metadata":{}},{"name":"kvs","type":{"type":"array","elementType":{"type":"struct","fields":[{"name":"k","type":"string","nullable":true,"metadata":{}},{"name":"v","type":$scalar,"nullable":true,"metadata":{}}]},"containsNull":true},"nullable":true,"metadata":{}}]}"""
    def table(location: String) = s"""{"type":"struct","fields":[{"name":"source_file","type":"string","nullable":true,"metadata":{}},$location,{"name":"wkb","type":"binary","nullable":true,"metadata":{}},{"name":"props","type":{"type":"array","elementType":$cell,"containsNull":true},"nullable":true,"metadata":{}},{"name":"prop_keys","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}},{"name":"prop_vals","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}},{"name":"min_lng","type":"integer","nullable":false,"metadata":{}},{"name":"min_lat","type":"integer","nullable":false,"metadata":{}},{"name":"max_lng","type":"integer","nullable":false,"metadata":{}},{"name":"max_lat","type":"integer","nullable":false,"metadata":{}}]}"""
    val gm = table("""{"name":"page_offset","type":"long","nullable":false,"metadata":{}},{"name":"feature_offset","type":"integer","nullable":false,"metadata":{}}""")
    val fgb = table("""{"name":"feature_offset","type":"long","nullable":false,"metadata":{}}""")
    assert(graft.sources.v2.ContainerFormat.Geomedea.schema == DataType.fromJson(gm))
    assert(graft.sources.v2.ContainerFormat.FlatGeobuf.schema == DataType.fromJson(fgb))
    // `.as[Seq[PropCell]]` in the bridges binds the props column by this type
    assert(graft.sources.v2.FeatureRows.CellType ==
      org.apache.spark.sql.Encoders.product[graft.sources.GeoJsonIngest.PropCell].schema)
    assert(spark.read.format("geomedea").load(shardDir).schema == DataType.fromJson(gm))
  }

  /** 300-feature clustered file (many 256-byte pages) for the ranged
    * bbox scan tests: a hot cluster near (5,5) deg and a sparse far band.
    */
  private lazy val rangedFixture: Array[Byte] = {
    // ~250-byte payloads so the PAGE section dominates the index — the
    // shape where bounded transfer is measurable (at real scale pages
    // outweigh the tree by 1000x; here ~8x)
    def pt(lngDeg: Double, latDeg: Double, id: Long) = Feature(
      Wkb.Pt((lngDeg * 1e7).toInt, (latDeg * 1e7).toInt),
      Vector("doc" -> PString(s"d-$id-" +
        new scala.util.Random(id).alphanumeric.take(240).mkString), // incompressible
        "id" -> PInt64(id)))
    val hot = (0 until 200).map(i => pt(5 + (i % 20) * 0.01, 5 + (i / 20) * 0.01, i.toLong))
    val far = (0 until 100).map(i => pt(120 + i * 0.1, -40 + i * 0.2, 1000L + i))
    GeomedeaFile.write(hot ++ far, compressed = true, pageSizeGoal = 2048)
  }

  /** Fetch window matched to the fixture's 2 KiB page goal (the
    * reference's 2x-goal-x1.1 rule applied at the fixture scale).
    */
  private val FixtureBatch = (2 * 2048 * 1.1).toInt

  test("selectBboxRange: same rows/locations as the in-memory indexed scan, bounded transfer") {
    val bytes = rangedFixture
    for (q <- Seq(
      Envelope.fromDegrees(4.9, 4.9, 5.05, 5.05),   // selective corner of the hot cluster
      Envelope.fromDegrees(119, -41, 131, -19),     // far band only
      Envelope.fromDegrees(-180, -90, 180, 90),     // everything
      Envelope.fromDegrees(60, 60, 61, 61))) {      // nothing
      val expect = GeomedeaFile.selectBboxLocated(bytes, q)
      var transferred = 0L
      val scan = GeomedeaFile.selectBboxRange((off, k) => {
        transferred += k; bytes.slice(off.toInt, off.toInt + k)
      }, bytes.length.toLong, q, FixtureBatch)
      val got = scan.toVector
      assert(got.map(_._1) == expect.map(_._1), s"locations for $q")
      assert(got.map(f => Wkb.asText(f._2.geom)) == expect.map(f => Wkb.asText(f._2.geom)))
      assert(scan.bytesTransferred == transferred)
      // pruning accounting mirrors the in-memory scan's
      val counted = GeomedeaFile.selectBboxCounted(bytes, q)
      assert(scan.pagesDecoded == counted.pagesFetched, s"pages for $q")
      if (expect.nonEmpty && expect.length < 150)
        assert(transferred < bytes.length / 2,
          s"selective bbox must transfer a strict subset: $transferred of ${bytes.length}")
    }
  }

  test("selectBboxRange: tiny fetch windows (forced splits/tails) stay exact") {
    val bytes = rangedFixture
    val q = Envelope.fromDegrees(4.9, 4.9, 5.12, 5.12)
    val expect = GeomedeaFile.selectBboxLocated(bytes, q)
    // window smaller than a page: every page needs a tail fetch
    for (batch <- Seq(GeomedeaFile.PageBatchBytes, 64, 16, 12)) {
      val scan = GeomedeaFile.selectBboxRange(
        (off, k) => bytes.slice(off.toInt, off.toInt + k), bytes.length.toLong, q, batch)
      val got = scan.toVector
      assert(got.map(_._1) == expect.map(_._1), s"batch=$batch")
    }
    // uncompressed container too
    val un = {
      val feats = GeomedeaFile.selectAll(bytes)
      GeomedeaFile.write(feats, compressed = false, pageSizeGoal = 256)
    }
    val scanU = GeomedeaFile.selectBboxRange(
      (off, k) => un.slice(off.toInt, off.toInt + k), un.length.toLong, q, 64)
    assert(scanU.toVector.map(_._1) == GeomedeaFile.selectBboxLocated(un, q).map(_._1))
  }

  test("selectBboxRange: index transfer is level-pruned (never the whole tree)") {
    val bytes = rangedFixture
    val (_, _, featureCount) = GeomedeaFile.header(bytes)
    val treeBytes = graft.index.PackedRTree.nodeCount(featureCount) *
      graft.index.PackedRTree.NodeBytes
    // selective query: only the hit subtree's node ranges are fetched, so
    // total transfer stays under header + tree + hit pages even though the
    // range-merge threshold coalesces small gaps
    val q = Envelope.fromDegrees(120.0, -40.0, 120.5, -39.0)
    val scan = GeomedeaFile.selectBboxRange(
      (off, k) => bytes.slice(off.toInt, off.toInt + k), bytes.length.toLong, q)
    val n = scan.size
    assert(n > 0)
    assert(scan.requests >= 3) // header + >=1 index level + >=1 page window
    assert(scan.bytesTransferred < bytes.length.toLong,
      s"${scan.bytesTransferred} of ${bytes.length}; tree=$treeBytes")
  }

  test("selectPageRange over the whole data section equals the materialized scan") {
    val bytes = rangedFixture
    val expect = GeomedeaFile.selectAllLocated(bytes)
    val (compressed, _, featureCount) = GeomedeaFile.header(bytes)
    val dataStart = GeomedeaFile.dataStart(featureCount)
    var pages = 0L
    val got = GeomedeaFile.selectPageRange(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes, dataStart.toInt,
        bytes.length - dataStart.toInt)),
      compressed, dataStart, bytes.length.toLong, dataStart, onPage = _ => pages += 1).toVector
    assert(got.map(_._1) == expect.map(_._1))
    assert(got.map(f => Wkb.asText(f._2.geom)) == expect.map(f => Wkb.asText(f._2.geom)))
    assert(pages == GeomedeaFile.header(bytes)._2)
  }

  test("manifest: v2 writes publish _manifest.tsv and planning consumes it") {
    import graft.sources.v2.GeomedeaManifest
    val src = spark.read.format("geomedea").load(shardDir)
    val out = java.nio.file.Files.createTempDirectory("gm_manifest").toString + "/m"
    src.select("wkb", "props").repartition(2)
      .write.format("geomedea").mode("append").save(out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val m1 = GeomedeaManifest.read(fs, new org.apache.hadoop.fs.Path(out))
    assert(m1.isDefined && m1.get.size == 2)
    assert(m1.get.values.map(_.count).sum == 80)
    // appends refresh it to cover every shard
    src.select("wkb", "props").repartition(1)
      .write.format("geomedea").mode("append").save(out)
    val m2 = GeomedeaManifest.read(fs, new org.apache.hadoop.fs.Path(out))
    assert(m2.get.size == 3 && m2.get.values.map(_.count).sum == 160)
    // PROOF the planner trusts a consistent manifest: rewrite it with a
    // far-away extent for every shard (names/lengths intact) — a bbox
    // over the true data must now prune everything at planning
    val forged = m2.get.values.map(e => e.copy(minLng = 1790000000,
      minLat = 880000000, maxLng = 1800000000, maxLat = 890000000)).toSeq
    GeomedeaManifest.write(fs, new org.apache.hadoop.fs.Path(out), forged, "forge")
    val q = Envelope.fromDegrees(0, 0, 10, 10)
    assert(graft.sources.v2.ContainerFormat.Geomedea.scanFiles(out, Some(q)).isEmpty,
      "consistent manifest extents must drive file pruning")
    // STALENESS: drop one manifest line -> coverage check fails -> header
    // fallback gives the true answer again
    GeomedeaManifest.write(fs, new org.apache.hadoop.fs.Path(out), forged.tail, "stale")
    assert(graft.sources.v2.ContainerFormat.Geomedea.scanFiles(out, Some(q)).nonEmpty,
      "stale manifest must fall back to header reads")
    // and a wrong byte length is also rejected
    GeomedeaManifest.write(fs, new org.apache.hadoop.fs.Path(out),
      forged.map(e => e.copy(len = e.len + 1)), "badlen")
    assert(graft.sources.v2.ContainerFormat.Geomedea.scanFiles(out, Some(q)).nonEmpty)
    // manifest refresh is BEST-EFFORT: a corrupt foreign shard in the
    // dir must not fail a commit whose data already published (the
    // refresh degrades; planning falls back and names the bad file)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/junk.geomedea"),
      Array[Byte](1, 2, 3))
    src.select("wkb", "props").repartition(1)
      .write.format("geomedea").mode("append").save(out) // must not throw
    val e = intercept[Exception](graft.sources.v2.ContainerFormat.Geomedea.scanFiles(out, None))
    assert(e.getMessage != null && e.getMessage.contains("junk.geomedea"))
  }

  test("writer options: pageSizeGoal shapes pages; wrong wkb type fails at planning") {
    val src = spark.read.format("geomedea").load(shardDir)
    val out = java.nio.file.Files.createTempDirectory("gm_psg").toString + "/p"
    src.select("wkb", "props").repartition(1)
      .write.format("geomedea").option("pageSizeGoal", "128").mode("append").save(out)
    val shard = new java.io.File(out).listFiles.filter(_.getName.endsWith(".geomedea")).head
    val (_, pageCount, n) = GeomedeaFile.header(java.nio.file.Files.readAllBytes(shard.toPath))
    assert(n == 80)
    assert(pageCount > 5, s"128-byte page goal must yield many pages, got $pageCount")
    // non-binary wkb: clean driver-side failure, not an executor decode error
    val bad = src.select(hex(col("wkb")).as("wkb"), col("props"))
    val err = intercept[Exception] {
      bad.write.format("geomedea").mode("append").save(out + "2")
    }
    assert(err.getMessage.contains("wkb column must be binary"), err.getMessage)
  }

  test("truncated/corrupt .geomedea file fails planning with a filename-bearing error") {
    val dir = java.nio.file.Files.createTempDirectory("gm_trunc").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.geomedea"),
      Array[Byte](1, 2, 3))
    val err = intercept[Exception] {
      spark.read.format("geomedea").load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(m => m.contains("bad.geomedea") && m.contains("shorter")),
      messages(err).mkString(" | "))
  }

  test("streaming read: tails a growing shard lake exactly once, resumes from checkpoint") {
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("gm_stream").toString
    val lake = s"$base/lake"
    val ckpt = s"$base/ckpt"
    def writeBatch(ids: Range): Unit =
      ids.map { i =>
        (Wkb.write(Wkb.Pt(i * 1000000, i * 500000)),
          Seq(graft.sources.GeoJsonIngest.toCell("id", PInt64(i.toLong))))
      }.toDF("wkb", "props")
        .repartition(2).write.format("geomedea").mode("append").save(lake)

    def runOnce(): Set[Long] = {
      // foreachBatch (checkpoint-recoverable, unlike the memory sink):
      // the buffer holds exactly this run's batches, i.e. only the
      // shards NEW since the checkpoint
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val q = spark.readStream.format("geomedea").load(lake)
        .select(col("props")(0)("i").as("id"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSet
    }

    writeBatch(0 until 30)
    assert(runOnce() == (0L until 30L).toSet)
    writeBatch(30 until 50)
    assert(runOnce() == (30L until 50L).toSet,
      "restart from checkpoint must emit ONLY the new shards (offset roundtrip)")
    assert(runOnce() == Set.empty, "no new shards -> empty batch")

    // the bbox OPTION prunes whole NEW shards at streaming planning
    // (Spark never calls pushFilters on micro-batch scans — the option
    // is the streaming push channel; the where stays as defense)
    val far = spark.readStream.format("geomedea")
      .option("bbox", "900000000,-900000000,910000000,900000000").load(lake)
      .where(col("max_lng") >= 900000000 && col("min_lng") <= 910000000 &&
        col("max_lat") >= -900000000 && col("min_lat") <= 900000000)
      .select(col("props")(0)("i").as("id"))
    val q2 = far.writeStream.format("memory").queryName("gm_stream_bbox")
      .option("checkpointLocation", s"$base/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // no shard extent reaches lng >= 90 deg (ids < 50 -> lng <= 4.9 deg)
    assert(spark.table("gm_stream_bbox").count() == 0)
  }

  test("typed props survive the v2 reader (same cells as the bridge)") {
    val df = spark.read.format("geomedea").load(s"$shardDir/west.geomedea")
    val cells = df.orderBy("page_offset", "feature_offset")
      .selectExpr("props[1].kind", "props[1].i").head()
    assert(cells.getString(0) == "i64")
    // single-file load works as well as directory load
    assert(df.count() == 40)
  }

  test("v2 writers and readers build rows without the task thread's context classloader") {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite}
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // Task threads run under whatever loader Spark installs (a per-session
    // ExecutorClassLoader in local mode). The factories are driven here the
    // way a task drives them, on a thread whose context loader sees only
    // the JDK, so any classloader-dependent step (e.g. Scala reflection)
    // fails deterministically instead of by test order.
    val jdkOnly = new java.net.URLClassLoader(Array.empty[java.net.URL], null)
    def onForeignThread[T](body: => T): T = {
      var out: Either[Throwable, T] = Left(new IllegalStateException("thread did not run"))
      val t = new Thread(() => out = try Right(body) catch { case e: Throwable => Left(e) })
      t.setContextClassLoader(jdkOnly)
      t.start(); t.join()
      out.fold(e => throw e, identity)
    }
    val src = spark.read.format("geomedea").load(shardDir).select("wkb", "props")
    val rows = src.queryExecution.toRdd.map(_.copy()).collect()
    assert(rows.length == 80)
    val none = CaseInsensitiveStringMap.empty()
    def norm(r: org.apache.spark.sql.Row): String = r.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other          => String.valueOf(other)
    }.mkString("|")
    def table(format: String, dir: String): SupportsRead with SupportsWrite = format match {
      case "geomedea" => new graft.sources.v2.ContainerTable(graft.sources.v2.ContainerFormat.Geomedea, Seq(dir))
      case _          => new graft.sources.v2.ContainerTable(graft.sources.v2.ContainerFormat.FlatGeobuf, Seq(dir), graft.sources.v2.ContainerFormat.FlatGeobuf.schema)
    }
    for (format <- Seq("geomedea", "flatgeobuf")) {
      val out = java.nio.file.Files.createTempDirectory(s"cl_$format").toString + "/o"
      val write = table(format, out).newWriteBuilder(new LogicalWriteInfo {
        override def queryId(): String = "cl"
        override def schema(): org.apache.spark.sql.types.StructType = src.schema
        override def options(): CaseInsensitiveStringMap = none
      }).build().toBatch
      val writers = write.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
      val msg = onForeignThread {
        val w = writers.createWriter(0, 0L)
        try { rows.foreach(w.write); w.commit() } finally w.close()
      }
      write.commit(Array(msg))
      // full read, every column (props included), same thread discipline
      val scan = table(format, out).newScanBuilder(none).build()
      val readers = scan.toBatch.createReaderFactory()
      val back = onForeignThread {
        scan.toBatch.planInputPartitions().toSeq.flatMap { p =>
          val r = readers.createReader(p)
          try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().copy()).toVector
          finally r.close()
        }
      }
      val toRow = CatalystTypeConverters.createToScalaConverter(scan.readSchema())
      val expect = spark.read.format(format).load(out).collect().map(norm).sorted.toSeq
      assert(expect.length == 80)
      assert(back.map(r => norm(toRow(r).asInstanceOf[org.apache.spark.sql.Row])).sorted == expect)
    }
  }

  test("load(paths*): two listed shards of a three-shard lake read as the union of their single loads") {
    import graft.sources.v2.{GeomedeaManifest, GeomedeaPartition, HeaderStatsScan}
    // the third shard's points lie south-west of both others, so a leaked
    // row changes every count, window and extent checked below
    val farDir = java.nio.file.Files.createTempDirectory("gm_far").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$farDir/far.geomedea"),
      GeomedeaFile.write((0 until 30).map(i => Feature(
        Wkb.Pt((-600000000 + i % 10 * 10000000), (-400000000 + i / 10 * 10000000)),
        Vector("doc" -> PString(s"far-$i"), "id" -> PInt64(5000L + i)))),
        compressed = true, pageSizeGoal = 256))
    val src = spark.read.format("geomedea").load(shardDir)
    val parts = Seq(src.where(col("min_lng") < 500000000), src.where(col("min_lng") >= 500000000),
      spark.read.format("geomedea").load(farDir)).map(_.select("wkb", "props"))
    val window = Envelope.fromDegrees(-70, -50, 10, 10) // west + far, not east
    def rows(d: DataFrame): Seq[String] = d
      .select(col("source_file"), col("feature_offset"), hex(col("wkb")),
        col("prop_vals").cast("string"))
      .collect().map(_.mkString("|")).sorted.toSeq
    def scans(d: DataFrame) = d.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    def plannedFiles(d: DataFrame): Set[String] = scans(d).flatMap(_.toBatch.planInputPartitions()
      .map(p => new org.apache.hadoop.fs.Path(p.asInstanceOf[GeomedeaPartition].file).getName)).toSet
    for ((format, suffix) <- Seq("geomedea" -> ".geomedea", "flatgeobuf" -> ".fgb")) {
      val out = java.nio.file.Files.createTempDirectory(s"multi_$format").toString + "/lake"
      def shards(): Set[String] = Option(new java.io.File(out).listFiles).toSeq.flatten
        .map(_.getName).filter(_.endsWith(suffix)).toSet
      // one single-partition append per shard: west, east, far
      val Seq(a, b, c) = parts.map { part =>
        val before = shards()
        part.repartition(1).write.format(format).mode("append").save(out)
        val added = shards() -- before
        assert(added.size == 1, s"$format: $added")
        added.head
      }
      val lake = new org.apache.hadoop.fs.Path(out)
      assert(GeomedeaManifest.read(lake.getFileSystem(spark.sessionState.newHadoopConf()), lake)
        .map(_.keySet) == Some(Set(a, b, c)), format)
      def load(names: String*) = spark.read.format(format).load(names.map(n => s"$out/$n"): _*)
      val two = load(a, b)
      val singles = load(a).unionByName(load(b))
      val expect = rows(singles)
      assert(expect.size == 80 && rows(load(c)).size == 30, format)

      // full scan: the same rows, planned over exactly the two listed files
      assert(rows(two) == expect, format)
      assert(plannedFiles(two) == Set(a, b), format)
      // bbox: east is pruned at planning, far was never listed
      assert(rows(bboxWhere(two, window)) == rows(bboxWhere(singles, window)), format)
      assert(rows(bboxWhere(two, window)).size == 40, format)
      assert(plannedFiles(bboxWhere(two, window)) == Set(a), format)
      // limit: a pushed limit below the total returns distinct listed rows;
      // one above it returns them all
      val limited = rows(two.limit(50))
      assert(limited.size == 50 && limited.distinct.size == 50 && limited.forall(expect.contains),
        format)
      assert(plannedFiles(two.limit(50)).subsetOf(Set(a, b)), format)
      assert(rows(two.limit(1000)) == expect, format)
      // header-pushed COUNT(*) reads the listed headers only
      val count = two.groupBy().count()
      assert(scans(count).exists {
        case _: HeaderStatsScan => true
        case _                  => false
      }, s"$format: ${count.queryExecution.optimizedPlan}")
      assert(count.head().getLong(0) == expect.size, format)

      if (format == "geomedea") {
        // header-pushed envelope MIN/MAX over the listed roots equals the
        // decoded extent of the union (a residual filter blocks the push)
        val cols = Seq(min("min_lng"), min("min_lat"), max("max_lng"), max("max_lat"))
        val extent = two.groupBy().agg(cols.head, cols.tail: _*)
        assert(scans(extent).exists(_.isInstanceOf[HeaderStatsScan]),
          extent.queryExecution.optimizedPlan.toString)
        val decoded = singles.where(col("feature_offset") >= 0).groupBy().agg(cols.head, cols.tail: _*)
        assert(!scans(decoded).exists(_.isInstanceOf[HeaderStatsScan]))
        assert(extent.head().toSeq == decoded.head().toSeq)
      }
    }
  }

  /** Every property kind of the columnar bridge at its extremes: the 13
    * scalars (Int/Long bounds, `PUInt64(-1)`, empty strings and bytes), a
    * typed vec of all 13 and an insertion-ordered map of all 13, plus an
    * empty vec and map. Two features carry the same keys and kinds, one
    * at the lower bounds and one at the upper.
    */
  private def extremeProps(low: Boolean): Vector[(String, PValue)] = {
    import graft.codec.FeatureCodec._
    def pick[T](lo: T, hi: T): T = if (low) lo else hi
    val scalars = Vector(
      "bool" -> PBool(!low), "i8" -> PInt8(pick(Byte.MinValue, Byte.MaxValue)),
      "u8" -> PUInt8(pick(0, 255)), "i16" -> PInt16(pick(Short.MinValue, Short.MaxValue)),
      "u16" -> PUInt16(pick(0, 65535)), "i32" -> PInt32(pick(Int.MinValue, Int.MaxValue)),
      "u32" -> PUInt32(pick(0L, 4294967295L)), "i64" -> PInt64(pick(Long.MinValue, Long.MaxValue)),
      "u64" -> PUInt64(pick(0L, -1L)), "f32" -> PFloat32(pick(-Float.MaxValue, Float.MinPositiveValue)),
      "f64" -> PFloat64(pick(-Double.MaxValue, Double.MinPositiveValue)),
      "bytes" -> PBytes(if (low) Array.emptyByteArray else Array[Byte](0, -1, 127, -128)),
      "string" -> PString(if (low) "" else "sé✓"))
    scalars ++ Vector(
      "vec" -> PVec(scalars.map(_._2)),
      "map" -> PMap(scalars.reverse.map { case (k, v) => (if (k == "bool") "" else k) -> v }),
      "vec0" -> PVec(Vector.empty), "map0" -> PMap(Vector.empty))
  }

  private lazy val extremeFeatures: Seq[Feature] = Seq(
    Feature(Wkb.Pt(-1800000000, -900000000), extremeProps(low = true)),
    Feature(Wkb.Pt(1800000000, 900000000), extremeProps(low = false)))

  /** The props cells `toCell` gives for `props`, as Spark rows. */
  private def cellRows(props: Seq[Vector[(String, PValue)]]): Seq[Seq[Row]] = {
    val s = spark
    import s.implicits._
    props.map(_.map { case (k, v) => graft.sources.GeoJsonIngest.toCell(k, v) })
      .toDF("props").collect().toSeq.map(_.getSeq[Row](0))
  }

  /** The rows one planned scan's reader factory builds, in partition
    * order, converted to Spark rows without an intervening projection.
    */
  private def readerRows(df: DataFrame): Seq[Row] = {
    val scan = scanOf(df).toBatch
    val factory = scan.createReaderFactory()
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(scanOf(df).readSchema())
    scan.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => toRow(r.get()).asInstanceOf[Row]).toVector
      finally r.close()
    }
  }

  for (format <- Seq("geomedea", "flatgeobuf")) {
    test(s"$format: props cells from the v2 reader equal toCell of the decoded values, all 15 kinds") {
      val dir = java.nio.file.Files.createTempDirectory(s"props_parity_$format").toString
      val (bytes, decoded) =
        if (format == "geomedea") {
          val b = GeomedeaFile.write(extremeFeatures, compressed = true)
          (b, GeomedeaFile.selectAll(b))
        } else {
          val b = graft.sources.FlatGeobuf.write(extremeFeatures)
          (b, graft.sources.FlatGeobuf.selectAll(b))
        }
      val suffix = if (format == "geomedea") "geomedea" else "fgb"
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/x.$suffix"), bytes)
      // geomedea carries every value exactly; FGB widens vec/map elements
      // (its JSON column), so both compare against the format's own decode
      def byPoint(fs: Seq[Feature], n: Int) = fs.map(f => Wkb.asText(f.geom) -> f.props.take(n)).toMap
      val exact = if (format == "geomedea") extremeFeatures.head.props.size else 13
      assert(byPoint(decoded, exact) == byPoint(extremeFeatures, exact))
      val expected = cellRows(decoded.map(_.props))
      val kinds = expected.flatten.map(_.getAs[String]("kind")).toSet
      assert(kinds == Set("bool", "i8", "u8", "i16", "u16", "i32", "u32", "i64", "u64",
        "f32", "f64", "bytes", "string", "vec", "map"))
      val df = spark.read.format(format).load(dir).select("props")
      assert(readerRows(df).map(_.getSeq[Row](0)) == expected)
      assert(df.collect().toSeq.map(_.getSeq[Row](0)) == expected)
    }
  }

  test("props roundtrip: v2 write -> read of all 15 kinds at their extremes, both formats") {
    val s = spark
    import s.implicits._
    val df = extremeFeatures.map(f => (Wkb.write(f.geom),
      f.props.map { case (k, v) => graft.sources.GeoJsonIngest.toCell(k, v) })).toDF("wkb", "props")
    for (format <- Seq("geomedea", "flatgeobuf")) {
      val out = java.nio.file.Files.createTempDirectory(s"props_rt_$format").toString + "/o"
      df.coalesce(1).write.format(format).mode("append").save(out)
      val shards = new java.io.File(out).listFiles.filter(_.getName.endsWith(
        if (format == "geomedea") ".geomedea" else ".fgb"))
      assert(shards.length == 1)
      val written = java.nio.file.Files.readAllBytes(shards.head.toPath)
      val decoded =
        if (format == "geomedea") GeomedeaFile.selectAll(written)
        else graft.sources.FlatGeobuf.selectAll(written)
      // the writer read every cell back into the values it was given
      val byLng = decoded.map(f => Wkb.asText(f.geom) -> f.props).toMap
      for (f <- extremeFeatures) {
        val got = byLng(Wkb.asText(f.geom))
        if (format == "geomedea") assert(got == f.props)
        else assert(got.take(13) == f.props.take(13) && got.map(_._1) == f.props.map(_._1))
      }
      val back = spark.read.format(format).load(out).orderBy("min_lng").select("props")
      assert(back.collect().toSeq.map(_.getSeq[Row](0)) ==
        cellRows(decoded.sortBy(_.geom.envelope.minLng).map(_.props)))
    }
    // a written cell whose kind is unknown, or whose value is missing, fails the write
    import graft.sources.GeoJsonIngest.PropCell
    for ((cell, message) <- Seq(PropCell("k", "i65", i = Some(1L)) -> "unknown prop kind i65",
      PropCell("k", "i64") -> "prop kind i64 without its value",
      PropCell("k", "vec") -> "prop kind vec without its value")) {
      val out = java.nio.file.Files.createTempDirectory("props_bad").toString + "/o"
      val e = intercept[Exception](Seq((Wkb.write(Wkb.Pt(0, 0)), Seq(cell))).toDF("wkb", "props")
        .write.format("geomedea").mode("append").save(out))
      val causes = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(message)), s"$cell: $causes")
    }
  }

  test("a vec nested in a vec fails the props read with IllegalArgumentException as its cause") {
    import graft.codec.FeatureCodec.PVec
    val dir = java.nio.file.Files.createTempDirectory("props_vecvec").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/vv.geomedea"), GeomedeaFile.write(
      Seq(Feature(Wkb.Pt(0, 0), Vector("vv" -> PVec(Vector(PVec(Vector(PInt64(1)))))))),
      compressed = true))
    val df = spark.read.format("geomedea").load(dir)
    assert(df.select("wkb", "prop_vals").collect().length == 1)
    val e = intercept[org.apache.spark.SparkException](df.select("props").collect())
    val causes = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
    val iae = causes.collectFirst { case x: IllegalArgumentException => x }
      .getOrElse(fail(s"no IllegalArgumentException among the causes of $e"))
    assert(iae.getMessage.contains("one level of Vec/Map nesting"))
  }

  test("conf shipping: planned reader and writer factories hold a broadcast, no Hadoop Configuration") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.spark.broadcast.Broadcast
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.util.SerializableConfiguration
    def javaBytes(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(o); out.close()
      bos.size
    }
    def fieldTypes(o: AnyRef): Seq[Class[_]] = o.getClass.getDeclaredFields.toSeq.map(_.getType)
    val confBytes = javaBytes(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val readers = scanOf(spark.read.format("geomedea").load(shardDir)).toBatch.createReaderFactory()
    val src = spark.read.format("geomedea").load(shardDir).select("wkb", "props")
    val out = java.nio.file.Files.createTempDirectory("conf_ship").toString + "/o"
    val writers = new graft.sources.v2.ContainerTable(graft.sources.v2.ContainerFormat.Geomedea, Seq(out))
      .newWriteBuilder(new LogicalWriteInfo {
        override def queryId(): String = "conf"
        override def schema(): org.apache.spark.sql.types.StructType = src.schema
        override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      }).build().toBatch.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    for (factory <- Seq(readers, writers)) {
      val types = fieldTypes(factory)
      assert(!types.exists(t => classOf[Configuration].isAssignableFrom(t) ||
        classOf[SerializableConfiguration].isAssignableFrom(t)), s"$factory fields: $types")
      assert(types.exists(classOf[Broadcast[_]].isAssignableFrom), s"$factory fields: $types")
      // the conf alone serializes to tens of KB; a factory is a few KB
      val bytes = javaBytes(factory)
      assert(bytes * 4 < confBytes, s"$factory: $bytes serialized bytes, the conf $confBytes")
    }
  }

  test("conf shipping: a FileSystem set only in the session conf is reached inside tasks") {
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("conf_scheme").toString
    val lake = s"${TaskSchemeFs.Scheme}://$base/lake"
    // the FileSystem cache off: every getFileSystem, in a task too,
    // resolves fs.<scheme>.impl from the conf it was handed
    spark.conf.set(s"fs.${TaskSchemeFs.Scheme}.impl", classOf[TaskSchemeFs].getName)
    spark.conf.set(s"fs.${TaskSchemeFs.Scheme}.impl.disable.cache", "true")
    def inTasks[T](what: String)(body: => T): T = {
      val before = TaskSchemeFs.taskInits.get()
      val out = body
      assert(TaskSchemeFs.taskInits.get() > before, s"$what: no task reached the scheme")
      out
    }
    try {
      inTasks("write") {
        (0 until 40).map(i => (Wkb.write(Wkb.Pt(i * 1000000, i * 500000)),
          Seq(graft.sources.GeoJsonIngest.toCell("id", PInt64(i.toLong)))))
          .toDF("wkb", "props").repartition(2).write.format("geomedea").mode("append").save(lake)
      }
      assert(new java.io.File(s"$base/lake").listFiles.count(_.getName.endsWith(".geomedea")) == 2)
      val ids = inTasks("batch read") {
        spark.read.format("geomedea").load(lake).select(col("props")(0)("i")).as[Long].collect()
      }
      assert(ids.sorted.toSeq == (0L until 40L))
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      inTasks("stream read") {
        spark.readStream.format("geomedea").load(lake).select(col("props")(0)("i").as("id"))
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) => df.collect().foreach(r => got.add(r.getLong(0))) }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      assert(got.size == 40)
    } finally {
      spark.conf.unset(s"fs.${TaskSchemeFs.Scheme}.impl")
      spark.conf.unset(s"fs.${TaskSchemeFs.Scheme}.impl.disable.cache")
    }
  }
}

/** The raw local file system under its own scheme, counting the instances
  * created inside a Spark task: with the FileSystem cache off, a task can
  * only create one from the conf the reader or writer factory shipped.
  */
class TaskSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${TaskSchemeFs.Scheme}:///")
  override def getScheme: String = TaskSchemeFs.Scheme
  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    if (org.apache.spark.TaskContext.get() != null) TaskSchemeFs.taskInits.incrementAndGet()
  }
}

object TaskSchemeFs {
  val Scheme = "gmtaskfs"
  val taskInits = new java.util.concurrent.atomic.AtomicLong()
}
