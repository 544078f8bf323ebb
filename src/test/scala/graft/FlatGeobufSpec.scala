package graft

import graft.codec.FeatureCodec._
import graft.geom.{Envelope, Wkb}
import graft.sources.{FlatGeobuf, FlatGeobufSpark, GeoJsonIngest}
import org.scalatest.funsuite.AnyFunSuite

/** FlatGeobuf bridge (the format the reference's README benchmarks
  * head-to-head): spec-derived byte golden for the reader, writer
  * roundtrips, indexed bbox scan, Spark bridge parity.
  */
class FlatGeobufSpec extends AnyFunSuite {

  private def pt(lngDeg: Double, latDeg: Double, id: Long) = Feature(
    Wkb.Pt((lngDeg * 1e7).toInt, (latDeg * 1e7).toInt),
    Vector("doc" -> PString(s"d-$id"), "id" -> PInt64(id)))

  private def u16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
  private def u32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def f64le(v: Double) = {
    val bits = java.lang.Double.doubleToLongBits(v)
    Array.tabulate[Byte](8)(i => (bits >> (8 * i)).toByte)
  }

  /** Spec-conformant minimal file assembled BY HAND (vtables and all):
    * no index, one Point feature; `count` lands in features_count (0 =
    * unknown, per spec).
    */
  private def handBuiltFgb(count: Int): Array[Byte] = {
    val header =
      u32(28) ++
        u16(24) ++ u16(16) ++
        u16(0) ++ u16(0) ++ u16(12) ++ u16(0) ++ u16(0) ++
        u16(0) ++ u16(0) ++ u16(0) ++ u16(4) ++ u16(14) ++
        u32(24) ++
        u32(count) ++ u32(0) ++ // features_count (u64 LE)
        Array[Byte](1, 0) ++ // geometry_type = Point, 1 pad byte
        u16(0) // index_node_size = 0 (no index)
    val feature =
      u32(12) ++
        u16(6) ++ u16(8) ++ u16(4) ++ u16(0) ++
        u32(8) ++ u32(12) ++
        u16(8) ++ u16(8) ++ u16(0) ++ u16(4) ++
        u32(8) ++ u32(4) ++
        u32(2) ++ f64le(2.5) ++ f64le(1.5)
    FlatGeobuf.Magic ++ u32(header.length) ++ header ++ u32(feature.length) ++ feature
  }

  test("reader parses a HAND-ASSEMBLED spec-conformant file (independent of our writer)") {
    // Built byte-by-byte from the public spec (flatgeobuf.org, spec v3):
    // magic, size-prefixed Header flatbuffer (vtable written out by hand),
    // no index, one size-prefixed Feature with a Point geometry. This is
    // the reader's independence check — it never touches our builder.
    // Header buffer (44 bytes): root uoffset 28; vtable at 4 (24 bytes:
    // vtLen 24, tableLen 16, slots id0..id9 = 0,0,12,0,0,0,0,0,4,14);
    // table at 28: soffset 24, features_count u64 @+4, geometry_type
    // ubyte(Point=1) @+12, index_node_size u16(0=no index) @+14.
    val header =
      u32(28) ++
        u16(24) ++ u16(16) ++
        u16(0) ++ u16(0) ++ u16(12) ++ u16(0) ++ u16(0) ++
        u16(0) ++ u16(0) ++ u16(0) ++ u16(4) ++ u16(14) ++
        u32(24) ++
        u32(1) ++ u32(0) ++ // features_count = 1 (u64 LE)
        Array[Byte](1, 0) ++ // geometry_type = Point, 1 pad byte
        u16(0) // index_node_size = 0
    assert(header.length == 44)
    // Feature buffer (56 bytes): root 12; F vtable at 4 (6B: vtLen 6,
    // tableLen 8, geometry slot 4) + 2 pad; F table at 12 (soffset 8,
    // uoffset->G at +4 = 12); G vtable at 20 (8B: vtLen 8, tableLen 8,
    // ends 0, xy 4); G table at 28 (soffset 8, uoffset->xy = 4); xy
    // vector at 36: len 2, elements 8-aligned at 40: 2.5, 1.5 degrees.
    val feature =
      u32(12) ++
        u16(6) ++ u16(8) ++ u16(4) ++ u16(0) ++ // F vtable + pad
        u32(8) ++ u32(12) ++ // F table
        u16(8) ++ u16(8) ++ u16(0) ++ u16(4) ++ // G vtable
        u32(8) ++ u32(4) ++ // G table
        u32(2) ++ f64le(2.5) ++ f64le(1.5)
    assert(feature.length == 56)
    val file = FlatGeobuf.Magic ++ u32(header.length) ++ header ++
      u32(feature.length) ++ feature

    val h = FlatGeobuf.readHeader(file)
    assert(h.featuresCount == 1 && h.geometryType == 1 && h.nodeSize == 0)
    val feats = FlatGeobuf.selectAll(file)
    assert(feats == Vector(Feature(Wkb.Pt(25000000, 15000000), Vector.empty)))
    // equivalence with the shared builder
    assert(handBuiltFgb(1).toSeq == file.toSeq)
    // patch-version byte may vary (spec: prefix + major are checked)
    val patched = file.clone(); patched(7) = 1
    assert(FlatGeobuf.readHeader(patched).featuresCount == 1)
  }

  test("foreign DateTime columns (spec type 13) decode as string properties") {
    // DateTime is wire-identical to String (u32 length + UTF-8): encode
    // under the String column type, decode under DateTime — a foreign
    // file with date columns must scan, not throw. Our writer never
    // emits type 13 (no PValue maps to it), so this is read-side-only.
    val ts = "2020-01-31T23:59:59Z"
    val bin = FlatGeobuf.propsBinary(
      Vector("when" -> graft.codec.FeatureCodec.PString(ts)),
      Map("when" -> 0), Array(11))
    val decoded = FlatGeobuf.readProps(bin, Array("when"), Array(13))
    assert(decoded == Vector("when" -> graft.codec.FeatureCodec.PString(ts)))
  }

  test("DSv2 falls back for spec-legal index-less / unknown-count files (no prune, no crash)") {
    val spark = sparkSession
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("fgb_noidx").toString
    // count=1 but NO index; and count=0 = UNKNOWN (streamed writers)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/noindex.fgb"), handBuiltFgb(1))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/unknown.fgb"), handBuiltFgb(0))
    val df = spark.read.format("flatgeobuf").load(dir)
    assert(df.count() == 2)
    // bbox over the point (2.5, 1.5) deg: both files must still produce
    // their feature through the streaming fallback + residual filters
    val hit = df.where(col("max_lng") >= 24000000 && col("min_lng") <= 26000000 &&
      col("max_lat") >= 14000000 && col("min_lat") <= 16000000)
    assert(hit.count() == 2)
    // and a miss rect returns nothing, via residual filtering
    val miss = df.where(col("max_lng") >= 900000000 && col("min_lng") <= 910000000 &&
      col("max_lat") >= 0 && col("min_lat") <= 10000000)
    assert(miss.count() == 0)
    // unknown counts must not fake a 0-row statistic
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: graft.sources.v2.ContainerScan => s }.get
    assert(!scan.estimateStatistics().numRows().isPresent)
  }

  test("roundtrip: all 7 geometry types + empties + holes, exact scaled coords") {
    def pk(x: Int, y: Int) = Wkb.pack(x, y)
    val outer = Array(pk(0, 0), pk(10000000, 0), pk(10000000, 10000000), pk(0, 10000000), pk(0, 0))
    val hole = Array(pk(4000000, 4000000), pk(6000000, 4000000), pk(6000000, 6000000),
      pk(4000000, 6000000), pk(4000000, 4000000))
    val geoms: Seq[Wkb.Geom] = Seq(
      Wkb.Pt(15000000, -25000000),
      Wkb.Line(Array(pk(0, 0), pk(10000000, 10000000), pk(-10000000, 5000000))),
      Wkb.Line(Array.empty),
      Wkb.Poly(Vector(outer, hole)),
      Wkb.Poly(Vector.empty),
      Wkb.MultiPt(Array(pk(10000000, 10000000), pk(20000000, 20000000))),
      Wkb.MultiLine(Vector(Array(pk(0, 0), pk(5000000, 5000000)), Array(pk(1, 1), pk(2, 2)))),
      Wkb.MultiPoly(Vector(Vector(outer, hole), Vector(hole))),
      Wkb.Collection(Vector(Wkb.Pt(70, 70), Wkb.Line(Array(pk(10, 0), pk(0, 10))))))
    val feats = geoms.zipWithIndex.map { case (g, i) =>
      Feature(g, Vector("i" -> PInt64(i.toLong)))
    }
    val bytes = FlatGeobuf.write(feats)
    val back = FlatGeobuf.selectAll(bytes)
    // multiset equality on WKT (the writer reorders by Hilbert)
    assert(back.map(f => Wkb.asText(f.geom)).sorted ==
      feats.map(f => Wkb.asText(f.geom)).sorted)
    // each geometry's property followed it through the reorder
    val byProp = back.map(f => f.props.head._2.asInstanceOf[PInt64].v -> Wkb.asText(f.geom)).toMap
    feats.foreach { f =>
      assert(byProp(f.props.head._2.asInstanceOf[PInt64].v) == Wkb.asText(f.geom))
    }
  }

  test("roundtrip: scalar property variants keep their types; Vec/Map come back typed") {
    val feats = Seq(Feature(Wkb.Pt(1, 2), Vector(
      "b" -> PBool(true), "i8" -> PInt8(-5), "u8" -> PUInt8(200),
      "i16" -> PInt16(-1000), "u16" -> PUInt16(60000),
      "i32" -> PInt32(-123456), "u32" -> PUInt32(4000000000L),
      "i64" -> PInt64(Long.MinValue), "u64" -> PUInt64(-1L),
      "f32" -> PFloat32(1.5f), "f64" -> PFloat64(math.Pi),
      "s" -> PString("héllo"), "bin" -> PBytes(Array[Byte](1, 2, 3)),
      "v" -> PVec(Vector(PInt64(7), PString("x"))))))
    val back = FlatGeobuf.selectAll(FlatGeobuf.write(feats))
    val props = back.head.props.toMap
    assert(props("b") == PBool(true) && props("i8") == PInt8(-5) && props("u8") == PUInt8(200))
    assert(props("i16") == PInt16(-1000) && props("u16") == PUInt16(60000))
    assert(props("i32") == PInt32(-123456) && props("u32") == PUInt32(4000000000L))
    assert(props("i64") == PInt64(Long.MinValue) && props("u64") == PUInt64(-1L))
    assert(props("f32") == PFloat32(1.5f) && props("f64") == PFloat64(math.Pi))
    assert(props("s") == PString("héllo"))
    assert(props("bin").asInstanceOf[PBytes].v.toSeq == Seq[Byte](1, 2, 3))
    // one-level Vec of canonical scalars round-trips TYPED and exact
    assert(props("v") == PVec(Vector(PInt64(7), PString("x"))))
    // property ORDER within each feature is preserved
    assert(back.head.props.map(_._1) == feats.head.props.map(_._1))
  }

  test("Vec/Map through the FGB container: typed one level, canonical widening, nested stays JSON") {
    val feats = Seq(Feature(Wkb.Pt(1, 2), Vector(
      // canonical element types: exact roundtrip (u64 element = 2^63,
      // exercising the above-i64::MAX arm while staying double-exact —
      // JSON numbers ride through double, so 2^64-1 would land Float64)
      "v" -> PVec(Vector(PInt64(7), PFloat64(2.5), PBool(true), PString("x"),
        PUInt64(Long.MinValue))),
      "m" -> PMap(Vector("a" -> PInt64(1), "b" -> PString("y"), "c" -> PFloat64(0.5))),
      // narrow widths widen to the canonical scalars (FGB columns have
      // no element types — documented, same as geozero's JSON mapping)
      "w" -> PVec(Vector(PInt8(-5), PUInt16(60000), PFloat32(1.5f))),
      // deeper nesting stays JSON text inside the typed outer level
      "n" -> PVec(Vector(PInt64(1), PVec(Vector(PInt64(2), PInt64(3))))),
      // bytes inside a vec serialize as base64 JSON strings (no typed
      // lane in JSON) and come back as the base64 text
      "vb" -> PVec(Vector(PBytes(Array[Byte](1, 2)))))))
    val props = FlatGeobuf.selectAll(FlatGeobuf.write(feats)).head.props.toMap
    assert(props("v") == PVec(Vector(PInt64(7), PFloat64(2.5), PBool(true), PString("x"),
      PUInt64(Long.MinValue))))
    assert(props("m") == PMap(Vector("a" -> PInt64(1), "b" -> PString("y"),
      "c" -> PFloat64(0.5))))
    assert(props("w") == PVec(Vector(PInt64(-5), PInt64(60000), PFloat64(1.5))))
    assert(props("n") == PVec(Vector(PInt64(1), PString("[2,3]"))))
    assert(props("vb") == PVec(Vector(PString(
      java.util.Base64.getEncoder.encodeToString(Array[Byte](1, 2))))))
  }

  test("layout: features sorted by ASCENDING hilbert (FGB convention, opposite of geomedea)") {
    val feats = (0 until 50).map(i => pt(i * 0.1, i * 0.1, i.toLong))
    val bytes = FlatGeobuf.write(feats)
    val ids = FlatGeobuf.selectAll(bytes)
      .map(_.props.collectFirst { case ("id", PInt64(v)) => v }.get)
    val gm = graft.sources.GeomedeaFile.selectAll(
      graft.sources.GeomedeaFile.write(feats, compressed = false))
      .map(_.props.collectFirst { case ("id", PInt64(v)) => v }.get)
    assert(ids == gm.reverse, "FGB asc order must be the exact reverse of geomedea's desc")
  }

  test("indexed bbox scan: equals full-scan + filter, prunes feature decodes") {
    val hot = (0 until 200).map(i => pt(5 + (i % 20) * 0.01, 5 + (i / 20) * 0.01, i.toLong))
    val far = (0 until 100).map(i => pt(120 + i * 0.1, -40 + i * 0.2, 1000L + i))
    val bytes = FlatGeobuf.write(hot ++ far)
    for (q <- Seq(
      Envelope.fromDegrees(4.9, 4.9, 5.05, 5.05),
      Envelope.fromDegrees(119, -41, 131, -19),
      Envelope.fromDegrees(-180, -90, 180, 90),
      Envelope.fromDegrees(60, 60, 61, 61))) {
      val read = FlatGeobuf.selectBbox(bytes, q)
      val expect = FlatGeobuf.selectAll(bytes).filter(_.geom.envelope.intersects(q))
      assert(read.features.map(f => Wkb.asText(f.geom)) ==
        expect.map(f => Wkb.asText(f.geom)), s"rows for $q")
      assert(read.featureBlocksRead == expect.length.toLong)
      if (expect.length < 150 && expect.nonEmpty) {
        assert(read.bytesRead < bytes.length / 2, s"pruned read for $q")
        val total = FlatGeobuf.treeBytes(300, FlatGeobuf.DefaultNodeSize) / FlatGeobuf.NodeBytes
        assert(read.nodesVisited < total, "index traversal must prune subtrees")
      }
    }
    // empty file edge
    val empty = FlatGeobuf.write(Seq.empty)
    assert(FlatGeobuf.selectAll(empty).isEmpty)
    assert(FlatGeobuf.selectBbox(empty, Envelope.fromDegrees(0, 0, 1, 1)).features.isEmpty)
  }

  test("info CLI renders an .fgb summary") {
    val dir = java.nio.file.Files.createTempDirectory("fgb_info").toString
    val path = s"$dir/t.fgb"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      FlatGeobuf.write((0 until 5).map(i => pt(i, i, i.toLong)), name = "demo"))
    val out = graft.table.Info.renderFgb(path)
    assert(out.contains("features: 5") && out.contains("name: demo") &&
      out.contains("node_size 16") && out.contains("doc:11"), out)
  }

  test("header: extent, column schema, feature count") {
    val feats = (0 until 20).map(i => pt(i * 1.0, -i * 1.0, i.toLong))
    val w = FlatGeobuf.writeFull(feats, name = "t")
    val h = FlatGeobuf.readHeader(w.bytes)
    assert(h.name == "t" && h.featuresCount == 20 && h.geometryType == 1)
    assert(h.colNames.toSeq == Seq("doc", "id"))
    val (mnx, mny, mxx, mxy) = h.envelope.get
    assert(mnx == 0.0 && mxx == 19.0 && mny == -19.0 && mxy == 0.0)
    assert(h.featuresOffset == w.featuresOffset && h.indexOffset == w.indexOffset)
  }

  test("ranged bbox scan: rows == in-memory scan, bounded transfer, tiny windows exact") {
    val hot = (0 until 200).map(i => pt(5 + (i % 20) * 0.01, 5 + (i / 20) * 0.01, i.toLong))
    val far = (0 until 100).map(i => pt(120 + i * 0.1, -40 + i * 0.2, 1000L + i))
    val bytes = FlatGeobuf.write(hot ++ far)
    for (q <- Seq(
      Envelope.fromDegrees(4.9, 4.9, 5.05, 5.05),
      Envelope.fromDegrees(119, -41, 131, -19),
      Envelope.fromDegrees(60, 60, 61, 61))) {
      val expect = FlatGeobuf.selectBbox(bytes, q).features.map(f => Wkb.asText(f.geom))
      for (batch <- Seq(4096, 64, 8)) {
        val reads = scala.collection.mutable.ArrayBuffer.empty[Long]
        def read(off: Long, k: Int) = { reads += off; bytes.slice(off.toInt, off.toInt + k) }
        val scan = FlatGeobuf.selectBboxRange(read, bytes.length.toLong, q, batch)
        val got = scan.toVector
        assert(got.map(f => Wkb.asText(f._2.geom)) == expect, s"q=$q batch=$batch")
        if (expect.nonEmpty && expect.length < 150 && batch == 4096)
          assert(scan.bytesTransferred < bytes.length / 2,
            s"bounded transfer: ${scan.bytesTransferred} of ${bytes.length}")
        // positioned reads: the header's two (magic + length, header
        // block), then index levels and feature windows past it
        val h = FlatGeobuf.readHeader(bytes)
        assert(reads.take(2) == Seq(0L, 12L) && reads.drop(2).forall(_ >= h.indexOffset),
          s"q=$q batch=$batch: reads at $reads")
        // a header handed in (the DSv2 bbox partition's shape) is not read
        // again, and still counts once in the transferred bytes
        val after = reads.size
        val given = new FlatGeobuf.RangedFgbScan(read, bytes.length.toLong, h, q, batch)
        assert(given.toVector.map(_._1) == got.map(_._1))
        assert(reads.drop(after) == reads.slice(2, after), s"q=$q batch=$batch")
        assert(given.bytesTransferred == scan.bytesTransferred)
      }
    }
    // streaming full scan == materialized, with stable offsets
    val h = FlatGeobuf.readHeader(bytes)
    val streamed = FlatGeobuf.selectRangeStream(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes,
        h.featuresOffset.toInt, bytes.length - h.featuresOffset.toInt)),
      h, h.featuresOffset, bytes.length.toLong).toVector
    assert(streamed.map(f => Wkb.asText(f._2.geom)) ==
      FlatGeobuf.selectAll(bytes).map(f => Wkb.asText(f.geom)))
    assert(streamed.map(_._1) == streamed.map(_._1).sorted, "offsets ascend")
  }

  test("DSv2: spark.read.format(flatgeobuf) — planning-time prune, pushed filters, parity") {
    val spark = sparkSession
    val dir = java.nio.file.Files.createTempDirectory("fgb_dsv2").toString
    val west = (0 until 40).map(i => pt(i % 10, i / 10, i.toLong))
    val east = (0 until 40).map(i => pt(100 + i % 10, i / 10, 1000L + i))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/west.fgb"), FlatGeobuf.write(west))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/east.fgb"), FlatGeobuf.write(east))
    val df = spark.read.format("flatgeobuf").load(dir)
    assert(df.count() == 80)
    import org.apache.spark.sql.functions._
    val q = Envelope.fromDegrees(100, 0, 110, 10)
    val pruned = df.where(col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
      col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat)
    assert(pruned.count() == 40)
    assert(pruned.select("source_file").distinct().collect()
      .forall(_.getString(0).endsWith("east.fgb")))
    val scan = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: graft.sources.v2.ContainerScan => s }.get
    assert(scan.description().contains("GreaterThanOrEqual(max_lng"), scan.description())
    assert(scan.toBatch.planInputPartitions().length == 1, "west file pruned at planning")
    assert(scan.estimateStatistics().numRows().getAsLong == 40)
    // stable feature_offset: same ids for the same features, pruned or full
    def ids(d: org.apache.spark.sql.DataFrame) = d
      .select(regexp_extract(col("source_file"), "([a-z]+)\\.fgb", 1),
        col("feature_offset"), element_at(col("prop_vals"), 1))
      .collect().map(_.toSeq).toSet
    val fullEast = ids(df.where(col("source_file").endsWith("east.fgb")))
    assert(ids(pruned).subsetOf(fullEast) && ids(pruned).size == 40)
    // column pruning
    val narrow = spark.read.format("flatgeobuf").load(dir).select("source_file", "min_lng")
    assert(narrow.collect().forall(_.length == 2))
  }

  test("DSv2 geom-only projections equal the full decode (props skip is value-invisible)") {
    // r6: no props column projected -> the FlatBuffers props vector is
    // never copied/parsed; wkb/offset/envelope values must be identical
    val spark = sparkSession
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("fgb_geomonly").toString
    val feats = (0 until 40).map(i => pt(i % 10, i / 10, i.toLong))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.fgb"), FlatGeobuf.write(feats))
    val df = spark.read.format("flatgeobuf").load(dir)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    val geomOnly = key(df.select(col("feature_offset"), hex(col("wkb")),
      col("min_lng"), col("min_lat"), col("max_lng"), col("max_lat")))
    val viaFull = key(df.select(col("feature_offset"), hex(col("wkb")),
      col("min_lng"), col("min_lat"), col("max_lng"), col("max_lat"),
      element_at(col("prop_vals"), 1).as("pv")).drop("pv"))
    assert(geomOnly == viaFull && geomOnly.size == 40)
  }

  test("DSv2 limit + COUNT(*) pushdowns mirror the geomedea source, unknown counts fall back") {
    val spark = sparkSession
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("fgb_push").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.fgb"),
      FlatGeobuf.write((0 until 40).map(i => pt(i % 10, i / 10, i.toLong))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.fgb"),
      FlatGeobuf.write((0 until 40).map(i => pt(50 + i % 10, i / 10, 100L + i))))
    def scansOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }
    // COUNT(*) answered from headers via a one-row scan
    val agg = spark.read.format("flatgeobuf").load(dir).groupBy().count()
    assert(scansOf(agg).exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]),
      agg.queryExecution.optimizedPlan.toString)
    assert(agg.head().getLong(0) == 80)
    // filtered counts fall back to a normal scan
    val filtered = spark.read.format("flatgeobuf").load(dir)
      .where(col("min_lng") >= 0).groupBy().count()
    assert(!scansOf(filtered).exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]))
    assert(filtered.head().getLong(0) == 80)
    // limit pushdown: only enough files planned
    val lim = spark.read.format("flatgeobuf").load(dir).limit(10)
    assert(lim.count() == 10)
    val scan = scansOf(lim).collectFirst { case s: graft.sources.v2.ContainerScan => s }.get
    assert(scan.description().contains("limit=10"), scan.description())
    assert(scan.toBatch.planInputPartitions().length == 1)
    // a file with UNKNOWN count (spec 0) blocks the header-only COUNT
    // and the file-planning shortcut, but results stay right
    val dir2 = java.nio.file.Files.createTempDirectory("fgb_push2").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir2/known.fgb"),
      FlatGeobuf.write((0 until 5).map(i => pt(i, i, i.toLong))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir2/unknown.fgb"), handBuiltFgb(0))
    val agg2 = spark.read.format("flatgeobuf").load(dir2).groupBy().count()
    assert(!scansOf(agg2).exists(_.isInstanceOf[graft.sources.v2.HeaderStatsScan]))
    assert(agg2.head().getLong(0) == 6)
    val lim2 = spark.read.format("flatgeobuf").load(dir2).limit(6)
    val scan2 = scansOf(lim2).collectFirst { case s: graft.sources.v2.ContainerScan => s }.get
    assert(scan2.toBatch.planInputPartitions().length == 2,
      "unknown counts must not short-cut file planning")
    assert(lim2.count() == 6)
  }

  test("format parity: an empty geomedea shard is pruned, an unknown-count FGB shard is kept; header aggregates follow") {
    val spark = sparkSession
    import org.apache.spark.sql.functions._
    import graft.sources.GeomedeaFile
    import graft.sources.v2.{ContainerFormat, ContainerMicroBatchStream, GeomedeaPartition, HeaderStatsScan}
    def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    def put(dir: String, name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"), bytes)
    // both lakes: 20 points far east of q, plus a shard whose header count
    // is 0 — an EMPTY geomedea shard, an UNKNOWN-count FGB shard holding
    // one point, (2.5, 1.5), inside q
    val far = (0 until 20).map(i => pt(50 + i % 5, i / 5, i.toLong))
    val gm = tmp("parity_gm")
    put(gm, "far.geomedea", GeomedeaFile.write(far, compressed = true, pageSizeGoal = 256))
    put(gm, "empty.geomedea", GeomedeaFile.write(Seq.empty, compressed = true, pageSizeGoal = 256))
    val fgb = tmp("parity_fgb")
    put(fgb, "far.fgb", FlatGeobuf.write(far))
    put(fgb, "unknown.fgb", handBuiltFgb(0))
    val q = Envelope.fromDegrees(0, 0, 10, 10)
    val lakes = Seq((ContainerFormat.Geomedea, gm, Set.empty[String]),
      (ContainerFormat.FlatGeobuf, fgb, Set("unknown.fgb")))
    def name(f: String) = new org.apache.hadoop.fs.Path(f).getName
    def planned(): Unit = lakes.foreach { case (fmt, dir, kept) =>
      assert(fmt.scanFiles(dir, Some(q)).map(f => name(f.path)).toSet == kept, fmt.name)
      val stream = new ContainerMicroBatchStream(fmt, dir, Some(q), fmt.schema, tmp("parity_ck"))
      val parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
      assert(parts.map(p => name(p.asInstanceOf[GeomedeaPartition].file)).toSet == kept, fmt.name)
    }
    // from the headers, then from the manifest a v2 append publishes
    // (its self-heal re-reads both hand-dropped shards)
    planned()
    lakes.foreach { case (fmt, dir, _) =>
      spark.read.format(fmt.name).load(s"$dir/far${fmt.suffix}").select("wkb", "props")
        .repartition(1).write.format(fmt.name).mode("append").save(dir)
    }
    planned()

    def scans(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }
    def headerOnly(df: org.apache.spark.sql.DataFrame) = scans(df).exists(_.isInstanceOf[HeaderStatsScan])
    // COUNT(*): accepted over an empty geomedea shard, refused over an
    // unknown FGB count; both answers exact
    val gmCount = spark.read.format("geomedea").load(gm).groupBy().count()
    assert(headerOnly(gmCount) && gmCount.head().getLong(0) == 40)
    val fgbCount = spark.read.format("flatgeobuf").load(fgb).groupBy().count()
    assert(!headerOnly(fgbCount) && fgbCount.head().getLong(0) == 41)
    // envelope MIN/MAX: geomedea only, even over an FGB lake of known counts
    val known = tmp("parity_known")
    put(known, "far.fgb", FlatGeobuf.write(far))
    val cols = Seq(min("min_lng"), min("min_lat"), max("max_lng"), max("max_lat"))
    val gmExtent = spark.read.format("geomedea").load(gm).groupBy().agg(cols.head, cols.tail: _*)
    val fgbExtent = spark.read.format("flatgeobuf").load(known).groupBy().agg(cols.head, cols.tail: _*)
    assert(headerOnly(gmExtent) && !headerOnly(fgbExtent))
    assert(headerOnly(spark.read.format("flatgeobuf").load(known).groupBy().count()))
    assert(gmExtent.head().toSeq == fgbExtent.head().toSeq)
  }

  test("distributed write: one executor-side .fgb shard per partition, roundtrip + overwrite") {
    val spark = sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("fgb_wr").toString + "/out"
    val src = (0 until 60).map { i =>
      (Wkb.write(Wkb.Pt(i * 1000000, i * 500000)),
        Seq(GeoJsonIngest.toCell("id", PInt64(i.toLong))))
    }.toDF("wkb", "props")
    src.repartition(3).write.format("flatgeobuf").mode("append").save(out)
    def shards = new java.io.File(out).listFiles.toSeq
      .map(_.getName).filter(_.endsWith(".fgb")).sorted
    assert(shards.length == 3 && shards.forall(!_.startsWith("_tmp")), shards)
    val back = spark.read.format("flatgeobuf").load(out)
    assert(back.count() == 60)
    assert(back.select(col("props")(0)("i")).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 60L))
    // each shard is a standalone spec container with its own index
    val one = FlatGeobuf.readHeader(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/${shards.head}")))
    assert(one.nodeSize == 16 && one.featuresCount > 0)
    // second append accumulates; overwrite truncates
    src.repartition(1).write.format("flatgeobuf").mode("append").save(out)
    assert(shards.length == 4)
    assert(spark.read.format("flatgeobuf").load(out).count() == 120)
    src.repartition(2).write.format("flatgeobuf").mode("overwrite").save(out)
    assert(shards.length == 2)
    assert(spark.read.format("flatgeobuf").load(out).count() == 60)
  }

  test("empty geometry among real features: both container writers lay out and roundtrip") {
    // regression (property-found): an EMPTY geometry's inverted envelope
    // put its center outside the dataset extent and crashed the Hilbert
    // layout sort with 'coords out of range' in BOTH writers
    val feats = Seq(
      pt(1, 1, 1L),
      Feature(Wkb.MultiPoly(Vector.empty), Vector("id" -> PInt64(99L))),
      pt(100, 10, 2L))
    val fgb = FlatGeobuf.write(feats)
    assert(FlatGeobuf.selectAll(fgb).length == 3)
    val gm = graft.sources.GeomedeaFile.write(feats, compressed = true, pageSizeGoal = 256)
    assert(graft.sources.GeomedeaFile.selectAll(gm).length == 3)
    // the empty feature's inverted leaf bounds never match a query rect
    assert(FlatGeobuf.selectBbox(fgb, Envelope.fromDegrees(0, 0, 200, 90)).features.length == 2)
  }

  test("manifest: fgb v2 writes publish _manifest.tsv and planning consumes it") {
    import graft.sources.v2.{ContainerFormat, GeomedeaManifest}
    val spark = sparkSession
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("fgb_manifest").toString + "/m"
    val src = (0 until 60).map { i =>
      (Wkb.write(Wkb.Pt(i * 1000000, i * 500000)),
        Seq(GeoJsonIngest.toCell("id", PInt64(i.toLong))))
    }.toDF("wkb", "props")
    src.repartition(2).write.format("flatgeobuf").mode("append").save(out)
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val m1 = GeomedeaManifest.read(fs, p)
    assert(m1.isDefined && m1.get.size == 2)
    assert(m1.get.values.map(_.count).sum == 60)
    // appends refresh coverage; self-heal picks up a hand-dropped shard
    val foreign = FlatGeobuf.write((100 until 110).map(i =>
      Feature(Wkb.Pt(i * 1000000, 0), Vector("id" -> PInt64(i.toLong)))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/hand.fgb"), foreign)
    src.repartition(1).write.format("flatgeobuf").mode("append").save(out)
    val m2 = GeomedeaManifest.read(fs, p)
    assert(m2.get.size == 4 && m2.get.values.map(_.count).sum == 130)
    // PROOF the planner trusts a consistent manifest: forge far-away
    // extents -> a bbox over the true data prunes everything at planning
    val forged = m2.get.values.map(e => e.copy(minLng = 1790000000,
      minLat = 880000000, maxLng = 1800000000, maxLat = 890000000)).toSeq
    GeomedeaManifest.write(fs, p, forged, "forge")
    val q = Envelope(0, 0, 10000000, 10000000)
    assert(ContainerFormat.FlatGeobuf.scanFiles(out, Some(q)).isEmpty,
      "consistent manifest extents must drive fgb file pruning")
    // count-0 entries (spec: UNKNOWN) are never pruned even when forged
    GeomedeaManifest.write(fs, p, forged.map(_.copy(count = 0)), "unk")
    assert(ContainerFormat.FlatGeobuf.scanFiles(out, Some(q)).size == 4,
      "unknown-count manifest entries must never prune")
    // STALENESS: dropped line -> coverage fails -> header fallback answers
    GeomedeaManifest.write(fs, p, forged.tail, "stale")
    assert(ContainerFormat.FlatGeobuf.scanFiles(out, Some(q)).nonEmpty,
      "stale manifest must fall back to header reads")
    // wrong byte length is rejected too, and reads stay correct throughout
    GeomedeaManifest.write(fs, p, forged.map(e => e.copy(len = e.len + 1)), "badlen")
    assert(ContainerFormat.FlatGeobuf.scanFiles(out, Some(q)).nonEmpty)
    assert(spark.read.format("flatgeobuf").load(out).count() == 130)
  }

  test("manifest refresh is best-effort: a corrupt foreign shard never fails a commit") {
    import graft.sources.v2.{ContainerFormat, GeomedeaManifest}
    val spark = sparkSession
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("fgb_junk").toString + "/m"
    val src = (0 until 20).map { i =>
      (Wkb.write(Wkb.Pt(i * 1000000, i * 500000)),
        Seq(GeoJsonIngest.toCell("id", PInt64(i.toLong))))
    }.toDF("wkb", "props")
    src.repartition(1).write.format("flatgeobuf").mode("append").save(out)
    // drop a truncated junk .fgb into the dir: the next commit's
    // manifest self-heal cannot read its header — the append must still
    // SUCCEED (data is already published when the refresh runs) and
    // planning degrades to header reads (manifest stale for the new lake)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/junk.fgb"), Array[Byte](1, 2, 3))
    src.repartition(1).write.format("flatgeobuf").mode("append").save(out) // must not throw
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val m = GeomedeaManifest.read(fs, p)
    // whatever manifest is left cannot validate against the 3-file
    // listing (junk.fgb unreadable -> refresh skipped), so planning uses
    // the header fallback — which fails loudly ON the junk file, naming it
    assert(m.forall(_.size < 3))
    val e = intercept[Exception](ContainerFormat.FlatGeobuf.scanFiles(out, None))
    assert(e.getMessage != null && e.getMessage.contains("junk.fgb"))
  }

  test("streaming read: tails a growing .fgb lake exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val spark = sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("fgb_stream").toString
    val lake = s"$base/lake"
    def writeBatch(ids: Range): Unit =
      ids.map { i =>
        (Wkb.write(Wkb.Pt(i * 1000000, i * 500000)),
          Seq(GeoJsonIngest.toCell("id", PInt64(i.toLong))))
      }.toDF("wkb", "props")
        .repartition(2).write.format("flatgeobuf").mode("append").save(lake)
    def runOnce(): Set[Long] = {
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val q = spark.readStream.format("flatgeobuf").load(lake)
        .select(col("props")(0)("i").as("id"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0)))
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSet
    }
    writeBatch(0 until 20)
    assert(runOnce() == (0L until 20L).toSet)
    writeBatch(20 until 30)
    assert(runOnce() == (20L until 30L).toSet)
    assert(runOnce() == Set.empty)
  }

  test("fgb streaming bbox planning consumes the manifest: forged extent prunes, " +
    "stale length falls back, unknown count is never pruned") {
    import org.apache.spark.sql.streaming.Trigger
    val spark = sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("fgb_stream_mf").toString
    val lake = s"$base/lake"
    def writeShard(ids: Range, lngBaseDeg: Double): Unit =
      ids.map { i =>
        (Wkb.write(Wkb.Pt(((lngBaseDeg + (i % 10) * 0.1) * 1e7).toInt, (i % 10) * 1000000)),
          Seq(GeoJsonIngest.toCell("id", PInt64(i.toLong))))
      }.toDF("wkb", "props")
        .repartition(1).write.format("flatgeobuf").mode("append").save(lake)
    writeShard(0 until 20, 0.0)      // west shard
    writeShard(1000 until 1020, 100.0) // east shard
    val p = new org.apache.hadoop.fs.Path(lake)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val manifest = graft.sources.v2.GeomedeaManifest.read(fs, p).get
    assert(manifest.size == 2)
    val eastName = manifest.values.find(_.minLng > 500000000).get.name

    def runEastRect(ckpt: String): Set[Long] = {
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      // the bbox OPTION is the streaming push channel (Spark never calls
      // pushFilters on micro-batch scans); the where stays as defense
      val q = spark.readStream.format("flatgeobuf")
        .option("bbox", "990000000,-900000000,1020000000,900000000").load(lake)
        .where(col("max_lng") >= 990000000 && col("min_lng") <= 1020000000 &&
          col("max_lat") >= -900000000 && col("min_lat") <= 900000000)
        .select(col("props")(0)("i").as("id"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0)))
        }
        .option("checkpointLocation", s"$base/$ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSet
    }

    // untouched manifest: the east shard survives, west is pruned
    assert(runEastRect("ckpt0") == (1000L until 1020L).toSet)

    // forge the east entry's extent WEST with the true byte length: the
    // stream must prune east on the forged extent = proof the manifest
    // (not a header read) drove planning
    def rewrite(entries: Seq[graft.sources.v2.GeomedeaManifest.Entry]): Unit =
      graft.sources.v2.GeomedeaManifest.write(fs, p, entries, "forge")
    val forged = manifest.values.map { e =>
      if (e.name == eastName) e.copy(minLng = 0, minLat = 0, maxLng = 1000, maxLat = 1000)
      else e
    }.toSeq
    rewrite(forged)
    assert(runEastRect("ckpt1") == Set.empty)

    // same forged extent but a WRONG length: the entry is distrusted and
    // the header read restores the shard
    rewrite(manifest.values.map { e =>
      if (e.name == eastName)
        e.copy(len = e.len + 1, minLng = 0, minLat = 0, maxLng = 1000, maxLat = 1000)
      else e
    }.toSeq)
    assert(runEastRect("ckpt2") == (1000L until 1020L).toSet)

    // count 0 == UNKNOWN in FGB: extent-less entries are never pruned
    rewrite(manifest.values.map { e =>
      if (e.name == eastName)
        e.copy(count = 0, minLng = 0, minLat = 0, maxLng = 1000, maxLat = 1000)
      else e
    }.toSeq)
    assert(runEastRect("ckpt3") == (1000L until 1020L).toSet)
  }

  test("SQL over the format: CREATE TABLE USING flatgeobuf + WHERE drives the same prune") {
    val spark = sparkSession
    val dir = java.nio.file.Files.createTempDirectory("fgb_sql").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/west.fgb"),
      FlatGeobuf.write((0 until 30).map(i => pt(i % 10, i / 10, i.toLong))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/east.fgb"),
      FlatGeobuf.write((0 until 30).map(i => pt(100 + i % 10, i / 10, 1000L + i))))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW fgb USING flatgeobuf OPTIONS (path '$dir')")
    val out = spark.sql(
      """SELECT element_at(prop_vals, 2) AS id FROM fgb
        |WHERE max_lng >= 1000000000 AND min_lng <= 1100000000
        |  AND max_lat >= 0 AND min_lat <= 100000000
        |ORDER BY id""".stripMargin)
    val ids = out.collect().map(_.getString(0))
    assert(ids.length == 30 && ids.forall(_.toLong >= 1000L))
    val scan = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: graft.sources.v2.ContainerScan => s }.get
    assert(scan.toBatch.planInputPartitions().length == 1)
  }

  test("fuzz: mutated containers never hang the reader (exceptions are fine, loops are not)") {
    // planning runs on the driver over UNTRUSTED bytes — a corrupt file
    // must fail, not spin (the index_node_size=1 class of bug) and not
    // size an allocation from a corrupt length field. Seeded byte flips
    // over a real container; every parse — the in-memory readers, the one
    // forward stream and the ranged bbox scan — either returns or throws,
    // and allocates at most 64 MB. The suite's own timeout is the hang
    // detector.
    import scala.util.control.NonFatal
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val q = Envelope.fromDegrees(0, 0, 5, 5)
    var parsed = 0; var rejected = 0
    def parse(what: String, b: Array[Byte])(body: => Any): Boolean = {
      val before = threads.getCurrentThreadAllocatedBytes
      val ok = try { body; true } catch { case NonFatal(_) => false }
      val used = threads.getCurrentThreadAllocatedBytes - before
      assert(used <= (64L << 20), s"$what allocated $used bytes on a mutated file")
      ok
    }
    // a positioned read, strict like FSDataInputStream.readFully
    def ranged(b: Array[Byte]): (Long, Int) => Array[Byte] = (off, k) => {
      require(off >= 0 && k >= 0 && off + k <= b.length, s"read [$off, +$k) past ${b.length}")
      java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + k)
    }
    def streamAt(b: Array[Byte], at: Long) =
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(b, at.toInt, b.length - at.toInt))
    val base = FlatGeobuf.write((0 until 50).map(i => pt(i % 10, i / 10, i.toLong)))
    val rnd = new scala.util.Random(4242)
    (0 until 300).foreach { _ =>
      val b = base.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      if (parse("FlatGeobuf.selectAll", b)(FlatGeobuf.selectAll(b))) parsed += 1 else rejected += 1
      parse("FlatGeobuf.selectBbox", b)(FlatGeobuf.selectBbox(b, q))
      parse("FlatGeobuf.selectRangeStream", b) {
        val h = FlatGeobuf.readHeaderRanged(ranged(b), b.length.toLong)
        FlatGeobuf.selectRangeStream(streamAt(b, h.featuresOffset), h, h.featuresOffset,
          b.length.toLong).size
      }
      parse("FlatGeobuf.selectBboxRange", b)(
        FlatGeobuf.selectBboxRange(ranged(b), b.length.toLong, q).size)
    }
    assert(parsed + rejected == 300)
    // the geomedea container reader gets the same treatment
    val gmBase = graft.sources.GeomedeaFile.write(
      (0 until 50).map(i => pt(i % 10, i / 10, i.toLong)), compressed = true)
    (0 until 300).foreach { _ =>
      val b = gmBase.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      import graft.sources.GeomedeaFile
      parse("GeomedeaFile.selectAll", b)(GeomedeaFile.selectAll(b))
      parse("GeomedeaFile.selectBbox", b)(GeomedeaFile.selectBbox(b, q))
      parse("GeomedeaFile.selectPageRange", b) {
        val (compressed, _, featureCount) = GeomedeaFile.header(b)
        val dataStart = GeomedeaFile.dataStart(featureCount)
        GeomedeaFile.selectPageRange(streamAt(b, dataStart), compressed, dataStart,
          b.length.toLong, dataStart).size
      }
      parse("GeomedeaFile.selectBboxRange", b)(
        GeomedeaFile.selectBboxRange(ranged(b), b.length.toLong, q).size)
      parse("GeomedeaFile.countBboxRange", b)(
        GeomedeaFile.countBboxRange(ranged(b), b.length.toLong, q))
    }
    // a page whose decoded length is under the 1 GiB cap but is not what
    // its zstd frame declares is refused before the output is allocated
    import graft.sources.GeomedeaFile
    val forged = gmBase.clone()
    val (compressed, _, featureCount) = GeomedeaFile.header(forged)
    val dataStart = GeomedeaFile.dataStart(featureCount)
    java.nio.ByteBuffer.wrap(forged).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(dataStart.toInt + 4, 512 << 20)
    val all = Envelope(Int.MinValue, Int.MinValue, Int.MaxValue, Int.MaxValue)
    assert(!parse("forged selectAll", forged)(GeomedeaFile.selectAll(forged)))
    assert(!parse("forged selectBbox", forged)(GeomedeaFile.selectBbox(forged, all)))
    assert(!parse("forged selectPageRange", forged)(GeomedeaFile.selectPageRange(
      streamAt(forged, dataStart), compressed, dataStart, forged.length.toLong, dataStart).size))
    assert(!parse("forged selectBboxRange", forged)(
      GeomedeaFile.selectBboxRange(ranged(forged), forged.length.toLong, all).size))
  }

  test("geomedea vs FlatGeobuf head-to-head on the same data (the README comparison)") {
    // same 300 features in both containers; compressed geomedea should be
    // the smaller FILE (the reference's 5.1 MB vs 13 MB story) and both
    // sources transfer a small subset for a selective bbox
    val feats = (0 until 300).map(i => pt((i % 60) * 0.3, (i / 60) * 0.3, i.toLong))
    val gm = graft.sources.GeomedeaFile.write(feats, compressed = true)
    val fgb = FlatGeobuf.write(feats)
    assert(gm.length < fgb.length,
      s"compressed geomedea (${gm.length} B) must be smaller than FGB (${fgb.length} B)")
    val q = Envelope.fromDegrees(-0.1, -0.1, 0.95, 0.95)
    val gmScan = graft.sources.GeomedeaFile.selectBboxRange(
      (off, k) => gm.slice(off.toInt, off.toInt + k), gm.length.toLong, q, 4096)
    val gmRows = gmScan.size
    val fgbScan = FlatGeobuf.selectBboxRange(
      (off, k) => fgb.slice(off.toInt, off.toInt + k), fgb.length.toLong, q, 4096)
    val fgbRows = fgbScan.size
    assert(gmRows == fgbRows && gmRows > 0)
    assert(gmScan.bytesTransferred < gm.length && fgbScan.bytesTransferred < fgb.length)
  }

  private def sparkSession = {
    val s = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("Spark bridge: write -> read parity and pruned load(dir)") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("fgb_spark").toString
    val feats = (0 until 60).map(i => pt(i % 10, i / 10, i.toLong))
    // functional write from an engine frame
    import spark.implicits._
    def frame(fs: Seq[Feature]) = fs.map(f => (Wkb.write(f.geom),
        f.props.map { case (k, v) => GeoJsonIngest.toCell(k, v) }))
      .toDF("wkb", "props")
    FlatGeobufSpark.write(frame(feats), s"$dir/a.fgb")
    FlatGeobufSpark.write(frame(feats.take(30)), s"$dir/b.fgb")

    val one = FlatGeobufSpark.read(spark, s"$dir/a.fgb")
    assert(one.count() == 60)
    assert(one.columns.contains("min_lng"))
    // collect, not count: COUNT(*) pushes to headers and would skip the read
    val all = spark.read.format("flatgeobuf").load(dir)
    assert(all.collect().length == 60 + 30)
    // bbox-pruned dir scan equals a post-filter of the driver-side reads
    import org.apache.spark.sql.functions.col
    val q = Envelope.fromDegrees(-0.5, -0.5, 2.5, 2.5)
    def window(d: org.apache.spark.sql.DataFrame) = d.where(
      col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
        col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat)
    val pruned = window(all).collect().length
    val brute = Seq("a", "b").map(f => FlatGeobufSpark.read(spark, s"$dir/$f.fgb"))
      .reduce(_ union _).collect().count { r =>
        r.getAs[Int]("max_lng") >= q.minLng && r.getAs[Int]("max_lat") >= q.minLat &&
          r.getAs[Int]("min_lng") <= q.maxLng && r.getAs[Int]("min_lat") <= q.maxLat
      }
    assert(brute > 0 && brute < 90)
    assert(pruned == brute)
  }
}
