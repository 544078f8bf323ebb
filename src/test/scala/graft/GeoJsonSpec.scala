package graft

import graft.geom.{Envelope, PointInPolygon, ScaledCoord, Wkb}
import graft.sources.{GeoJson, GeoJsonIngest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** GeoJSON bridge goldens against the reference's own test fixtures
  * (read-only at /root/reference/test_fixtures — values from
  * geomedea_geozero tests, code written from scratch).
  */
class GeoJsonSpec extends AnyFunSuite {
  val Fixtures = "/root/reference/test_fixtures"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("countries.geojson: bbox (24,-4)-(24.5,-3.5) hits the DR Congo polygon") {
    // reference golden: geozero_writer.rs:701-731
    val df = GeoJsonIngest.fromFeatureCollection(spark, s"$Fixtures/countries.geojson")
    assert(df.count() > 100) // world countries
    val q = Envelope.fromDegrees(24, -4, 24.5, -3.5)
    val hits = df.where(
      col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
        col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat)
      .collect()
    val names = hits.map { r =>
      val ks = r.getSeq[String](r.fieldIndex("prop_keys")); val vs = r.getSeq[String](r.fieldIndex("prop_vals"))
      ks.zip(vs).toMap.getOrElse("name", "")
    }
    assert(names.contains("Democratic Republic of the Congo"), s"got ${names.toSeq}")
    // exact PIP refinement on the bbox center also lands in DR Congo
    val drc = hits.find { r =>
      val ks = r.getSeq[String](r.fieldIndex("prop_keys")); val vs = r.getSeq[String](r.fieldIndex("prop_vals"))
      ks.zip(vs).toMap.get("name").contains("Democratic Republic of the Congo")
    }.get
    assert(PointInPolygon.containsWkb(drc.getAs[Array[Byte]]("wkb"),
      ScaledCoord.toScaled(24.25), ScaledCoord.toScaled(-3.75)))
  }

  test("places.json: feature count 1249; bbox (90,40)-(100,50) -> 3 features") {
    // reference goldens: geozero_writer.rs:645-663 (1249), benches/file_read.rs:30-44 (3)
    val df = GeoJsonIngest.fromFeatureCollection(spark, s"$Fixtures/places.json")
    assert(df.count() == 1249)
    val q = Envelope.fromDegrees(90, 40, 100, 50)
    val n = df.where(
      col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
        col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat).count()
    assert(n == 3)
  }

  test("canonical-geojson corpus roundtrips through WKB (normalized)") {
    val dir = Paths.get(s"$Fixtures/canonical-geojson")
    val files = Files.list(dir).toArray.map(_.toString)
      .filter(f => f.endsWith(".geojson") && !f.contains("3d") && !f.contains("nullgeometry"))
    assert(files.length >= 10)
    files.foreach { f =>
      val doc = new String(Files.readAllBytes(Paths.get(f)))
      val feats = GeoJson.features(doc)
      assert(feats.nonEmpty, f)
      feats.foreach { feat =>
        val g = Wkb.read(feat.wkb)
        val g2 = Wkb.read(Wkb.write(g)) // reserialize
        assert(Wkb.asText(g2) == Wkb.asText(g), f)
        // export -> reparse -> same WKT (1e-7 quantized fixpoint)
        val exported = GeoJson.geometryJson(g)
        val reparsed = GeoJson.geometry(GeoJson.parseJson(exported))
        assert(Wkb.asText(reparsed) == Wkb.asText(g), f)
      }
    }
  }

  test("typed properties (F9): bool/int/float/string survive ingest -> export typed") {
    // the analog of geozero_writer.rs:645-699 property-type assertions
    import graft.codec.FeatureCodec._
    val doc =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[1.5,2.5]},
        | "properties":{"name":"alpha","pop":12345,"ratio":0.25,"flag":true,
        |               "gone":null,"tags":["a","b"],"whole":3.0}}]}""".stripMargin
    val f = GeoJson.features(doc).head
    // typed parse: null dropped; arrays stringified (geozero Json->String)
    assert(f.props == Vector(
      "name" -> PString("alpha"), "pop" -> PInt64(12345L),
      "ratio" -> PFloat64(0.25), "flag" -> PBool(true),
      "tags" -> PString("""["a","b"]"""), "whole" -> PFloat64(3.0)))

    val tmp = java.nio.file.Files.createTempFile("typed", ".geojson")
    java.nio.file.Files.write(tmp, doc.getBytes)
    val df = GeoJsonIngest.fromFeatureCollection(spark, tmp.toString)
    val kinds = df.selectExpr("transform(props, p -> p.kind) AS kinds").head().getSeq[String](0)
    assert(kinds == Seq("string", "i64", "f64", "bool", "string", "f64"))

    // export renders typed JSON; reparse restores identical typed values
    val exported = GeoJsonIngest.toGeoJsonFeatures(df).head().getString(0)
    val back = GeoJson.features(exported).head
    assert(back.props == f.props, exported)
    // fidelity the old string-flattening path lost: bool is a JSON bool,
    // ints have no quotes/decimal point, whole floats keep ".0"
    assert(exported.contains(""""flag":true"""))
    assert(exported.contains(""""pop":12345"""))
    assert(exported.contains(""""whole":3.0"""))
  }

  test("CSV export: WKT + first-feature columns (geozero CsvWriter contract), quoted roundtrip") {
    val doc =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[1.5,2.5]},
        | "properties":{"name":"has, comma","pop":12345}},
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[-3.25,0.5]},
        | "properties":{"name":"quote \" inside","pop":7,"extra":"not in first feature"}}]}""".stripMargin
    val tmp = java.nio.file.Files.createTempFile("csv", ".geojson")
    java.nio.file.Files.write(tmp, doc.getBytes)
    val df = GeoJsonIngest.fromFeatureCollection(spark, tmp.toString)
    val csv = GeoJsonIngest.toCsvFrame(df)
    // column set = geometry + the FIRST feature's keys ("extra" dropped)
    assert(csv.columns.toSeq == Seq("geometry", "name", "pop"))
    val rows = csv.orderBy("pop").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("POINT(1.5 2.5)", "has, comma", "12345"),
      ("POINT(-3.25 0.5)", "quote \" inside", "7")))
    // real parallel CSV write/read: Spark applies RFC-4180 quoting, the
    // special characters survive byte-exact
    val out = java.nio.file.Files.createTempDirectory("csvout").toString + "/csv"
    csv.write.option("header", true).csv(out)
    val back = spark.read.option("header", true).csv(out)
    assert(back.columns.toSeq == csv.columns.toSeq)
    assert(back.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      rows.toSet)

    // CSV IMPORT (the inverse direction): the written CSV parses back to
    // the same geometries + string property view
    val imported = GeoJsonIngest.fromCsvFrame(back)
    def hexOf(b: Array[Byte]) = b.map("%02X".format(_)).mkString
    val expect = rows.map { case (g, n, p) =>
      (hexOf(Wkb.write(graft.geom.Wkt.parse(g))), Seq("name", "pop"), Seq(n, p))
    }.toSet
    val got = imported.select(hex(col("wkb")), col("prop_keys"), col("prop_vals")).collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[String](2))).toSet
    assert(got == expect)
    // envelope stats materialized on import (pushdown-ready ints)
    assert(imported.where(col("min_lng") === 15000000 && col("min_lat") === 25000000).count() == 1)
  }

  test("integral JSON at the i64/u64 boundary routes to UInt64, never clamps") {
    import graft.codec.FeatureCodec._
    import GeoJson.{JNum, propValue}
    // 2^63 == Long.MaxValue.toDouble (which rounds UP): serde_json's u64
    // arm owns it — a <= bound would clamp it to PInt64(Long.MaxValue)
    assert(propValue(JNum(9.223372036854776e18, integral = true))
      .contains(PUInt64(Long.MinValue))) // 2^63 as the unsigned bit pattern
    assert(propValue(JNum(Long.MaxValue.toDouble - 1024, integral = true))
      .contains(PInt64(9223372036854774784L)))
    assert(propValue(JNum(1.0e19, integral = true)) // exactly representable
      .contains(PUInt64(java.lang.Long.parseUnsignedLong("10000000000000000000"))))
  }

  test("typed columnar bridge roundtrips all 15 variants (13 scalars + typed Vec/Map)") {
    import graft.codec.FeatureCodec._
    import graft.sources.GeoJsonIngest.{fromCell, toCell}
    val scalars: Vector[(String, PValue)] = Vector(
      "b" -> PBool(true), "i8" -> PInt8(-5), "u8" -> PUInt8(200),
      "i16" -> PInt16(-1000), "u16" -> PUInt16(60000),
      "i32" -> PInt32(Int.MinValue), "u32" -> PUInt32(4000000000L),
      "i64" -> PInt64(Long.MinValue), "u64" -> PUInt64(-1L),
      "f32" -> PFloat32(1.5f), "f64" -> PFloat64(math.Pi),
      "bin" -> PBytes(Array[Byte](1, 2)), "s" -> PString("x"))
    val nested: Vector[(String, PValue)] = Vector(
      // Vec of mixed scalar kinds: typed elements, not stringified
      "v" -> PVec(Vector(PBool(false), PInt64(7L), PString("in vec"), PFloat32(0.5f))),
      // Map keeps INSERTION order (array<struct>, not MapType)
      "m" -> PMap(Vector("z" -> PString("first"), "a" -> PUInt64(-1L))))
    (scalars ++ nested).foreach { case (k, v) => assert(fromCell(toCell(k, v)) == (k -> v)) }
    // one level of typed nesting: vec-of-vec stays codec-only
    intercept[IllegalArgumentException](toCell("vv", PVec(Vector(PVec(Vector(PBool(true)))))))

    // and THROUGH Spark: a feature carrying vec+map survives the columnar
    // bridge (write a .geomedea, read it via the v2 source, reconstruct)
    import graft.sources.{GeomedeaFile, GeoJsonIngest}
    val f = Feature(Wkb.Pt(15000000, 25000000), scalars ++ nested)
    val path = java.nio.file.Files.createTempDirectory("gmtyped").toString + "/t.geomedea"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      GeomedeaFile.write(Seq(f), compressed = false, pageSizeGoal = 1024))
    val s = spark
    import s.implicits._
    val cells = spark.read.format("geomedea").load(path)
      .select("props").as[Seq[GeoJsonIngest.PropCell]].head()
    assert(cells.map(GeoJsonIngest.fromCell).toVector == f.props)
  }

  test("native-format bridge: places.json through GeoJSON -> .geomedea -> Spark keeps the reference goldens") {
    // GeoJSON ingest -> write the reference's own file format -> read it
    // back through Spark: 1249 features, bbox (90,40)-(100,50) -> 3
    // (geozero_writer.rs:645-663, benches/file_read.rs:30-44), typed
    // props preserved
    import graft.sources.GeomedeaSpark
    val df = GeoJsonIngest.fromFeatureCollection(spark, s"$Fixtures/places.json")
    for (compressed <- Seq(false, true)) {
      val path = java.nio.file.Files.createTempDirectory("gmfile").toString + "/places.geomedea"
      GeomedeaSpark.write(df, path, compressed, pageSizeGoal = 8 * 1024) // ref bench page goal
      val back = GeomedeaSpark.read(spark, path)
      assert(back.count() == 1249)
      val q = Envelope.fromDegrees(90, 40, 100, 50)
      val hits = back.where(
        col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
          col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat).count()
      assert(hits == 3, s"compressed=$compressed")
      // typed props survive the native format (multiset equality: the
      // file applies its own Hilbert layout order)
      def propBag(d: org.apache.spark.sql.DataFrame) =
        d.selectExpr("explode(props) AS p").groupBy("p").count()
          .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
      assert(propBag(back) == propBag(df), s"compressed=$compressed")
    }
  }

  test("distributed .geomedea directory scan: parallel decode + per-file index pruning") {
    import graft.sources.GeomedeaSpark
    val dir = java.nio.file.Files.createTempDirectory("gmdir").toString
    val df = GeoJsonIngest.fromFeatureCollection(spark, s"$Fixtures/places.json")
    // shard the fixture into 3 files
    for (i <- 0 until 3)
      GeomedeaSpark.write(df.where(col("feature_id") % 3 === i), s"$dir/part-$i.geomedea",
        compressed = i % 2 == 0, pageSizeGoal = 8 * 1024)
    val all = spark.read.format("geomedea").load(dir)
    val allRows = all.collect()
    assert(allRows.length == 1249)
    assert(allRows.map(_.getAs[String]("source_file")).distinct.length == 3)
    val q = Envelope.fromDegrees(90, 40, 100, 50)
    // pushed bbox (files and index pruned) equals post-hoc filtering of
    // the full scan's rows
    val pushedDf = all.where(
      col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
        col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat)
    val post = allRows.filter(r =>
      r.getAs[Int]("max_lng") >= q.minLng && r.getAs[Int]("max_lat") >= q.minLat &&
        r.getAs[Int]("min_lng") <= q.maxLng && r.getAs[Int]("min_lat") <= q.maxLat)
    // (source_file, page_offset, feature_offset) is a STABLE id: the
    // pruned scan's ids are exactly the full scan's ids for those rows
    def ids(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => Seq(r.getAs[String]("source_file"), r.getAs[Long]("page_offset"),
        r.getAs[Int]("feature_offset"))).toSet
    val pushed = pushedDf.collect()
    assert(pushed.length == 3 && post.length == 3)
    assert(ids(pushed) == ids(post))
  }

  test("export job emits parseable features preserving property order") {
    val df = GeoJsonIngest.fromFeatureCollection(spark, s"$Fixtures/countries.geojson").limit(5)
    val out = GeoJsonIngest.toGeoJsonFeatures(df).collect().map(_.getString(0))
    assert(out.length == 5)
    out.foreach { line =>
      val parsed = GeoJson.features(line)
      assert(parsed.length == 1)
    }
  }
}
