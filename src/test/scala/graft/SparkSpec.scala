package graft

import graft.expr.GraftFunctions
import graft.geom.Envelope
import graft.jobs.{Ingest, Knn, SpatialJoin}
import graft.table.InterleavedDocs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SparkSpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  lazy val docs: DataFrame = InterleavedDocs.docs(spark, Sf).cache()
  lazy val geo: DataFrame = InterleavedDocs.withGeometry(docs).cache()
  lazy val rects: DataFrame = InterleavedDocs.nationRects(spark, Sf)

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("docs table matches input_hint shape and is non-empty") {
    assert(docs.columns.toSeq == Seq("doc_id", "spans"))
    val spanType = docs.schema("spans").dataType.simpleString
    assert(spanType == "array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    assert(docs.count() > 0)
  }

  test("geometry parses out of the geom span; WKB roundtrip is exact vs integer formulas") {
    val raw = InterleavedDocs.raw(spark, Sf)
    val expected = raw.select(
      format_string("doc-%09d", col("doc_id")).as("doc_id"),
      InterleavedDocs.lngOf(col("doc_id")).cast("int").as("lng"),
      InterleavedDocs.latOf(col("doc_id")).cast("int").as("lat"))
    assert(rows(geo, "doc_id", "lng", "lat") == rows(expected, "doc_id", "lng", "lat"))
  }

  test("all three spatial-join strategies equal brute force (incl. skewed hot cell)") {
    val brute = rows(SpatialJoin.bruteForce(geo, rects), "poly_id", "doc_id")
    assert(brute.nonEmpty)
    assert(rows(SpatialJoin.cellJoin(geo, rects), "poly_id", "doc_id") == brute)
    assert(rows(SpatialJoin.rtreeJoin(geo, rects), "poly_id", "doc_id") == brute)
    assert(rows(SpatialJoin.saltedCellJoin(geo, rects), "poly_id", "doc_id") == brute)
    // J6: shuffle-based Hilbert-range join, at two chunk resolutions
    assert(rows(SpatialJoin.hilbertRangeJoin(geo, rects), "poly_id", "doc_id") == brute)
    assert(rows(SpatialJoin.hilbertRangeJoin(geo, rects, res = 3), "poly_id", "doc_id") == brute)
    // skew exists: hot rect holds ~90% of docs
    val top = SpatialJoin.cellJoin(geo, rects).groupBy("poly_id").count()
      .orderBy(col("count").desc).head()
    assert(top.getLong(1) > geo.count() / 2)
  }

  test("every refining strategy equals brute force on vertices, edges, holes and envelope borders") {
    import graft.geom.Wkb
    val s = spark
    import s.implicits._
    val M = 1000000
    def ring(pts: (Int, Int)*): Array[Long] =
      (pts :+ pts.head).map { case (x, y) => Wkb.pack(x * M, y * M) }.toArray
    val shapes: Seq[(Long, Wkb.Geom)] = Seq(
      // sliver triangle: its envelope is ~80x the polygon's area
      1L -> Wkb.Poly(Vector(ring((-500, -300), (-100, 100), (-150, 60)))),
      2L -> Wkb.Poly(Vector(ring((100, 100), (500, 100), (500, 500), (100, 500)),
        ring((200, 200), (300, 200), (300, 300), (200, 300)))),
      3L -> Wkb.MultiPoly(Vector(
        Vector(ring((600, -400), (700, -400), (700, -300), (600, -300))),
        Vector(ring((800, -200), (1000, -200), (900, 0))))),
      4L -> Wkb.read(Wkb.rectWkb(-1000 * M, 400 * M, -600 * M, 800 * M)))
    val polys = shapes.map { case (id, g) =>
      val e = g.envelope
      (id, Wkb.write(g), e.minLng, e.minLat, e.maxLng, e.maxLat)
    }.toDF("poly_id", "poly_wkb", "p_min_lng", "p_min_lat", "p_max_lng", "p_max_lat")
    val rings = shapes.map(_._2).flatMap {
      case Wkb.Poly(rs)      => rs
      case Wkb.MultiPoly(ps) => ps.flatten
      case g                 => fail(s"unexpected $g")
    }
    // every vertex and every edge midpoint (all coordinates are even, so
    // midpoints lie exactly on their edge)
    val onRings = rings.flatMap(r => r.indices.init.flatMap { i =>
      val (a, b) = (r(i), r(i + 1))
      Seq((Wkb.lngOf(a), Wkb.latOf(a)),
        ((Wkb.lngOf(a) + Wkb.lngOf(b)) / 2, (Wkb.latOf(a) + Wkb.latOf(b)) / 2))
    })
    // envelope corners, and one scaled unit outside each envelope side
    val aroundEnvelopes = shapes.map(_._2.envelope).flatMap { e =>
      Seq((e.minLng, e.minLat), (e.maxLng, e.minLat), (e.minLng, e.maxLat), (e.maxLng, e.maxLat),
        (e.minLng - 1, e.centerLat), (e.maxLng + 1, e.centerLat),
        (e.centerLng, e.minLat - 1), (e.centerLng, e.maxLat + 1))
    }
    // interiors: triangle centroid, square body, hole, both multipart
    // parts, the gap between them, and the rectangle
    val inner = Seq((-250 * M, -46666667), (150 * M, 150 * M), (250 * M, 250 * M),
      (650 * M, -350 * M), (900 * M, -100 * M), (750 * M, -250 * M), (-800 * M, 600 * M))
    val pts = (onRings ++ aroundEnvelopes ++ inner).distinct.zipWithIndex
      .map { case ((x, y), i) => (f"pt-$i%03d", x, y) }.toDF("doc_id", "lng", "lat")

    val brute = rows(SpatialJoin.bruteForce(pts, polys), "poly_id", "doc_id")
    val inEnvelope = rows(pts.crossJoin(polys).where(
      col("lng").between(col("p_min_lng"), col("p_max_lng")) &&
        col("lat").between(col("p_min_lat"), col("p_max_lat"))), "poly_id", "doc_id")
    // the fixture reaches both sides of the envelope filter: envelope hits
    // that PIP rejects, and PIP hits for every polygon
    assert(brute.subsetOf(inEnvelope) && inEnvelope.size > brute.size)
    assert(brute.map(_.head) == shapes.map(_._1).toSet)
    for ((name, df) <- Seq(
        "cellJoin" -> SpatialJoin.cellJoin(pts, polys),
        "saltedCellJoin" -> SpatialJoin.saltedCellJoin(pts, polys),
        "rtreeJoin" -> SpatialJoin.rtreeJoin(pts, polys),
        "hilbertRangeJoin" -> SpatialJoin.hilbertRangeJoin(pts, polys)))
      assert(rows(df, "poly_id", "doc_id") == brute, name)
    assert(rows(SpatialJoin.antiJoin(pts, polys), "doc_id") ==
      rows(pts, "doc_id") -- brute.map(_.tail))
    val bruteZones = SpatialJoin.bruteForce(pts, polys).groupBy("poly_id")
      .agg(count(lit(1)).as("n"),
        min("lng").cast("long").as("z_min_lng"), min("lat").cast("long").as("z_min_lat"),
        max("lng").cast("long").as("z_max_lng"), max("lat").cast("long").as("z_max_lat"))
    val zoneCols = Seq("poly_id", "n", "z_min_lng", "z_min_lat", "z_max_lng", "z_max_lat")
    assert(rows(SpatialJoin.zonalStats(pts, polys), zoneCols: _*) == rows(bruteZones, zoneCols: _*))
  }

  test("mixed-size polygons: multi-level cellJoin, antiJoin and zonalStats equal brute force") {
    import graft.curve.Cells
    import graft.geom.Wkb
    import graft.table.PolyFixtures
    val s = spark
    import s.implicits._
    val M = 1000000
    val (wx0, wy0) = (Cells.WorldMinLng.toInt, Cells.WorldMinLat.toInt)
    val (wx1, wy1) = (-wx0, -wy0)
    // a point-sized rectangle on a level-9-only cell corner (odd indices)
    val (px, py) = ((Cells.WorldMinLng + 301 * Cells.cellWidth(9)).toInt,
      (Cells.WorldMinLat + 77 * Cells.cellHeight(9)).toInt)
    def asPolys(df: DataFrame, idOffset: Long): Seq[(Long, Array[Byte], Envelope)] =
      df.select("poly_id", "poly_wkb", "p_min_lng", "p_min_lat", "p_max_lng", "p_max_lat").collect()
        .map(r => (r.getLong(0) + idOffset, r.getAs[Array[Byte]](1),
          Envelope(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toSeq
    val sliver = Wkb.Poly(Vector(Seq((-500, -300), (-100, 100), (-150, 60), (-500, -300))
      .map { case (x, y) => Wkb.pack(x * M, y * M) }.toArray))
    val shapes = asPolys(PolyFixtures.usCountiesStandIn(spark), 0L) ++ asPolys(rects, 10000L) ++
      Seq(20000L -> Wkb.rectWkb(wx0, wy0, wx1, wy1), 20001L -> Wkb.rectWkb(px, py, px, py),
        20002L -> Wkb.write(sliver)).map { case (id, wkb) => (id, wkb, Wkb.read(wkb).envelope) }
    val polys = shapes.map { case (id, wkb, e) => (id, wkb, e.minLng, e.minLat, e.maxLng, e.maxLat) }
      .toDF("poly_id", "poly_wkb", "p_min_lng", "p_min_lat", "p_max_lng", "p_max_lat")
    def levelOf(key: Long): Int = (0 to Cells.MaxRes).filter(r => ((1L << (2 * r)) - 1) / 3 <= key).max
    // per polygon: its envelope corners, one unit outside two sides, and
    // points on (and one unit below) every cell edge crossing its envelope
    // at the level each tested cap keys it at, plus where those edges cross
    val pts = shapes.flatMap { case (_, _, e) =>
      val edges = Seq(Cells.MaxRes, 6, 4).map(m => levelOf(Cells.coverKeys(e, m).head)).distinct
        .map { l =>
          val xs = (Cells.cellX(e.minLng, l) + 1 to Cells.cellX(e.maxLng, l))
            .map(cx => (Cells.WorldMinLng + cx * Cells.cellWidth(l)).toInt)
          val ys = (Cells.cellY(e.minLat, l) + 1 to Cells.cellY(e.maxLat, l))
            .map(cy => (Cells.WorldMinLat + cy * Cells.cellHeight(l)).toInt)
          xs.flatMap(x => Seq((x, e.minLat), (x - 1, e.maxLat))) ++
            ys.flatMap(y => Seq((e.minLng, y), (e.maxLng, y - 1))) ++
            (for (x <- xs; y <- ys) yield (x, y))
        }
      Seq((e.minLng, e.minLat), (e.maxLng, e.maxLat), (e.minLng, e.maxLat), (e.maxLng, e.minLat),
        (e.minLng - 1, e.minLat), (e.maxLng + 1, e.maxLat)) ++ edges.flatten
    }.distinct.zipWithIndex.map { case ((x, y), i) => (f"pt-$i%06d", x, y) }
      .toDF("doc_id", "lng", "lat").cache()

    val bruteDf = SpatialJoin.bruteForce(pts, polys).cache()
    val brute = rows(bruteDf, "poly_id", "doc_id")
    // every polygon has a hit, and some points (outside the world) have none
    assert(brute.map(_.head) == shapes.map(_._1).toSet)
    val anti = rows(pts, "doc_id") -- brute.map(_.tail)
    assert(anti.nonEmpty)
    for ((name, df) <- Seq(
        "cellJoin" -> SpatialJoin.cellJoin(pts, polys),
        "saltedCellJoin" -> SpatialJoin.saltedCellJoin(pts, polys))) {
      val got = df.select("poly_id", "doc_id").collect().map(_.toSeq)
      assert(got.length == brute.size, s"$name: ${got.length} rows for ${brute.size} pairs")
      assert(got.toSet == brute, name)
    }
    // the same key scheme at coarser caps: each envelope hit meets its
    // polygon exactly once, so the refined key matches are brute force
    import graft.expr.GraftFunctions.{gmCoverKeys, gmPointKeys, stContains}
    for (cap <- Seq(0, 4, 6)) {
      val got = pts.withColumn("cell", explode(gmPointKeys(col("lng"), col("lat"), 0 to cap)))
        .join(polys.withColumn("cell", explode(gmCoverKeys(col("p_min_lng"), col("p_min_lat"),
          col("p_max_lng"), col("p_max_lat"), cap))), "cell")
        .where(col("lng").between(col("p_min_lng"), col("p_max_lng")) &&
          col("lat").between(col("p_min_lat"), col("p_max_lat")) &&
          stContains(col("poly_wkb"), col("lng"), col("lat")))
        .select("poly_id", "doc_id").collect().map(_.toSeq)
      assert(got.length == brute.size && got.toSet == brute, s"cap $cap")
    }
    assert(rows(SpatialJoin.antiJoin(pts, polys), "doc_id") == anti)
    val zoneCols = Seq("poly_id", "n", "z_min_lng", "z_min_lat", "z_max_lng", "z_max_lat")
    val bruteZones = bruteDf.groupBy("poly_id")
      .agg(count(lit(1)).as("n"),
        min("lng").cast("long").as("z_min_lng"), min("lat").cast("long").as("z_min_lat"),
        max("lng").cast("long").as("z_max_lng"), max("lat").cast("long").as("z_max_lat"))
    assert(rows(SpatialJoin.zonalStats(pts, polys), zoneCols: _*) == rows(bruteZones, zoneCols: _*))
    bruteDf.unpersist(); pts.unpersist()
  }

  test("distance-within join equals brute force at several radii, both join strategies") {
    val queries = InterleavedDocs.nationQueryPoints(spark, Sf)
    // radii straddling cell sizes at res 4 (225e6 x 112.5e6): sub-cell,
    // cell-ish, multi-cell, and 0 (exact-hit only — likely empty, must
    // not error); the driver-planned broadcast probe and the distributed one
    for (r <- Seq(0L, 50000000L, 150000000L, 400000000L)) {
      val brute = rows(SpatialJoin.distanceBruteForce(geo, queries, r), "query_id", "doc_id")
      assert(rows(SpatialJoin.distanceJoin(geo, queries, r), "query_id", "doc_id") == brute)
      assert(rows(SpatialJoin.distanceJoin(geo, queries, r, maxBroadcast = 0),
        "query_id", "doc_id") == brute)
    }
    // the headline radius used by q52 returns rows on this data
    assert(rows(SpatialJoin.distanceJoin(geo, queries, 300000000L), "query_id", "doc_id").nonEmpty)
  }

  test("distanceJoin edge fixtures: radius 0, past the world, Long.MaxValue / 2, Int-extreme queries, null points") {
    import spark.implicits._
    val (lo, hi) = (Int.MinValue, Int.MaxValue)
    val extremes = Seq[(String, Option[Int], Option[Int])](("x0", Some(0), Some(0)),
      ("x1", Some(lo), Some(lo)), ("x2", Some(hi), Some(hi)), ("x3", Some(lo), Some(hi)),
      ("x4", Some(-1800000000), Some(900000000)), ("x5", Some(1), Some(-1)),
      ("n0", None, Some(0)), ("n1", Some(0), None), ("n2", None, None)).toDF("doc_id", "lng", "lat")
    val pts = geo.select("doc_id", "lng", "lat").unionByName(extremes)
    val queries = InterleavedDocs.nationQueryPoints(spark, Sf).unionByName(
      Seq[(Option[Long], Option[Int], Option[Int])]((Some(100L), Some(0), Some(0)),
        (Some(101L), Some(lo), Some(lo)), (Some(102L), Some(hi), Some(hi)),
        (Some(103L), Some(hi), Some(lo)), (Some(104L), Some(lo), Some(0)),
        (Some(105L), None, Some(0)), (None, Some(1), Some(-1))).toDF("query_id", "q_lng", "q_lat"))
    for (r <- Seq(0L, 1L, 4000000000L, Long.MaxValue / 2)) {
      // a query with a null id matches nothing
      val brute = rows(SpatialJoin.distanceBruteForce(pts, queries.where(col("query_id").isNotNull), r),
        "query_id", "doc_id")
      for (mb <- Seq(Knn.MaxQueries, 0)) {
        val got = SpatialJoin.distanceJoin(pts, queries, r, maxBroadcast = mb)
          .select("query_id", "doc_id").collect().map(_.toSeq)
        assert(got.length == brute.size && got.toSet == brute, s"radius $r maxBroadcast $mb")
      }
      // the query at a point matches it even at radius 0; the Int-extreme
      // corners find their own points
      assert(brute.contains(Seq(100L, "x0")) && brute.contains(Seq(101L, "x1")) &&
        brute.contains(Seq(102L, "x2")), s"radius $r")
      assert(!brute.exists(p => p(1).toString.startsWith("n") || p.head == 105L), "nulls never match")
    }
    // past the world: every non-null point is within reach of every query
    val all = rows(SpatialJoin.distanceJoin(pts, queries, Long.MaxValue / 2), "query_id", "doc_id")
    assert(all.size.toLong == pts.where(col("lng").isNotNull && col("lat").isNotNull).count() *
      queries.na.drop().count())
  }

  test("tile pyramid: every zoom's counts sum to the doc count; parents sum their children") {
    val total = geo.count()
    val pyr = graft.jobs.Tiles.pyramid(geo, maxZoom = 6).cache()
    val perZoom = pyr.groupBy("zoom").agg(sum("n").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perZoom.keySet == (0L to 6L).toSet)
    assert(perZoom.values.forall(_ == total))
    // parent tile count == sum of its (<=4) children at the next zoom
    val children = pyr.where(col("zoom") === 6)
      .select((col("tile_x") / 2).cast("long").as("px"),
        (col("tile_y") / 2).cast("long").as("py"), col("n"))
      .groupBy("px", "py").agg(sum("n").as("cn"))
    val parents = pyr.where(col("zoom") === 5)
      .select(col("tile_x").as("px"), col("tile_y").as("py"), col("n").as("pn"))
    val mismatch = parents.join(children, Seq("px", "py"), "full_outer")
      .where(col("pn").isNull || col("cn").isNull || col("pn") =!= col("cn")).count()
    assert(mismatch == 0)
    // zoom-z agreement with the single-zoom raster operator
    val r4 = rows(graft.jobs.Tiles.raster(geo, 4), "tile_id", "n")
    assert(rows(pyr.where(col("zoom") === 4), "tile_id", "n") == r4)
    pyr.unpersist()
  }

  test("spatial anti-join is the exact complement of the semi-join; zonal stats match SQL semantics") {
    // subset rects {3, 15} so the complement is non-empty (the full grid
    // tiles the world; at this SF every scattered doc sits in rect 0, so
    // rect 0 must be excluded) and rect 3 is a genuinely empty zone
    val sub = rects.where(col("poly_id") % 12 === 3)
    val matched = SpatialJoin.bruteForce(geo, sub).select("doc_id").distinct()
      .collect().map(_.getString(0)).toSet
    val anti = SpatialJoin.antiJoin(geo, sub).select("doc_id")
      .collect().map(_.getString(0)).toSet
    val all = geo.select("doc_id").collect().map(_.getString(0)).toSet
    assert(anti == (all -- matched))
    assert(anti.nonEmpty && matched.nonEmpty)
    // zonal: per-poly count/extent over brute-force membership; empty
    // polys kept with n = 0 and null extents
    val zs = SpatialJoin.zonalStats(geo, sub).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    val bruteCounts = SpatialJoin.bruteForce(geo, sub).groupBy("poly_id")
      .agg(count(lit(1)).as("n"), min("lng").cast("long").as("mn"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), Some(r.getLong(2)))).toMap
    val polyIds = sub.select("poly_id").collect().map(_.getLong(0)).toSet
    assert(zs.keySet == polyIds)
    for (pid <- polyIds)
      assert(zs(pid) == bruteCounts.getOrElse(pid, (0L, None)), s"poly $pid")
    assert(polyIds.exists(pid => !bruteCounts.contains(pid)), "an empty zone must exist")
  }

  test("polygon x polygon cover join equals brute force and emits each pair exactly once") {
    val s = spark
    import s.implicits._
    val regions = InterleavedDocs.regionRects(spark, Sf)
    def brute(a: DataFrame, b: DataFrame): Set[(Long, Long)] = {
      val ar = a.collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      val br = b.collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      (for {
        (ai, amnx, amny, amxx, amxy) <- ar
        (bi, bmnx, bmny, bmxx, bmxy) <- br
        if amxx >= bmnx && bmxx >= amnx && amxy >= bmny && bmxy >= amny
      } yield (ai, bi)).toSet
    }
    for (res <- Seq(2, 4, 6)) {
      val got = SpatialJoin.polyPolyJoin(rects, regions, res)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"res=$res: duplicate pair emitted")
      assert(got.toSet == brute(rects, regions), s"res=$res")
    }
    // shuffled variant (two huge sets): identical result, still exactly-once
    val shuffled = SpatialJoin.polyPolyJoin(rects, regions, broadcastB = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(shuffled.length == shuffled.toSet.size)
    assert(shuffled.toSet == brute(rects, regions))
    // touching edges (closed-interval contract): rects sharing only a
    // boundary line / corner DO intersect and appear exactly once
    def rectDf(rows: Seq[(Long, Int, Int, Int, Int)]): DataFrame =
      rows.toDF("poly_id", "p_min_lng", "p_min_lat", "p_max_lng", "p_max_lat")
        .select(col("poly_id"),
          GraftFunctions.stRectWkb(col("p_min_lng"), col("p_min_lat"),
            col("p_max_lng"), col("p_max_lat")).as("poly_wkb"),
          col("p_min_lng"), col("p_min_lat"), col("p_max_lng"), col("p_max_lat"))
    val left = rectDf(Seq((1L, 0, 0, 100, 100), (2L, -500, -500, -300, -300)))
    val right = rectDf(Seq(
      (10L, 100, 0, 200, 100),   // shares the lng=100 edge with 1
      (11L, 100, 100, 200, 200), // shares only the corner (100,100) with 1
      (12L, 50, 50, 60, 60),     // fully inside 1
      (13L, 900, 900, 950, 950)))// disjoint from both
    val got = SpatialJoin.polyPolyJoin(left, right, res = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "edge/corner pairs must not duplicate")
    assert(got.toSet == Set((1L, 10L), (1L, 11L), (1L, 12L)))
  }

  test("span-sequence invariant: join output spans equal input spans per doc_id") {
    val out = SpatialJoin.cellJoin(geo, rects).select("doc_id", "spans")
    val in = docs.withColumnRenamed("spans", "spans_in")
    val mismatches = out.join(in, "doc_id")
      .where(not(col("spans") === col("spans_in")))
      .count()
    assert(mismatches == 0)
  }

  test("kNN cell-ring expansion equals brute force") {
    val queries = InterleavedDocs.nationQueryPoints(spark, Sf)
    val a = rows(Knn.knn(geo, queries, 3), "query_id", "rank", "doc_id")
    val b = rows(Knn.bruteForce(geo, queries, 3), "query_id", "rank", "doc_id")
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("kNN past maxBroadcast switches to the distributed expansion, brute-equal") {
    val queries = InterleavedDocs.nationQueryPoints(spark, Sf)
    val n = queries.count()
    assert(n > 3, "fixture must exceed the forced broadcast ceiling")
    // maxBroadcast+1 queries -> the executor-side flatMap + shuffle join
    // path; results must be identical to brute force (and so to the
    // broadcast path the previous test locked)
    val a = rows(Knn.knn(geo, queries, 3, maxBroadcast = 3), "query_id", "rank", "doc_id")
    val b = rows(Knn.bruteForce(geo, queries, 3), "query_id", "rank", "doc_id")
    assert(a == b)
    // the fallback really ran: the probe side is the executor-side
    // flatMap (SerializeFromObject), not the driver-collected
    // LocalTableScan the broadcast path builds
    val plan = Knn.knn(geo, queries, 3, maxBroadcast = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SerializeFromObject"),
      s"distributed kNN fallback must expand rings executor-side:\n$plan")
  }

  test("kNN sampled bound: both branches equal brute force on edge fixtures") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    // a hot 2x2-degree cluster larger than the sample cap, sparse world points
    val hot = (0 until 6000).map(i => (f"h$i%05d", Option(-1190000000 + rnd.nextInt(20000000)),
      Option(340000000 + rnd.nextInt(20000000))))
    val sparse = (0 until 400).map(i => (f"s$i%04d", Option(rnd.nextInt(3600000) * 1000 - 1800000000),
      Option(rnd.nextInt(1800000) * 1000 - 900000000)))
    // world edges and corners, and points past the world edge
    val edges = for {
      (x, i) <- Seq(-1800000000, 0, 1800000000, 2000000000, Int.MaxValue).zipWithIndex
      (y, j) <- Seq(-900000000, 0, 900000000, Int.MinValue).zipWithIndex
    } yield (s"e$i$j", Option(x), Option(y))
    // 15 duplicates at a query's own location (D = 0 for k <= 15)
    val dups = (0 until 15).map(i => (f"d$i%02d", Option(500000000), Option(-200000000)))
    // six points tied at distance 1000 from (7e8, 1e8); their ids order
    // differently as UTF-8 bytes and as UTF-16 chars
    val tieIds = Seq("t\uFFFF", "t\uD83D\uDE00", "t\uE000", "t\uD800\uDC00", "ta", "t\u00E9")
    val ties = tieIds.zip(Seq((1000, 0), (-1000, 0), (0, 1000), (0, -1000), (600, 800), (-600, -800)))
      .map { case (id, (dx, dy)) => (id, Option(700000000 + dx), Option(100000000 + dy)) }
    val nulls = Seq(("n0", None, Option(340000000)), ("n1", Option(-1180000000), None),
      ("n2", None, None))
    def pointsOf(rs: Seq[(String, Option[Int], Option[Int])]) = rs.toDF("doc_id", "lng", "lat")
    val all = pointsOf(hot ++ sparse ++ edges ++ dups ++ ties ++ nulls)
    val queries = Seq(
      (1L, -1180000000, 350000000), (2L, -1190000000, 340000000), (3L, -1170000000, 360000000),
      (4L, -1000000000, 300000000), (5L, 1000000000, -500000000), (6L, -1800000000, -900000000),
      (7L, 1800000000, 900000000), (8L, Int.MaxValue, Int.MaxValue), (9L, Int.MinValue, Int.MinValue),
      (10L, 500000000, -200000000), (11L, 700000000, 100000000), (12L, 0, 0))
      .toDF("query_id", "q_lng", "q_lat")
    val cols = Seq("query_id", "rank", "doc_id", "dist2")
    def check(points: DataFrame, k: Int): Unit = {
      val brute = Knn.bruteForce(points.where(col("lng").isNotNull && col("lat").isNotNull), queries, k)
        .select(cols.map(col): _*).collect().map(_.toSeq)
      for (mb <- Seq(Knn.MaxQueries, 0)) {
        val got = Knn.knn(points, queries, k, maxBroadcast = mb)
          .select(cols.map(col): _*).collect().map(_.toSeq)
        assert(got.length == brute.length && got.toSet == brute.toSet, s"k=$k maxBroadcast=$mb")
      }
    }
    for (k <- Seq(1, 3, 10, Knn.SampleRows + 1)) check(all, k)
    // the tie query keeps the UTF-8 order of the tied ids
    val tied = Knn.knn(all, queries.where(col("query_id") === 11L), 3).orderBy("rank")
      .collect().map(_.getString(2)).toSeq
    assert(tied == tieIds.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0).take(3), tied)
    // D = 0: the duplicates fill the top-10 of their own location
    assert(Knn.knn(all, queries.where(col("query_id") === 10L), 10)
      .where(col("dist2") === 0.0).count() == 10)
    // k larger than the point count, an empty point side, nulls only
    check(pointsOf(edges ++ ties ++ nulls), 100)
    check(pointsOf(Nil), 3)
    assert(Knn.knn(pointsOf(Nil), queries, 3).count() == 0)
    check(pointsOf(nulls), 2)
  }

  test("kNN gapped-level fixture: hot-cluster and empty-ocean queries in one call, both branches") {
    import spark.implicits._
    import graft.curve.Cells
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val rnd = new scala.util.Random(14)
    // a dense 0.2-degree hot cluster and a sparse eastern band: the ocean
    // query's nearest points are ~1e9 away, the hot queries' ~1e5
    val hot = (0 until 2000).map(i =>
      (f"h$i%04d", -1190000000 + rnd.nextInt(2000000), 340000000 + rnd.nextInt(2000000)))
    val band = (0 until 100).map(i =>
      (f"b$i%03d", rnd.nextInt(1800000000), rnd.nextInt(1800000000) - 900000000))
    val points = (hot ++ band).toDF("doc_id", "lng", "lat")
    val queries = Seq((1L, -1189000000, 341000000), (2L, -1181000000, 341500000),
      (3L, -1185000000, 339000000), (4L, -1500000000, -700000000)).toDF("query_id", "q_lng", "q_lat")
    // the level mask the broadcast branch keys the points at
    def mask(df: DataFrame): Int = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case s: StaticInvoke if s.functionName == "pointKeys" => s.arguments(2) })
      .collect { case Literal(m: Int, _) => m }.head
    val cols = Seq("query_id", "rank", "doc_id", "dist2")
    val sampled = hot.length + band.length // below Knn.SampleRows: the sample is every point
    for (k <- Seq(1, 10, sampled + 1)) {
      val brute = Knn.bruteForce(points, queries, k).select(cols.map(col): _*).collect().map(_.toSeq)
      assert(brute.length == 4 * math.min(k, sampled))
      for (mb <- Seq(Knn.MaxQueries, 0)) {
        val got = Knn.knn(points, queries, k, maxBroadcast = mb)
          .select(cols.map(col): _*).collect().map(_.toSeq)
        assert(got.length == brute.length && got.toSet == brute.toSet, s"k=$k maxBroadcast=$mb")
      }
      val levels = (0 to Cells.MaxRes).filter(r => ((mask(Knn.knn(points, queries, k)) >>> r) & 1) == 1)
      if (k > sampled) assert(levels == Seq(0), s"an infinite bound plans level 0 alone: $levels")
      else assert(levels.min <= 2 && levels.max >= 8 && levels.length < levels.max - levels.min + 1,
        s"k=$k: expected coarse and fine levels with a gap: $levels")
    }
  }

  test("kNN sample: at most SampleRows rows, the smallest hashes, the same rows, one Spark job") {
    val n = 3 * Knn.SampleRows
    val points = spark.range(n).select(format_string("p%06d", col("id")).as("doc_id"),
      ((col("id") * 7919) % 3600000 * 1000 - 1800000000).cast("int").as("lng"),
      ((col("id") * 104729) % 1800000 * 1000 - 900000000).cast("int").as("lat"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def sampled(df: DataFrame): (Seq[(Int, Int)], Int) = {
      org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
      jobs.set(0)
      val s = Knn.sample(df).toSeq
      org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
      (s, jobs.get())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (a, jobsA) = sampled(points)
      val (b, jobsB) = sampled(points)
      assert(a.length == Knn.SampleRows && a == b)
      assert(jobsA == 1 && jobsB == 1, s"sample jobs: $jobsA, $jobsB")
      // they are the rows with the smallest xxhash64(doc_id, lng, lat)
      val expected = points.select(xxhash64(col("doc_id"), col("lng"), col("lat")), col("doc_id"),
          col("lng"), col("lat")).collect()
        .sortBy(r => (r.getLong(0), r.getString(1))).take(Knn.SampleRows)
        .map(r => (r.getInt(2), r.getInt(3))).toSeq
      assert(a.sorted == expected.sorted)
      // fewer rows than the cap: all of them
      val (few, _) = sampled(points.limit(100))
      assert(few.sorted == points.limit(100).collect().map(r => (r.getInt(1), r.getInt(2))).toSeq.sorted)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bbox filter equals brute-force predicate and respects closed intervals") {
    val q = Envelope(-1183000000, 335000000, -1170000000, 345000000)
    val got = rows(SpatialJoin.bboxFilter(geo, q), "doc_id")
    val brute = rows(geo.where(
      col("lng") >= q.minLng && col("lng") <= q.maxLng &&
        col("lat") >= q.minLat && col("lat") <= q.maxLat), "doc_id")
    assert(got == brute && got.nonEmpty)
  }

  test("exact-bucket layout equals the sampling exchange: same rows, disjoint desc ranges") {
    // r6 write() replaces repartitionByRange's sampling pass with exact
    // boundaries from the single stats+sample pass; this locks the layout
    // contract the swap must preserve
    val out = java.nio.file.Files.createTempDirectory("graft_exact").toString
    Ingest.write(geo, out, numPartitions = 4)
    val written = spark.read.parquet(s"$out/docs")
    // identical row set to the input (no row lost/duplicated by placement)
    assert(rows(written, "doc_id", "hilbert") ==
      rows(Ingest.withHilbert(geo, Ingest.extent(geo)), "doc_id", "hilbert"))
    // per-file [min,max] hilbert ranges are DISJOINT (range-partitioned
    // files, the pruning + pendingAfter contract)
    val ranges = written.withColumn("file", input_file_name())
      .groupBy("file").agg(min("hilbert").as("lo"), max("hilbert").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlapping file ranges: $ranges")
      case _ => ()
    }
    assert(ranges.length > 1, "exact-bucket path should cut multiple files here")
  }

  test("ingest layout: hilbert descending across and within partitions; lineage sums match") {
    val out = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val lineage = Ingest.write(geo, out, numPartitions = 4)
    val written = spark.read.parquet(s"$out/docs")
    assert(written.count() == geo.count())
    // descending hilbert order within each file
    val disorder = written
      .withColumn("file", input_file_name())
      .withColumn("prev", lag("hilbert", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("file").orderBy(monotonically_increasing_id())))
      .where(col("prev").isNotNull && col("prev") < col("hilbert"))
    assert(disorder.count() == 0)
    // lineage covers all rows exactly once
    assert(lineage.agg(sum("rows")).head().getLong(0) == geo.count())
    // resume: nothing pending after a full run
    val g = Ingest.withHilbert(geo, Ingest.extent(geo))
    assert(Ingest.pendingAfter(g, lineage).count() == 0)
  }

  test("2x2 e2e matrix: {zstd, none} x {1, many partitions} ingest + bbox read-back") {
    // the Spark analog of the reference's {compressed, uncompressed} x
    // {single-page, multi-page} reader matrix (reader.rs:411-498)
    val q = Envelope(-1183000000, 335000000, -1170000000, 345000000)
    val brute = rows(SpatialJoin.bboxFilter(geo, q), "doc_id")
    assert(brute.nonEmpty)
    for {
      codec <- Seq("zstd", "none")
      parts <- Seq(1, 8)
    } {
      val out = java.nio.file.Files.createTempDirectory(s"graft_m_${codec}_$parts").toString
      Ingest.write(geo, out, numPartitions = parts, codec = codec)
      val written = spark.read.parquet(s"$out/docs")
      val files = written.select(input_file_name()).distinct().count()
      if (parts == 1) assert(files == 1L, s"$codec/$parts") else assert(files > 1L, s"$codec/$parts")
      assert(written.count() == geo.count(), s"$codec/$parts")
      val got = rows(SpatialJoin.bboxFilter(written, q), "doc_id")
      assert(got == brute, s"$codec/$parts")
      // layout invariant holds in every configuration
      val disorder = written
        .withColumn("file", input_file_name())
        .withColumn("prev", lag("hilbert", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("file").orderBy(monotonically_increasing_id())))
        .where(col("prev").isNotNull && col("prev") < col("hilbert"))
      assert(disorder.count() == 0, s"$codec/$parts")
    }
  }

  test("manifest snapshots: every write appends a version; time travel reads history") {
    val out = java.nio.file.Files.createTempDirectory("graft_snap").toString
    Ingest.write(geo, out, numPartitions = 4)
    Ingest.write(geo.limit(100), out, numPartitions = 2)
    assert(Ingest.snapshots(spark, out) == Seq(1, 2))
    val v1 = Ingest.lineageAt(spark, out, 1).agg(sum("rows")).head().getLong(0)
    val v2 = Ingest.lineageAt(spark, out, 2).agg(sum("rows")).head().getLong(0)
    assert(v1 == geo.count() && v2 == 100L)
    // latest == newest snapshot, and Describe reads the latest
    assert(Ingest.lineage(spark, out).agg(sum("rows")).head().getLong(0) == 100L)
    assert(graft.table.Describe.summary(spark, out).head().getLong(0) == 100L)
  }

  test("layout sample: at most the cap, one Spark job and the exact extent, whatever the size estimate") {
    val s = spark
    import s.implicits._
    val parts = 4
    val cap = math.max(Knn.SampleRows, 128 * parts)
    val n = 3 * cap
    // boxes of varied width over the world, so centers differ from corners
    def box(i: Int): (Int, Int, Int, Int) = {
      val x = ((i * 7919L) % 3600000 * 1000 - 1800000000).toInt
      val y = ((i * 104729L) % 1800000 * 1000 - 900000000).toInt
      (x, y, x + (i % 1000) * 1000, y + (i % 7) * 1000)
    }
    // a compressed geomedea lake: its scan reports file bytes, which here
    // are fewer than 64 per row
    val lake = java.nio.file.Files.createTempDirectory("graft_cap_lake").toString
    (0 until n).map { i =>
      val (x0, y0, x1, y1) = box(i)
      (graft.geom.Wkb.rectWkb(x0, y0, x1, y1),
        Seq(graft.sources.GeoJsonIngest.toCell("id", graft.codec.FeatureCodec.PInt64(i.toLong))))
    }.toDF("wkb", "props").repartition(2).write.format("geomedea").mode("append").save(lake)
    val lakeDocs = spark.read.format("geomedea").load(lake)
      .select("wkb", "min_lng", "min_lat", "max_lng", "max_lat")
    assert(lakeDocs.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(64L * n))
    // an RDD-backed frame: no estimate at all (the default size)
    val rddDocs = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until n).map { i => val (x0, y0, x1, y1) = box(i); (f"d$i%06d", x0, y0, x1, y1) }, 3))
      .toDF("doc_id", "min_lng", "min_lat", "max_lng", "max_lat")
    assert(rddDocs.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((docs, key) <- Seq(lakeDocs -> col("wkb"), rddDocs -> col("doc_id"))) {
        org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
        jobs.set(0)
        val (ext, smp) = Ingest.extentAndSample(docs, parts, key)
        org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
        assert(smp.length == cap, s"sampled ${smp.length} rows, cap $cap")
        assert(jobs.get() == 1, s"extent + sample jobs: ${jobs.get()}")
        assert(ext == Ingest.extent(docs))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ingest of 0, 1 and 3 rows into 4 partitions: same rows, disjoint descending ranges, lineage sums") {
    for (k <- Seq(0, 1, 3)) {
      val in = geo.orderBy("doc_id").limit(k)
      val out = java.nio.file.Files.createTempDirectory(s"graft_small_$k").toString
      val lineage = Ingest.write(in, out, numPartitions = 4)
      val written = spark.read.parquet(s"$out/docs")
      assert(rows(written, "doc_id", "hilbert") ==
        rows(Ingest.withHilbert(in, Ingest.extent(in)), "doc_id", "hilbert"), s"$k rows")
      assert(lineage.agg(coalesce(sum("rows"), lit(0L))).head().getLong(0) == k, s"$k rows")
      // files in partition order: each holds a descending run of keys, and
      // every key of an earlier file is above every key of a later one
      val perFile = written.withColumn("file", input_file_name())
        .select("file", "hilbert").collect()
        .groupBy(_.getString(0)).toSeq.sortBy(_._1)
        .map(_._2.map(_.getLong(1)).toSeq)
      perFile.foreach(h => assert(h == h.sorted(Ordering[Long].reverse), s"$k rows: $perFile"))
      perFile.sliding(2).foreach {
        case Seq(a, b) => assert(a.min > b.max, s"$k rows: $perFile")
        case _ => ()
      }
    }
  }

  test("S6/S7 object-store scan planning: split batching is config-driven like the reference's range merging") {
    // The reference's HTTP reader merges nearby byte ranges (threshold
    // 16,000 bytes, packed_r_tree/reader.rs:159-161) and batches feature
    // fetches (2x page goal with 1.1x overfetch, http_reader.rs:162-176).
    // The Spark analogs are the file-source split-planning knobs:
    // openCostInBytes (= the "merge small nearby reads" constant) and
    // maxPartitionBytes (= the fetch batch size). This test pins the
    // mapping executably: small batch size -> one split per file; large
    // batch + open cost -> files coalesce into few splits.
    val out = java.nio.file.Files.createTempDirectory("graft_scan").toString
    Ingest.write(geo, out, numPartitions = 8)
    def partitionsWith(maxPartitionBytes: String, openCost: String): Int = {
      spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      spark.conf.set("spark.sql.files.openCostInBytes", openCost)
      try spark.read.parquet(s"$out/docs").rdd.getNumPartitions
      finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
    }
    // 16 KiB batches with zero open cost: no two of our ~10 KiB files
    // share a split, so >= one split per file; big batches + 4 MiB open
    // cost coalesce them into few splits
    val finegrained = partitionsWith("16384", "0")
    val coalesced = partitionsWith("134217728", "4194304")
    assert(finegrained >= 8, s"expected >= one split per file, got $finegrained")
    // the floor is default parallelism (4 here) — files merged 2-per-split
    assert(coalesced < finegrained && coalesced <= 4, s"coalesced=$coalesced fine=$finegrained")
  }

  test("SQL registration: gm_/st_ functions usable from spark.sql") {
    val r = spark.sql(
      """SELECT gm_cell(-1182562000, 341060000, 4) AS cell,
        |       st_contains(st_rect_wkb(-1190000000, 340000000, -1180000000, 342000000),
        |                   -1182562000, 341060000) AS hit,
        |       gm_hilbert(5000000, 5000000, 0, 0, 30000000, 30000000) AS h,
        |       gm_dz_decode(gm_dz_encode(array(1, 2, 3)))[1] AS two
        |""".stripMargin).head()
    assert(r.getAs[Boolean]("hit"))
    assert(r.getAs[Long]("h") == 143165576L)
    assert(r.getAs[Int]("two") == 2)
  }

  test("primitive-array Adapters return UnsafeArrayData equal to their kernels, empties included") {
    import graft.codec.DeltaZigZag
    import graft.curve.{Cells, Hilbert}
    import graft.expr.Adapters
    import graft.geom.Wkb
    import graft.index.PackedRTree
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.ArrayData
    def unsafe(a: ArrayData): ArrayData = {
      assert(a.isInstanceOf[UnsafeArrayData], a.getClass)
      a
    }
    def longs(a: ArrayData): Seq[Long] = unsafe(a).toLongArray().toSeq
    def ints(a: ArrayData): Seq[Int] = unsafe(a).toIntArray().toSeq
    val world = Envelope(-1800000000, -900000000, 1800000000, 900000000)
    val hot = Envelope(-1190000000, 340000000, -1170000000, 360000000)
    val inverted = Envelope(10, 10, -10, 10)
    val envs = Seq(world, hot, Envelope(0, 0, 0, 0), Envelope(Int.MinValue, Int.MinValue, Int.MaxValue,
      Int.MaxValue), inverted)
    for (e <- envs; res <- Seq(0, 4, 9)) {
      val s = s"$e res $res"
      assert(longs(Adapters.coverEnv(e.minLng, e.minLat, e.maxLng, e.maxLat, res)) ==
        Cells.cover(e, res).toSeq, s)
      assert(longs(Adapters.coverKeysEnv(e.minLng, e.minLat, e.maxLng, e.maxLat, res)) ==
        Cells.coverKeys(e, res).toSeq, s)
    }
    for (e <- envs; res <- Seq(1, 4)) assert(longs(Adapters.hilbertChunksEnv(e.minLng, e.minLat,
      e.maxLng, e.maxLat, res)) == Hilbert.chunksOfEnvelope(e, world, res).toSeq, s"$e res $res")
    assert(longs(Adapters.hilbertChunksEnv(hot.minLng, hot.minLat, hot.maxLng, hot.maxLat, 12)) ==
      Hilbert.chunksOfEnvelope(hot, world, 12).toSeq)
    assert(longs(Adapters.coverEnv(10, 10, -10, 10, 9)).isEmpty) // inverted: empty, still unsafe
    for (wkb <- Seq(Wkb.rectWkb(hot.minLng, hot.minLat, hot.maxLng, hot.maxLat), Wkb.pointWkb(5, -5));
         res <- Seq(0, 6, 9))
      assert(longs(Adapters.coverWkb(wkb, res)) == Cells.cover(Wkb.read(wkb).envelope, res).toSeq)
    for ((x, y) <- Seq((0, 0), (Int.MinValue, Int.MaxValue), (-1180000000, 350000000));
         m <- Seq(0, 1, Cells.levelMask(Seq(0, 8, 9)), Cells.AllLevels))
      assert(longs(Adapters.pointKeys(x, y, m)) == Cells.pointKeys(x, y, m).toSeq, s"($x, $y) mask $m")
    for (res <- Seq(0, 4, 9); k <- Seq(0, 1, 3)) {
      val cell = Cells.cellId(-1180000000, 350000000, res)
      assert(longs(Adapters.kring(cell, res, k)) == Cells.kRing(cell, res, k).toSeq)
    }
    val leaves = (0 until 40).map(i =>
      (Envelope(i * 1000, i * 500, i * 1000 + 1500, i * 500 + 700), i.toLong, 0))
    val tree = PackedRTree.build(leaves)
    for (q <- Seq(Envelope(3000, 1000, 9000, 4000), Envelope(0, 0, 100000, 100000), Envelope(-9, -9, -5, -5)))
      assert(longs(Adapters.rtreeHits(tree, leaves.length.toLong, q.minLng, q.minLat, q.maxLng, q.maxLat)) ==
        new PackedRTree(leaves.length.toLong, tree).hits(q.minLng, q.minLat, q.maxLng, q.maxLat).toSeq, q)
    for (v <- Seq(Array.emptyIntArray, Array(7), Array(Int.MinValue, 0, Int.MaxValue, -3, -3))) {
      val blob = DeltaZigZag.encode(v)
      assert(ints(Adapters.dzDecode(blob)) == DeltaZigZag.decode(blob).toSeq)
      assert(DeltaZigZag.decode(blob).toSeq == v.toSeq)
    }
    // the SQL surface returns the same arrays
    val r = spark.sql("""SELECT gm_cell_cover(10, 10, -10, 10, 9) AS inv,
      |  gm_dz_decode(gm_dz_encode(array())) AS dz, gm_kring(0, 4, 1) AS ring""".stripMargin).head()
    assert(r.getSeq[Long](0).isEmpty && r.getSeq[Int](1).isEmpty)
    assert(r.getSeq[Long](2).sorted == Cells.kRing(0L, 4, 1).toSeq.sorted)
  }

  test("GraftExtensions injects the SQL surface (spark.sql.extensions deployment path)") {
    val reg = spark.sessionState.functionRegistry
    val fn = org.apache.spark.sql.catalyst.FunctionIdentifier("gm_cell")
    reg.dropFunction(fn)
    assert(!reg.functionExists(fn))
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftSqlShim.applyCheckRules(ext, spark)
    assert(reg.functionExists(fn))
    assert(spark.sql("SELECT gm_cell(0, 0, 4)").head().getLong(0) >= 0)
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries key") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
