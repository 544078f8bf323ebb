package graft

import graft.geom.Envelope
import graft.jobs.SpatialJoin
import graft.table.{Describe, InterleavedDocs, PolyFixtures}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PolyFixturesSpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("USCounties stand-in: 3221 polygons; frozen golden for the reference query rect") {
    val counties = PolyFixtures.usCountiesStandIn(spark).cache()
    assert(counties.count() == 3221) // cardinality golden, http_reader.rs:786-803
    // the reference's query rectangle (-86,10)-(-85,40), closed-interval
    val q = Envelope.fromDegrees(-86, 10, -85, 40)
    val hits = counties.where(
      col("p_max_lng") >= q.minLng && col("p_max_lat") >= q.minLat &&
        col("p_min_lng") <= q.maxLng && col("p_min_lat") <= q.maxLat).count()
    // FROZEN GOLDEN (our stand-in's analog of the reference's 140):
    // derived from the deterministic grid — query lng hits columns 37-38
    // (c*CellW in [379649123+eps, 400000000] => c in {37,38}), query lat
    // hits rows 0-35 (r*CellH <= 160000000 => r <= 35): 2 x 36 = 72.
    assert(hits == 72L, s"golden drift: got $hits")
  }

  test("spatial join against the 3221-county build side matches brute force") {
    val geo = InterleavedDocs.withGeometry(InterleavedDocs.docs(spark, Sf))
    val counties = PolyFixtures.usCountiesStandIn(spark)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("poly_id", "doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val brute = key(SpatialJoin.bruteForce(geo, counties))
    // the default cap keys each county at its own level (8 or 9), so the
    // hot cluster no longer shares one coarse cell with ~500 counties
    assert(key(SpatialJoin.cellJoin(geo, counties)) == brute)
    assert(key(SpatialJoin.saltedCellJoin(geo, counties)) == brute)
    assert(key(SpatialJoin.hilbertRangeJoin(geo, counties)) == brute)
    assert(key(SpatialJoin.rtreeJoin(geo, counties)) == brute)
    assert(brute.nonEmpty) // hot cluster sits inside the US extent
  }

  test("cellJoin work bound: key matches stay within 10x the result pairs; <= 4 build rows per polygon") {
    import graft.curve.Cells
    val geo = InterleavedDocs.withGeometry(InterleavedDocs.docs(spark, Sf))
    val counties = PolyFixtures.usCountiesStandIn(spark)
    def envelopes(df: org.apache.spark.sql.DataFrame): Seq[Envelope] =
      df.select("p_min_lng", "p_min_lat", "p_max_lng", "p_max_lat").collect()
        .map(r => Envelope(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    val world = Envelope(Cells.WorldMinLng.toInt, Cells.WorldMinLat.toInt,
      (Cells.WorldMinLng + Cells.WorldLngSpan).toInt, (Cells.WorldMinLat + Cells.WorldLatSpan).toInt)
    val countyEnvs = envelopes(counties)
    for (e <- countyEnvs ++ envelopes(InterleavedDocs.nationRects(spark, Sf)) :+ world)
      assert(Cells.coverKeys(e, Cells.MaxRes).length <= 4, e)
    // build rows per key, then every doc's keys probe them: the rows the
    // join condition sees before refinement
    val perKey = countyEnvs.flatMap(e => Cells.coverKeys(e, Cells.MaxRes))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val pts = geo.select("lng", "lat").collect().map(r => (r.getInt(0), r.getInt(1)))
    val matches = pts.iterator.map { case (x, y) =>
      Cells.pointKeys(x, y, Cells.AllLevels).iterator.map(perKey.getOrElse(_, 0L)).sum
    }.sum
    val results = SpatialJoin.bruteForce(geo, counties).count()
    // saltedCellJoin's candidates: its own salted keys, joined before
    // refinement — each probe row meets one salt copy of each key
    val (saltedPts, saltedPolys) = SpatialJoin.saltedKeys(geo, counties)
    val salted = saltedPts.join(saltedPolys, Seq("cell", "salt")).count()
    info(s"${pts.length} docs: $matches key matches ($salted salted) for $results result pairs")
    assert(results > 0 && matches <= 10 * results, s"$matches matches for $results results")
    assert(salted == matches, s"saltedCellJoin: $salted candidates vs cellJoin's $matches")
  }

  test("Describe.layout/summary and the Info CLI reflect the written table") {
    val geo = InterleavedDocs.withGeometry(InterleavedDocs.docs(spark, Sf))
    val out = java.nio.file.Files.createTempDirectory("graft_desc").toString
    graft.jobs.Ingest.write(geo, out, numPartitions = 4)
    val summary = Describe.summary(spark, out).head()
    assert(summary.getLong(0) == geo.count())
    val layout = Describe.layout(spark, out).collect()
    assert(layout.nonEmpty && layout.forall(_.getAs[Long]("hilbert_span") >= 0))
    // S11 info CLI rendering
    val info = graft.table.Info.render(spark, out)
    assert(info.contains(s"doc_count: ${geo.count()}"))
    assert(info.contains("snapshots: 1"))
    assert(info.contains("layout (hilbert-desc):"))
  }
}
