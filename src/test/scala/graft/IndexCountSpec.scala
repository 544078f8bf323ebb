package graft

import graft.codec.FeatureCodec.{Feature, PInt64}
import graft.geom.Wkb
import graft.sources.{FlatGeobuf, GeomedeaFile}
import graft.sources.v2.{ContainerFormat, ContainerScanBuilder, HeaderStatsScan, IndexCountScan}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{sources => f}
import org.scalatest.funsuite.AnyFunSuite

/** Exact envelope filters and the index-only window COUNT(*): on a
  * geomedea lake the sides `max_* >= v` / `min_* <= v` are the R-tree's
  * closed-interval intersection test, so they are claimed as fully pushed
  * and a window count is a count of index leaves. Every count here is
  * checked against the envelope columns of a full decode.
  */
class IndexCountSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def pk(x: Int, y: Int) = Wkb.pack(x, y)

  /** Around the window (0,0)-(100,100) in raw scaled ints: a point grid
    * on and beside every edge, all 7 geometry types (lines and polygons
    * whose envelope edge lies on a window edge from outside, one wide
    * line crossing it), empty geometries of every kind (envelope =
    * [[graft.geom.Envelope.empty]]), and points at the Int extremes.
    */
  private val geoms: Seq[Wkb.Geom] = {
    val edges = Seq(-1, 0, 1, 50, 99, 100, 101)
    val ring = Array(pk(-10, -10), pk(0, -10), pk(0, 0), pk(-10, 0), pk(-10, -10))
    val hole = Array(pk(40, 40), pk(60, 40), pk(60, 60), pk(40, 60), pk(40, 40))
    val big = Array(pk(-5, -5), pk(105, -5), pk(105, 105), pk(-5, 105), pk(-5, -5))
    val grid = for (x <- edges; y <- edges) yield Wkb.Pt(x, y): Wkb.Geom
    grid ++ Seq(
      Wkb.Line(Array(pk(-20, 50), pk(0, 50))),     // touches the left edge
      Wkb.Line(Array(pk(100, 50), pk(120, 50))),   // the right edge
      Wkb.Line(Array(pk(50, -20), pk(50, -1))),    // misses the bottom by one
      Wkb.Line(Array(pk(50, 100), pk(50, 130))),   // the top edge
      Wkb.Line(Array(pk(-50, 50), pk(150, 50))),   // crosses the window
      Wkb.Poly(Vector(big, hole)),
      Wkb.Poly(Vector(ring)),                      // touches the (0,0) corner
      Wkb.MultiPt(Array(pk(101, 101), pk(200, 200))),
      Wkb.MultiLine(Vector(Array(pk(-30, -30), pk(-1, 0)), Array.empty)),
      Wkb.MultiPoly(Vector(Vector(hole), Vector.empty)),
      Wkb.Collection(Vector(Wkb.Pt(100, 101), Wkb.Line(Array(pk(101, 0), pk(130, 1))))),
      Wkb.Line(Array.empty), Wkb.Poly(Vector.empty), Wkb.MultiPt(Array.empty),
      Wkb.MultiLine(Vector.empty), Wkb.MultiPoly(Vector.empty), Wkb.Collection(Vector.empty),
      Wkb.Pt(Int.MaxValue, Int.MaxValue), Wkb.Pt(Int.MinValue, Int.MinValue),
      Wkb.Pt(Int.MinValue, Int.MaxValue))
  }

  private def features(gs: Seq[Wkb.Geom], from: Long): Seq[Feature] =
    gs.zipWithIndex.map { case (g, i) => Feature(g, Vector("id" -> PInt64(from + i))) }

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
  private def put(dir: String, name: String, bytes: Array[Byte]): String = {
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"), bytes)
    s"$dir/$name"
  }

  /** Two directories: three shards (one empty, small pages so the index
    * has inner levels) and one more listed file.
    */
  private lazy val (lakeDir, otherFile) = {
    val (a, b) = geoms.splitAt(geoms.size / 2)
    val dir = tmp("idx_lake")
    put(dir, "a.geomedea", GeomedeaFile.write(features(a, 0), compressed = true, pageSizeGoal = 128))
    put(dir, "b.geomedea", GeomedeaFile.write(features(b, 1000), compressed = false, pageSizeGoal = 128))
    put(dir, "empty.geomedea", GeomedeaFile.write(Seq.empty, compressed = true))
    val other = put(tmp("idx_other"), "c.geomedea",
      GeomedeaFile.write(features(geoms.take(30), 2000), compressed = true, pageSizeGoal = 96))
    (dir, other)
  }

  private def lake: DataFrame = spark.read.format("geomedea").load(lakeDir, otherFile)

  /** One comparison on an envelope column, as a Column and as a row test. */
  private final case class Side(column: String, op: String, v: Int) {
    def col: Column = {
      val c = org.apache.spark.sql.functions.col(column)
      op match {
        case ">=" => c >= v
        case ">"  => c > v
        case "<=" => c <= v
        case "<"  => c < v
        case "="  => c === v
      }
    }
    def holds(env: Map[String, Int]): Boolean = {
      val x = env(column)
      op match {
        case ">=" => x >= v
        case ">"  => x > v
        case "<=" => x <= v
        case "<"  => x < v
        case "="  => x == v
      }
    }
  }

  private def where(df: DataFrame, sides: Seq[Side]): DataFrame =
    df.where(sides.map(_.col).reduce(_ && _))

  /** The envelope columns of every row, decoded with no filter pushed. */
  private lazy val decoded: Seq[Map[String, Int]] = {
    val cols = Seq("min_lng", "min_lat", "max_lng", "max_lat")
    lake.select(cols.map(col): _*).collect().toSeq
      .map(r => cols.zipWithIndex.map { case (c, i) => c -> r.getInt(i) }.toMap)
  }

  private def truth(sides: Seq[Side]): Long = decoded.count(r => sides.forall(_.holds(r))).toLong

  private def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
    case r: DataSourceV2ScanRelation => r.scan
  }

  private def window(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int): Seq[Side] =
    Seq(Side("max_lng", ">=", minLng), Side("max_lat", ">=", minLat),
      Side("min_lng", "<=", maxLng), Side("min_lat", "<=", maxLat))

  /** Windows made only of exact sides, rect not inverted. */
  private val exactWindows: Seq[Seq[Side]] = Seq(
    window(0, 0, 100, 100),
    window(100, 100, 100, 100),                     // one corner point
    window(-1, -1, -1, -1),
    window(101, 0, 101, 100),
    window(Int.MinValue, Int.MinValue, Int.MaxValue, Int.MaxValue),
    window(Int.MaxValue, Int.MaxValue, Int.MaxValue, Int.MaxValue),
    Seq(Side("max_lng", ">=", 50)),                 // one side only
    Seq(Side("min_lat", "<=", 0)),
    Seq(Side("max_lng", ">", -1), Side("max_lat", ">", 0),
      Side("min_lng", "<", 101), Side("min_lat", "<", 100)),
    Seq(Side("max_lng", ">", Int.MaxValue - 1)),    // v+1 = Int.MaxValue
    Seq(Side("min_lat", "<", Int.MinValue + 1)),
    Seq(Side("max_lng", ">=", 0), Side("max_lng", ">=", 50), Side("min_lng", "<=", 100)))

  /** Forms that must stay residual, each with a count to check. */
  private val residualWindows: Seq[Seq[Side]] = Seq(
    Seq(Side("min_lng", ">=", 0)),
    Seq(Side("max_lng", "<=", 100)),
    Seq(Side("max_lng", "=", 100)),
    Seq(Side("max_lng", ">", Int.MaxValue)),        // v+1 would overflow
    Seq(Side("min_lng", "<", Int.MinValue)),
    window(0, 0, 100, 100) :+ Side("min_lat", ">=", 1),
    window(100, 0, 0, 100),                         // inverted: wide features only
    window(0, 60, 100, 40))

  test("a window COUNT(*) of exact sides equals the decoded count, from the index alone") {
    assert(decoded.size == geoms.size + 30)
    for (sides <- exactWindows) {
      val df = where(lake, sides).groupBy().count()
      assert(scans(df).exists(_.isInstanceOf[IndexCountScan]), s"$sides\n${df.queryExecution.optimizedPlan}")
      assert(df.head().getLong(0) == truth(sides), sides)
      // the same filters on a decoded read (a residual non-envelope filter
      // blocks the aggregate push) count the same rows
      assert(where(lake, sides).where(col("feature_offset") >= 0).count() == truth(sides), sides)
    }
    // the edges are inclusive and the fixture reaches every one of them
    assert(truth(window(0, 0, 100, 100)) > truth(window(1, 1, 99, 99)))
    // the same for each single file of the load, and for Dataset.count()
    for (path <- Seq(s"$lakeDir/a.geomedea", s"$lakeDir/empty.geomedea", otherFile)) {
      val one = spark.read.format("geomedea").load(path)
      val w = window(0, 0, 100, 100)
      val expect = one.select("min_lng", "min_lat", "max_lng", "max_lat").collect().count(r =>
        r.getInt(2) >= 0 && r.getInt(3) >= 0 && r.getInt(0) <= 100 && r.getInt(1) <= 100)
      assert(where(one, w).count() == expect, path)
    }
  }

  test("a window count plans a LocalTableScanExec: no BatchScanExec, no page, one task") {
    // the aggregate's output Project over the LocalTableScanExec still
    // runs as one single-task job that reads no input
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        tasks.incrementAndGet()
    }
    val windowCount = where(lake, window(0, 0, 100, 100)).groupBy().count()
    val headerCount = lake.groupBy().count()
    for (df <- Seq(windowCount, headerCount)) {
      org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      jobs.set(0); tasks.set(0)
      try df.collect()
      finally {
        org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case l: LocalTableScanExec => l }.nonEmpty, plan)
      val batchScans = plan.collect { case b: BatchScanExec => b }
      assert(batchScans.isEmpty, plan)
      assert(batchScans.map(_.metrics.get("pagesDecoded").fold(0L)(_.value)).sum == 0L)
      assert(jobs.get() <= 1 && tasks.get() <= 1, s"${jobs.get()} jobs, ${tasks.get()} tasks for\n$plan")
    }
    assert(scans(headerCount).exists(_.isInstanceOf[HeaderStatsScan]))
    assert(headerCount.head().getLong(0) == decoded.size)
  }

  test("exact sides leave no Filter; every other form, the bbox option and FGB stay residual") {
    def filters(df: DataFrame) = df.queryExecution.optimizedPlan.collect { case x: Filter => x }
    // plain row reads of exact sides lose the per-row Filter node
    for (sides <- exactWindows) {
      val rows = where(lake, sides)
      assert(filters(rows).isEmpty, s"$sides\n${rows.queryExecution.optimizedPlan}")
      assert(rows.collect().length == truth(sides), sides)
    }
    for (sides <- residualWindows) {
      val rows = where(lake, sides)
      assert(filters(rows).nonEmpty, s"$sides\n${rows.queryExecution.optimizedPlan}")
      val counted = rows.groupBy().count()
      assert(!scans(counted).exists(_.isInstanceOf[IndexCountScan]), sides)
      assert(counted.head().getLong(0) == truth(sides), sides)
    }
    // the bbox read option: nothing is claimed (it restricts like a filter)
    val opt = where(spark.read.format("geomedea").option("bbox", "0,0,100,100")
      .load(lakeDir, otherFile), window(0, 0, 100, 100))
    assert(filters(opt).nonEmpty, opt.queryExecution.optimizedPlan)
    assert(!scans(opt.groupBy().count()).exists(_.isInstanceOf[IndexCountScan]))
    assert(opt.count() == truth(window(0, 0, 100, 100)))
    // FlatGeobuf: index nodes hold degree doubles, so no filter is claimed
    val fgbDir = tmp("idx_fgb")
    put(fgbDir, "a.fgb", FlatGeobuf.write(features(geoms.filterNot(_.envelope.isEmpty), 0)))
    val fgb = spark.read.format("flatgeobuf").load(fgbDir)
    val fgbEnv = fgb.select("min_lng", "min_lat", "max_lng", "max_lat").collect()
    for (sides <- exactWindows :+ window(0, 0, 100, 100)) {
      val rows = where(fgb, sides)
      assert(filters(rows).nonEmpty, s"$sides\n${rows.queryExecution.optimizedPlan}")
      val counted = rows.groupBy().count()
      assert(!scans(counted).exists(_.isInstanceOf[IndexCountScan]), sides)
      val expect = fgbEnv.count(r => sides.forall(_.holds(Map("min_lng" -> r.getInt(0),
        "min_lat" -> r.getInt(1), "max_lng" -> r.getInt(2), "max_lat" -> r.getInt(3)))))
      assert(counted.head().getLong(0) == expect, sides)
    }
  }

  test("the builder claims exactly the Integer-literal sides") {
    def residual(format: ContainerFormat, fs: f.Filter*): Seq[f.Filter] =
      new ContainerScanBuilder(format, Seq(lakeDir)).pushFilters(fs.toArray).toSeq
    val exact = Seq[f.Filter](f.GreaterThanOrEqual("max_lng", 1), f.GreaterThanOrEqual("max_lat", 1),
      f.LessThanOrEqual("min_lng", 9), f.LessThanOrEqual("min_lat", 9),
      f.GreaterThan("max_lng", Int.MaxValue - 1), f.LessThan("min_lat", Int.MinValue + 1),
      f.And(f.GreaterThan("max_lat", 0), f.LessThan("min_lng", 10)))
    exact.foreach(x => assert(residual(ContainerFormat.Geomedea, x).isEmpty, x))
    val loose = Seq[f.Filter](f.GreaterThanOrEqual("min_lng", 1), f.LessThanOrEqual("max_lat", 9),
      f.EqualTo("max_lng", 5), f.GreaterThanOrEqual("max_lng", 1L), f.LessThanOrEqual("min_lat", 9.0),
      f.GreaterThan("max_lng", Int.MaxValue), f.LessThan("min_lng", Int.MinValue),
      f.And(f.GreaterThanOrEqual("max_lng", 1), f.GreaterThanOrEqual("min_lat", 1)),
      f.GreaterThanOrEqual("feature_offset", 0))
    loose.foreach(x => assert(residual(ContainerFormat.Geomedea, x) == Seq(x), x))
    // an inverted rect claims nothing, not even its exact sides
    val inverted = Seq[f.Filter](f.GreaterThanOrEqual("max_lng", 10), f.LessThanOrEqual("min_lng", 5))
    assert(residual(ContainerFormat.Geomedea, inverted: _*) == inverted)
    // and FlatGeobuf claims nothing at all
    assert(residual(ContainerFormat.FlatGeobuf, exact: _*) == exact)
  }
}
