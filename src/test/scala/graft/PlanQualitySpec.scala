package graft

import graft.codec.FeatureCodec.{Feature, PInt64}
import graft.geom.{Envelope, ScaledCoord, Wkb}
import graft.jobs.{AsOf, Ingest, IntervalJoin, SpatialJoin, Similarity}
import graft.table.{InterleavedDocs, ScanMetrics}
import graft.sources.GeomedeaFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the physical plans the engine was
  * designed to produce, asserted so a refactor can't silently degrade
  * them — plus F10 scan-metrics evidence turning the pruning claims into
  * numbers (the analog of the reference's request/byte measurements).
  */
class PlanQualitySpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.maxMetadataStringLength", "10000") // full PushedFilters in plans
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  lazy val geo: DataFrame = InterleavedDocs.withGeometry(InterleavedDocs.docs(spark, Sf)).cache()
  lazy val rects: DataFrame = InterleavedDocs.nationRects(spark, Sf)

  private def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  test("cellJoin plans a broadcast hash equi-join with inlined PIP refinement — never a cross product") {
    val p = plan(SpatialJoin.cellJoin(geo, rects))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("static_invoke") || p.contains("staticinvoke"), p) // codegen'd containsWkb
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cell joins run PIP last in the join condition, after the four envelope comparisons") {
    import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, Expression}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def isPip(e: Expression) = e match {
      case s: StaticInvoke => s.functionName == "containsWkb"
      case _               => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other     => Seq(other)
    }
    val envelope = Set("p_min_lng", "p_max_lng", "p_min_lat", "p_max_lat")
    for (df <- Seq(SpatialJoin.cellJoin(geo, rects), SpatialJoin.saltedCellJoin(geo, rects))) {
      val sp = df.queryExecution.sparkPlan
      val preds = sp.flatMap {
        case j: BaseJoinExec => j.condition.toSeq
        case f: FilterExec   => Seq(f.condition)
        case _               => Nil
      }.filter(_.exists(isPip))
      assert(preds.length == 1, sp)
      val cs = conjuncts(preds.head)
      // evaluation is left to right and short-circuits: only envelope
      // hits may reach the containsWkb call
      assert(isPip(cs.last) && !cs.init.exists(_.exists(isPip)), preds.head)
      val compared = cs.init.collect {
        case c: BinaryComparison => c.references.map(_.name).filter(envelope)
      }.flatten
      assert(compared.toSet == envelope && compared.length == 4, preds.head)
    }
  }

  test("OpaquePure fences only the span parse, once, in the parse projection and the cell join") {
    import graft.expr.OpaquePure
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    // the fence blocks optimizer rewrites, so it belongs on the one
    // expensive expression it was measured on (gmSpanFeature), nowhere else
    val parsed = InterleavedDocs.withGeometry(InterleavedDocs.docs(spark, Sf))
    for (df <- Seq(parsed, SpatialJoin.cellJoin(parsed, rects))) {
      // optimizer run on the analyzed plan directly: `geo` caches this
      // same parse, and the cache substitution would hide it
      val fences = spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
        .flatMap(_.expressions.flatMap(_.collect { case o: OpaquePure => o }))
      assert(fences.length == 1, fences)
      assert(fences.forall {
        case OpaquePure(s: StaticInvoke) => s.functionName == "spanFeature"
        case _                           => false
      }, fences)
    }
  }

  test("hilbertRangeJoin leaves the join strategy to Catalyst: broadcast when tiny, SHUFFLE when large") {
    // at test scale Catalyst auto-broadcasts the tiny build side — fine;
    // the strategy must NOT force a broadcast, so with auto-broadcast off
    // (simulating a build side over the threshold) it must plan a
    // shuffle equi-join, never a cross product
    val default = plan(SpatialJoin.hilbertRangeJoin(geo, rects))
    assert(!default.contains("CartesianProduct") && !default.contains("BroadcastNestedLoopJoin"), default)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(SpatialJoin.hilbertRangeJoin(geo, rects))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
      // contrast: cellJoin FORCES broadcast via hint even with the
      // threshold off (its contract is a broadcastable build side)
      val cell = plan(SpatialJoin.cellJoin(geo, rects))
      assert(cell.contains("BroadcastHashJoin"), cell)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("distanceJoin plans a cell equi-join — broadcast by default, shuffle on request, never a cross product") {
    val queries = InterleavedDocs.nationQueryPoints(spark, Sf)
    val b = plan(SpatialJoin.distanceJoin(geo, queries, 150000000L))
    assert(b.contains("BroadcastHashJoin"), b)
    assert(!b.contains("CartesianProduct") && !b.contains("BroadcastNestedLoopJoin"), b)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = plan(SpatialJoin.distanceJoin(geo, queries, 150000000L, maxBroadcast = 0))
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"), s)
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("kNN plans a bound-filtered broadcast key join and a partial WindowGroupLimit below the exchange — no aggregate") {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression, LessThanOrEqual}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other     => Seq(other)
    }
    val queries = InterleavedDocs.nationQueryPoints(spark, Sf)
    val p = graft.jobs.Knn.knn(geo, queries, 3).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other                    => other
    }
    val joins = p.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.length == 1, p)
    assert(joins.head.condition.toSeq.flatMap(conjuncts).exists {
      case LessThanOrEqual(_, a: AttributeReference) => a.name == "bound"
      case _                                         => false
    }, s"the dist2 <= bound filter must sit in the join condition:\n$p")
    val partialBelowExchange = p.collect { case x: ShuffleExchangeExec => x }.exists(
      _.child.exists { case w: WindowGroupLimitExec => w.mode == Partial; case _ => false })
    assert(partialBelowExchange, s"expected a partial WindowGroupLimit below the exchange:\n$p")
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty, s"kNN must not aggregate:\n$p")
  }

  test("the keyed probe's point-key explode runs in whole-stage codegen with no lambda, kNN and distanceJoin, both branches") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, LambdaFunction}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case other                    => other.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)
    // every GenerateExec, with whether a codegen stage compiles it (an
    // InputAdapter's child is evaluated outside the stage)
    def generates(p: SparkPlan, inStage: Boolean): Seq[(GenerateExec, Boolean)] = p match {
      case w: WholeStageCodegenExec => generates(w.child, inStage = true)
      case i: InputAdapter          => generates(i.child, inStage = false)
      case g: GenerateExec          => (g, inStage) +: children(g).flatMap(generates(_, inStage))
      case other                    => children(other).flatMap(generates(_, inStage))
    }
    val queries = InterleavedDocs.nationQueryPoints(spark, Sf)
    val cases = Seq(
      "kNN broadcast" -> graft.jobs.Knn.knn(geo, queries, 3),
      "kNN distributed" -> graft.jobs.Knn.knn(geo, queries, 3, maxBroadcast = 0),
      "distanceJoin broadcast" -> SpatialJoin.distanceJoin(geo, queries, 150000000L),
      "distanceJoin distributed" -> SpatialJoin.distanceJoin(geo, queries, 150000000L, maxBroadcast = 0))
    for ((name, df) <- cases) {
      df.collect() // the final adaptive plan holds the codegen stages
      val p = df.queryExecution.executedPlan
      val probe = generates(p, inStage = false).filter(_._1.generator.exists {
        case s: StaticInvoke => s.functionName == "pointKeys"
        case _               => false
      })
      assert(probe.nonEmpty && probe.forall(_._2),
        s"$name: the point-key explode must sit inside a WholeStageCodegenExec:\n$p")
      val lambdas = nodes(p).flatMap(_.expressions).flatMap(_.collect {
        case e: ArrayFilter    => e
        case e: LambdaFunction => e
      })
      assert(lambdas.isEmpty, s"$name: interpreted lambdas in the executed plan: $lambdas\n$p")
    }
  }

  test("as-of join plans as union + ONE key shuffle + window — no join node at all") {
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val p = ev.where(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
    val df = AsOf.join(p, c, "user_id", "ts", "ts", Seq("click_id", "value"))
    val s = plan(df)
    assert(!s.contains("Join") && !s.contains("CartesianProduct"), s)
    assert(s.contains("Window"), s)
    // exchanges materialize in the executed plan: exactly one, on the key
    val e = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(__k".r.findAllIn(e).length == 1 &&
      !e.contains("Exchange rangepartitioning"),
      s"expected exactly one key shuffle:\n$e")
  }

  test("interval join plans a bucket equi-join (broadcast small, shuffle large) — never a cross product; split plans zero shuffles") {
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
    val k = col("n_nationkey").cast("long")
    val start = lit(1704067200000000L) + k * 86400000000L
    val win = spark.read.parquet(s"$Sf/nation.parquet")
      .select(k.as("window_id"), start.as("w_start"), (start + 3L * 86400000000L).as("w_end"))
    val b = plan(IntervalJoin.pointInInterval(ev, "t", win, "w_start", "w_end", 86400000000L))
    assert(b.contains("BroadcastHashJoin"), b) // Catalyst auto-broadcasts the tiny side
    assert(!b.contains("CartesianProduct") && !b.contains("BroadcastNestedLoopJoin"), b)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = plan(IntervalJoin.pointInInterval(ev, "t", win, "w_start", "w_end", 86400000000L))
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"), s)
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    val sp = graft.jobs.Split.assign(
      spark.read.parquet(s"$Sf/documents.parquet").select("doc_id"), "doc_id", "graft")
    assert(!sp.queryExecution.executedPlan.toString.contains("Exchange"),
      "split must be a pure projection")
  }

  test("exact group quantiles plan ONE shuffle: window partitioning is reused by the final agg") {
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val df = graft.jobs.Quantiles.exact(ev, Seq("event_type"), "value", Seq(50, 90, 99))
    val e = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(e).length == 1, e)
  }

  test("polyPolyJoin plans a cell equi-join with exactly-once corner filter — never a cross product") {
    val regions = InterleavedDocs.regionRects(spark, Sf)
    val p = plan(SpatialJoin.polyPolyJoin(rects, regions))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = plan(SpatialJoin.polyPolyJoin(rects, regions, broadcastB = false))
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"), s)
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("tile pyramid scans the raw table ONCE and re-aggregates only the base grid") {
    val pyr = graft.jobs.Tiles.pyramid(geo, maxZoom = 6)
    val lp = pyr.queryExecution.optimizedPlan
    // tree-shape assertions (string rendering would also match the inner
    // children a reused InMemoryRelation prints): exactly ONE leaf
    // relation, and the pre-order node sequence rollup-Aggregate >
    // zoom-Generate (explode) > base-Aggregate — i.e. the explode
    // applies to the aggregated grid, never to the raw rows, and the
    // table is never rescanned per zoom
    assert(lp.collectLeaves().size == 1,
      s"pyramid must not rescan the table per zoom:\n$lp")
    val nodes = lp.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => "agg"
      case _: org.apache.spark.sql.catalyst.plans.logical.Generate  => "explode"
    }
    assert(nodes == Seq("agg", "explode", "agg"),
      s"zoom explode must sit between the rollup and base aggregates; got $nodes:\n$lp")
  }

  test("cosinePairs grid blocking plans an equi-join on cells — never a cross product") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet").select("vec_id", "embedding")
    val p = plan(Similarity.cosinePairs(e, 4000, 64, bruteForce = false))
    assert(p.contains("Join") && p.contains("gcell"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bbox over the written layout pushes all four bounds into the parquet scan and prunes bytes (F10)") {
    val out = java.nio.file.Files.createTempDirectory("graft_pq").toString
    Ingest.write(geo, out, numPartitions = 4)
    val written = spark.read.parquet(s"$out/docs")
    val q = Envelope(-1183000000, 335000000, -1170000000, 345000000)
    val bboxed = SpatialJoin.bboxFilter(written, q)
      .select("doc_id", "lng", "lat") // narrow projection: spans never read
    val p = bboxed.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:"), p)
    for (f <- Seq("GreaterThanOrEqual(max_lng,-1183000000)", "GreaterThanOrEqual(max_lat,335000000)",
      "LessThanOrEqual(min_lng,-1170000000)", "LessThanOrEqual(min_lat,345000000)"))
      assert(p.contains(f), s"missing pushed filter $f in:\n$p")
    assert(!p.contains("spans") || !p.substring(p.indexOf("ReadSchema")).contains("spans"),
      "spans column must not be read")

    // F10 numbers — the reference's flagship claim, measured: the SAME
    // bbox query over the Hilbert-clustered layout skips row groups via
    // parquet min/max stats (recordsRead counts rows the reader actually
    // decoded, after row-group skip), while a hash-random layout of the
    // same rows cannot skip (every row group straddles the query rect).
    // This is the distributed analog of "153 requests / 81 MB (indexed)
    // vs 310 / 340 MB (not)" from the reference README. (bytesRead from
    // FS statistics is unreliable at KB file sizes — footer/dictionary
    // re-reads dominate — so rows are the assertion.)
    // F10 at a statistics-meaningful size: 50k synthesized points (same
    // skew formulas), Hilbert-clustered vs hash-random layout, COLD query
    // rect (away from the hot cluster). Under the clustered layout the
    // cold rows live in few Hilbert ranges so most row groups' min/max
    // stats exclude the rect (recordsRead counts rows the reader actually
    // decoded after row-group skip); the random layout can't skip.
    val id = col("id")
    val lngC = InterleavedDocs.lngOf(id).cast("int")
    val latC = InterleavedDocs.latOf(id).cast("int")
    val big = spark.range(50000).select(
      format_string("doc-%09d", id).as("doc_id"),
      lngC.as("lng"), latC.as("lat"),
      lngC.as("min_lng"), latC.as("min_lat"), lngC.as("max_lng"), latC.as("max_lat"))
    val outC = java.nio.file.Files.createTempDirectory("graft_pq_clu").toString
    Ingest.write(big, outC, numPartitions = 8)
    val outR = java.nio.file.Files.createTempDirectory("graft_pq_rand").toString
    big.repartition(8, col("doc_id")).write.parquet(s"$outR/docs")
    val clusteredT = spark.read.parquet(s"$outC/docs")
    val randomT = spark.read.parquet(s"$outR/docs")
    val cold = Envelope(0, 0, 300000000, 300000000)
    val clustered = ScanMetrics.measure(
      SpatialJoin.bboxFilter(clusteredT, cold).select("doc_id", "lng", "lat"))
    val random = ScanMetrics.measure(
      SpatialJoin.bboxFilter(randomT, cold).select("doc_id", "lng", "lat"))
    info(s"clustered layout: $clustered; random layout: $random")
    assert(clustered.recordsRead < random.recordsRead,
      s"clustered $clustered should decode fewer rows than random $random")
    // both layouts return the same (non-empty) answer
    val n = SpatialJoin.bboxFilter(clusteredT, cold).count()
    assert(n > 0 && n == SpatialJoin.bboxFilter(randomT, cold).count())
  }

  test("Ingest.write and a compaction rewrite each run ONE repartitionById exchange and no RDD node") {
    import graft.jobs.Compact
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val s = spark
    import s.implicits._
    val aqe = new AdaptiveSparkPlanHelper {}
    def check(what: String, plans: Seq[QueryExecution]): Unit = {
      // counted in the executed (final adaptive) plans, query stages included
      val passThrough = plans.map(qe => aqe.collect(qe.executedPlan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough] => e
      }.size).sum
      assert(passThrough == 1, s"$what: $passThrough ShufflePartitionIdPassThrough exchanges in\n" +
        plans.map(_.executedPlan).mkString("\n"))
      plans.foreach { qe =>
        val rdds = qe.analyzed.collectWithSubqueries {
          case r: LogicalRDD     => r
          case r: ExternalRDD[_] => r
        }
        assert(rdds.isEmpty, s"$what: RDD node in\n${qe.analyzed}")
      }
    }
    val out = java.nio.file.Files.createTempDirectory("graft_pq_layout").toString
    check("Ingest.write", PlansDuring(spark)(Ingest.write(geo, out, numPartitions = 4)))

    val lake = java.nio.file.Files.createTempDirectory("graft_pq_compact").toString
    val feats = geo.select("wkb", "doc_id").as[(Array[Byte], String)].collect().toSeq
      .map { case (wkb, id) => (wkb, Seq(graft.sources.GeoJsonIngest.toCell("doc",
        graft.codec.FeatureCodec.PString(id)))) }
    feats.grouped(feats.size / 2 + 1).foreach(part =>
      part.toDF("wkb", "props").repartition(1).write.format("geomedea").mode("append").save(lake))
    check("Compact.compact", PlansDuring(spark)(Compact.compact(spark, lake, numShards = 2)))
  }

  test("the kNN and layout samples order by a projected hash column, not an xxhash64 sort expression") {
    import graft.jobs.Knn
    import org.apache.spark.sql.catalyst.expressions.{Attribute, XxHash64}
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val aqe = new AdaptiveSparkPlanHelper {}
    def check(what: String, plans: Seq[QueryExecution]): Unit = {
      val topK = plans.flatMap(qe => aqe.collect(qe.executedPlan) { case t: TakeOrderedAndProjectExec => t })
      assert(topK.size == 1, s"$what: ${topK.size} top-k sorts in\n" +
        plans.map(_.executedPlan).mkString("\n"))
      val order = topK.head.sortOrder
      // every key a column the child already computed: the comparator
      // evaluates no hash, so each row is hashed once, by the projection
      assert(order.forall(_.child.isInstanceOf[Attribute]) &&
        !order.exists(_.exists(_.isInstanceOf[XxHash64])), s"$what: sort order $order")
    }
    val points = spark.range(5000).select(format_string("p%06d", col("id")).as("doc_id"),
      (col("id") * 7919 % 3600000).cast("int").as("lng"),
      (col("id") * 104729 % 1800000).cast("int").as("lat"))
    check("Knn.sample", PlansDuring(spark)(Knn.sample(points)))
    check("Ingest layout sample", PlansDuring(spark)(Ingest.extentAndSample(geo, 4, col("wkb"))))
  }

  test("salting divides the hot cell's largest shuffle key ~saltFactor x (deterministic A/B)") {
    // Wall-clock A/B is noise-fragile in this sandbox (measured 5-50x
    // exogenous stalls), so the salting benefit is recorded as the thing
    // salting actually changes: the size of the largest shuffle-key
    // group, which bounds the slowest task of the probe-side shuffle.
    val saltFactor = SpatialJoin.SaltFactor
    val total = geo.count()
    // the join's own salted keys, over the keys the build side holds: the
    // probe rows that reach the join
    val (pts, build) = SpatialJoin.saltedKeys(geo, rects)
    val keyed = pts.join(build.select("cell").distinct(), "cell")
    val unsalted = keyed.groupBy("cell").count()
      .agg(max("count")).head().getLong(0)
    val salted = keyed.groupBy("cell", "salt").count()
      .agg(max("count")).head().getLong(0)
    info(s"max key group: unsalted=$unsalted salted=$salted total=$total")
    // skew by construction: the 2x2-degree hot cluster (90% of docs)
    // sits in one nation rect, and the larger part of it that shares one
    // of that rect's keys — still >half the corpus — is the hot key
    assert(unsalted * 2 >= total, s"hot key $unsalted of $total")
    // ...and the deterministic hash salt spreads it to within 30% of the
    // ideal factor-of-8 split
    assert(salted <= (unsalted * 13) / (saltFactor * 10),
      s"salted max $salted vs unsalted $unsalted / $saltFactor")
  }

  test("file container bbox read fetches a strict subset of pages + bytes (S7 coalesced-request analog)") {
    val feats = (0 until 500).map { i =>
      Feature(Wkb.Pt(ScaledCoord.toScaled(-170 + i * 0.68), ScaledCoord.toScaled(-80 + (i * 31 % 160))),
        Vector("i" -> PInt64(i.toLong)))
    }
    val bytes = GeomedeaFile.write(feats, compressed = true, pageSizeGoal = 1024)
    val read = GeomedeaFile.selectBboxCounted(bytes, Envelope.fromDegrees(-60, -40, -20, 0))
    info(s"pages ${read.pagesFetched}/${read.totalPages}, bytes ${read.bytesFetched}/${read.totalBytes}")
    assert(read.features.nonEmpty)
    assert(read.totalPages > 4)
    assert(read.pagesFetched < read.totalPages)
    assert(read.bytesFetched < read.totalBytes)
    // Hilbert clustering makes spatial locality = page locality: the hit
    // pages hold a bounded superset of the hits
    assert(read.features.size.toLong * 4 >= read.pagesFetched)
  }
}
