package perfbench

import graft.codec.FeatureCodec.PString
import graft.expr.GraftFunctions._
import graft.geom.Envelope
import graft.jobs.{Compact, Ingest, Knn, SpatialJoin}
import graft.sources.GeoJsonIngest
import graft.table.{InterleavedDocs, PolyFixtures}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What a workload reports: end-to-end metrics (untraced run) and
  * per-layer metrics (traced run).
  */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double])

trait Workload {
  def name: String
  def run(ctx: Ctx): Result
}

object Workload {
  val all: Seq[Workload] = Seq(CountyJoin, LakeBbox, IngestCompact)

  /** Set-ups per run; their median is `setup_s`. */
  val SetupReps = 3
  /** Noop-sink writes per `noopSeconds` reading. */
  val NoopReps = 3

  /** Run `setup` `SetupReps` times, each into a fresh directory, dropping
    * the state of the earlier runs. Returns the median seconds and the last
    * run's directory and state.
    */
  def repeatedSetup[S](ctx: Ctx)(setup: String => S)(drop: (String, S) => Unit): (Double, String, S) = {
    var last: Option[(String, S)] = None
    val secs = (0 until SetupReps).map { i =>
      last.foreach { case (d, s) => drop(d, s); Harness.rmTree(d) }
      val d = ctx.dir(s"setup-$i")
      val (t, s) = Harness.time(ctx.tracer.span("setup")(setup(d)))
      last = Some(d -> s)
      t
    }
    ctx.log(s"set-up x$SetupReps: ${secs.map(t => f"$t%.2f").mkString(" ")} s")
    (Stats.median(secs), last.get._1, last.get._2)
  }

  /** Median seconds of writing `df` to the noop sink, `NoopReps` times. */
  def noopSeconds(df: DataFrame): Double =
    Stats.median((0 until NoopReps).map(_ => Harness.time(df.write.format("noop").mode("overwrite").save())._1))

  def checksum(rows: Array[Row]): (Long, Long) = (rows.head.getLong(0), rows.head.getLong(1))

  /** Row count and xor of xxhash64 over one string column. */
  def countXor(df: DataFrame, c: org.apache.spark.sql.Column): DataFrame =
    df.agg(count(lit(1)), bit_xor(xxhash64(c)))

  /** The per-layer metrics every traced run reports. Workloads fill the
    * ones they exercise; the rest stay 0.
    */
  val LayerKeys: Seq[String] = Seq(
    "expr.span_feature_ns_per_row", "table.scan_s", "table.parse_s",
    "curve.hilbert_ns", "curve.cell_id_ns", "curve.cover_ns_per_poly",
    "geom.pip_ns_per_test",
    "jobs.join_s", "jobs.join.candidate_pairs", "jobs.join.result_pairs",
    "jobs.join.candidates_per_result",
    "jobs.knn.plan_s", "jobs.knn.probe_s", "jobs.knn.candidates_per_query",
    "jobs.ingest_s", "jobs.ingest.spark_jobs", "jobs.ingest.source_reads",
    "jobs.compact_s", "jobs.compact.bytes_read", "jobs.compact.bytes_written",
    "jobs.compact.spark_jobs",
    "sources.plan_ms", "sources.files_planned", "sources.pages_decoded",
    "sources.bytes_decoded", "sources.rows_decoded", "sources.decoded_per_returned",
    "sources.repeat_share",
    "sources.append_s", "sources.bytes_written", "sources.files_written",
    "codec.decode_ns_per_feature", "codec.encode_ns_per_feature",
    "index.rtree_query_ns", "index.rtree_build_ms",
    "spark.jobs", "spark.tasks", "spark.failed_tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.scheduler_delay_s", "spark.input_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.output_bytes",
    "ops.p50_ms", "ops.tail_ms", "ops.tail_pct", "ops.samples", "ops.failed_ratio",
    "table.bytes_per_doc",
    "trace.overhead_ms", "trace.self_sum_ratio",
    "host.burn_s", "disk.free_delta_mb", "disk.leaked")

  /** Spark's task metrics over every op span of the run. */
  def sparkLayers(ctx: Ctx): Map[String, Double] = {
    ctx.tracer.drain()
    val c = ctx.tracer.inclusive(ctx.opSpans.values.flatten.toSet)
    Map("spark.jobs" -> c.jobs.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.failed_tasks" -> c.failedTasks.toDouble,
      "spark.executor_run_s" -> c.runMs / 1e3, "spark.executor_cpu_s" -> c.cpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1e3, "spark.scheduler_delay_s" -> c.schedDelayMs / 1e3,
      "spark.input_bytes" -> c.inputBytes.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble, "spark.output_bytes" -> c.outputBytes.toDouble)
  }

  /** Latency summary of the workload's repeated op: median, the highest
    * percentile with ten samples beyond it (the maximum when none has),
    * and the sample count.
    */
  def opLatency(ctx: Ctx, op: String): Map[String, Double] = {
    val ms = ctx.times(op).map(_ * 1e3)
    if (ms.isEmpty) Map.empty
    else {
      val tail = Stats.highestSupported(ms).getOrElse(Stats.percentile(ms, 100))
      Map("ops.p50_ms" -> Stats.median(ms), "ops.tail_ms" -> tail.value,
        "ops.tail_pct" -> tail.p, "ops.samples" -> ms.size.toDouble)
    }
  }

  /** Median duration (s) of the spans with this name. */
  def spanMedian(ctx: Ctx, name: String): Double = {
    val d = ctx.tracer.spans.filter(_.name == name).map(_.durNs / 1e9)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }

  /** Traced runs trace every other measured round; the others run with
    * tracing paused and their ops are named `untraced.<op>`.
    */
  def roundPrefix(ctx: Ctx, round: Int): String = {
    ctx.tracer.active = ctx.tracer.enabled && round % 2 == 0
    if (ctx.tracer.enabled && !ctx.tracer.active) "untraced." else ""
  }

  /** Tracing overhead and span coverage for one op: traced minus
    * untraced median, and the summed self times of each traced op's spans
    * over the untraced median.
    */
  def traceCost(ctx: Ctx, op: String): Map[String, Double] = {
    val traced = ctx.times(op)
    val untraced = ctx.times(s"untraced.$op")
    if (traced.isEmpty || untraced.isEmpty) Map.empty
    else {
      val spans = ctx.tracer.spans
      val self = Span.selfTimes(spans)
      val base = Stats.median(untraced)
      val roots = ctx.opSpans.getOrElse(op, Nil).toSet
      val opOfRoot = spans.filter(s => roots(s.id)).map(_.op).toSet
      val ratios = opOfRoot.toSeq.map(o => spans.filter(_.op == o).map(s => self(s.id)).sum / 1e9 / base)
      Map("trace.overhead_ms" -> (Stats.median(traced) - base) * 1e3,
        "trace.self_sum_ratio" -> (if (ratios.isEmpty) 0.0 else Stats.median(ratios)))
    }
  }

  /** County rectangles as envelopes + WKB, for the kernel timings. */
  def countyShapes(ctx: Ctx): IndexedSeq[(Envelope, Array[Byte])] =
    PolyFixtures.usCountiesStandIn(ctx.spark).collect().toIndexedSeq.map { r =>
      (Envelope(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)), r.getAs[Array[Byte]](1))
    }
}

/** North-star pipeline: span parse, cell join against the 3221 county
  * stand-ins, zoom-6 tiles, group-by count; beside it a seeded kNN batch.
  */
object CountyJoin extends Workload {
  val name = "county_join"
  val Docs = 60000L
  val K = 10
  val Queries = 16
  val TileZoom = 6

  private final case class State(docs: DataFrame, geo: DataFrame)

  private def tiles(joined: DataFrame): DataFrame =
    joined.withColumn("tile_id", gmTile(col("lng"), col("lat"), TileZoom))
      .groupBy("poly_id", "tile_id").agg(count(lit(1)).as("n"))

  private def tileMap(rows: Array[Row]): Map[(Long, Long), Long] =
    rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def knnRows(rows: Array[Row]): Set[(Long, Long, String, Double)] =
    rows.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
      r.getString(2), r.getDouble(3))).toSet

  def run(ctx: Ctx): Result = {
    import ctx.{spark, tracer}
    val counties = PolyFixtures.usCountiesStandIn(spark)
    val (setupS, setupDir, st) = Workload.repeatedSetup(ctx) { d =>
      val docs = Harness.writeDocs(ctx, d, Docs)
      val geo = InterleavedDocs.withGeometry(docs).select("doc_id", "lng", "lat")
        .persist(StorageLevel.MEMORY_ONLY)
      geo.count()
      State(docs, geo)
    } { (_, s) => s.geo.unpersist(blocking = true) }

    val queries = ctx.draw.queries(Queries)
    val qdf = spark.createDataFrame(queries.map(q => (q.id, q.lng, q.lat)))
      .toDF("query_id", "q_lng", "q_lat")

    // independent paths, computed once: the Hilbert-range join and brute-force kNN
    val joinOracle = tileMap(tiles(SpatialJoin.hilbertRangeJoin(
      InterleavedDocs.withGeometry(st.docs), counties)).collect())
    val knnOracle = knnRows(Knn.bruteForce(st.geo, qdf, K).collect())
    require(joinOracle.nonEmpty && knnOracle.size == Queries * K, "empty oracle")

    var lastKnn: DataFrame = null
    def joinOp(label: String) = ctx.op(label) {
      val geo = tracer.span("expr.withGeometry")(InterleavedDocs.withGeometry(st.docs))
      val df = tracer.span("jobs.SpatialJoin.cellJoin")(tiles(SpatialJoin.cellJoin(geo, counties)))
      tracer.span("action.collect")(df.collect())
    } { rows => if (tileMap(rows) == joinOracle) None else Some("tile counts differ from hilbertRangeJoin") }
    def knnOp(label: String) = ctx.op(label) {
      val df = tracer.span("jobs.Knn.knn.plan")(Knn.knn(st.geo, qdf, K))
      lastKnn = df
      tracer.span("jobs.Knn.knn.probe")(df.collect())
    } { rows => if (knnRows(rows) == knnOracle) None else Some("kNN rows differ from bruteForce") }

    ctx.log("oracles done")
    joinOp("warm.join"); knnOp("warm.knn"); knnOp("warm.knn")
    ctx.log("warm-up done")
    val end = ctx.deadline
    var round = 0
    do {
      val p = Workload.roundPrefix(ctx, round)
      joinOp(p + "join"); knnOp(p + "knn"); ctx.sampleHeap()
      round += 1
    } while (System.nanoTime() < end || (tracer.enabled && round < 2))
    tracer.active = tracer.enabled
    ctx.log(s"measured $round rounds")

    val joinS = ctx.median("join")
    val e2e = Map(
      "docs_per_s" -> Docs / joinS,
      "op_p50_ms" -> ctx.median("knn") * 1e3,
      "bytes_per_doc" -> Harness.bytesUnder(s"$setupDir/docs").toDouble / Docs,
      "setup_s" -> setupS)

    val layers = if (!tracer.enabled) Map.empty[String, Double] else {
      val sparkL = Workload.sparkLayers(ctx)
      val knnCand = PlanProbe.joinOutputRows(lastKnn.queryExecution).toDouble / Queries
      tracer.active = false
      val scanS = Workload.noopSeconds(st.docs)
      val parseS = Workload.noopSeconds(InterleavedDocs.withGeometry(st.docs))
      val res = SpatialJoin.DefaultRes
      val ptCells = InterleavedDocs.withGeometry(st.docs)
        .groupBy(gmCell(col("lng"), col("lat"), res).as("cell")).agg(count(lit(1)).as("np"))
      val polyCells = counties.select(explode(gmCellCover(col("p_min_lng"), col("p_min_lat"),
        col("p_max_lng"), col("p_max_lat"), res)).as("cell")).groupBy("cell").agg(count(lit(1)).as("nc"))
      val candidates = ptCells.join(polyCells, "cell").agg(sum(col("np") * col("nc"))).head().getLong(0)
      val results = joinOracle.values.sum
      sparkL ++ Workload.opLatency(ctx, "knn") ++ Workload.traceCost(ctx, "join") ++ Map(
        "table.scan_s" -> scanS, "table.parse_s" -> parseS,
        "jobs.join_s" -> math.max(0.0, joinS - parseS),
        "jobs.join.candidate_pairs" -> candidates.toDouble,
        "jobs.join.result_pairs" -> results.toDouble,
        "jobs.join.candidates_per_result" -> candidates.toDouble / results,
        "jobs.knn.plan_s" -> Workload.spanMedian(ctx, "jobs.Knn.knn.plan"),
        "jobs.knn.probe_s" -> Workload.spanMedian(ctx, "jobs.Knn.knn.probe"),
        "jobs.knn.candidates_per_query" -> knnCand,
        "table.bytes_per_doc" -> e2e("bytes_per_doc"))
    }
    st.geo.unpersist(blocking = true)
    Result(e2e, layers)
  }
}

/** Seeded bbox windows against a Hilbert-clustered `.geomedea` shard lake,
  * plus three full decodes and one COUNT(*) per round.
  */
object LakeBbox extends Workload {
  val name = "lake_bbox"
  val Docs = 100000L
  val Shards = 8
  val Windows = 256
  val WindowsPerRound = 12
  val ScansPerRound = 3

  /** The docs as a Hilbert-clustered lake of `Shards` shards, through the
    * v2 writer.
    */
  def writeLake(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val g = InterleavedDocs.withGeometry(docs)
      .select(col("wkb"), col("doc_id"), col("min_lng"), col("min_lat"), col("max_lng"), col("max_lat"))
    Ingest.withHilbert(g, Ingest.extent(g))
      .select(col("wkb"), col("doc_id"), col("hilbert"))
      .as[(Array[Byte], String, Long)]
      .map { case (wkb, id, h) => (wkb, Seq(GeoJsonIngest.toCell("doc", PString(id))), h) }
      .toDF("wkb", "props", "hilbert")
      .repartitionByRange(Shards, col("hilbert").desc)
      .write.format("geomedea").mode("append").save(dir)
  }

  def lakeDocId: org.apache.spark.sql.Column = col("props").getItem(0).getField("s")

  private def inWindow(w: Envelope): org.apache.spark.sql.Column =
    col("max_lng") >= w.minLng && col("max_lat") >= w.minLat &&
      col("min_lng") <= w.maxLng && col("min_lat") <= w.maxLat

  def run(ctx: Ctx): Result = {
    import ctx.{spark, tracer}
    val (setupS, setupDir, docs) = Workload.repeatedSetup(ctx) { d =>
      val docs = Harness.writeDocs(ctx, d, Docs)
      writeLake(docs, s"$d/lake")
      docs
    } { (_, _) => () }
    val lake = s"$setupDir/lake"
    val windows = (0 until Windows).map(_ => ctx.draw.window())

    // independent path: the same docs through a parquet filter
    val geo = InterleavedDocs.withGeometry(docs)
    val wdf = spark.createDataFrame(windows.zipWithIndex.map { case ((w, _), i) =>
      (i, w.minLng, w.minLat, w.maxLng, w.maxLat) }).toDF("w", "w0", "w1", "w2", "w3")
    val counted = geo.select("min_lng", "min_lat", "max_lng", "max_lat").crossJoin(broadcast(wdf))
      .where(col("max_lng") >= col("w0") && col("max_lat") >= col("w1") &&
        col("min_lng") <= col("w2") && col("min_lat") <= col("w3"))
      .groupBy("w").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = windows.indices.map(i => counted.getOrElse(i, 0L))
    val full = geo.agg(count(lit(1)), bit_xor(xxhash64(col("wkb"))), bit_xor(xxhash64(col("doc_id"))))
      .head()
    val fullOracle = (full.getLong(0), full.getLong(1), full.getLong(2))

    def gm = spark.read.format("geomedea").load(lake)
    val bboxStats = scala.collection.mutable.ArrayBuffer.empty[(PlanProbe.ScanStats, Long, Double)]
    var next = 0
    def bboxOp(label: String) = {
      val i = next % Windows
      next += 1
      ctx.op(label) {
        val df = gm.where(inWindow(windows(i)._1)).agg(count(lit(1)))
        (df, tracer.span("action.collect")(df.collect()).head.getLong(0))
      } { case (df, n) =>
        if (tracer.active && label == "bbox") bboxStats += ((PlanProbe.geomedeaScan(df.queryExecution), n,
          PlanProbe.planMs(df.queryExecution)))
        if (n == expected(i)) None else Some(s"window $i: $n rows, parquet filter says ${expected(i)}")
      }
    }
    def scanOp(label: String) = ctx.op(label) {
      tracer.span("action.collect")(gm.agg(count(lit(1)), bit_xor(xxhash64(col("wkb"))),
        bit_xor(xxhash64(lakeDocId))).head())
    } { r =>
      val got = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (got == fullOracle) None else Some(s"full decode $got, expected $fullOracle")
    }
    def countOp(label: String) = ctx.op(label) {
      tracer.span("action.collect")(gm.groupBy().count().head().getLong(0))
    } { n => if (n == Docs) None else Some(s"COUNT(*) = $n, expected $Docs") }

    ctx.log("oracles done")
    scanOp("warm.scan"); countOp("warm.count"); (0 until WindowsPerRound).foreach(_ => bboxOp("warm.bbox"))
    ctx.log("warm-up done")
    next = 0
    val end = ctx.deadline
    var round = 0
    do {
      val p = Workload.roundPrefix(ctx, round)
      (0 until ScansPerRound).foreach(_ => scanOp(p + "scan")); countOp(p + "count")
      (0 until WindowsPerRound).foreach(_ => bboxOp(p + "bbox"))
      ctx.sampleHeap()
      round += 1
    } while (System.nanoTime() < end || (tracer.enabled && round < 2))
    tracer.active = tracer.enabled
    ctx.log(s"measured $round rounds")

    val e2e = Map(
      "docs_per_s" -> Docs / ctx.median("scan"),
      "op_p50_ms" -> ctx.median("bbox") * 1e3,
      "bytes_per_doc" -> Harness.bytesUnder(lake).toDouble / Docs,
      "setup_s" -> setupS)

    val layers = if (!tracer.enabled) Map.empty[String, Double] else {
      val sparkL = Workload.sparkLayers(ctx)
      val q = math.max(1, bboxStats.size).toDouble
      // windows whose planned files an earlier window already read: the
      // share a page or file cache of the program's own could serve
      val seen = scala.collection.mutable.Set.empty[String]
      val repeats = bboxStats.count { case (s, _, _) =>
        val again = s.files.nonEmpty && s.files.forall(seen)
        seen ++= s.files
        again
      }
      val decoded = bboxStats.map(_._1.rows).sum.toDouble
      val returned = bboxStats.map(_._2).sum.toDouble
      sparkL ++ Workload.opLatency(ctx, "bbox") ++ Workload.traceCost(ctx, "scan") ++ Map(
        "sources.plan_ms" -> (if (bboxStats.isEmpty) 0.0 else Stats.median(bboxStats.map(_._3).toSeq)),
        "sources.files_planned" -> bboxStats.map(_._1.files.size).sum / q,
        "sources.pages_decoded" -> bboxStats.map(_._1.pages).sum / q,
        "sources.bytes_decoded" -> bboxStats.map(_._1.bytes).sum / q,
        "sources.rows_decoded" -> decoded / q,
        "sources.decoded_per_returned" -> decoded / math.max(1.0, returned),
        "sources.repeat_share" -> repeats / q)
    }
    Result(e2e, layers)
  }
}

/** The write side: `Ingest.write` to parquet + lineage, a lake built by K
  * appends through the v2 writer, then `Compact.compact` to fewer shards.
  */
object IngestCompact extends Workload {
  val name = "ingest_compact"
  val Docs = 30000L
  val Appends = 4
  val ShardsPerAppend = 2
  val CompactTo = 2
  val TracedRounds = 6

  def run(ctx: Ctx): Result = {
    import ctx.{spark, tracer}
    import spark.implicits._
    val (setupS, _, docs) = Workload.repeatedSetup(ctx) { d =>
      Harness.writeDocs(ctx, d, Docs)
    } { (_, _) => () }
    val slice = pmod(xxhash64(col("doc_id")), lit(Appends.toLong))

    // independent path: row count and xor of doc-id hashes, per append slice
    val perSlice = docs.groupBy(slice.as("k")).agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"))))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val all = (perSlice.values.map(_._1).sum, perSlice.values.map(_._2).reduce(_ ^ _))
    require(all._1 == Docs, s"oracle saw ${all._1} docs")

    def lakeShards(dir: String): Int = Option(new java.io.File(dir).listFiles())
      .map(_.count(_.getName.endsWith(".geomedea"))).getOrElse(0)
    def lakeCheck(dir: String, want: (Long, Long)): Option[String] = {
      val got = Workload.checksum(Workload.countXor(spark.read.format("geomedea").load(dir),
        LakeBbox.lakeDocId).collect())
      if (got == want) None else Some(s"lake holds $got, expected $want")
    }

    var round = 0
    var lakeBytes, tableBytes, appendedBytes, appendedFiles, compactRead = 0.0
    def oneRound(prefix: String): Unit = {
      val rd = ctx.dir(s"round-$round")
      round += 1
      val tdir = s"$rd/table"
      val ldir = s"$rd/lake"
      ctx.op(s"${prefix}ingest") {
        tracer.span("jobs.Ingest.write")(Ingest.write(InterleavedDocs.withGeometry(docs), tdir, ctx.cpus))
      } { lineage =>
        val t = Workload.checksum(Workload.countXor(spark.read.parquet(s"$tdir/docs"), col("doc_id")).collect())
        val l = lineage.agg(sum("rows"), bit_xor(col("checksum"))).head()
        if (t != all) Some(s"table holds $t, expected $all")
        else if ((l.getLong(0), l.getLong(1)) != all) Some(s"lineage says (${l.get(0)}, ${l.get(1)}), expected $all")
        else None
      }
      tableBytes = Harness.bytesUnder(tdir)
      var want = (0L, 0L)
      (0 until Appends).foreach { k =>
        val kk = k.toLong
        want = (want._1 + perSlice(k)._1, want._2 ^ perSlice(k)._2)
        val expect = want
        ctx.op(s"${prefix}append") {
          val g = InterleavedDocs.withGeometry(docs).where(slice === kk)
            .select(col("wkb"), col("doc_id")).as[(Array[Byte], String)]
            .map { case (wkb, id) => (wkb, Seq(GeoJsonIngest.toCell("doc", PString(id)))) }
            .toDF("wkb", "props")
            .repartition(ShardsPerAppend)
          tracer.span("sources.v2.write")(g.write.format("geomedea").mode("append").save(ldir))
        } { _ =>
          val n = spark.read.format("geomedea").load(ldir).groupBy().count().head().getLong(0)
          if (n != expect._1) Some(s"lake COUNT(*) $n after append $k, expected ${expect._1}")
          else if (k == Appends - 1) lakeCheck(ldir, expect) else None
        }
      }
      appendedBytes = Harness.bytesUnder(ldir)
      val before = lakeShards(ldir)
      appendedFiles = before
      tracer.drain()
      val read0 = tracer.scanBytes.get
      ctx.op(s"${prefix}compact") {
        tracer.span("jobs.Compact.compact")(Compact.compact(spark, ldir, numShards = CompactTo))
      } { live =>
        tracer.drain()
        if (tracer.active) compactRead += tracer.scanBytes.get - read0
        if (live <= 0 || live > before) Some(s"compaction left $live shards from $before")
        else lakeCheck(ldir, all)
      }
      lakeBytes = Harness.bytesUnder(ldir)
      Harness.rmTree(rd)
      ctx.sampleHeap()
    }

    ctx.log("oracles done")
    oneRound("warm.")
    ctx.log("warm-up done")
    val end = ctx.deadline
    // a traced run alternates traced and untraced rounds and needs several
    // of each, since a round holds a single ingest and a single compaction
    var r = 0
    do {
      val p = Workload.roundPrefix(ctx, r)
      oneRound(p)
      r += 1
    } while (System.nanoTime() < end || (tracer.enabled && r < TracedRounds))
    tracer.active = tracer.enabled
    ctx.log(s"measured $r rounds")

    // each doc is written three times a round: ingest, one append, compaction
    val roundS = ctx.median("ingest") + Appends * ctx.median("append") +
      ctx.median("compact")
    val e2e = Map(
      "docs_per_s" -> 3.0 * Docs / roundS,
      "op_p50_ms" -> ctx.median("append") * 1e3,
      "bytes_per_doc" -> lakeBytes / Docs,
      "setup_s" -> setupS)

    val layers = if (!tracer.enabled) Map.empty[String, Double] else {
      val sparkL = Workload.sparkLayers(ctx)
      def spanCounters(name: String) = {
        val ids = ctx.tracer.spans.filter(s => s.name == name && s.op >= 0).map(_.id)
        (ctx.tracer.inclusive(ids.toSet), math.max(1, ids.size))
      }
      val (ing, nIng) = spanCounters("jobs.Ingest.write")
      val (cmp, nCmp) = spanCounters("jobs.Compact.compact")
      tracer.active = false
      sparkL ++ Workload.opLatency(ctx, "append") ++ Workload.traceCost(ctx, "ingest") ++ Map(
        "table.scan_s" -> Workload.noopSeconds(docs),
        "table.parse_s" -> Workload.noopSeconds(InterleavedDocs.withGeometry(docs)),
        "table.bytes_per_doc" -> tableBytes / Docs,
        "jobs.ingest_s" -> ctx.median("ingest"),
        "jobs.ingest.spark_jobs" -> ing.jobs.toDouble / nIng,
        "jobs.ingest.source_reads" -> ing.inputRecords.toDouble / nIng / Docs,
        "jobs.compact_s" -> ctx.median("compact"),
        "jobs.compact.bytes_read" -> compactRead / nCmp,
        "jobs.compact.bytes_written" -> lakeBytes,
        "jobs.compact.spark_jobs" -> cmp.jobs.toDouble / nCmp,
        "sources.append_s" -> ctx.median("append"),
        "sources.bytes_written" -> appendedBytes,
        "sources.files_written" -> appendedFiles)
    }
    Result(e2e, layers)
  }
}
