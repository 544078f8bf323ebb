package graft.jobs

import graft.curve.Cells
import graft.expr.GraftFunctions._
import graft.geom.Envelope
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Exact kNN from a sampled distance bound (SURVEY.md §2.11). The point
  * side is scanned exactly twice, whatever k or the data skew:
  *
  *  1. **Sample.** The point rows with the [[SampleRows]] smallest
  *     `xxhash64(doc_id, lng, lat)` are collected (one job, no shuffle; the
  *     driver holds at most the cap whatever any size estimate says).
  *  2. **Bound.** For each query, D is the k-th smallest sampled dist2, or
  *     +∞ when the sample has fewer than k rows. Sampled rows are real
  *     rows, so at least k points lie within D: D bounds the true k-th
  *     distance from above, exactly, for any sample.
  *  3. **Keyed probe.** The box q ± (ceil(sqrt(D)) + 1), clamped to the
  *     Int range, is covered by at most 4 level-tagged keys
  *     ([[Cells.coverKeys]]); an infinite D probes the one level-0 (world)
  *     cell. Points are keyed at exactly the levels the probes use (one
  *     level mask, [[Cells.pointKeys]]), so the explode runs in whole-stage
  *     codegen over primitive key arrays. The +1 absorbs double rounding;
  *     the inclusive `dist2 <= D` in the join condition decides
  *     membership: every row that can rank reaches the window, and only
  *     rows within D do.
  *  4. **Native top-k.** `row_number() over (partition by query_id order
  *     by dist2, doc_id)` with `rank <= k`. For k up to
  *     `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000)
  *     Catalyst plans a partial `WindowGroupLimit` below the exchange, so
  *     each map task cuts every query to k rows before the shuffle; past
  *     it the window still ranks exactly, over the unlimited rows. Strings
  *     order as UTF-8 bytes, Spark's and the DuckDB oracle's order.
  *
  * Distances are squared Euclidean in scaled-int space computed in double
  * (dx*dx + dy*dy, IEEE-reproducible by the DuckDB oracle, and by
  * [[bound]], so a sampled row's D is the very dist2 the filter sees);
  * ties break on doc_id. Points with a null coordinate never match.
  */
object Knn {

  /** Past this many queries the probe side stops being broadcastable and
    * [[knn]] switches to the distributed probe automatically.
    */
  val MaxQueries = 100000

  /** Hard cap on the sampled point rows the bound is taken from. */
  val SampleRows = 4096

  /** The non-null (lng, lat) of the `rows` rows with the smallest
    * `xxhash64(key, lng, lat)` (ties broken on the row itself, so two calls
    * return the same rows): a top-k sort, one Spark job, and the driver
    * holds at most `rows` rows whatever any size estimate says. kNN samples
    * its point side; [[Ingest]] samples envelope centers for its layout.
    * The hash is a projected column, so it is taken once per row; as a
    * sort expression the top-k comparator would rehash both rows at every
    * comparison (Ingest and Compact hash the whole wkb).
    */
  private[graft] def sample(points: DataFrame, rows: Int = SampleRows,
                            key: Column = col("doc_id"), lng: Column = col("lng"),
                            lat: Column = col("lat")): Array[(Int, Int)] =
    points.select(key.as("key"), lng.cast(IntegerType).as("lng"), lat.cast(IntegerType).as("lat"))
      .where(col("lng").isNotNull && col("lat").isNotNull)
      .withColumn("hash", xxhash64(col("key"), col("lng"), col("lat")))
      .orderBy(col("hash"), col("key"), col("lng"), col("lat"))
      .limit(rows).select("lng", "lat")
      .collect().map(r => (r.getInt(0), r.getInt(1)))

  /** The k-th smallest dist2 from (qlng, qlat) over the sample, by a
    * bounded max-heap (O(S log k)); +∞ when the sample has fewer than k
    * rows.
    */
  private def bound(sample: Array[(Int, Int)], qlng: Int, qlat: Int, k: Int): Double =
    if (k < 1 || sample.length < k) Double.PositiveInfinity
    else {
      val heap = scala.collection.mutable.PriorityQueue.empty(Ordering.Double.TotalOrdering)
      sample.foreach { case (lng, lat) =>
        val dx = (lng.toLong - qlng).toDouble
        val dy = (lat.toLong - qlat).toDouble
        val d = dx * dx + dy * dy
        if (heap.size < k) heap.enqueue(d)
        else if (d < heap.head) { heap.dequeue(); heap.enqueue(d) }
      }
      heap.head
    }

  /** The at most 4 level-tagged keys covering the box q ± r, clamped to
    * the Int range ([[Cells.coverKeys]]): each box hit matches one key.
    */
  private[jobs] def boxKeys(qlng: Int, qlat: Int, r: Long): Array[Long] = {
    def c(v: Long): Int = math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, v)).toInt
    Cells.coverKeys(Envelope(c(qlng - r), c(qlat - r), c(qlng + r), c(qlat + r)), Cells.MaxRes)
  }

  /** One query's bound and the level-tagged keys covering every point
    * within it. Pure: runs on the driver for broadcastable query sets and
    * in the executor flatMap past them.
    */
  private def probe(sample: Array[(Int, Int)], qlng: Int, qlat: Int, k: Int): (Double, Array[Long]) = {
    val d = bound(sample, qlng, qlat, k)
    if (d.isInfinite) (d, Cells.pointKeys(qlng, qlat, Cells.levelMask(Seq(0))))
    else (d, boxKeys(qlng, qlat, math.ceil(math.sqrt(d)).toLong + 1))
  }

  /** The planned probe rows; every column is non-null. */
  private val ProbeSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("q_lng", IntegerType, nullable = false),
    StructField("q_lat", IntegerType, nullable = false),
    StructField("bound", DoubleType, nullable = false),
    StructField("key", LongType, nullable = false)))

  /** The probe side of a keyed distance query, and the key levels in
    * use: each query (query_id, q_lng, q_lat) with `f(q_lng, q_lat)` =
    * (bound, keys) becomes rows (query_id, q_lng, q_lat, bound, key). Up
    * to `maxBroadcast` queries are planned on the driver and broadcast (the
    * point side never shuffles); larger sets switch AUTOMATICALLY to `f`
    * in an executor flatMap, every level, and a shuffled key join. The
    * branch-picking collect holds at most maxBroadcast+1 rows; the
    * distributed branch re-evaluates the query plan, so cache an expensive
    * one and never pass a non-deterministic one. A query with a null id
    * or coordinate matches nothing. Both branches build [[ProbeSchema]]
    * rows directly, with no tuple encoder to derive per call.
    */
  private[jobs] def planProbes(queries: DataFrame, maxBroadcast: Int)(
      f: (Int, Int) => (Double, Array[Long])): (DataFrame, Seq[Int]) = {
    def rows(qid: Long, qlng: Int, qlat: Int): Array[Row] = {
      val (d, keys) = f(qlng, qlat)
      keys.map(key => Row(qid, qlng, qlat, d, key))
    }
    // same casts in both branches
    val qs = queries.select(col("query_id").cast(LongType), col("q_lng").cast(IntegerType),
      col("q_lat").cast(IntegerType)).na.drop()
    val qRows: Array[Row] = qs.limit(maxBroadcast + 1).collect()
    if (qRows.length <= maxBroadcast) {
      val planned = qRows.flatMap(q => rows(q.getLong(0), q.getInt(1), q.getInt(2)))
      (broadcast(queries.sparkSession.createDataFrame(planned.toSeq.asJava, ProbeSchema)),
        planned.map(p => Cells.keyLevel(p.getLong(4))).distinct.toSeq)
    } else
      (qs.flatMap(q => rows(q.getLong(0), q.getInt(1), q.getInt(2)))(Encoders.row(ProbeSchema)),
        0 to Cells.MaxRes)
  }

  /** The keyed probe: points (doc_id, lng, lat) keyed at exactly the
    * `levels` in use (one level-mask [[gmPointKeys]] call, so the explode
    * stays in whole-stage codegen), equi-joined to the planned probes,
    * pairs with dist2 <= bound.
    */
  private[jobs] def withinBound(points: DataFrame, probes: DataFrame, levels: Seq[Int]): DataFrame = {
    val pts = points.select(col("doc_id"), col("lng"), col("lat"),
      explode(gmPointKeys(col("lng"), col("lat"), levels)).as("key"))
    val dx = (col("lng").cast(LongType) - col("q_lng").cast(LongType)).cast(DoubleType)
    val dy = (col("lat").cast(LongType) - col("q_lat").cast(LongType)).cast(DoubleType)
    pts.join(probes, "key")
      .withColumn("dist2", dx * dx + dy * dy)
      .where(col("dist2") <= col("bound"))
  }

  /** points: (doc_id, lng, lat, ...); queries: (query_id, q_lng, q_lat).
    * Returns (query_id, rank, doc_id, dist2), rank 1..k. Exact, on either
    * [[planProbes]] branch; only the join strategy changes.
    */
  def knn(points: DataFrame, queries: DataFrame, k: Int,
          maxBroadcast: Int = MaxQueries): DataFrame = {
    val smp = sample(points)
    val (probes, levels) = planProbes(queries, maxBroadcast)(probe(smp, _, _, k))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2").asc, col("doc_id").asc)
    withinBound(points, probes, levels)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "dist2")
  }

  /** Test/oracle brute force: window top-k over the full cross join. */
  def bruteForce(points: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val dx = (col("lng").cast("long") - col("q_lng").cast("long")).cast("double")
    val dy = (col("lat").cast("long") - col("q_lat").cast("long")).cast("double")
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2").asc, col("doc_id").asc)
    points.select(col("doc_id"), col("lng"), col("lat"))
      .crossJoin(broadcast(queries))
      .withColumn("dist2", dx * dx + dy * dy)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "dist2")
  }
}
