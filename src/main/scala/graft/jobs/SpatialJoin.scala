package graft.jobs

import graft.curve.Cells
import graft.expr.GraftFunctions._
import graft.geom.Envelope
import graft.index.PackedRTree
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed spatial join: points (probe, huge) x polygons (build, small
  * or moderate). Three physical strategies over identical semantics
  * (closed-boundary point-in-polygon — results must be identical; the
  * brute-force cross join is the test oracle):
  *
  *  1. [[cellJoin]] — both sides keyed by level-tagged grid cell (H3/S2
  *     analog, SURVEY.md §2.11): each polygon explodes to at most 4 keys
  *     at the finest level where its envelope spans at most 2x2 cells,
  *     points to one key per level, equi-join on the key, exact
  *     ST_Contains refinement. The level comes from each polygon's own
  *     envelope, so a dense cluster of small polygons never shares one
  *     coarse hot cell. The key makes the join a plain hash/broadcast
  *     equi-join Catalyst can plan and AQE can re-balance; no theta-join
  *     cross product.
  *  2. [[rtreeJoin]] — the reference's packed-R-tree path (SURVEY.md §2.10):
  *     tree built once on the driver over build-side envelopes
  *     (writer: packed_r_tree/writer.rs:41-84), shipped to executors as a
  *     literal byte blob, probed per row (reader: packed_r_tree/reader.rs:
  *     25-49) producing candidate indices, then exact refinement. No
  *     shuffle of the probe side at all.
  *  3. [[saltedCellJoin]] — [[cellJoin]]'s level-tagged keys with the
  *     hot-key skew handled explicitly, for when the planner may pick a
  *     shuffle: build rows replicate x [[SaltFactor]], probe rows pick a
  *     deterministic salt, so one hot key spreads over SaltFactor tasks
  *     (north_rule requires explicit skew handling; AQE skew join remains
  *     on as backstop). Its candidate pairs are cellJoin's.
  *
  * Points DF contract: columns (lng, lat) scaled ints + carried columns.
  * Polys DF contract: (poly_id, poly_wkb, p_min_lng, p_min_lat, p_max_lng,
  * p_max_lat); p_* must bound poly_wkb. Every strategy but [[bruteForce]]
  * refines envelope-then-PIP, which is exact: a closed-boundary PIP hit
  * lies in its polygon's envelope. [[bruteForce]] runs PIP alone.
  */
object SpatialJoin {

  /** Fixed cell level of [[polyPolyJoin]], whose report-once rule needs
    * both covers at one level. The point joins key at levels up to
    * Cells.MaxRes, each polygon or query box at its own level.
    */
  val DefaultRes = 4

  /** How many tasks [[saltedCellJoin]] spreads one hot key over. */
  val SaltFactor = 8

  // envelope conjuncts first, so only envelope hits reach containsWkb
  private def refined(joined: DataFrame): DataFrame =
    joined.where(col("lng") >= col("p_min_lng") && col("lng") <= col("p_max_lng") &&
      col("lat") >= col("p_min_lat") && col("lat") <= col("p_max_lat") &&
      stContains(col("poly_wkb"), col("lng"), col("lat")))

  /** The level-tagged `cell` keys of (points, polys) both cell joins
    * share: a point's at every level, a polygon's at most 4 at its own
    * level. A point in a polygon's envelope matches exactly one of them
    * ([[Cells.coverKeys]]).
    */
  private[graft] def cellKeys(points: DataFrame, polys: DataFrame): (DataFrame, DataFrame) =
    (points.withColumn("cell", explode(gmPointKeys(col("lng"), col("lat"), 0 to Cells.MaxRes))),
      polys.withColumn("cell", explode(gmCoverKeys(col("p_min_lng"), col("p_min_lat"),
        col("p_max_lng"), col("p_max_lat"), Cells.MaxRes))))

  /** Strategy 1: multi-level cell-key equi-join (broadcast the exploded
    * build side, at most 4 rows per polygon), keyed by [[cellKeys]]. Exact
    * with no dedup.
    */
  def cellJoin(points: DataFrame, polys: DataFrame): DataFrame = {
    val (pts, polyCells) = cellKeys(points, polys)
    refined(pts.join(broadcast(polyCells), Seq("cell"), "inner")).drop("cell")
  }

  /** Max serialized tree size shipped as a plan literal. The tree rides
    * in the generated plan (codegen-friendly StaticInvoke, per-task LRU
    * decode) rather than a TorrentBroadcast — equivalent distribution
    * cost at this size, but a literal bloats every task binary if it
    * grows, so past this bound the caller should use [[cellJoin]]
    * (broadcast hash join) or [[hilbertRangeJoin]] (shuffle).
    */
  val MaxTreeLiteralBytes: Int = 8 << 20 // 8 MiB ~ 300k leaves

  /** Strategy 2: driver-built packed R-tree probe (no shuffle of either
    * side; the tree ships inside the plan — see [[MaxTreeLiteralBytes]]).
    */
  def rtreeJoin(points: DataFrame, polys: DataFrame): DataFrame = {
    val build = polys.select("poly_id", "p_min_lng", "p_min_lat", "p_max_lng", "p_max_lat")
      .collect()
    // leaves in Hilbert-descending order of envelope centers, matching the
    // reference's layout invariant (writer/mod.rs:77-82)
    val ext = build.foldLeft(Envelope.empty)((e, r) =>
      e.union(Envelope(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))))
    val leaves = build.map { r =>
      val env = Envelope(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      (env, r.getLong(0), graft.curve.Hilbert.scaled(env.centerLng, env.centerLat, ext))
    }.sortBy(-_._3).map { case (env, id, _) => (env, id, 0) }.toIndexedSeq
    val treeBytes = PackedRTree.build(leaves)
    require(treeBytes.length <= MaxTreeLiteralBytes,
      s"build side too large for a plan-literal R-tree (${treeBytes.length} bytes > " +
        s"$MaxTreeLiteralBytes); use cellJoin (broadcast) or hilbertRangeJoin (shuffle)")
    val pts = points.withColumn("poly_id",
      explode(rtreeHits(treeBytes, leaves.length.toLong,
        col("lng"), col("lat"), col("lng"), col("lat"))))
    refined(pts.join(broadcast(polys), Seq("poly_id"), "inner"))
  }

  /** [[cellKeys]] plus a `salt`: each point hashes its doc_id into
    * [0, SaltFactor), each polygon key is replicated once per salt.
    */
  private[graft] def saltedKeys(points: DataFrame, polys: DataFrame): (DataFrame, DataFrame) = {
    val (pts, polyCells) = cellKeys(points, polys)
    (pts.withColumn("salt", pmod(xxhash64(col("doc_id")), lit(SaltFactor)).cast("int")),
      polyCells.withColumn("salt", explode(lit((0 until SaltFactor).toArray))))
  }

  /** Strategy 3: salted cell join for skewed hot keys ([[saltedKeys]]), no
    * broadcast hint. Identical output and candidate pairs to [[cellJoin]];
    * the salt only spreads the shuffle/probe work.
    */
  def saltedCellJoin(points: DataFrame, polys: DataFrame): DataFrame = {
    val (pts, polyCells) = saltedKeys(points, polys)
    refined(pts.join(polyCells, Seq("cell", "salt"), "inner")).drop("cell", "salt")
  }

  /** Strategy 4 (J6): Hilbert-range join — the shuffle path for build
    * sides too big to broadcast. Both sides key by order-res curve chunk
    * (a contiguous Hilbert range): points via [[gmHilbertChunk]], polygon
    * envelopes exploded to every chunk they intersect. Catalyst plans a
    * plain shuffled equi-join (sort-merge or shuffled-hash, AQE's choice)
    * with NO broadcast and NO cross product; because the ingest layout is
    * Hilbert-clustered, probe-side chunks are nearly sorted within input
    * splits, so the shuffle write is run-length-friendly and a sort-merge
    * join's sort is cheap. Exact PIP refinement keeps output identical to
    * [[cellJoin]]/brute force.
    */
  def hilbertRangeJoin(points: DataFrame, polys: DataFrame, res: Int = 6): DataFrame = {
    val polyChunks = polys.withColumn("hchunk",
      explode(gmHilbertChunksEnv(col("p_min_lng"), col("p_min_lat"), col("p_max_lng"), col("p_max_lat"), res)))
    val pts = points.withColumn("hchunk", gmHilbertChunk(col("lng"), col("lat"), res))
    // no broadcast() hint: this strategy exists for the both-sides-large case
    refined(pts.join(polyChunks, Seq("hchunk"), "inner")).drop("hchunk")
  }

  /** Strategy 5 (DWithin): every (query, point) pair with squared
    * Euclidean distance (scaled-int space, in double like [[Knn]] —
    * IEEE-reproducible by the SQL oracle) at most radius². kNN's keyed
    * probe ([[Knn.planProbes]], [[Knn.withinBound]]) with a fixed bound: a
    * point within the radius lies in the box q ± radius and matches
    * exactly one of its cover keys (no dedup).
    *
    * points: (doc_id, lng, lat, ...); queries: (query_id, q_lng, q_lat).
    * Returns (query_id, doc_id), query_id as a long. Exact.
    */
  def distanceJoin(points: DataFrame, queries: DataFrame, radius: Long,
                   maxBroadcast: Int = Knn.MaxQueries): DataFrame = {
    require(radius >= 0, s"radius must be >= 0; got $radius")
    val bound = radius.toDouble * radius.toDouble
    // 2^33 exceeds the world span on both axes: a box that wide already
    // covers every point, and q ± radius cannot overflow a Long
    val r = math.min(radius, 1L << 33)
    val (probes, levels) = Knn.planProbes(queries, maxBroadcast)((qlng, qlat) =>
      (bound, Knn.boxKeys(qlng, qlat, r)))
    Knn.withinBound(points, probes, levels).select("query_id", "doc_id")
  }

  /** Spatial ANTI-join: the points contained by NO polygon (the
    * complement of [[cellJoin]]'s semi-join side — outlier/offshore
    * filtering in a cleaning pipeline). Matched doc_ids come from the
    * same broadcast cell equi-join + exact PIP refinement, then one
    * left_anti hash join on doc_id removes them; both joins broadcast
    * or hash on a key, never a cross product, and the anti side
    * deduplicates matches map-side (semi-join output is id-only).
    */
  def antiJoin(points: DataFrame, polys: DataFrame): DataFrame = {
    val matched = cellJoin(points.select("doc_id", "lng", "lat"), polys)
      .select("doc_id").distinct()
    points.join(matched, Seq("doc_id"), "left_anti")
  }

  /** Zonal statistics: per-polygon aggregates over the contained points
    * (count, extent of contained coordinates) — [[cellJoin]] + one
    * map-side-combined groupBy. Polygons with no contained points are
    * kept with n = 0 (the zonal contract), by left-joining the poly list
    * against the BROADCAST aggregate output (per-poly rows — tiny by the
    * cellJoin contract) — never a shuffle of either side.
    */
  def zonalStats(points: DataFrame, polys: DataFrame): DataFrame = {
    val zones = cellJoin(points, polys)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n"),
        min("lng").cast("long").as("z_min_lng"), min("lat").cast("long").as("z_min_lat"),
        max("lng").cast("long").as("z_max_lng"), max("lat").cast("long").as("z_max_lat"))
    polys.select("poly_id").join(broadcast(zones), Seq("poly_id"), "left_outer")
      .select(col("poly_id"), coalesce(col("n"), lit(0L)).as("n"),
        col("z_min_lng"), col("z_min_lat"), col("z_max_lng"), col("z_max_lat"))
  }

  /** Polygon x polygon envelope-intersection join (overlay planning /
    * coverage analysis): both sides explode to their cell covers, the
    * covers equi-join on cell, and each intersecting pair is emitted
    * EXACTLY ONCE with no distinct/dedup shuffle — only the cell that
    * contains the intersection rectangle's min corner reports the pair.
    * That corner (greatest of the min-lngs, greatest of the min-lats) lies
    * inside BOTH envelopes whenever they intersect (closed intervals), so
    * its cell is in both covers and the pair survives in exactly one cell.
    *
    * Scale shape: the join is a plain equi-join on the cell key (hash or
    * broadcast, AQE-balanced) over cover-sized inputs; a pair overlapping
    * m cells costs m joined rows but only cheap integer comparisons to
    * discard m-1 of them — the classic "report-once" partition-join trick,
    * avoiding the global distinct a naive cover join needs.
    *
    * Both inputs use the polys contract (poly_id, p_min/max_lng/lat);
    * output (a_id, b_id) per intersecting pair.
    */
  def polyPolyJoin(a: DataFrame, b: DataFrame, res: Int = DefaultRes,
                   broadcastB: Boolean = true): DataFrame = {
    def sideCells(p: DataFrame, tag: String): DataFrame =
      p.select(col("poly_id").as(s"${tag}_id"),
          col("p_min_lng").as(s"${tag}_min_lng"), col("p_min_lat").as(s"${tag}_min_lat"),
          col("p_max_lng").as(s"${tag}_max_lng"), col("p_max_lat").as(s"${tag}_max_lat"))
        .withColumn("cell", explode(gmCellCover(
          col(s"${tag}_min_lng"), col(s"${tag}_min_lat"),
          col(s"${tag}_max_lng"), col(s"${tag}_max_lat"), res)))
    val cornerLng = greatest(col("a_min_lng"), col("b_min_lng"))
    val cornerLat = greatest(col("a_min_lat"), col("b_min_lat"))
    // broadcastB fits the common small-overlay case; for two huge sets
    // pass false — the cell key makes it a plain shuffled equi-join
    // (AQE skew-splittable), still never a cross product
    val bCells = if (broadcastB) broadcast(sideCells(b, "b")) else sideCells(b, "b")
    sideCells(a, "a").join(bCells, Seq("cell"))
      .where(
        stBBoxIntersects(
          col("a_min_lng"), col("a_min_lat"), col("a_max_lng"), col("a_max_lat"),
          col("b_min_lng"), col("b_min_lat"), col("b_max_lng"), col("b_max_lat")) &&
          col("cell") === gmCell(cornerLng, cornerLat, res))
      .select("a_id", "b_id")
  }

  /** Test oracle for [[distanceJoin]]: cross join + exact predicate. */
  def distanceBruteForce(points: DataFrame, queries: DataFrame, radius: Long): DataFrame = {
    val dx = (col("lng").cast("long") - col("q_lng").cast("long")).cast("double")
    val dy = (col("lat").cast("long") - col("q_lat").cast("long")).cast("double")
    points.crossJoin(broadcast(queries))
      .where(dx * dx + dy * dy <= lit(radius.toDouble * radius.toDouble))
      .select("query_id", "doc_id")
  }

  /** Test oracle: brute-force cross join + PIP alone (tiny scale only). */
  def bruteForce(points: DataFrame, polys: DataFrame): DataFrame =
    points.crossJoin(polys).where(stContains(col("poly_wkb"), col("lng"), col("lat")))

  /** bbox semi-join analog of the reference's select_bbox (S5): points whose
    * envelope intersects the query rect, closed-interval (bounds.rs:101-119).
    */
  def bboxFilter(docsGeo: DataFrame, q: Envelope): DataFrame =
    docsGeo.where(
      col("max_lng") >= q.minLng && col("max_lat") >= q.minLat &&
        col("min_lng") <= q.maxLng && col("min_lat") <= q.maxLat)
}
