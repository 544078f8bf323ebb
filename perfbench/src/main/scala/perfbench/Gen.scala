package perfbench

import graft.geom.Envelope

/** Seeded inputs. Every workload input comes from here, so the same seed
  * gives the same doc ids, query windows and query points.
  *
  * Docs follow `InterleavedDocs.lngOf/latOf`: 90 % land in a 2x2 degree
  * hot cluster, 10 % spread over the world. The seed shifts the doc-id
  * range, which moves every doc inside those two regions.
  */
object Gen {
  /** Hot cluster of `InterleavedDocs`, scaled ints (1e-7 degrees). */
  val Hot: Envelope = Envelope(-1182562000, 331060000, -1162562000, 351060000)
  val World: Envelope = Envelope(-1800000000, -900000000, 1800000000, 900000000)
  /** Share of windows and query points drawn inside the hot cluster. */
  val HotShare = 0.9
  /** Window sides, in degrees: log-uniform between these two. */
  val MinSide = 0.01
  val MaxSide = 2.0

  final case class Query(id: Long, lng: Int, lat: Int, hot: Boolean)

  final class Draw(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)

    /** First doc id: a multiple of 10 below 5e8, so ids stay 9 digits. */
    val idBase: Long = rng.nextLong(50000000L) * 10L

    private def inside(e: Envelope): (Int, Int) =
      ((e.minLng + rng.nextLong(e.lngWidth + 1)).toInt,
        (e.minLat + rng.nextLong(e.latHeight + 1)).toInt)

    /** A window centred in the hot cluster with probability `HotShare`,
      * else anywhere in the world; its side is log-uniform between
      * `MinSide` and `MaxSide`. Clipped to the world.
      */
    def window(): (Envelope, Boolean) = {
      val hot = rng.nextDouble() < HotShare
      val (cx, cy) = inside(if (hot) Hot else World)
      val side = math.exp(math.log(MinSide) + rng.nextDouble() * (math.log(MaxSide) - math.log(MinSide)))
      val half = (side * 1e7 / 2).toLong
      def clip(v: Long, lo: Int, hi: Int): Int = math.max(lo.toLong, math.min(hi.toLong, v)).toInt
      (Envelope(clip(cx - half, World.minLng, World.maxLng), clip(cy - half, World.minLat, World.maxLat),
        clip(cx + half, World.minLng, World.maxLng), clip(cy + half, World.minLat, World.maxLat)), hot)
    }

    /** kNN query points: in the hot cluster with probability `HotShare`. */
    def queries(n: Int): IndexedSeq[Query] =
      (0 until n).map { i =>
        val hot = rng.nextDouble() < HotShare
        val (x, y) = inside(if (hot) Hot else World)
        Query(i.toLong, x, y, hot)
      }
  }
}
