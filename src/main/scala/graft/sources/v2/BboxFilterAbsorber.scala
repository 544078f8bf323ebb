package graft.sources.v2

import graft.geom.Envelope
import org.apache.spark.sql.sources._

/** Shared Catalyst-filter -> query-rect absorption for the container
  * sources (geomedea + flatgeobuf): filters over the four envelope stat
  * columns tighten a closed-interval query rect that is a SUPERSET of
  * the predicate (a row's max >= min, so `min_lng >= v` also implies
  * `max_lng >= v` — the intersection test's left bound; symmetrically
  * for the other three). And() recurses; anything else is left to Spark.
  * An empty geometry's envelope ([[Envelope.empty]]) has every min above
  * every max, intersects no rect short of the world, and passes such
  * `min_* >= v` / `max_* <= v` filters; when the absorbed filters admit
  * it, the rect prunes nothing ([[bbox]] is None).
  *
  * Four sides are not just implied by the rect but ARE it: `max_lng >= v`,
  * `max_lat >= v`, `min_lng <= v` and `min_lat <= v` with an Integer
  * literal (the strict forms as `v+1`/`v-1` when that does not overflow)
  * are exactly the closed-interval intersection test against an index
  * leaf holding the row's own envelope ([[BboxFilterAbsorber.exact]]). A
  * format whose leaves hold exactly the envelope columns
  * ([[ContainerFormat.exactIndex]]) may claim those as fully pushed while
  * the rect is not inverted ([[inverted]]); every other filter stays
  * residual, and the rect only prunes for it.
  */
final class BboxFilterAbsorber {
  private var qMinLng = Int.MinValue
  private var qMinLat = Int.MinValue
  private var qMaxLng = Int.MaxValue
  private var qMaxLat = Int.MaxValue
  private var admitsEmpty = true

  private def asInt(v: Any): Option[Int] = v match {
    case n: java.lang.Number =>
      val l = n.longValue()
      Some(math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, l)).toInt)
    case _ => None
  }

  /** True when the filter tightened the rect (see class doc). */
  def absorb(f: Filter): Boolean = f match {
    case And(l, r) =>
      val a = absorb(l); val b = absorb(r); a || b
    case GreaterThanOrEqual(c, v) => lower(c, v)
    case GreaterThan(c, v)        => lower(c, BboxFilterAbsorber.shifted(v, 1))
    case LessThanOrEqual(c, v)    => upper(c, v)
    case LessThan(c, v)           => upper(c, BboxFilterAbsorber.shifted(v, -1))
    case EqualTo(c, v)            => val a = lower(c, v); val b = upper(c, v); a || b
    case _                        => false
  }

  private def lower(col: String, v: Any): Boolean = bound(col, v) { i =>
    if (col.endsWith("_lng")) qMinLng = math.max(qMinLng, i) else qMinLat = math.max(qMinLat, i)
    admitsEmpty &&= onEmpty(col) >= i
  }

  private def upper(col: String, v: Any): Boolean = bound(col, v) { i =>
    if (col.endsWith("_lng")) qMaxLng = math.min(qMaxLng, i) else qMaxLat = math.min(qMaxLat, i)
    admitsEmpty &&= onEmpty(col) <= i
  }

  private def bound(col: String, v: Any)(tighten: Int => Unit): Boolean = asInt(v) match {
    case Some(i) if BboxFilterAbsorber.isMin(col) || BboxFilterAbsorber.isMax(col) =>
      tighten(i); true
    case _ => false
  }

  /** The column's value on an empty geometry's envelope. */
  private def onEmpty(col: String): Int =
    if (BboxFilterAbsorber.isMin(col)) Envelope.empty.minLng else Envelope.empty.maxLng

  /** Tighten the rect from an explicit source (the `bbox` read option);
    * composes with absorbed filters by intersection, like any bound.
    */
  def seed(e: Envelope): Unit = {
    admitsEmpty &&= Envelope.empty.intersects(e)
    qMinLng = math.max(qMinLng, e.minLng); qMinLat = math.max(qMinLat, e.minLat)
    qMaxLng = math.min(qMaxLng, e.maxLng); qMaxLat = math.min(qMaxLat, e.maxLat)
  }

  /** The absorbed bounds as they stand: the world when nothing tightened
    * them, inverted when they contradict.
    */
  def rect: Envelope = Envelope(qMinLng, qMinLat, qMaxLng, qMaxLat)

  /** Contradicting bounds: [[bbox]] widens them to a point, which only
    * prunes, so no filter may be claimed exact.
    */
  def inverted: Boolean = qMinLng > qMaxLng || qMinLat > qMaxLat

  /** The absorbed rect, or None when nothing tightened it or the
    * absorbed filters admit an empty geometry.
    */
  def bbox: Option[Envelope] =
    if (admitsEmpty || (qMinLng == Int.MinValue && qMinLat == Int.MinValue &&
      qMaxLng == Int.MaxValue && qMaxLat == Int.MaxValue)) None
    else Some(Envelope(qMinLng, qMinLat, math.max(qMinLng, qMaxLng), math.max(qMinLat, qMaxLat)))
}

object BboxFilterAbsorber {

  /** An Integer literal moved by `by` (a strict bound made closed), or
    * `v` unchanged when it is no Integer or the move would overflow —
    * then the bound stays the weaker closed one, still a superset.
    */
  private def shifted(v: Any, by: Int): Any = v match {
    case i: java.lang.Integer if (i.longValue + by).isValidInt => Int.box(i + by)
    case _                                                     => v
  }

  /** Whether `f` is exactly sides of the closed-interval intersection
    * test (see the class doc): `max_* >= v`, `min_* <= v`, their strict
    * forms short of overflow, all with an Integer literal, and And()s of
    * those.
    */
  def exact(f: Filter): Boolean = f match {
    case And(l, r)                                   => exact(l) && exact(r)
    case GreaterThanOrEqual(c, _: java.lang.Integer) => isMax(c)
    case GreaterThan(c, v: java.lang.Integer)        => isMax(c) && v != Int.MaxValue
    case LessThanOrEqual(c, _: java.lang.Integer)    => isMin(c)
    case LessThan(c, v: java.lang.Integer)           => isMin(c) && v != Int.MinValue
    case _                                           => false
  }

  private def isMin(col: String): Boolean = col == "min_lng" || col == "min_lat"
  private def isMax(col: String): Boolean = col == "max_lng" || col == "max_lat"

  /** The explicit `bbox` read option: `"minLng,minLat,maxLng,maxLat"` in
    * the engine's scaled 1e-7-degree ints. This is the ONLY channel a
    * STREAMING scan has for the rect — Spark's MicroBatchExecution builds
    * the scan straight off `newScanBuilder(options).build()` and never
    * calls pushFilters (verified against the Spark 4.1 bytecode: no
    * PushDownUtils in MicroBatchExecution) — so `readStream.option
    * ("bbox", ...)` is how a tailing query gets planning-time shard
    * pruning + ranged index reads. Batch reads may pass it too; it
    * intersects with whatever the WHERE-clause absorber tightens.
    * Semantics match the reference's bbox query: the scan emits exactly
    * the features whose envelope intersects the rect (closed intervals).
    */
  def fromOptions(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
  : Option[Envelope] =
    Option(options.get("bbox")).map { s =>
      val p = s.split(',')
      require(p.length == 4,
        s"bbox option must be 'minLng,minLat,maxLng,maxLat' (scaled 1e-7 deg ints); got '$s'")
      val v = p.map(_.trim.toInt)
      require(v(0) <= v(2) && v(1) <= v(3), s"bbox option has min > max: '$s'")
      Envelope(v(0), v(1), v(2), v(3))
    }
}
