package graft.osm.pbf

import org.apache.spark.sql.sources._

/** Source-level filter pushdown for the PBF reader (SURVEY §4.3 item 1).
  *
  * Two effects, both exact-superset-safe (Spark re-evaluates every
  * filter post-scan, so the source may only *skip* rows that provably
  * fail):
  *  - a `type` equality/IN filter skips decoding entire primitive
  *    groups of the excluded kinds (dense-node blocks are the bulk of a
  *    planet file — a ways-only scan never touches them);
  *  - lat/lon range filters drop nodes outside the bbox on their raw
  *    nanodegrees, before any tag is written, with bounds widened by
  *    100 nanodegrees to cover the decimal(·,7) rounding step; non-node
  *    rows are dropped too (their NULL coordinates can never satisfy a
  *    range predicate).
  */
object OsmPbfFilters {

  /** Which filters the source evaluates (they are still returned as
    * residual — Spark's exact re-evaluation keeps semantics airtight).
    */
  def supported(f: Filter): Boolean = f match {
    case EqualTo("type", _: String) => true
    case In("type", _) => true
    case GreaterThan(a, _: Any) if a == "lat" || a == "lon" => true
    case GreaterThanOrEqual(a, _) if a == "lat" || a == "lon" => true
    case LessThan(a, _) if a == "lat" || a == "lon" => true
    case LessThanOrEqual(a, _) if a == "lat" || a == "lon" => true
    case _ => false
  }

  /** Compiled predicate evaluated during decode: the kinds to decode, and
    * the box, in nanodegrees, a node must lie in.
    */
  final case class Compiled(
      keepNodes: Boolean, keepWays: Boolean, keepRelations: Boolean,
      latMin: Long, latMax: Long, lonMin: Long, lonMax: Long) {

    def keepNode(latNano: Long, lonNano: Long): Boolean =
      latNano >= latMin && latNano <= latMax && lonNano >= lonMin && lonNano <= lonMax
  }

  val KeepAll: Compiled = Compiled(
    keepNodes = true, keepWays = true, keepRelations = true,
    Long.MinValue, Long.MaxValue, Long.MinValue, Long.MaxValue)

  // decimal(·,7) rounds at 100 nanodegrees — widen so boundary rows survive
  private val Margin = 100L

  private def nano(v: Any): Long = v match {
    case d: java.math.BigDecimal => d.movePointRight(9).longValue()
    case d: Double => math.round(d * 1e9)
    case f: Float => math.round(f.toDouble * 1e9)
    case i: Int => i.toLong * 1000000000L
    case l: Long => l * 1000000000L
    case s: java.lang.Short => s.toLong * 1000000000L
    case other => throw new IllegalArgumentException(s"bad bound literal $other")
  }

  def compile(filters: Array[Filter]): Compiled = {
    var c = KeepAll
    var coordFiltered = false
    filters.foreach {
      case EqualTo("type", t: String) =>
        c = c.copy(keepNodes = c.keepNodes && t == "node",
          keepWays = c.keepWays && t == "way",
          keepRelations = c.keepRelations && t == "relation")
      case In("type", vs) =>
        val s = vs.collect { case t: String => t }.toSet
        c = c.copy(keepNodes = c.keepNodes && s("node"),
          keepWays = c.keepWays && s("way"),
          keepRelations = c.keepRelations && s("relation"))
      case GreaterThan("lat", v) => c = c.copy(latMin = math.max(c.latMin, nano(v) - Margin)); coordFiltered = true
      case GreaterThanOrEqual("lat", v) => c = c.copy(latMin = math.max(c.latMin, nano(v) - Margin)); coordFiltered = true
      case LessThan("lat", v) => c = c.copy(latMax = math.min(c.latMax, nano(v) + Margin)); coordFiltered = true
      case LessThanOrEqual("lat", v) => c = c.copy(latMax = math.min(c.latMax, nano(v) + Margin)); coordFiltered = true
      case GreaterThan("lon", v) => c = c.copy(lonMin = math.max(c.lonMin, nano(v) - Margin)); coordFiltered = true
      case GreaterThanOrEqual("lon", v) => c = c.copy(lonMin = math.max(c.lonMin, nano(v) - Margin)); coordFiltered = true
      case LessThan("lon", v) => c = c.copy(lonMax = math.min(c.lonMax, nano(v) + Margin)); coordFiltered = true
      case LessThanOrEqual("lon", v) => c = c.copy(lonMax = math.min(c.lonMax, nano(v) + Margin)); coordFiltered = true
      case _ => // unsupported: ignored here, evaluated by Spark
    }
    // a coordinate range can never hold on NULL (way/relation) coords
    if (coordFiltered) c.copy(keepWays = false, keepRelations = false) else c
  }
}
