package graft.sources

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry

/** Three-valued (SQL) evaluation of source filters against a flattened
  * string-column record map — shared by the graft-xml and graft-geojson
  * DSv2 scans. `null` = unknown; a record survives only on TRUE, identical
  * to Spark's post-scan Filter semantics, which is what makes it sound for
  * the sources to report these filters as fully pushed. */
private[sources] object StringFilterEval {

  /** Largest IN value list a filter may carry into a server-side
    * selector/query text. Runtime (DPP) filters can deliver a
    * broadcast-sized dimension's whole key set — a 100k-item XQuery
    * sequence or Mango `$or` can exceed server request limits (Mongo
    * caps command documents at 16MB) or be pathologically slow to
    * compile. An over-cap filter simply stays OFF the wire: the local
    * re-apply already evaluates it, so the scan degrades to transfer
    * cost, never to a wrong result. */
  val MaxWireInValues = 1000

  /** Whether a filter is small enough to serialize into a wire request. */
  def wireSafe(f: Filter): Boolean = f match {
    case org.apache.spark.sql.sources.In(_, vs) => vs.length <= MaxWireInValues
    case org.apache.spark.sql.sources.And(l, r) => wireSafe(l) && wireSafe(r)
    case org.apache.spark.sql.sources.Or(l, r)  => wireSafe(l) && wireSafe(r)
    case org.apache.spark.sql.sources.Not(c)    => wireSafe(c)
    case _ => true
  }

  /** Parses a `bbox` source option ("x0,y0,x1,y1") into an envelope test
    * over a record's geometry: keep when the geometry's envelope
    * intersects the box (records without geometry, `null`, are dropped —
    * spatial-selection semantics, mirroring the reference pushing
    * geo:within/intersects into its backend query). */
  def bboxTest(spec: String): Geometry => Boolean = {
    // sentinel written by SpatialFilterPushdown when the WHERE clause's
    // spatial constraints are provably unsatisfiable (disjoint envelopes)
    if (spec == "empty") return _ => false
    val parts = spec.split(",").map(_.trim.toDouble)
    require(parts.length == 4, s"bbox must be 'x0,y0,x1,y1', got: $spec")
    val env = new org.locationtech.jts.geom.Envelope(parts(0), parts(2), parts(1), parts(3))
    g => g != null && g.getEnvelopeInternal.intersects(env)
  }

  /** [[bboxTest]] over a record's WKB geometry, for the scans whose
    * records carry WKB already (graft-xml). */
  def bboxPredicate(spec: String): Option[Array[Byte]] => Boolean = {
    val keep = bboxTest(spec)
    wkb => wkb.exists(bytes => keep(graft.geo.GeomSerde.fromWkb(bytes)))
  }

  private def isStr(v: Any): Boolean = v.isInstanceOf[String]

  /** Supported = decidable on string columns (never the binary `geometry`). */
  def supports(f: Filter): Boolean = f.references.forall(_ != "geometry") && (f match {
    case EqualTo(_, v)        => isStr(v)
    case EqualNullSafe(_, v)  => v == null || isStr(v)
    case GreaterThan(_, v)    => isStr(v)
    case GreaterThanOrEqual(_, v) => isStr(v)
    case LessThan(_, v)       => isStr(v)
    case LessThanOrEqual(_, v) => isStr(v)
    case In(_, vs)            => vs.forall(v => v == null || isStr(v))
    case IsNull(_) | IsNotNull(_) => true
    case StringStartsWith(_, _) | StringEndsWith(_, _) | StringContains(_, _) => true
    case And(l, r)            => supports(l) && supports(r)
    case Or(l, r)             => supports(l) && supports(r)
    case Not(c)               => supports(c)
    case _                    => false
  })

  /** Spark's StringType ordering = UTF-8 binary order (NOT Java
    * String.compareTo, which diverges on supplementary characters). */
  private def cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private val T = java.lang.Boolean.TRUE
  private val F = java.lang.Boolean.FALSE

  def passes(f: Filter, m: scala.collection.Map[String, String]): Boolean =
    eval(f, m) eq T

  /** A flattened map may hold explicit nulls (JSON `null` properties):
    * both a missing key and a null value are SQL NULL. */
  private def get(m: scala.collection.Map[String, String], a: String): Option[String] =
    m.get(a) match {
      case Some(null) => None
      case other      => other
    }

  private def withVal(m: scala.collection.Map[String, String], a: String)
                     (p: String => Boolean): java.lang.Boolean =
    get(m, a) match {
      case Some(x) => if (p(x)) T else F
      case None    => null // SQL: comparison with NULL is unknown
    }

  private def eval(f: Filter, m: scala.collection.Map[String, String]): java.lang.Boolean = f match {
    case EqualTo(a, v)            => withVal(m, a)(x => cmp(x, v.asInstanceOf[String]) == 0)
    case EqualNullSafe(a, v)      =>
      val x = get(m, a)
      if (v == null) (if (x.isEmpty) T else F)
      else if (x.isEmpty) F
      else if (cmp(x.get, v.asInstanceOf[String]) == 0) T else F
    case GreaterThan(a, v)        => withVal(m, a)(x => cmp(x, v.asInstanceOf[String]) > 0)
    case GreaterThanOrEqual(a, v) => withVal(m, a)(x => cmp(x, v.asInstanceOf[String]) >= 0)
    case LessThan(a, v)           => withVal(m, a)(x => cmp(x, v.asInstanceOf[String]) < 0)
    case LessThanOrEqual(a, v)    => withVal(m, a)(x => cmp(x, v.asInstanceOf[String]) <= 0)
    case In(a, vs)                =>
      get(m, a) match {
        case Some(x) =>
          if (vs.exists(v => v != null && cmp(x, v.asInstanceOf[String]) == 0)) T
          else if (vs.contains(null)) null // x IN (…, NULL) is unknown when unmatched
          else F
        case None => null
      }
    case IsNull(a)                => if (get(m, a).isEmpty) T else F
    case IsNotNull(a)             => if (get(m, a).isDefined) T else F
    case StringStartsWith(a, v)   => withVal(m, a)(_.startsWith(v))
    case StringEndsWith(a, v)     => withVal(m, a)(_.endsWith(v))
    case StringContains(a, v)     => withVal(m, a)(_.contains(v))
    case And(l, r) =>
      val x = eval(l, m); val y = eval(r, m)
      if ((x eq F) || (y eq F)) F else if ((x eq T) && (y eq T)) T else null
    case Or(l, r) =>
      val x = eval(l, m); val y = eval(r, m)
      if ((x eq T) || (y eq T)) T else if ((x eq F) && (y eq F)) F else null
    case Not(c) =>
      val x = eval(c, m)
      if (x == null) null else if (x eq T) F else T
    case _ => null // unreachable: supports() gated
  }
}
