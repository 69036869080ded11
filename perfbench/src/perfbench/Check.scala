package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Answer comparison. Expected answers come from plain Spark SQL over the
  * generated parquet tables; actual answers are what graft returned. Values
  * compare in a canonical text form: integral numbers exactly, fractional
  * numbers rounded to 6 decimals, so `5`, `5L` and `5.0` agree and a sum
  * that differs only in its last binary digits (summation order) agrees. */
object Check {
  private val mapper = new ObjectMapper()

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case b: BigDecimal => canon(b.toDouble)
    case n: java.lang.Number => n.longValue.toString
    case s: String => s
    case other => other.toString
  }

  /** None when `actual` holds the same rows as `expected` (in the same
    * order when `ordered`), else a short description of a difference. */
  def diff(expected: Seq[Seq[Any]], actual: Seq[Seq[Any]],
           ordered: Boolean): Option[String] = {
    val e = expected.map(_.map(canon))
    val a = actual.map(_.map(canon))
    def show(r: Seq[String]) = r.mkString("(", ", ", ")")
    if (ordered) {
      if (e == a) None
      else if (e.size != a.size) Some(s"expected ${e.size} rows, got ${a.size}")
      else e.zip(a).collectFirst { case (x, y) if x != y =>
        s"row mismatch: expected ${show(x)}, got ${show(y)}" }
    } else {
      val ec = e.groupBy(identity).view.mapValues(_.size).toMap
      val ac = a.groupBy(identity).view.mapValues(_.size).toMap
      if (ec == ac) None
      else {
        val missing = ec.keys.find(k => ac.getOrElse(k, 0) < ec(k))
        val extra = ac.keys.find(k => ec.getOrElse(k, 0) < ac(k))
        Some(s"expected ${e.size} rows, got ${a.size}" +
          missing.map(r => s"; missing ${show(r)}").getOrElse("") +
          extra.map(r => s"; unexpected ${show(r)}").getOrElse(""))
      }
    }
  }

  def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Rows of several plain SQL queries, one result per query in the order
    * of `sqls`, run as concurrent Spark jobs from a few threads. */
  def rowsOfAll(spark: org.apache.spark.sql.SparkSession, sqls: Seq[String]): IndexedSeq[Seq[Seq[Any]]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = sqls.map(q => pool.submit(() => rowsOf(spark.sql(q))))
      futures.map(_.get()).toIndexedSeq
    } finally pool.shutdown()
  }

  def json(text: String): JsonNode = mapper.readTree(text)

  def value(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.longValue
    else if (n.isNumber) n.doubleValue
    else if (n.isTextual) n.textValue
    else n.toString

  /** `[x, y]` of a GeoJSON Point geometry text or node. */
  def pointXY(g: JsonNode): (Double, Double) = {
    val c = g.get("coordinates")
    (c.get(0).doubleValue, c.get(1).doubleValue)
  }

  /** Rows of a `/query` response, with a GeoJSON text column expanded to
    * its point coordinates. Also checks the FeatureCollection, when the
    * response carries one, against the rows. */
  def responseRows(body: String): Either[String, Seq[Seq[Any]]] = {
    val root = json(body)
    if (root.has("error")) return Left(s"error response: ${root.get("error").asText}")
    val cols = root.get("columns").elements().asScala.map(_.asText).toIndexedSeq
    val gi = cols.indexWhere(_.equalsIgnoreCase("st_asgeojson"))
    val rows = root.get("rows").elements().asScala.map { r =>
      val cells = r.elements().asScala.map(value).toIndexedSeq
      if (gi < 0) cells
      else {
        val (x, y) = pointXY(json(String.valueOf(cells(gi))))
        cells.patch(gi, Seq(x, y), 1)
      }
    }.toIndexedSeq
    if (gi >= 0) {
      val fc = root.get("geojson")
      if (fc == null) return Left("geometry projected but no FeatureCollection returned")
      val feats = fc.get("features").elements().asScala.toIndexedSeq
      if (feats.size != rows.size)
        return Left(s"FeatureCollection has ${feats.size} features for ${rows.size} rows")
      val fx = feats.map(f => pointXY(f.get("geometry"))).map { case (x, y) => Seq(canon(x), canon(y)) }
      val rx = rows.map(r => Seq(canon(r(gi)), canon(r(gi + 1))))
      if (fx.sortBy(_.mkString(",")) != rx.sortBy(_.mkString(",")))
        return Left("FeatureCollection coordinates differ from the rows")
    }
    Right(rows)
  }
}
