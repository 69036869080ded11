package perfbench

import graft.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** doc_scan: one client runs passes of queries that each touch every
  * document of a large GeoJSON collection (lineitem-like features) or a
  * large XML collection (orders-like records, GML in half the files and KML
  * in the other half), a spatial grid join against supplier points, and an
  * export of the XML collection through the GeoJSON DSv2 writer. Parsing,
  * flattening, the geometry codecs and the ST_* kernels dominate. */
final class DocScan(val ctx: Ctx) extends Workload {
  private val nLine = if (ctx.mini) 20000 else 80000
  private val nOrd = if (ctx.mini) 6000 else 20000
  private val nSupp = if (ctx.mini) 200 else 1000
  private val files = 8
  private val dir = ctx.dataDir
  private val exportDir = s"${ctx.scratchDir}/export"
  val primary = "query"

  private var exported = false
  /** (op, parameter set) → rows graft returned, for the check. */
  private val results = ArrayBuffer.empty[(String, Int, Seq[Seq[Any]])]

  def generate(spark: SparkSession): Map[String, Any] = {
    val seed = ctx.seed
    val li = Gen.points(spark, nLine, files, seed, 200)
      .withColumn("lkey", col("id") + 1)
      .withColumn("qty", (Gen.pick(seed, 202, 50) + 1).cast("int"))
    li.select("lkey", "qty", "lon", "lat").write.mode("overwrite").parquet(s"$dir/li.parquet")
    li.select(concat(lit("""{"type":"Feature","properties":{"lkey":""""),
        col("lkey").cast("string"), lit("""","qty":""""), col("qty").cast("string"),
        lit(""""},"geometry":{"type":"Point","coordinates":["""), col("lon_s"), lit(","),
        col("lat_s"), lit("]}}"))).write.mode("overwrite").text(s"$dir/li_geo")
    val ord = Gen.points(spark, nOrd, files, seed, 400)
      .withColumn("okey", col("id") + 1)
      .withColumn("status", element_at(typedLit(Seq("F", "O", "P")),
        (Gen.pick(seed, 402, 3) + 1).cast("int")))
      .withColumn("total", format_string("%.2f", Gen.u(seed, 403) * 1000))
      .withColumn("kml", spark_partition_id() % 2 === 1)
    ord.select(col("okey"), col("status"), col("total").cast("double"), col("lon"), col("lat"),
        col("kml")).write.mode("overwrite").parquet(s"$dir/ord.parquet")
    val fields = concat(Gen.tag("okey", col("okey").cast("string")),
      Gen.tag("status", col("status")), Gen.tag("total", col("total")))
    Gen.writeDocs(ord.select(concat(lit("<rec>"), fields,
        when(col("kml"), Gen.kmlPoint(col("lon_s"), col("lat_s")))
          .otherwise(Gen.gmlPoint(col("lon_s"), col("lat_s"))), lit("</rec>"))),
      s"$dir/ord_xml",
      p => if (p % 2 == 1) """<kml xmlns="http://www.opengis.net/kml/2.2"><Document>""" else "<orders>",
      p => if (p % 2 == 1) "</Document></kml>" else "</orders>")
    Gen.suppliers(spark, seed, nSupp, dir)
    val (lb, lf) = Gen.du(s"$dir/li_geo", dataOnly = true)
    val (ob, of) = Gen.du(s"$dir/ord_xml", dataOnly = true)
    Map("li_geo_docs" -> nLine, "li_geo_bytes" -> lb, "li_geo_files" -> lf,
      "ord_xml_docs" -> nOrd, "ord_xml_bytes" -> ob, "ord_xml_files" -> of,
      "ord_xml_kml_files" -> files / 2, "supp_xml_docs" -> nSupp)
  }

  /** A pass's parameters: a point and radius, a wide envelope, a join radius. */
  private final case class Params(px: Double, py: Double, r: Double,
                                  x0: Double, y0: Double, x1: Double, y1: Double, rj: Double) {
    def env = s"ST_MakeEnvelope($x0, $y0, $x1, $y1)"
    def envSql = s"lon > $x0 AND lon < $x1 AND lat > $y0 AND lat < $y1"
    def dist = s"sqrt((lon - $px) * (lon - $px) + (lat - $py) * (lat - $py))"
  }

  private lazy val params: IndexedSeq[Params] = {
    val r = new java.util.SplittableRandom(ctx.seed * 104729 + 5)
    def c(lo: Double, span: Double) = lo + math.floor(r.nextDouble() * span * 1e4) / 1e4 + 0.00005
    IndexedSeq.fill(3)(Params(c(-150, 300), c(-70, 140), 30.000013,
      c(-180, 20), c(-90, 15), c(160, 20), c(75, 15), 2.000017))
  }

  /** The pass's queries: (name, SQL through graft, expected plain SQL, docs touched). */
  private def queries(p: Params): Seq[(String, String, String, Long)] = Seq(
    ("distance",
      s"""SELECT count(*) AS n, sum(CASE WHEN ST_Distance(geometry, ST_Point(${p.px}, ${p.py})) < ${p.r}
         |THEN 1 ELSE 0 END) AS near, max(ST_X(geometry)) AS mx FROM li_geo""".stripMargin,
      s"SELECT count(*), sum(CASE WHEN ${p.dist} < ${p.r} THEN 1 ELSE 0 END), max(lon) FROM li",
      nLine),
    ("envelope",
      s"SELECT count(*) AS n, sum(CAST(qty AS INT)) AS q FROM li_geo WHERE ST_Within(geometry, ${p.env})",
      s"SELECT count(*), sum(qty) FROM li WHERE ${p.envSql}", nLine),
    ("xml_group",
      s"""SELECT status, count(*) AS n,
         |sum(CASE WHEN ST_DWithin(geometry, ST_Point(${p.px}, ${p.py}), ${p.r}) THEN 1 ELSE 0 END) AS near
         |FROM ord_xml WHERE ST_Within(geometry, ${p.env}) GROUP BY status""".stripMargin,
      s"""SELECT status, count(*), sum(CASE WHEN ${p.dist} <= ${p.r} THEN 1 ELSE 0 END)
         |FROM ord WHERE ${p.envSql} GROUP BY status""".stripMargin, nOrd),
    ("spatial_join",
      s"""SELECT count(*) AS n, sum(CAST(o.okey AS BIGINT)) AS ks
         |FROM ord_xml o JOIN supp_xml s ON ST_DWithin(o.geometry, s.geometry, ${p.rj})""".stripMargin,
      // plain grid join: each supplier is copied into its 3x3 cell block
      s"""SELECT count(*), sum(o.okey) FROM
         |(SELECT okey, lon, lat, floor(lon / ${p.rj}) AS cx, floor(lat / ${p.rj}) AS cy FROM ord) o
         |JOIN (SELECT lon, lat, floor(lon / ${p.rj}) + dx AS cx, floor(lat / ${p.rj}) + dy AS cy
         |      FROM supp LATERAL VIEW explode(array(-1, 0, 1)) a AS dx
         |                LATERAL VIEW explode(array(-1, 0, 1)) b AS dy) s
         |ON o.cx = s.cx AND o.cy = s.cy
         |WHERE sqrt((o.lon - s.lon) * (o.lon - s.lon) + (o.lat - s.lat) * (o.lat - s.lat)) <= ${p.rj}""".stripMargin,
      nOrd + nSupp))

  override def setup(spark: SparkSession): Unit = {
    spark.read.format("graft-geojson").option("multiLine", "false")
      .option("columns", "lkey,qty").load(s"$dir/li_geo").createOrReplaceTempView("li_geo")
    spark.read.format("graft-xml").option("recordTag", "rec")
      .option("columns", "okey,status,total").load(s"$dir/ord_xml").createOrReplaceTempView("ord_xml")
    Gen.readSuppliers(spark, dir).createOrReplaceTempView("supp_xml")
  }

  private def export(spark: SparkSession): Unit =
    spark.table("ord_xml").select("okey", "status", "geometry")
      .write.format("graft-geojson").mode("overwrite").save(exportDir)

  /** One GeoJSON and one XML query. */
  def warmup(spark: SparkSession): Unit =
    queries(params(0)).filter(q => q._1 == "distance" || q._1 == "xml_group")
      .foreach { case (_, sql, _, _) => Graft.processQuery(spark, sql) }

  /** Two untimed passes: the first passes after start-up run slower. */
  override def prepare(spark: SparkSession): Unit =
    loop(spark, new Recorder, Long.MaxValue, 10)

  def loop(spark: SparkSession, rec: Recorder, deadlineNs: Long, maxOps: Int): Unit = {
    // a pass is 4 queries and the export; the loop may stop inside a pass
    var op = 0
    while (op < maxOps && System.nanoTime() < deadlineNs) {
      val pi = (op / 5) % params.size
      queries(params(pi)).lift(op % 5) match {
        case Some((name, sql, _, docs)) =>
          val span = if (name == "spatial_join") "operators.spatial_join" else s"doc_scan.$name"
          rec.attempt(primary, docs) {
            Trace.span(span)(Graft.processQuery(spark, sql).rows.toSeq.map(_.toSeq))
          }.foreach(rows => results += ((name, pi, rows)))
        case None =>
          rec.attempt(primary, nOrd)(Trace.span("sources.write")(export(spark)))
          exported = true
      }
      op += 1
    }
  }

  def check(spark: SparkSession): Int = {
    val tables = Seq("li", "ord", "supp").map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet").cache()
      df.createOrReplaceTempView(t)
      df
    }
    val asked = results.map(r => (r._1, r._2)).distinct.toIndexedSeq
    val expected = asked.zip(Check.rowsOfAll(spark, asked.map { case (name, pi) =>
      queries(params(pi)).find(_._1 == name).get._3 })).toMap
    val wrong = results.toSeq.map { case (name, pi, rows) =>
      val d = Check.diff(expected((name, pi)), rows, ordered = false)
      d.foreach(m => System.err.println(s"perfbench: doc_scan $name wrong: $m"))
      d.size
    }.sum
    results.clear()
    if (!exported) { tables.foreach(_.unpersist()); return wrong }
    // the last export: one feature line per record, each at its record's point
    val out = spark.read.text(exportDir).select(
      get_json_object(col("value"), "$.properties.okey").cast("long").as("okey"),
      get_json_object(col("value"), "$.geometry.coordinates[0]").cast("double").as("x"),
      get_json_object(col("value"), "$.geometry.coordinates[1]").cast("double").as("y"))
    val n = out.count()
    val bad = out.join(spark.table("ord"), Seq("okey"), "full_outer")
      .where(!(col("x") <=> col("lon")) || !(col("y") <=> col("lat"))).count()
    if (n != nOrd || bad != 0)
      System.err.println(s"perfbench: doc_scan export wrong: $n features for $nOrd records, $bad differ")
    tables.foreach(_.unpersist())
    wrong + (if (n != nOrd || bad != 0) 1 else 0)
  }

  def report(rec: Recorder, wallS: Double): Seq[(String, Double, String)] = {
    val ops = rec.ops(primary)
    Seq(("latency_p50_ms", Stats.p50(ops.map(_.ms)), "ms"),
      ("throughput_docs_s", ops.map(_.items).sum / wallS, "docs/s"))
  }

  /** Rows per second of `expr` aggregated over a cached column. */
  private def rate(df: DataFrame, n: Long, expr: String): Double = {
    val ms = (0 until 3).map(_ => Timed("geo.kernel")(df.selectExpr(expr).collect()).ms)
    n / Stats.p50(ms) * 1000
  }

  def layers(spark: SparkSession, spans: Seq[Trace.Span], jl: JobListener): Map[String, Double] = {
    def spanP50(name: String) = Stats.p50(spans.filter(_.name == name).map(_.ms))
    val gj = spark.read.text(s"$dir/li_geo")
      .select(get_json_object(col("value"), "$.geometry").as("g")).cache()
    val ord = spark.read.parquet(s"$dir/ord.parquet")
    val (x, y) = (col("lon").cast("string"), col("lat").cast("string"))
    val gml = ord.select(Gen.gmlPoint(x, y).as("g")).cache()
    val kml = ord.select(Gen.kmlPoint(x, y).as("g")).cache()
    val wkb = spark.table("li_geo").select("geometry").cache()
    Seq(gj, gml, kml, wkb).foreach(_.count())
    def scan(view: String, n: Long) = {
      val ms = (0 until 2).map(_ => Timed("sources.scan")(
        spark.table(view).write.format("noop").mode("overwrite").save()).ms)
      n / Stats.p50(ms) * 1000
    }
    val planned = queries(params(0)).filter(q => q._1 == "envelope" || q._1 == "xml_group")
    val bbox = planned.count(q => spark.sql(q._2).queryExecution.executedPlan.toString.contains("bbox:"))
    val m = Map(
      "sources.geojson_scan_docs_s" -> scan("li_geo", nLine),
      "sources.xml_scan_docs_s" -> scan("ord_xml", nOrd),
      "sources.write_docs_s" -> nOrd / spanP50("sources.write") * 1000,
      "geo.geojson_parse_rows_s" -> rate(gj, nLine, "sum(length(ST_GeomFromGeoJSON(g)))"),
      "geo.gml_parse_rows_s" -> rate(gml, nOrd, "sum(length(ST_GeomFromGML(g)))"),
      "geo.kml_parse_rows_s" -> rate(kml, nOrd, "sum(length(ST_GeomFromKML(g)))"),
      "geo.asgeojson_rows_s" -> rate(wkb, nLine, "sum(length(ST_AsGeoJSON(geometry)))"),
      "functions.st_distance_rows_s" -> rate(wkb, nLine, "sum(ST_Distance(geometry, ST_Point(0.5, 0.5)))"),
      "functions.st_within_rows_s" -> rate(wkb, nLine,
        "sum(CASE WHEN ST_Within(geometry, ST_MakeEnvelope(-100.0, -50.0, 100.0, 50.0)) THEN 1 ELSE 0 END)"),
      "functions.st_dwithin_rows_s" -> rate(wkb, nLine,
        "sum(CASE WHEN ST_DWithin(geometry, ST_Point(0.5, 0.5), 60.0) THEN 1 ELSE 0 END)"),
      "operators.spatial_join_ms" -> spanP50("operators.spatial_join"),
      "plans.bbox_pushdown_frac" -> bbox.toDouble / planned.size)
    Seq(gj, gml, kml, wkb).foreach(_.unpersist())
    m
  }
}
