package perfbench

import com.sun.net.httpserver.HttpServer
import graft.Graft
import graft.server.SqlHttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** geo_serve: closed-loop clients POST SQL to an in-process SqlHttpServer
  * over loopback. Small GeoJSON and XML collections, small results: the
  * fixed cost per request (HTTP, analysis, graft's plan rules, job
  * scheduling, FeatureCollection output) dominates. */
final class GeoServe(val ctx: Ctx, clients: Int) extends Workload with AdaptiveSparkPlanHelper {
  private val nCust = if (ctx.mini) 3000 else 15000
  private val nSupp = if (ctx.mini) 200 else 1000
  private val dir = ctx.dataDir
  val primary = "request"

  private var server: HttpServer = _
  private val responses = new ConcurrentLinkedQueue[(Int, String)]()

  /** One request of the mix: its SQL, the plain-SQL expected answer over
    * the parquet tables, and whether row order is part of the answer. */
  final case class Req(shape: String, sql: String, expected: String, ordered: Boolean,
                       spatial: Boolean)

  def generate(spark: SparkSession): Map[String, Any] = {
    val seed = ctx.seed
    val c = Gen.points(spark, nCust, 4, seed, 100)
      .withColumn("name", format_string("Customer#%09d", col("id") + 1))
      .withColumn("nk", Gen.pick(seed, 102, 25).cast("string"))
      .withColumn("seg", element_at(typedLit(Gen.Segments),
        (Gen.pick(seed, 103, Gen.Segments.size) + 1).cast("int")))
    c.select("name", "nk", "seg", "lon", "lat").write.mode("overwrite")
      .parquet(s"$dir/cust.parquet")
    c.select(concat(lit("""{"type":"Feature","properties":{"name":""""), col("name"),
        lit("""","nk":""""), col("nk"), lit("""","seg":""""), col("seg"),
        lit(""""},"geometry":{"type":"Point","coordinates":["""), col("lon_s"), lit(","),
        col("lat_s"), lit("]}}"))).write.mode("overwrite").text(s"$dir/cust_geo")
    Gen.suppliers(spark, seed, nSupp, dir)
    val (cb, cf) = Gen.du(s"$dir/cust_geo", dataOnly = true)
    val (sb, sf) = Gen.du(s"$dir/supp_xml", dataOnly = true)
    Map("cust_geo_docs" -> nCust, "cust_geo_bytes" -> cb, "cust_geo_files" -> cf,
      "supp_xml_docs" -> nSupp, "supp_xml_bytes" -> sb, "supp_xml_files" -> sf,
      "clients" -> clients, "distinct_requests" -> requests.size)
  }

  /** The seeded request list: 4 parameter sets of 7 shapes, interleaved. */
  lazy val requests: IndexedSeq[Req] = {
    val r = new java.util.SplittableRandom(ctx.seed * 7919 + 17)
    def c4(lo: Double, span: Double) = lo + math.floor(r.nextDouble() * span * 1e4) / 1e4 + 0.00005
    (0 until 4).flatMap { _ =>
      val (x0, y0) = (c4(-170, 330), c4(-80, 150))
      val (w, h) = (10, 8)
      val env = s"ST_MakeEnvelope($x0, $y0, ${x0 + w}, ${y0 + h})"
      val envSql = s"lon > $x0 AND lon < ${x0 + w} AND lat > $y0 AND lat < ${y0 + h}"
      val (px, py) = (c4(-170, 340), c4(-80, 160))
      val rad = 5.000013
      val dist = s"sqrt((lon - $px) * (lon - $px) + (lat - $py) * (lat - $py))"
      val name = f"Customer#${1 + r.nextInt(nCust)}%09d"
      val nk = r.nextInt(25)
      val seg = Gen.Segments(r.nextInt(Gen.Segments.size))
      val (sx0, sy0) = (c4(-175, 250), c4(-85, 100))
      val senv = s"ST_MakeEnvelope($sx0, $sy0, ${sx0 + 100}, ${sy0 + 70})"
      val senvSql = s"lon > $sx0 AND lon < ${sx0 + 100} AND lat > $sy0 AND lat < ${sy0 + 70}"
      val geo = "name, ST_AsGeoJSON(geometry) AS st_asgeojson FROM cust_geo"
      Seq(
        Req("within", s"SELECT $geo WHERE ST_Within(geometry, $env)",
          s"SELECT name, lon, lat FROM cust WHERE $envSql", ordered = false, spatial = true),
        Req("dwithin", s"SELECT $geo WHERE ST_DWithin(geometry, ST_Point($px, $py), $rad)",
          s"SELECT name, lon, lat FROM cust WHERE $dist <= $rad", ordered = false, spatial = true),
        Req("distance", s"SELECT $geo WHERE ST_Distance(geometry, ST_Point($px, $py)) < $rad",
          s"SELECT name, lon, lat FROM cust WHERE $dist < $rad", ordered = false, spatial = true),
        Req("attr_eq", s"SELECT name, nk, seg FROM cust_geo WHERE name = '$name' LIMIT 5",
          s"SELECT name, nk, seg FROM cust WHERE name = '$name'", ordered = false, spatial = false),
        Req("group_count", s"SELECT seg, count(*) AS n FROM cust_geo WHERE nk = '$nk' GROUP BY seg",
          s"SELECT seg, count(*) AS n FROM cust WHERE nk = '$nk' GROUP BY seg",
          ordered = false, spatial = false),
        Req("order_limit",
          s"SELECT name, nk FROM cust_geo WHERE seg = '$seg' ORDER BY name DESC LIMIT 10",
          s"SELECT name, nk FROM cust WHERE seg = '$seg' ORDER BY name DESC LIMIT 10",
          ordered = true, spatial = false),
        Req("join",
          s"""SELECT c.name, s.sname FROM cust_geo c JOIN supp_xml s ON c.nk = s.nk
             |WHERE ST_Within(c.geometry, $env) AND ST_Within(s.geometry, $senv)""".stripMargin,
          s"""SELECT c.name, s.sname FROM (SELECT * FROM cust WHERE $envSql) c
             |JOIN (SELECT * FROM supp WHERE $senvSql) s ON c.nk = s.nk""".stripMargin,
          ordered = false, spatial = true))
    }
  }

  override def setup(spark: SparkSession): Unit = {
    spark.read.format("graft-geojson").option("multiLine", "false")
      .option("columns", "name,nk,seg").load(s"$dir/cust_geo")
      .createOrReplaceTempView("cust_geo")
    Gen.readSuppliers(spark, dir).createOrReplaceTempView("supp_xml")
    server = SqlHttpServer.start(spark, port = 0)
  }

  private def client() = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def post(http: HttpClient, sql: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/query"))
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())

  def warmup(spark: SparkSession): Unit = {
    val http = client()
    // one spatial shape projecting GeoJSON, one aggregate, the join
    Seq(0, 4, 6).foreach(i => post(http, requests(i).sql))
  }

  /** Two untimed rounds of the request list: latency keeps falling for
    * the first hundred or so requests after start-up. */
  override def prepare(spark: SparkSession): Unit =
    loop(spark, new Recorder, Long.MaxValue, 2 * requests.size)

  def loop(spark: SparkSession, rec: Recorder, deadlineNs: Long, maxOps: Int): Unit = {
    val next = new AtomicInteger()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val http = client()
        var i = next.getAndIncrement()
        while (i < maxOps && System.nanoTime() < deadlineNs) {
          val qi = i % requests.size
          rec.attempt(primary, 1) {
            Trace.span("server.http", req = s"r$i") {
              val resp = post(http, requests(qi).sql)
              if (resp.statusCode != 200) sys.error(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
              responses.add(qi -> resp.body)
            }
          }
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def check(spark: SparkSession): Int = {
    val tables = Seq("cust", "supp").map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet").cache()
      df.createOrReplaceTempView(t)
      df
    }
    val expected = Check.rowsOfAll(spark, requests.map(_.expected))
    tables.foreach(_.unpersist())
    val wrong = responses.asScala.toSeq.map { case (qi, body) =>
      val q = requests(qi)
      val problem = Check.responseRows(body) match {
        case Left(err) => Some(err)
        case Right(rows) => Check.diff(expected(qi), rows, q.ordered)
      }
      problem.foreach(p => System.err.println(s"perfbench: geo_serve ${q.shape} wrong: $p"))
      problem.size
    }.sum
    responses.clear()
    wrong
  }

  def report(rec: Recorder, wallS: Double): Seq[(String, Double, String)] = {
    val ms = rec.ops(primary).map(_.ms)
    Seq(("throughput_qps", ms.size / wallS, "req/s"),
      ("latency_p50_ms", Stats.p50(ms), "ms"), ("latency_p90_ms", Stats.pct(ms, 0.9), "ms"))
  }

  /** Sequential probes over the request list: HTTP round trips, then the
    * same requests through `Graft.processQuery` in process (job group set
    * per request, so the listener sees their jobs), then planning alone. */
  def layers(spark: SparkSession, spans: Seq[Trace.Span], jl: JobListener): Map[String, Double] = {
    val http = client()
    val list = requests
    val bodies = list.map(q => Timed("server.http_seq")(post(http, q.sql).body))
    val inproc = list.map(q => q -> Timed("server.process_query")(Graft.processQuery(spark, q.sql, 1000)))
    val httpMs = bodies.map(_.ms)
    val procSpans = inproc.map(_._2)
    val scanOut = inproc.map { case (_, t) =>
      collectWithSubqueries(t.value.df.queryExecution.executedPlan) { case s: BatchScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum.toDouble
    }
    val returned = inproc.map(_._2.value.rows.length.toDouble)
    val spatial = inproc.filter(_._1.spatial)
    val bbox = spatial.count { case (_, t) => t.value.df.queryExecution.executedPlan.toString.contains("bbox:") }
    val phases = list.map { q =>
      val df = spark.sql(q.sql)
      val analysis = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      val limited = df.limit(1000)
      limited.queryExecution.executedPlan
      val t = limited.queryExecution.tracker
      val graftRulesNs = t.rules.collect { case (n, s) if n.startsWith("graft.plans") => s.totalTimeNs }.sum
      (analysis.toDouble, t.phases.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0),
        t.phases.get("planning").map(_.durationMs.toDouble).getOrElse(0.0), graftRulesNs / 1e6)
    }
    Map(
      "server.http_overhead_ms" -> (Stats.p50(httpMs) - Stats.p50(procSpans.map(_.ms))),
      "server.response_kb" -> Stats.mean(bodies.map(_.value.getBytes("UTF-8").length / 1024.0)),
      "plan.analyze_ms" -> Stats.mean(phases.map(_._1)),
      "plan.optimize_ms" -> Stats.mean(phases.map(_._2)),
      "plan.physical_ms" -> Stats.mean(phases.map(_._3)),
      "plans.graft_rules_ms" -> Stats.mean(phases.map(_._4)),
      "plans.bbox_pushdown_frac" -> bbox.toDouble / math.max(1, spatial.size),
      "sources.rows_out_per_row_returned" -> scanOut.sum / math.max(1.0, returned.sum),
      "spark.driver_gap_ms" -> Stats.mean(procSpans.map(s => jl.idleMs(s.startMs, s.endMs).toDouble)))
  }

  override def teardown(spark: SparkSession): Unit = {
    if (server != null) server.stop(0)
    server = null
  }
}
