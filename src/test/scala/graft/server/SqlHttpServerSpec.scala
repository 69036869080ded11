package graft.server

import graft.SparkTestBase

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

class SqlHttpServerSpec extends SparkTestBase {

  private lazy val server = {
    val s = SqlHttpServer.start(spark, port = 0, maxRows = 100)
    sys.addShutdownHook(s.stop(0))
    s
  }
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("health endpoint") {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && r.body().contains("\"ok\""))
  }

  test("POST /query runs spatial SQL and returns rows") {
    val r = post("/query",
      "SELECT ST_X(ST_Point(3.0, 4.0)) AS x, ST_Distance(ST_Point(0.0, 0.0), ST_Point(3.0, 4.0)) AS d")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"columns\":[\"x\",\"d\"]"), r.body())
    assert(r.body().contains("[3.0,5.0]"), r.body())
  }

  test("ST_AsGeoJSON projection adds a FeatureCollection") {
    val r = post("/query",
      "SELECT 'poi' AS name, ST_AsGeoJSON(ST_Point(107.6, -6.9)) AS st_asgeojson")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"geojson\":{\"type\":\"FeatureCollection\""), r.body())
    assert(r.body().contains("107.6"), r.body())
  }

  test("maxRows caps the GeoJSON FeatureCollection, not just the tabular rows") {
    // 5000-point result against a maxRows=100 server: the tabular rows AND
    // the FeatureCollection must both carry exactly 100 entries — the
    // conversion collects to the driver, so an uncapped geojson branch
    // would materialize all 5000 (and OOM at scale).
    val r = post("/query",
      "SELECT v AS id, ST_AsGeoJSON(ST_Point(CAST(v AS DOUBLE) / 100.0, 1.0)) AS st_asgeojson " +
        "FROM (SELECT explode(sequence(1, 5000)) AS v)")
    assert(r.statusCode() == 200, r.body().take(300))
    val nFeatures = "\"type\":\"Feature\"".r.findAllIn(r.body()).length
    assert(nFeatures == 100, s"expected 100 features, got $nFeatures")
    // tabular branch agrees with the geojson branch: row ids run 1..100
    assert(r.body().contains("[100,"), "row id 100 missing")
    assert(!r.body().contains("[101,"), "row id 101 leaked past maxRows")
  }

  test("a slow query does not block /health (thread-pool executor)") {
    val slow = new Thread(() => post("/query",
      // ~heavy enough to take a moment, cheap enough to finish quickly
      "SELECT count(*) AS n FROM (SELECT explode(sequence(1, 2000000)) AS v) WHERE v % 7 = 0"))
    slow.start()
    Thread.sleep(50) // let the slow query occupy a worker
    val t0 = System.nanoTime()
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    val ms = (System.nanoTime() - t0) / 1e6
    assert(r.statusCode() == 200)
    assert(ms < 2000, s"health took $ms ms while a query was running")
    slow.join(30000)
  }

  test("authToken: 401 without the bearer header, 200 with it; health stays open") {
    val s = SqlHttpServer.start(spark, port = 0, authToken = Some("s3cret"))
    try {
      val b = s"http://127.0.0.1:${s.getAddress.getPort}"
      val denied = client.send(HttpRequest.newBuilder(URI.create(b + "/query"))
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS one")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(denied.statusCode() == 401, denied.body())
      val wrong = client.send(HttpRequest.newBuilder(URI.create(b + "/query"))
        .header("Authorization", "Bearer nope")
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS one")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(wrong.statusCode() == 401)
      val ok = client.send(HttpRequest.newBuilder(URI.create(b + "/query"))
        .header("Authorization", "Bearer s3cret")
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS one")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200 && ok.body().contains("[1]"))
      val health = client.send(HttpRequest.newBuilder(URI.create(b + "/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200)
    } finally s.stop(0)
  }

  test("time travel through the front door: graft_snapshot(path, version) " +
      "reads historical sink state over HTTP") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-http-tt").toString
    def applyB(rows: Seq[(Long, Long, String, String)], id: Long) =
      graft.streaming.UpsertSink.applyBatch(spark, path, "id", "seq", "op",
        Seq("v"), 4)(rows.toDF("id", "seq", "op", "v"), id)
    assert(applyB(Seq((1L, 1L, "I", "a"), (2L, 1L, "I", "b")), 0))
    assert(applyB(Seq((2L, 2L, "U", "B2"), (3L, 1L, "I", "c")), 1))
    assert(applyB(Seq((1L, 3L, "D", null), (2L, 3L, "D", null),
      (3L, 3L, "D", null)), 2))
    // current state is empty; version 1 must come back over HTTP
    val r1 = post("/query",
      s"SELECT id, v FROM graft_snapshot('$path', 1) ORDER BY id")
    assert(r1.statusCode() == 200, r1.body())
    assert(r1.body().contains("[1,\"a\"]") && r1.body().contains("[2,\"B2\"]")
      && r1.body().contains("[3,\"c\"]"), r1.body())
    // one-argument form reads the CURRENT snapshot (all deleted → 0 rows)
    val rCur = post("/query", s"SELECT id, v FROM graft_snapshot('$path')")
    assert(rCur.statusCode() == 200, rCur.body())
    assert(rCur.body().contains("\"rows\":[]"), rCur.body())
    // reclaimed history fails with a CLEAR error, not a silent empty
    graft.streaming.UpsertSink.vacuum(path)
    val rGone = post("/query",
      s"SELECT id, v FROM graft_snapshot('$path', 1)")
    assert(rGone.statusCode() != 200 || rGone.body().contains("error"),
      rGone.body())
    // non-literal args are refused at resolution, not silently evaluated
    val rBad = post("/query",
      s"SELECT id FROM graft_snapshot('$path', id)")
    assert(rBad.statusCode() != 200 || rBad.body().contains("error"),
      rBad.body())
    // the history listing rides the same front door: after the vacuum
    // only the current version remains readable
    val rVers = post("/query",
      s"SELECT version FROM graft_snapshot_versions('$path')")
    assert(rVers.statusCode() == 200, rVers.body())
    assert(rVers.body().contains("\"rows\":[[2]]"), rVers.body())
    // DESCRIBE HISTORY over HTTP: the surviving manifest row, with its
    // layout facts
    val rHist = post("/query",
      s"SELECT version, kind, buckets FROM graft_snapshot_history('$path')")
    assert(rHist.statusCode() == 200, rHist.body())
    assert(rHist.body().contains("[2,\"apply\",0]"), rHist.body())
  }

  test("point lookup through the front door: graft_snapshot_lookup " +
      "(path, keys…) reads only the probed keys' buckets over HTTP") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-http-pl").toString
    def applyB(rows: Seq[(Long, Long, String, String)], id: Long) =
      graft.streaming.UpsertSink.applyBatch(spark, path, "id", "seq", "op",
        Seq("v"), 8)(rows.toDF("id", "seq", "op", "v"), id)
    assert(applyB((1L to 40L).map(i => (i, 1L, "I", s"v$i")), 0))
    val r = post("/query",
      s"SELECT id, v FROM graft_snapshot_lookup('$path', 7, 22, 999) ORDER BY id")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("[7,\"v7\"]") && r.body().contains("[22,\"v22\"]")
      && !r.body().contains("999"), r.body())
    // the relation is bucket-pruned, not a post-filter over a full scan
    val pruned = graft.streaming.UpsertSink.readSnapshotKeys(
      spark, path, Seq(7L, 22L, 999L))
    assert(pruned.inputFiles.flatMap(f =>
      "__bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).distinct.length
      < 8)
    // non-literal keys are refused at resolution
    val rBad = post("/query", s"SELECT id FROM graft_snapshot_lookup('$path', id)")
    assert(rBad.statusCode() != 200 || rBad.body().contains("error"), rBad.body())
    // string keys arrive as UTF8String internally — the conversion path
    // must still coerce them to the store's BIGINT key type
    val rStr = post("/query",
      s"SELECT id, v FROM graft_snapshot_lookup('$path', '7')")
    assert(rStr.statusCode() == 200, rStr.body())
    assert(rStr.body().contains("[7,\"v7\"]"), rStr.body())
    // the changefeed rides the same front door: one more batch, then
    // graft_snapshot_changes(path, 0, 1) lists exactly what moved
    assert(applyB(Seq((7L, 2L, "U", "V7"), (41L, 2L, "I", "v41")), 1))
    val rCf = post("/query",
      s"SELECT id, _change_type, v FROM graft_snapshot_changes('$path', 0, 1) " +
        "ORDER BY id")
    assert(rCf.statusCode() == 200, rCf.body())
    assert(rCf.body().contains("[7,\"update\",\"V7\"]") &&
      rCf.body().contains("[41,\"insert\",\"v41\"]"), rCf.body())
    val rCfBad = post("/query",
      s"SELECT id FROM graft_snapshot_changes('$path', 0, id)")
    assert(rCfBad.statusCode() != 200 || rCfBad.body().contains("error"),
      rCfBad.body())
  }

  test("binds to loopback by default") {
    assert(server.getAddress.getAddress.isLoopbackAddress)
  }

  test("GET / serves the self-contained demo console page") {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
    // SQL form posting to /query and the SVG map renderer, with no
    // external asset references (the page must work fully offline)
    assert(r.body().contains("fetch('/query'"), r.body().take(200))
    assert(r.body().contains("renderMap"))
    assert(!r.body().toLowerCase.contains("http://cdn") &&
      !r.body().toLowerCase.contains("https://"), "demo page must be self-contained")
    // unknown paths under the root context are 404, not the page
    val miss = client.send(HttpRequest.newBuilder(URI.create(base + "/nope")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(miss.statusCode() == 404)
  }

  test("GET /tables lists registered tables and honors the auth token") {
    graft.SparkEntry.init(spark, sfDir)
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/tables")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"customer\"") && r.body().contains("\"lineitem\""), r.body())

    val s = SqlHttpServer.start(spark, port = 0, authToken = Some("tok"))
    try {
      val b = s"http://127.0.0.1:${s.getAddress.getPort}"
      val denied = client.send(HttpRequest.newBuilder(URI.create(b + "/tables")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(denied.statusCode() == 401)
      val ok = client.send(HttpRequest.newBuilder(URI.create(b + "/tables"))
        .header("Authorization", "Bearer tok").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200)
    } finally s.stop(0)
  }

  test("NaN/Infinity render as JSON null, never as bare NaN") {
    val r = post("/query",
      "SELECT sqrt(-1.0) AS nan_col, CAST('Infinity' AS DOUBLE) AS inf_col, 2.5 AS ok")
    assert(r.statusCode() == 200, r.body())
    assert(!r.body().contains("NaN") && !r.body().contains("Infinity"), r.body())
    assert(r.body().contains("[null,null,2.5]"), r.body())
  }

  test("cross-site Origin is refused; same-host Origin passes") {
    val evil = client.send(HttpRequest.newBuilder(URI.create(base + "/query"))
      .header("Origin", "http://evil.example")
      .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS x")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(evil.statusCode() == 403, evil.body())
    val same = client.send(HttpRequest.newBuilder(URI.create(base + "/query"))
      .header("Origin", s"http://127.0.0.1:${server.getAddress.getPort}")
      .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS x")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(same.statusCode() == 200, same.body())
  }

  test("an oversized request body is refused, not buffered") {
    val r = post("/query", "SELECT 1 AS x -- " + ("p" * (1024 * 1024)))
    assert(r.statusCode() == 400, r.statusCode().toString)
    assert(r.body().contains("exceeds"), r.body())
  }

  test("GET /query?sql=... works and bad SQL yields a JSON error") {
    val enc = java.net.URLEncoder.encode("SELECT 1 AS one", "UTF-8")
    val ok = client.send(HttpRequest.newBuilder(URI.create(s"$base/query?sql=$enc")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ok.statusCode() == 200 && ok.body().contains("[1]"))
    val bad = post("/query", "SELECT FROM nothing !!")
    assert(bad.statusCode() == 400 && bad.body().contains("\"error\""))
  }

  // ------------------------------------------------ /query error statuses

  test("SQL that does not parse answers 400") {
    val r = post("/query", "SELEC 1")
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("\"error\"") && r.body().contains("PARSE_SYNTAX_ERROR"), r.body())
  }

  test("SQL that does not resolve answers 400") {
    val r = post("/query", "SELECT * FROM graft_no_such_table")
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("TABLE_OR_VIEW_NOT_FOUND"), r.body())
  }

  test("an illegal argument answers 400") {
    val r = post("/query", "SELECT * FROM graft_snapshot('/nonexistent', 'latest')")
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("version must be an integer literal"), r.body())
  }

  test("a task that fails while executing answers 500") {
    val r = post("/query",
      "SELECT raise_error(concat('graft-boom-', CAST(id AS STRING))) AS x FROM range(1)")
    assert(r.statusCode() == 500, r.body())
    assert(r.body().contains("graft-boom-0"), r.body())
  }

  // ------------------------------------------------ TCP_NODELAY default

  /** Runs `body` with the nodelay property set to `value` (None = unset)
    * and restores whatever the JVM held before. */
  private def withNoDelay(value: Option[String])(body: => Unit): Unit = {
    val key = SqlHttpServer.NoDelayProperty
    val saved = Option(System.getProperty(key))
    value.fold(System.clearProperty(key))(System.setProperty(key, _))
    try body
    finally saved.fold(System.clearProperty(key))(System.setProperty(key, _))
  }

  test("start sets sun.net.httpserver.nodelay=true when the property is unset") {
    withNoDelay(None) {
      val s = SqlHttpServer.start(spark, port = 0)
      try assert(System.getProperty(SqlHttpServer.NoDelayProperty) == "true")
      finally s.stop(0)
    }
  }

  test("start keeps a nodelay property the caller has set") {
    withNoDelay(Some("false")) {
      val s = SqlHttpServer.start(spark, port = 0)
      try assert(System.getProperty(SqlHttpServer.NoDelayProperty) == "false")
      finally s.stop(0)
    }
  }
}
