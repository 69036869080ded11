package graft.sources

import graft.SparkTestBase
import graft.geo.GeomSerde
import org.apache.spark.sql.functions._

class GeoJsonSourceSpec extends SparkTestBase {
  import spark.implicits._

  private val fc =
    """{"type":"FeatureCollection","features":[
      |  {"type":"Feature","properties":{"name":"alpha","pop":1200},"geometry":{"type":"Point","coordinates":[107.6,-6.9]}},
      |  {"type":"Feature","properties":{"name":"beta","pop":800},"geometry":{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,4.0],[0.0,0.0]]]}}
      |]}""".stripMargin

  test("FeatureCollection explodes to rows with properties.* + geometry") {
    val df = GeoJsonSource.fromDocuments(Seq(fc).toDF("json"), "json")
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("name", "pop", "geometry"))
    val alpha = df.where($"name" === "alpha").head()
    assert(alpha.getAs[String]("pop") == "1200")
    val g = GeomSerde.fromWkb(alpha.getAs[Array[Byte]]("geometry"))
    assert(g.getGeometryType == "Point" && g.getCoordinate.x == 107.6)
  }

  test("spatial SQL works over the flattened frame") {
    val df = GeoJsonSource.fromDocuments(Seq(fc).toDF("json"), "json")
    val n = df.where(call_function("st_area", col("geometry")) > 10.0).count()
    assert(n == 1)
  }

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-geojson").toFile
    d.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(d, "doc0.geojson").toPath, fc)
    java.nio.file.Files.writeString(new java.io.File(d, "doc1.geojson").toPath,
      """{"type":"Feature","properties":{"name":"gamma","kind":"solo"},"geometry":{"type":"Point","coordinates":[1.0,2.0]}}""")
    d.getAbsolutePath
  }

  test("format(graft-geojson) reads, infers schema, flattens, extracts geometry") {
    val df = spark.read.format("graft-geojson").load(dir)
    assert(df.count() == 3)
    assert(df.columns.toSet == Set("name", "pop", "kind", "geometry"))
    val alpha = df.where($"name" === "alpha").head()
    assert(alpha.getAs[String]("pop") == "1200")
    assert(df.where(call_function("st_area", col("geometry")) > 10.0).count() == 1)
  }

  test("format(graft-geojson): explicit columns + NDJSON mode") {
    val nd = java.nio.file.Files.createTempDirectory("graft-ndjson").toFile
    nd.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(nd, "feats.jsonl").toPath,
      """{"type":"Feature","properties":{"name":"l1"},"geometry":{"type":"Point","coordinates":[0.0,0.0]}}
        |{"type":"Feature","properties":{"name":"l2"},"geometry":null}
        |""".stripMargin)
    val df = spark.read.format("graft-geojson")
      .option("multiLine", "false").option("columns", "name")
      .load(nd.getAbsolutePath)
    assert(df.columns.toSeq == Seq("name", "geometry"))
    assert(df.count() == 2)
    assert(df.where($"geometry".isNull).count() == 1)
  }

  test("format(graft-geojson): string predicates are pushed to the scan") {
    val df = spark.read.format("graft-geojson").load(dir).where($"name" === "beta")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(name,beta)"), plan)
    // the scan surfaces the selector a live Mongo/CouchDB would receive
    assert(plan.contains("""{"properties.name": { "$eq": "beta" }}"""), plan)
    assert(df.count() == 1)
    // filter on a column pruned from the output
    assert(spark.read.format("graft-geojson").load(dir)
      .where($"kind" === "solo").select("name")
      .collect().map(_.getString(0)).toSeq == Seq("gamma"))
  }

  test("format(graft-geojson): bbox option prunes by geometry envelope") {
    val df = spark.read.format("graft-geojson")
      .option("bbox", "100,-10,110,0").load(dir)
    assert(df.collect().map(_.getAs[String]("name")).toSeq == Seq("alpha"))
    // polygon (0..4) intersects a box overlapping its envelope
    val df2 = spark.read.format("graft-geojson")
      .option("bbox", "3,3,10,10").load(dir)
    assert(df2.collect().map(_.getAs[String]("name")).toSeq == Seq("beta"))
  }

  test("pushdown equivalence with explicit JSON null properties") {
    // explicit "prop": null must behave as SQL NULL under pushdown exactly
    // as it does under Spark's own evaluation
    val d = java.nio.file.Files.createTempDirectory("graft-gj-null").toFile
    d.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(d, "f.jsonl").toPath,
      """{"type":"Feature","properties":{"name":"p1","tag":"x"},"geometry":null}
        |{"type":"Feature","properties":{"name":"p2","tag":null},"geometry":null}
        |{"type":"Feature","properties":{"name":"p3"},"geometry":null}
        |""".stripMargin)
    def read() = spark.read.format("graft-geojson")
      .option("multiLine", "false").load(d.getAbsolutePath)
    val unfiltered = read().cache()
    val predicates = Seq(
      col("tag").isNull,
      col("tag").isNotNull,
      col("tag") === "x",
      !(col("tag") === "x"),    // NULL tag → unknown → dropped
      col("tag") <=> "x",
      col("tag").isin("x", "y"),
      !col("tag").isin("x", "y"))
    for (p <- predicates) {
      val pushed = read().where(p).select("name").collect().map(_.getString(0)).sorted.toSeq
      val baseline = unfiltered.where(p).select("name").collect().map(_.getString(0)).sorted.toSeq
      assert(pushed == baseline, s"predicate: $p pushed=$pushed baseline=$baseline")
    }
    // explicit null and absent key are both SQL NULL
    assert(read().where(col("tag").isNull).count() == 2)
    unfiltered.unpersist()
  }

  test("writeFeatures: distributed NDJSON export round-trips through the reader") {
    val base = java.nio.file.Files.createTempDirectory("graft-ndjson").toString
    val out = base + "/export"
    val src = Seq(
      ("alpha", "POINT (107.6 -6.9)"),
      ("be\"ta\nline", "POINT (1 2)"), // JSON-escaping must survive
      ("nogeom", null)
    ).toDF("name", "wkt")
      .withColumn("geometry",
        when($"wkt".isNotNull, call_function("st_geomfromtext", $"wkt")))
      .drop("wkt")
      .repartition(3) // several part files: one reader partition each
    GeoJsonSource.writeFeatures(src, "geometry", out)
    // manifest written, underscore-prefixed (readers skip it)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    assert(manifest.contains(""""n_features": 3""") &&
      manifest.contains(""""name""""), manifest)
    // a second export must refuse, not clobber
    intercept[Exception] { GeoJsonSource.writeFeatures(src, "geometry", out) }
    val back = spark.read.format("graft-geojson")
      .option("multiLine", "false").load(out)
    val rows = back.select($"name",
        when($"geometry".isNotNull, call_function("st_astext", $"geometry")).as("wkt"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(
      ("alpha", "POINT (107.6 -6.9)"),
      ("be\"ta\nline", "POINT (1 2)"),
      ("nogeom", null)))
  }

  test("writeFeatures: dotted property names export (legal JSON keys, not field paths)") {
    val out = java.nio.file.Files.createTempDirectory("graft-ndjson-dot").toString + "/x"
    // the reader keeps raw JSON keys as flat column names — "addr.city"
    // is one column, which a bare col() would parse as addr->city
    val src = Seq(("Bandung", "POINT (1 2)")).toDF("addr.city", "wkt")
      .withColumn("geometry", call_function("st_geomfromtext", $"wkt")).drop("wkt")
    GeoJsonSource.writeFeatures(src, "geometry", out)
    val back = spark.read.format("graft-geojson").option("multiLine", "false").load(out)
    assert(back.columns.toSet == Set("addr.city", "geometry"))
    assert(back.select(back.col("`addr.city`")).head.getString(0) == "Bandung")
  }

  test("writeFeatures: an empty frame exports an empty, readable collection") {
    val out = java.nio.file.Files.createTempDirectory("graft-ndjson-empty").toString + "/x"
    val src = Seq(("a", "POINT (1 2)")).toDF("name", "wkt")
      .withColumn("geometry", call_function("st_geomfromtext", $"wkt")).drop("wkt")
      .where(lit(false))
    GeoJsonSource.writeFeatures(src, "geometry", out)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    assert(manifest.contains(""""n_features": 0"""), manifest)
    assert(spark.read.format("graft-geojson").option("multiLine", "false")
      .option("columns", "name").load(out).count() == 0)
  }

  test("round trip back to a FeatureCollection") {
    val df = GeoJsonSource.fromDocuments(Seq(fc).toDF("json"), "json")
    val out = GeoJsonSource.toFeatureCollection(df.orderBy("name"), "geometry")
    assert(out.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(out.contains(""""name":"alpha""""))
    assert(out.contains(""""type":"Polygon""""))
    // parse back: still two features
    assert(GeoJsonSource.flattenFeature(out).length == 2)
  }

  test("DSv2 write: df.write.format round-trips, append sums, overwrite truncates") {
    val out = java.nio.file.Files.createTempDirectory("graft-v2w").toString + "/export"
    val src = Seq(
      ("alpha", "POINT (107.6 -6.9)"),
      ("be\"ta\nline", "POINT (1 2)"), // escaping must survive
      (null, "POINT (3 4)")            // null property = omitted key = NULL back
    ).toDF("name", "wkt")
      .withColumn("geometry",
        when($"wkt".isNotNull, call_function("st_geomfromtext", $"wkt")))
      .drop("wkt")
      .repartition(2)
    src.write.format("graft-geojson").mode("overwrite").save(out)
    def manifest: String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    assert(manifest.contains(""""n_features": 3"""), manifest)
    val back = spark.read.format("graft-geojson").option("multiLine", "false").load(out)
    val rows = back.select($"name",
        when($"geometry".isNotNull, call_function("st_astext", $"geometry")).as("wkt"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(
      ("alpha", "POINT (107.6 -6.9)"),
      ("be\"ta\nline", "POINT (1 2)"),
      (null, "POINT (3 4)")))
    // append adds files AND sums the manifest
    src.limit(1).write.format("graft-geojson").mode("append").save(out)
    assert(manifest.contains(""""n_features": 4"""), manifest)
    assert(spark.read.format("graft-geojson").option("multiLine", "false")
      .load(out).count() == 4)
    // overwrite truncates back down
    src.write.format("graft-geojson").mode("overwrite").save(out)
    assert(manifest.contains(""""n_features": 3"""), manifest)
    // no in-progress temp files survive a successful write; part names
    // carry a per-job uuid (task ids restart per application — a fresh
    // session's append must not collide with an old app's files)
    val names = new java.io.File(out).listFiles.map(_.getName)
    assert(!names.exists(_.endsWith(".inprogress")), names.mkString(","))
    assert(names.filter(_.startsWith("part-")).forall(
      _.matches("part-\\d+-\\d+-[0-9a-f-]{36}\\.ndjson")), names.mkString(","))
    // reading NDJSON back in (default) whole-file mode must ERROR, not
    // silently answer one row per file
    val e = intercept[Exception] {
      spark.read.format("graft-geojson").option("columns", "name").load(out).collect()
    }
    assert(e.getMessage != null && (e.getMessage.contains("multiLine") ||
      Option(e.getCause).exists(_.getMessage.contains("multiLine"))), e.toString)
    // appending a frame with DIFFERENT properties unions the manifest list
    Seq(("x", "POINT (9 9)")).toDF("pop", "wkt")
      .withColumn("geometry", call_function("st_geomfromtext", $"wkt")).drop("wkt")
      .write.format("graft-geojson").mode("append").save(out)
    assert(manifest.contains(""""n_features": 4"""), manifest)
    assert(manifest.contains(""""name"""") && manifest.contains(""""pop""""), manifest)
    src.write.format("graft-geojson").mode("overwrite").save(out) // reset
    // planning-time refusals: missing/mistyped geometry, non-atomic property
    import org.apache.spark.sql.types._
    intercept[Exception] {
      Seq(("a", 1)).toDF("name", "geometry")
        .write.format("graft-geojson").mode("overwrite").save(out + "2")
    }
    intercept[Exception] {
      Seq(("a", Seq(1, 2))).toDF("name", "arr")
        .withColumn("geometry", call_function("st_geomfromtext", lit("POINT (1 2)")))
        .write.format("graft-geojson").mode("overwrite").save(out + "3")
    }
  }

  test("streaming write: epochs append NDJSON features, manifest accumulates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-v2ws").toString
    val out = base + "/stream"
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("name", "x")
      .withColumn("geometry",
        call_function("st_point", col("x"), lit(0.0)))
      .drop("x")
      .writeStream.format("graft-geojson")
      .option("checkpointLocation", base + "/ckpt")
      .outputMode("append")
      .start(out)
    try {
      input.addData(("a", 1.0), ("b", 2.0))
      q.processAllAvailable()
      input.addData(("c", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("graft-geojson")
      .option("multiLine", "false").option("columns", "name").load(out)
    assert(back.select("name").collect().map(_.getString(0)).toSet == Set("a", "b", "c"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    assert(manifest.contains(""""n_features": 3"""), manifest)
    // every epoch's files are distinct: epoch id is part of the name
    val names = new java.io.File(out).listFiles.map(_.getName).filter(_.startsWith("part-"))
    assert(names.exists(_.contains("-e0.")) || names.exists(_.contains("-e0-")) ||
      names.forall(_.matches("part-\\d+-\\d+-[0-9a-f-]{36}-e\\d+\\.ndjson")), names.mkString(","))
    // Complete mode (truncate-per-epoch) is refused, not silently destructive
    val agg = input.toDF().toDF("name", "x").groupBy("name").count()
      .withColumn("geometry", call_function("st_point", lit(0.0), lit(0.0)))
    val e = intercept[Exception] {
      val q2 = agg.writeStream.format("graft-geojson")
        .option("checkpointLocation", base + "/ckpt2")
        .outputMode("complete").start(base + "/c")
      try { input.addData(("d", 4.0)); q2.processAllAvailable() } finally q2.stop()
    }
    assert(e.getMessage.contains("Append") || e.toString.contains("Append"), e.toString)
  }

  // ------------------------------------------------ one-pass feature parse

  private val props =
    """{"name":"alpha","pop":1200,"ratio":0.5,"ok":true,"none":null,"nested":{"a":1},"arr":[1,2]}"""
  private val propMap =
    Map("name" -> "alpha", "pop" -> "1200", "ratio" -> "0.5", "ok" -> "true", "none" -> null)

  /** The codec's own answer for a geometry subtree given as text. */
  private def wkbOf(geometry: String): Seq[Byte] =
    GeomSerde.toWkb(graft.geo.GeoJson.parse(geometry)).toSeq

  private def flat(json: String): Seq[(Map[String, String], Option[Seq[Byte]])] =
    GeoJsonSource.flattenFeature(json).map { case (m, g) => (m, g.map(_.toSeq)) }

  test("flattenFeature builds the same WKB in place as the codec does from the geometry text") {
    val geometries = Seq(
      """{"type":"Point","coordinates":[107.6,-6.9]}""",
      """{"type":"Point","coordinates":[1.5,2.5,3.5]}""",
      """{"type":"Point","coordinates":[3,4]}""",
      """{"type":"LineString","coordinates":[[0,0],[1.5,1],[2,-3]]}""",
      """{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],""" +
        """[[2,2],[4,2],[4,4],[2,4],[2,2]]]}""",
      """{"type":"MultiPoint","coordinates":[[1,2],[3.25,4]]}""",
      """{"type":"MultiLineString","coordinates":[[[0,0],[1,1]],[[2,2],[3,3.5]]]}""",
      """{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]],""" +
        """[[[5,5],[6,5],[6,6],[5,5]],[[5.2,5.1],[5.8,5.1],[5.8,5.7],[5.2,5.1]]]]}""",
      """{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,2]},""" +
        """{"type":"LineString","coordinates":[[0,0],[1,1]]}]}""")
    for (g <- geometries) {
      val doc = s"""{"type":"Feature","properties":$props,"geometry":$g}"""
      assert(flat(doc) == Seq((propMap, Some(wkbOf(g)))), g)
    }
    // geometry before properties, and a null geometry
    val point = geometries.head
    assert(flat(s"""{"geometry":$point,"type":"Feature","properties":$props}""") ==
      Seq((propMap, Some(wkbOf(point)))))
    assert(flat(s"""{"type":"Feature","properties":$props,"geometry":null}""") ==
      Seq((propMap, None)))
    // a FeatureCollection: one entry per feature, in document order
    val fcDoc = s"""{"type":"FeatureCollection","features":[""" +
      s"""{"type":"Feature","properties":$props,"geometry":${geometries(4)}},""" +
      s"""{"type":"Feature","properties":{"name":"b"},"geometry":${geometries(8)}}]}"""
    assert(flat(fcDoc) == Seq((propMap, Some(wkbOf(geometries(4)))),
      (Map("name" -> "b"), Some(wkbOf(geometries(8))))))
  }

  test("a scan with a bbox and a pushed filter returns the rows of the unpruned scan filtered after") {
    val d = java.nio.file.Files.createTempDirectory("graft-gj-mixed").toFile
    d.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(d, "mixed.jsonl").toPath,
      Seq(
        """{"type":"Feature","properties":{"name":"a-in"},"geometry":{"type":"Point","coordinates":[1,1]}}""",
        """{"type":"Feature","properties":{"name":"a-out"},"geometry":{"type":"Point","coordinates":[50,50]}}""",
        """{"type":"Feature","properties":{"name":"b-in"},"geometry":{"type":"Point","coordinates":[2,2]}}""",
        """{"type":"Feature","properties":{"name":"a-poly"},"geometry":{"type":"Polygon",""" +
          """"coordinates":[[[-10,-10],[0.5,-10],[0.5,0.5],[-10,0.5],[-10,-10]]]}}""",
        """{"type":"Feature","properties":{"name":"a-line"},"geometry":{"type":"LineString",""" +
          """"coordinates":[[4,-20],[4,-10]]}}""",
        """{"type":"Feature","properties":{"name":"a-null"},"geometry":null}""",
        """{"type":"Feature","properties":{},"geometry":{"type":"Point","coordinates":[1,2]}}""",
        """{"type":"FeatureCollection","features":[""" +
          """{"type":"Feature","properties":{"name":"a-fc1"},"geometry":{"type":"MultiPoint","coordinates":[[40,40],[3,3]]}},""" +
          """{"type":"Feature","properties":{"name":"a-fc2"},"geometry":{"type":"Point","coordinates":[9,9]}}]}"""
      ).mkString("\n"))
    val (x0, y0, x1, y1) = (0.0, 0.0, 5.0, 5.0)
    def reader = spark.read.format("graft-geojson").option("multiLine", "false")
      .option("columns", "name")
    val pruned = reader.option("bbox", s"$x0,$y0,$x1,$y1").load(d.getAbsolutePath)
      .where($"name".startsWith("a"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(name,a)") && plan.contains("bbox: ["), plan)
    val box = new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1)
    val expected = reader.load(d.getAbsolutePath).collect().filter { r =>
      val name = r.getString(0)
      val g = Option(r.getAs[Array[Byte]]("geometry")).map(GeomSerde.fromWkb)
      name != null && name.startsWith("a") && g.exists(_.getEnvelopeInternal.intersects(box))
    }.map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1).toSeq
    assert(expected.map(_._1) == Seq("a-fc1", "a-in", "a-poly"))
    val got = pruned.collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq))
      .sortBy(_._1).toSeq
    assert(got == expected)
    // without the geometry column in the output, the same names survive
    assert(pruned.select("name").collect().map(_.getString(0)).sorted.toSeq ==
      expected.map(_._1))
  }

  test("a malformed geometry still fails the scan with the codec's message") {
    for ((geometry, message) <- Seq(
        """{"type":"Blob","coordinates":[1,2]}""" -> "unsupported GeoJSON type: Blob",
        """{"type":"Point","coordinates":["1",2]}""" -> "unexpected token in coordinates")) {
      val d = java.nio.file.Files.createTempDirectory("graft-gj-bad").toFile
      d.deleteOnExit()
      java.nio.file.Files.writeString(new java.io.File(d, "bad.jsonl").toPath,
        s"""{"type":"Feature","properties":{"name":"x"},"geometry":$geometry}""")
      val e = intercept[Exception] {
        spark.read.format("graft-geojson").option("multiLine", "false")
          .option("columns", "name").load(d.getAbsolutePath).collect()
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains(message)), messages.mkString(" | "))
    }
  }
}
