package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One operation of a workload's loop: its kind, interval, the items it
  * processed (requests, documents or change rows), and whether the call
  * returned. Wrong answers are counted later by the workload's check. */
final case class Op(kind: String, wallMs: Long, startNs: Long, endNs: Long, items: Long,
                    ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Recorder {
  private val q = new ConcurrentLinkedQueue[Op]()

  /** Runs `body` as one operation; a throwing call is recorded as failed
    * (and logged) and yields None, so a closed loop keeps going. */
  def attempt[T](kind: String, items: Long)(body: => T): Option[T] = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      q.add(Op(kind, w0, t0, System.nanoTime(), items, ok = true))
      Some(r)
    } catch {
      case e: Exception =>
        q.add(Op(kind, w0, t0, System.nanoTime(), items, ok = false))
        System.err.println(s"perfbench: $kind failed: $e")
        None
    }
  }

  def ops: Seq[Op] = q.asScala.toSeq.sortBy(_.startNs)
  def ops(kind: String): Seq[Op] = ops.filter(_.kind == kind)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def p50(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Where a workload keeps its inputs and scratch output, and at what size
  * it runs: `mini` is the small variant a traced run of another workload
  * uses to fill in this workload's layer metrics. */
final case class Ctx(seed: Long, mini: Boolean, dataDir: String, scratchDir: String)

/** A benchmark workload. The harness calls, in order: `generate` (untimed,
  * once per seed), `setup` + `warmup` (timed as set-up, repeated on fresh
  * sessions), `prepare` (untimed), `loop` (the measured section), `check`,
  * `report`, `teardown`. */
trait Workload {
  def ctx: Ctx
  /** Kind of the operation whose latency is the workload's latency. */
  def primary: String
  /** Writes the inputs under `ctx.dataDir`; returns their description
    * (document counts, bytes, files, batch sizes) for the run record. */
  def generate(spark: SparkSession): Map[String, Any]
  def setup(spark: SparkSession): Unit = ()
  def warmup(spark: SparkSession): Unit
  /** Untimed state the loop starts from, made after the last set-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** Closed loop until `deadlineNs` or `maxOps` primary operations. */
  def loop(spark: SparkSession, rec: Recorder, deadlineNs: Long, maxOps: Int): Unit
  /** Wrong answers among what `loop` recorded; prints each to stderr. */
  def check(spark: SparkSession): Int
  /** Workload-specific end-to-end figures, printed by name and unit. */
  def report(rec: Recorder, wallS: Double): Seq[(String, Double, String)]
  /** This workload's layer metrics, from the spans and listener counts of a
    * traced loop (plus any layer probes it runs itself). */
  def layers(spark: SparkSession, spans: Seq[Trace.Span], jl: JobListener): Map[String, Double]
  def teardown(spark: SparkSession): Unit = ()
}

/** Seeded generators shared by the workloads: plain Spark SQL over
  * `range`, so the same seed gives the same rows on any machine. */
object Gen {
  /** Uniform in [0, 1) from the row id, the seed and a per-column salt. */
  def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000007L)).cast("double") /
      lit(1000000007.0)

  /** Uniform in 0 until n, like [[u]]. */
  def pick(seed: Long, salt: Int, n: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(n.toLong))

  /** A coordinate as decimal text with 4 digits: documents carry the text,
    * parquet carries the same text cast to double, so both agree exactly. */
  def coordText(seed: Long, salt: Int, lo: Double, span: Double): Column =
    format_string("%.4f", lit(lo) + u(seed, salt) * lit(span))

  /** `n` rows with id, lon/lat (text and double), in `parts` partitions. */
  def points(spark: SparkSession, n: Long, parts: Int, seed: Long, salt: Int): DataFrame =
    spark.range(0, n, 1, parts)
      .withColumn("lon_s", coordText(seed, salt, -180, 360))
      .withColumn("lat_s", coordText(seed, salt + 1, -90, 180))
      .withColumn("lon", col("lon_s").cast("double"))
      .withColumn("lat", col("lat_s").cast("double"))

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def gmlPoint(x: Column, y: Column): Column =
    concat(lit("""<gml:Point xmlns:gml="http://www.opengis.net/gml"><gml:coordinates>"""),
      x, lit(","), y, lit("</gml:coordinates></gml:Point>"))

  def kmlPoint(x: Column, y: Column): Column =
    concat(lit("<Point><coordinates>"), x, lit(","), y, lit("</coordinates></Point>"))

  def tag(name: String, v: Column): Column =
    concat(lit(s"<$name>"), v, lit(s"</$name>"))

  /** Writes one text file per partition of `records` (a string column):
    * `head(p) + records + tail(p)`, p the partition index. */
  def writeDocs(records: DataFrame, dir: String, head: Int => String,
                tail: Int => String): Unit = {
    import records.sparkSession.implicits._
    records.as[String].mapPartitions { it =>
      val p = org.apache.spark.TaskContext.getPartitionId()
      val sb = new java.lang.StringBuilder(head(p))
      it.foreach(sb.append)
      Iterator.single(sb.append(tail(p)).toString)
    }.write.mode("overwrite").text(dir)
  }

  /** Supplier points shared by geo_serve and doc_scan: parquet at
    * `dir/supp.parquet`, XML records with GML points under `dir/supp_xml`. */
  def suppliers(spark: SparkSession, seed: Long, n: Long, dir: String): Unit = {
    val s = points(spark, n, 2, seed, 300)
      .withColumn("skey", (col("id") + 1).cast("string"))
      .withColumn("sname", format_string("Supplier#%09d", col("id") + 1))
      .withColumn("nk", pick(seed, 302, 25).cast("string"))
    s.select("skey", "sname", "nk", "lon", "lat").write.mode("overwrite")
      .parquet(s"$dir/supp.parquet")
    writeDocs(s.select(concat(lit("<rec>"), tag("skey", col("skey")),
        tag("sname", col("sname")), tag("nk", col("nk")),
        gmlPoint(col("lon_s"), col("lat_s")), lit("</rec>"))),
      s"$dir/supp_xml", _ => "<suppliers>", _ => "</suppliers>")
  }

  def readSuppliers(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-xml").option("recordTag", "rec")
      .option("columns", "skey,sname,nk").load(s"$dir/supp_xml")

  /** Bytes and file count under a local directory; `dataOnly` skips
    * hidden and `_`-prefixed files (checksums, success markers). */
  def du(dir: String, dataOnly: Boolean = false): (Long, Int) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filter(p => !dataOnly || !"._".contains(p.getFileName.toString.head)).toSeq
    (files.map(p => java.nio.file.Files.size(p)).sum, files.size)
  }
}

/** A call timed from outside (and recorded as a span when tracing). */
object Timed {
  final case class T[A](value: A, startMs: Long, endMs: Long, ms: Double)

  def apply[A](name: String)(body: => A): T[A] = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = Trace.span(name)(body)
    T(v, w0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e6)
  }
}
