package perfbench

import graft.streaming.UpsertSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** cdc_mix: one writer applies a seeded stream of change batches to an
  * UpsertSink store keyed on `o_orderkey`, in cycles of four batches: one
  * large (2000 rows), then three small (300, 120 and 40 Zipf-skewed keys;
  * ~10% of all changes are deletes).
  * Each batch is followed by a point lookup, each cycle by a changefeed
  * read, a snapshot scan, a compaction and a vacuum. */
final class CdcMix(val ctx: Ctx) extends Workload {
  private val nBoot = if (ctx.mini) 10000 else 50000
  private val large = if (ctx.mini) 800 else 2000
  private val buckets = 16
  private val store = s"${ctx.scratchDir}/store"
  private val payload = Seq("o_status", "o_total", "o_note")
  /** Batch sizes within a cycle: the seed picks keys and values, not sizes.
    * Smallest last, so some buckets still live in the previous batch's
    * directory when the cycle's compaction runs. */
  private val SmallBatch = IndexedSeq(None, Some(300), Some(120), Some(40))
  val primary = "apply"

  private val schema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("seq", LongType), StructField("op", StringType),
    StructField("o_status", StringType), StructField("o_total", DoubleType),
    StructField("o_note", StringType)))

  /** Batch `b`'s rows (b ≥ 1): a pure function of the seed and b. */
  def batchRows(b: Int): Seq[Row] = {
    val r = new java.util.SplittableRandom(ctx.seed * 1000003L + b)
    val n = SmallBatch((b - 1) % 4).getOrElse(large)
    (0 until n).map { i =>
      // log-uniform rank: Zipf(1)-like skew toward small keys
      val key = math.exp(r.nextDouble() * math.log(nBoot.toDouble)).toLong - 1
      val seq = b * 1000000L + i
      if (r.nextDouble() < 0.1) Row(key, seq, "D", null, null, null)
      else Row(key, seq, "U", Seq("F", "O", "P")(r.nextInt(3)),
        math.floor(r.nextDouble() * 100000) / 100, s"b$b-$i")
    }
  }

  private def batchDf(spark: SparkSession, b: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(batchRows(b): _*), schema)

  /** The bootstrap state (batch 0), plain Spark over `range`. */
  private def bootstrap(spark: SparkSession): DataFrame =
    spark.range(0, nBoot, 1, 4).select(col("id").as("o_orderkey"), lit(0L).as("seq"),
      lit("U").as("op"),
      element_at(typedLit(Seq("F", "O", "P")), (Gen.pick(ctx.seed, 500, 3) + 1).cast("int")).as("o_status"),
      floor(Gen.u(ctx.seed, 501) * 100000) / 100 as "o_total",
      concat(lit("boot-"), col("id").cast("string")).as("o_note"))

  def generate(spark: SparkSession): Map[String, Any] = {
    Map("bootstrap_rows" -> nBoot, "buckets" -> buckets,
      "cycle_batch_rows" -> SmallBatch.map(_.getOrElse(large)), "delete_frac" -> 0.1)
  }

  private def apply(spark: SparkSession, df: DataFrame, b: Int): Boolean =
    UpsertSink.applyBatch(spark, store, "o_orderkey", "seq", "op", payload, buckets)(df, b)

  private var version = 0
  private val lookups = ArrayBuffer.empty[(Int, Seq[Long], Seq[Seq[Any]])]
  private val feeds = ArrayBuffer.empty[(Int, Int, Seq[Seq[Any]])]
  private val scans = ArrayBuffer.empty[(Int, Long)]
  /** Per batch: store bytes added per batch row, files added. */
  private val applied = ArrayBuffer.empty[(Long, Double)]
  /** Bytes each compaction rewrote. */
  private val compacted = ArrayBuffer.empty[Long]

  /** A small store of its own: one batch, one lookup. */
  def warmup(spark: SparkSession): Unit = {
    val warm = s"${ctx.scratchDir}/warm"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warm))
    UpsertSink.applyBatch(spark, warm, "o_orderkey", "seq", "op", payload, buckets)(batchDf(spark, 2), 0)
    UpsertSink.readSnapshotKeys(spark, warm, Seq(1L, 2L)).collect()
  }

  /** A fresh store holding the bootstrap batch, then one untimed cycle:
    * the first cycle after start-up runs slower than the ones after it. */
  override def prepare(spark: SparkSession): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    version = 0
    apply(spark, bootstrap(spark), 0)
    loop(spark, new Recorder, 0L, 4)
  }

  /** Whole cycles, started while the deadline has not passed. */
  def loop(spark: SparkSession, rec: Recorder, deadlineNs: Long, maxOps: Int): Unit = {
    applied.clear(); compacted.clear()
    var batches = 0
    while (batches < maxOps && (batches == 0 || System.nanoTime() < deadlineNs)) {
      (1 to 4).foreach(_ => batch(spark, rec))
      val b = version
      rec.attempt("changefeed", 1)(Trace.span("sink.changefeed")(
        UpsertSink.readChanges(spark, store, b - 4, b).collect().toSeq.map(_.toSeq)))
        .foreach(res => feeds += ((b - 4, b, res)))
      rec.attempt("scan", 1)(Trace.span("sink.scan")(UpsertSink.readSnapshot(spark, store).count()))
        .foreach(n => scans += ((b, n)))
      rec.attempt("compact", 1)(Trace.span("sink.compact") {
        val s = UpsertSink.compactSnapshot(spark, store)
        UpsertSink.vacuum(store)
        s.bytes
      }).foreach(bytes => compacted += bytes)
      batches += 4
    }
  }

  /** Applies the next batch, then looks up 8 seeded keys. */
  private def batch(spark: SparkSession, rec: Recorder): Unit = {
    val b = version + 1
    val df = batchDf(spark, b)
    val rows = batchRows(b).size
    val (bytes0, files0) = Gen.du(store)
    val cls = if (rows >= large) "large" else "small"
    rec.attempt(primary, rows)(Trace.span(s"sink.apply_$cls")(apply(spark, df, b)))
    val (bytes1, files1) = Gen.du(store)
    applied += (((bytes1 - bytes0) / rows.toLong, (files1 - files0).toDouble))
    version = b
    val r = new java.util.SplittableRandom(ctx.seed * 31 + b)
    val keys = (0 until 8).map(_ => math.exp(r.nextDouble() * math.log(nBoot.toDouble)).toLong - 1).distinct
    rec.attempt("lookup", keys.size)(Trace.span("sink.lookup")(
      UpsertSink.readSnapshotKeys(spark, store, keys).collect().toSeq.map(_.toSeq)))
      .foreach(res => lookups += ((b, keys, res)))
  }

  /** Last-write-wins state after each batch id in `versions`, from the
    * generated batches by plain groupBy: per (version, key) the change with
    * the highest seq, dropped when it is a delete. */
  private def statesAt(spark: SparkSession, changes: DataFrame, versions: Seq[Int]): DataFrame = {
    import spark.implicits._
    versions.distinct.toDF("v").join(changes, col("batch") <= col("v"))
      .groupBy("v", "o_orderkey")
      .agg(max_by(struct(payload.map(col) :+ col("op"): _*), col("seq")).as("w"))
      .where(col("w.op") =!= "D")
      .select((col("v") +: col("o_orderkey") +: payload.map(p => col(s"w.$p").as(p))): _*)
  }

  def check(spark: SparkSession): Int = {
    import spark.implicits._
    val changes = (1 to version).map(b => batchDf(spark, b).withColumn("batch", lit(b)))
      .foldLeft(bootstrap(spark).withColumn("batch", lit(0)))(_ unionByName _).cache()
    val cols = col("o_orderkey") +: payload.map(col)
    var wrong = 0
    def fail(what: String): Unit = { wrong += 1; System.err.println(s"perfbench: cdc_mix $what") }
    val states = statesAt(spark, changes,
      feeds.flatMap(f => Seq(f._1, f._2)).toSeq ++ scans.map(_._1) :+ version).cache()
    def state(v: Int) = states.where(col("v") === v).drop("v")
    // lookups: the state row of each looked-up key as of its batch
    val probes = lookups.toSeq.flatMap { case (v, keys, _) => keys.map(k => (v, k)) }.toDF("v", "o_orderkey")
    val lookedUp = probes.join(changes, Seq("o_orderkey")).where(col("batch") <= col("v"))
      .groupBy("v", "o_orderkey")
      .agg(max_by(struct(payload.map(col) :+ col("op"): _*), col("seq")).as("w"))
      .where(col("w.op") =!= "D")
      .select((col("v") +: col("o_orderkey") +: payload.map(p => col(s"w.$p").as(p))): _*)
      .collect().groupBy(_.getInt(0))
    lookups.foreach { case (v, _, got) =>
      val exp = lookedUp.getOrElse(v, Array.empty).toSeq.map(_.toSeq.drop(1))
      Check.diff(exp, got.map(r => r.take(1 + payload.size)), ordered = false)
        .foreach(d => fail(s"lookup after batch $v wrong: $d"))
    }
    feeds.foreach { case (from, to, got) =>
      val a = state(from).select(cols.map(c => c.as(s"a_$c")): _*)
      val b = state(to)
      val diff = b.join(a, b("o_orderkey") === a("a_o_orderkey"), "full_outer")
        .select(coalesce(col("o_orderkey"), col("a_o_orderkey")).as("k"),
          when(col("a_o_orderkey").isNull, "insert").when(col("o_orderkey").isNull, "delete")
            .when(payload.map(p => !(col(p) <=> col(s"a_$p"))).reduce(_ || _), "update").as("t"),
          col("o_status"), col("o_total"), col("o_note"))
        .where(col("t").isNotNull)
      Check.diff(Check.rowsOf(diff), got, ordered = false)
        .foreach(d => fail(s"changefeed $from..$to wrong: $d"))
    }
    val counts = states.groupBy("v").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    scans.foreach { case (v, n) =>
      val exp = counts.getOrElse(v, 0L)
      if (exp != n) fail(s"snapshot scan at $v: expected $exp rows, got $n")
    }
    val snap = UpsertSink.readSnapshot(spark, store).select(cols.map(c => c.as(s"s_$c")): _*)
    val differ = state(version).join(snap, col("o_orderkey") === col("s_o_orderkey"), "full_outer")
      .where((col("o_orderkey") +: payload.map(col)).map(c => !(c <=> col(s"s_$c"))).reduce(_ || _))
      .count()
    if (differ != 0) fail(s"final snapshot differs from the last-write-wins state in $differ keys")
    states.unpersist()
    changes.unpersist()
    lookups.clear(); feeds.clear(); scans.clear()
    wrong
  }

  def report(rec: Recorder, wallS: Double): Seq[(String, Double, String)] = {
    val spark = SparkSession.active
    // the workload's vacuum policy: compact and vacuum at the end of the run
    UpsertSink.compactSnapshot(spark, store)
    UpsertSink.vacuum(store)
    val live = UpsertSink.readSnapshot(spark, store).count()
    val writes = rec.ops(primary)
    Seq(("write_rows_s", writes.map(_.items).sum / wallS, "rows/s"),
      ("write_p50_ms", Stats.p50(writes.map(_.ms)), "ms"),
      ("lookup_p50_ms", Stats.p50(rec.ops("lookup").map(_.ms)), "ms"),
      ("store_bytes_per_row", Gen.du(store)._1.toDouble / live, "B/row"))
  }

  def layers(spark: SparkSession, spans: Seq[Trace.Span], jl: JobListener): Map[String, Double] = {
    def p50(name: String) = Stats.p50(spans.filter(_.name == name).map(_.ms))
    Map("sink.apply_small_ms" -> p50("sink.apply_small"), "sink.apply_large_ms" -> p50("sink.apply_large"),
      "sink.lookup_ms" -> p50("sink.lookup"), "sink.changefeed_ms" -> p50("sink.changefeed"),
      "sink.scan_ms" -> p50("sink.scan"), "sink.compact_ms" -> p50("sink.compact"),
      "sink.bytes_written_per_row" -> Stats.p50(applied.map(_._1.toDouble).toSeq),
      "sink.files_per_batch" -> Stats.mean(applied.map(_._2).toSeq),
      "sink.compact_bytes_rewritten" -> Stats.mean(compacted.map(_.toDouble).toSeq))
  }

}
