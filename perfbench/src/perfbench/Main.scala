package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Graft
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The benchmark's entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --home <perfbench dir>`.
  *
  * Untraced (`--trace 0`): generate the seed's inputs (untimed), set up three
  * times on fresh sessions (median = `setup_s`), run the closed loop for
  * `--seconds`, check every answer, and print the end-to-end metrics.
  *
  * Traced (`--trace 1`): the loop in four quarters, untraced and traced
  * alternating (spans and a listener on), then this workload's layer probes
  * and short traced runs of the other workloads' small variants, so every
  * layer metric is measured. Prints the layer metrics, including the
  * tracing overhead (traced minus untraced end-to-end figures). */
object Main {
  val Workloads = Seq("geo_serve", "doc_scan", "cdc_mix", "corpus_dedup")
  /** Primary operations a small variant runs to fill in its layer metrics. */
  private val MiniOps = Map("geo_serve" -> 28, "doc_scan" -> 5, "cdc_mix" -> 4, "corpus_dedup" -> 1)
  private val SetupRounds = 3
  private val KeptSeeds = 12
  /** The small variants run on fixed inputs, generated once per checkout. */
  private val MiniSeed = 0L

  def session(home: String, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$home/.tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, seed: Long, mini: Boolean, home: String, cores: Int): Workload = {
    val tag = if (mini) s"$name-mini" else name
    val ctx = Ctx(seed, mini, s"$home/.data/$tag-$seed", s"$home/.tmp/run/$tag")
    name match {
      case "geo_serve" => new GeoServe(ctx, cores)
      case "doc_scan" => new DocScan(ctx)
      case "cdc_mix" => new CdcMix(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
    }
  }

  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  /** The seed's inputs, generated once: a marker file records their
    * description. Keeps the newest [[KeptSeeds]] seeds per workload variant. */
  def inputs(spark: SparkSession, w: Workload): Map[String, Any] = {
    val marker = new File(w.ctx.dataDir, "_inputs.json")
    if (!marker.exists()) {
      val t0 = System.nanoTime()
      val stats = w.generate(spark) + ("generate_s" -> (System.nanoTime() - t0) / 1e9)
      marker.getParentFile.mkdirs()
      java.nio.file.Files.writeString(marker.toPath, json(stats))
      val dir = new File(w.ctx.dataDir)
      val prefix = dir.getName.stripSuffix(s"-${w.ctx.seed}") + "-"
      Option(dir.getParentFile.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith(prefix) && f.getName.drop(prefix.length).forall(c => c.isDigit || c == '-'))
        .sortBy(-_.lastModified()).drop(KeptSeeds)
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
    mapper.readValue(marker, classOf[java.util.Map[String, Any]]).asScala.toMap
  }

  /** Wall milliseconds of fixed CPU work on `threads` threads: a host-noise
    * record, not a metric — a contended host shows as a slower figure. */
  def calibrate(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      new Thread(() => {
        var x = 88172645463325252L + k
        var i = 0
        while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sink.addAndGet(x)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs the loop for `seconds`; returns its wall time in seconds. */
  def measure(w: Workload, spark: SparkSession, rec: Recorder, seconds: Double,
              maxOps: Int = Int.MaxValue): Double = {
    val t0 = System.nanoTime()
    w.loop(spark, rec, t0 + (seconds * 1e9).toLong, maxOps)
    (System.nanoTime() - t0) / 1e9
  }

  /** The contract's end-to-end figures of one loop. */
  def endToEnd(w: Workload, all: Seq[Op], wallS: Double): Map[String, Double] = {
    val ops = all.filter(_.kind == w.primary)
    val ms = ops.filter(_.ok).map(_.ms)
    Map("latency_p50_ms" -> Stats.p50(ms),
      "throughput_items_s" -> ops.filter(_.ok).map(_.items).sum / wallS)
  }

  /** Listener counts of a traced loop, per primary operation. */
  def sparkLayers(w: Workload, all: Seq[Op], wallS: Double, jl: JobListener, gcDelta: Long,
                  cores: Int): Map[String, Double] = {
    val ops = all.filter(_.kind == w.primary)
    val n = math.max(1, ops.size).toDouble
    val t0 = ops.headOption.map(_.wallMs).getOrElse(0L)
    Map(
      "spark.jobs_per_op" -> jl.jobList.count(_.startMs >= t0) / n,
      "spark.tasks_per_op" -> jl.tasks.sum / n,
      "spark.shuffle_write_bytes_per_op" -> jl.shuffleWriteBytes.sum / n,
      "spark.spill_bytes_per_op" -> jl.spillBytes.sum / n,
      "spark.input_records_per_op" -> jl.inputRecords.sum / n,
      "spark.executor_busy_frac" -> jl.runMs.sum / (wallS * 1000 * cores),
      "spark.sched_delay_ms" -> jl.schedDelayMs.sum.toDouble / math.max(1L, jl.tasks.sum),
      "spark.task_failures" -> jl.failures.sum.toDouble,
      "spark.driver_gap_ms" -> Stats.mean(ops.map(o => jl.idleMs(o.wallMs, o.wallMs + o.ms.toLong).toDouble)),
      "jvm.gc_ms_per_op" -> gcDelta / n)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val home = a("home")
    val cores = Runtime.getRuntime.availableProcessors()
    val t00 = System.nanoTime()
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(p: String): Unit = phases(p) = (System.nanoTime() - t00) / 1e9
    val calBefore = calibrate(cores)
    val w = workload(name, seed, mini = false, home, cores)

    var spark = session(home, cores)
    phase("session")
    val described = inputs(spark, w)
    spark.stop()
    phase("inputs")
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      spark = session(home, cores)
      Graft.register(spark)
      w.setup(spark)
      w.warmup(spark)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupRounds) { w.teardown(spark); spark.stop() }
      s
    }
    phase("setup")
    w.prepare(spark)
    phase("prepare")

    // untraced: one loop. Traced: untraced and traced quarters alternate
    // (U T U T), so warm-up drift does not show as tracing overhead.
    val recU, recT = new Recorder
    var wallU, wallT = 0.0
    var loopSpans = Seq.empty[Trace.Span]
    val jl = new JobListener
    val gc0 = gcMs()
    if (!traced) wallU = measure(w, spark, recU, seconds)
    else {
      spark.sparkContext.addSparkListener(jl)
      (0 until 4).foreach { k =>
        if (k % 2 == 0) wallU += measure(w, spark, recU, seconds / 4.0)
        else {
          Trace.start()
          wallT += measure(w, spark, recT, seconds / 4.0)
          loopSpans ++= Trace.stop()
        }
      }
      ListenerDrain(spark.sparkContext)
    }
    val e2e = endToEnd(w, recU.ops, wallU)
    val all = recU.ops ++ recT.ops
    phase("loop")

    var layers = Map.empty[String, Double]
    var spans = Seq.empty[Trace.Span]
    if (traced) {
      val e2eTraced = endToEnd(w, recT.ops, wallT)
      val generic = sparkLayers(w, all, wallU + wallT, jl, gcMs() - gc0, cores)
      val overhead = Map(
        "trace.overhead_latency_p50_ms" -> (e2eTraced("latency_p50_ms") - e2e("latency_p50_ms")),
        "trace.overhead_throughput_frac" ->
          (e2eTraced("throughput_items_s") / e2e("throughput_items_s") - 1))
      // probes: this workload's own, then small traced runs of the others
      Trace.start()
      val own = w.layers(spark, loopSpans, jl)
      val others = Workloads.filter(_ != name).flatMap { o =>
        val x = workload(o, MiniSeed, mini = true, home, cores)
        inputs(spark, x)
        x.setup(spark); x.warmup(spark); x.prepare(spark)
        val before = Trace.stop()
        Trace.start()
        val xr = new Recorder
        measure(x, spark, xr, 60, MiniOps(o))
        val xs = Trace.stop()
        Trace.start()
        ListenerDrain(spark.sparkContext)
        val m = x.layers(spark, xs, jl)
        x.teardown(spark)
        spans = spans ++ before ++ xs
        m
      }.toMap
      spans = loopSpans ++ spans ++ Trace.stop()
      spark.sparkContext.removeSparkListener(jl)
      layers = others ++ generic ++ own ++ overhead
      e2eTraced.foreach { case (k, v) => println(f"traced $k $v%.4f") }
    }

    phase("traced")
    val wrong = w.check(spark)
    phase("check")
    val extra = w.report(recU, wallU)
    w.teardown(spark)
    spark.stop()
    val calAfter = calibrate(cores)
    phase("end")

    val failed = all.count(!_.ok) + wrong
    // jobs attributed to spans through the job group each span set
    val jobsBySpan = jl.jobList.groupBy(_.group).view.mapValues(_.size).toMap
    // values only: run.py attaches the units BENCHMARK.json declares
    val metrics: Map[String, Double] =
      if (traced) layers
      else Map("setup_s" -> Stats.p50(setups), "latency_p50_ms" -> e2e("latency_p50_ms"),
        "throughput_items_s" -> e2e("throughput_items_s"))
    val errorFrac = failed.toDouble / math.max(1, all.size)
    val printed = extra :+ (("peak_rss_mb", peakRssMb(), "MB")) :+ (("error_frac", errorFrac, "ratio"))
    printed.foreach { case (k, v, u) =>
      println(f"metric $k $v%.4f $u")
    }
    println(f"host_calibration_ms before $calBefore%.1f after $calAfter%.1f threads $cores")

    val record = Map("workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "inputs" -> described, "setup_s" -> setups, "phase_end_s" -> phases.toMap,
      "host_calibration_ms" -> Map("before" -> calBefore, "after" -> calAfter, "threads" -> cores),
      "workload_metrics" -> printed.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "metrics" -> metrics, "attempted" -> all.size, "failed" -> failed,
      "listener" -> Map("jobs" -> jl.jobList.size, "tasks" -> jl.tasks.sum, "task_run_ms" -> jl.runMs.sum,
        "shuffle_write_bytes" -> jl.shuffleWriteBytes.sum, "spill_bytes" -> jl.spillBytes.sum,
        "input_records" -> jl.inputRecords.sum, "task_failures" -> jl.failures.sum,
        "sched_delay_ms" -> jl.schedDelayMs.sum),
      "ops" -> all.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "items" -> o.items, "ok" -> o.ok)),
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "jobs" -> jobsBySpan.getOrElse(s"pb-${s.id}", 0))))
    val out = new File(home, ".out")
    out.mkdirs()
    java.nio.file.Files.writeString(new File(out, s"$name-seed$seed-trace${if (traced) 1 else 0}.json").toPath,
      json(record))
    println(json(Map("correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v) })))
  }
}
