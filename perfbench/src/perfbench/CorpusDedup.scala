package perfbench

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** corpus_dedup: one client runs passes of near-duplicate removal over a
  * corpus with seeded near-duplicate families: Dedup.minhashPairs →
  * Dedup.clusters → anti-join. The operators' shuffle structure and the
  * connected-components loop do nearly all the work. */
final class CorpusDedup(val ctx: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  private val nBase = if (ctx.mini) 1500 else 5000
  private val nFamilies = nBase / 20
  private val words = 60
  private val threshold = 0.7
  private val dir = ctx.dataDir
  val primary = "pass"

  private var corpus: DataFrame = _
  private var lastPairs: Seq[(Long, Long)] = Nil
  private var lastLabels: Seq[(Long, Long)] = Nil
  private var lastKept: Seq[Long] = Nil
  private var nDocs = 0L
  /** (candidate pairs, reported pairs) per pass, read from the pair plan. */
  private val candidates = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private def word(h: Column): Column = lower(conv(pmod(h, lit(1500000L)).cast("string"), 10, 36))

  /** Base documents are random token sequences; family f has 2–6 members,
    * each the family root's tokens with two token edits (member 0 is the
    * root itself), so every member is within shingle Jaccard ~0.88 of the
    * root. Each family also has a distant relative (j = 9, about one token
    * in five edited, Jaccard ~0.5 to the root): it collides with the family
    * in some LSH bands and must be refined away, so not every candidate pair
    * is kept. Ids: base docs 0.., family members 10^6 + 10f + j. */
  def generate(spark: SparkSession): Map[String, Any] = {
    val seed = ctx.seed
    val pos = sequence(lit(0), lit(words - 1))
    val base = spark.range(0, nBase, 1, 4).select(col("id"),
      concat_ws(" ", transform(pos, i => word(xxhash64(col("id"), i, lit(seed), lit(700))))).as("text"),
      lit(-1L).as("family"))
    val fam = spark.range(0, nFamilies, 1, 4)
      .withColumn("m", col("id") % 5 + 2)
      .select(col("id").as("f"), explode(concat(sequence(lit(0L), col("m") - 1), array(lit(9L)))).as("j"))
      // exactly two edited positions per member, e1 != e2
      .withColumn("e1", pmod(xxhash64(col("f"), col("j"), lit(seed), lit(702)), lit(words.toLong)).cast("int"))
      .withColumn("e2", pmod(col("e1") + 1 + pmod(xxhash64(col("f"), col("j"), lit(seed), lit(705)),
        lit(words - 1L)), lit(words.toLong)).cast("int"))
      .select((lit(1000000L) + col("f") * 10 + col("j")).as("id"),
        concat_ws(" ", transform(pos, i =>
          when((col("j") > 0 && col("j") < 9 && (i === col("e1") || i === col("e2"))) ||
               (col("j") === 9 && pmod(xxhash64(col("f"), i, lit(seed), lit(706)), lit(5L)) === 0),
            word(xxhash64(col("f"), col("j"), i, lit(seed), lit(703))))
            .otherwise(word(xxhash64(col("f"), i, lit(seed), lit(704)))))).as("text"),
        when(col("j") === 9, lit(-2L)).otherwise(col("f")).as("family"))
    base.unionByName(fam).repartition(4, col("id")).write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    val docs = spark.read.parquet(s"$dir/corpus.parquet")
    Map("corpus_docs" -> docs.count(), "families" -> nFamilies,
      "family_docs" -> docs.where(col("family") >= 0).count(),
      "corpus_bytes" -> Gen.du(s"$dir/corpus.parquet")._1, "words_per_doc" -> words)
  }

  override def setup(spark: SparkSession): Unit = {
    corpus = spark.read.parquet(s"$dir/corpus.parquet").select("id", "text").cache()
    nDocs = corpus.count()
  }

  /** One pass; returns the pairs, labels and surviving ids it produced. */
  private def pass(spark: SparkSession): (Seq[(Long, Long)], Seq[(Long, Long)], Seq[Long]) = {
    val (pairs, nPairs) = Trace.span("dedup.minhash") {
      val p = Dedup.minhashPairs(corpus, "id", "text", threshold = threshold).cache()
      (p, p.count())
    }
    candidates += ((candidatePairs(pairs), nPairs))
    val labels = Trace.span("dedup.clusters")(Dedup.clusters(pairs).cache())
    try {
      val lab = labels.collect().map(r => (r.getAs[Number]("id").longValue, r.getAs[Number]("cluster").longValue))
      val kept = Trace.span("dedup.antijoin") {
        corpus.join(labels.where(col("id") =!= col("cluster")).select("id"), Seq("id"), "left_anti")
          .select("id").collect().map(_.getLong(0))
      }
      val pr = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      (pr.toSeq, lab.toSeq, kept.toSeq)
    } finally {
      labels.unpersist()
      pairs.unpersist()
      Dedup.releaseCaches()
    }
  }

  /** Distinct band-collision pairs: the output rows of the aggregate that
    * groups the candidate stream on (id_a, id_b), read from the metrics of
    * the cached pair plan. */
  private def candidatePairs(pairs: DataFrame): Long =
    pairs.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation =>
      collect(r.cacheBuilder.cachedPlan) {
        case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("id_a", "id_b") =>
          a.metrics("numOutputRows").value
      }
    }.toSeq.flatten.minOption.getOrElse(-1L)

  def warmup(spark: SparkSession): Unit = {
    val small = Dedup.minhashPairs(corpus.limit(1000), "id", "text", threshold = threshold)
    Dedup.clusters(small).count()
    Dedup.releaseCaches()
  }

  /** One untimed full pass: the first pass at full size runs slower. */
  override def prepare(spark: SparkSession): Unit = pass(spark)

  def loop(spark: SparkSession, rec: Recorder, deadlineNs: Long, maxOps: Int): Unit = {
    var done = 0
    candidates.clear()
    while (done < maxOps && System.nanoTime() < deadlineNs) {
      rec.attempt(primary, nDocs)(pass(spark)).foreach { case (p, l, k) =>
        lastPairs = p; lastLabels = l; lastKept = k
      }
      done += 1
    }
  }

  def check(spark: SparkSession): Int =
    checkAnswers(spark, lastPairs, lastLabels, lastKept)

  /** Wrong answers in one pass's output: pairs below the threshold by exact
    * shingle Jaccard, planted families split over clusters, an anti-join
    * that kept the wrong number of documents. */
  def checkAnswers(spark: SparkSession, lastPairs: Seq[(Long, Long)],
                   lastLabels: Seq[(Long, Long)], lastKept: Seq[Long],
                   corpusRows: Option[DataFrame] = None): Int = {
    import spark.implicits._
    var wrong = 0
    def fail(what: String): Unit = { wrong += 1; System.err.println(s"perfbench: corpus_dedup $what") }
    val docs = corpusRows.getOrElse(spark.read.parquet(s"$dir/corpus.parquet"))
    // exact character 5-shingle Jaccard of every reported pair, plain SQL
    def shingles(t: Column) = {
      val s = lower(t)
      array_distinct(transform(sequence(lit(1), greatest(length(s) - 4, lit(1))), i => substring(s, i, lit(5))))
    }
    val pairs = lastPairs.toDF("a", "b")
    val low = pairs.join(docs.select(col("id").as("a"), shingles(col("text")).as("sa")), "a")
      .join(docs.select(col("id").as("b"), shingles(col("text")).as("sb")), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("sa"), col("sb"))) / size(array_union(col("sa"), col("sb")))).as("j"))
      .where(col("j") < threshold - 1e-9)
    val nLow = low.count()
    if (nLow > 0) fail(s"$nLow reported pairs have Jaccard below $threshold, e.g. ${low.head()}")
    // every planted family lands in one cluster
    val labels = lastLabels.toDF("id", "cluster")
    val split = docs.where(col("family") >= 0).join(labels, Seq("id"), "left")
      .groupBy("family").agg(countDistinct(coalesce(col("cluster"), -col("id") - 1)).as("k"))
      .where(col("k") > 1).count()
    if (split > 0) fail(s"$split planted families are split over several clusters")
    // the anti-join keeps exactly the docs that are their cluster's minimum
    val victims = lastLabels.count { case (i, c) => i != c }
    if (lastKept.size != docs.count() - victims)
      fail(s"anti-join kept ${lastKept.size} docs, expected ${docs.count() - victims}")
    if (lastPairs.isEmpty && lastLabels.isEmpty) fail("no pass completed")
    wrong
  }

  def report(rec: Recorder, wallS: Double): Seq[(String, Double, String)] = {
    val ops = rec.ops(primary)
    Seq(("latency_p50_ms", Stats.p50(ops.map(_.ms)), "ms"),
      ("throughput_docs_s", ops.map(_.items).sum / wallS, "docs/s"))
  }

  def layers(spark: SparkSession, spans: Seq[Trace.Span], jl: JobListener): Map[String, Double] = {
    def p50(name: String) = Stats.p50(spans.filter(_.name == name).map(_.ms))
    val cand = candidates.filter(_._1 > 0).toSeq
    Map("dedup.minhash_ms" -> p50("dedup.minhash"), "dedup.clusters_ms" -> p50("dedup.clusters"),
      "dedup.candidate_pairs" -> Stats.p50(cand.map(_._1.toDouble)),
      "dedup.pair_yield" -> cand.map(_._2).sum.toDouble / math.max(1L, cand.map(_._1).sum))
  }

  override def teardown(spark: SparkSession): Unit = if (corpus != null) corpus.unpersist()
}
