package perfbench

import graft.Graft

/** Test of the benchmark's own checker: correct answers pass, and each
  * deliberately wrong answer is rejected. Exits non-zero on a miss.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val rows = Seq(Seq[Any]("a", 1L, 2.5), Seq[Any]("b", 2L, 0.1 + 0.2))
    expect("same rows in another order pass", Check.diff(rows, rows.reverse, ordered = false).isEmpty)
    expect("5, 5L and 5.0 compare equal", Check.diff(Seq(Seq(5)), Seq(Seq(5.0)), ordered = false).isEmpty)
    expect("a changed value is rejected",
      Check.diff(rows, Seq(rows(0), Seq("b", 2L, 0.31)), ordered = false).nonEmpty)
    expect("a missing row is rejected", Check.diff(rows, rows.take(1), ordered = false).nonEmpty)
    expect("an extra row is rejected", Check.diff(rows, rows :+ rows(0), ordered = false).nonEmpty)
    expect("a wrong order is rejected when order matters",
      Check.diff(rows, rows.reverse, ordered = true).nonEmpty)

    val good = """{"columns":["name","st_asgeojson"],"rows":[["x","{\"type\":\"Point\",\"coordinates\":[1.5,2.0]}"]],""" +
      """"geojson":{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"name":"x"},""" +
      """"geometry":{"type":"Point","coordinates":[1.5,2.0]}}]}}"""
    expect("a consistent response passes",
      Check.responseRows(good).toOption.exists(r => Check.diff(Seq(Seq("x", 1.5, 2.0)), r, ordered = false).isEmpty))
    expect("a FeatureCollection that disagrees with its rows is rejected",
      Check.responseRows(good.replace("[1.5,2.0]}}]", "[1.5,2.5]}}]")).isLeft)
    expect("an error response is rejected", Check.responseRows("""{"error":"boom"}""").isLeft)

    // workload checks against generated inputs
    val home = new java.io.File(args.headOption.getOrElse("perfbench")).getAbsolutePath
    val spark = Main.session(home, 2)
    Graft.register(spark)
    try {
      val d = Main.workload("corpus_dedup", 0, mini = true, home, 2).asInstanceOf[CorpusDedup]
      Main.inputs(spark, d)
      val docs = spark.read.parquet(s"${d.ctx.dataDir}/corpus.parquet")
      val fam = docs.where("family = 0").select("id").collect().map(_.getLong(0)).sorted.toSeq
      val labels = fam.map(i => (i, fam.head))
      // the answer for the base documents plus family 0 only
      val famOnly = docs.where("family <= 0")
      val all = famOnly.select("id").collect().map(_.getLong(0)).toSeq
      val kept = all.filterNot(i => labels.exists(l => l._1 == i && l._1 != l._2))
      val pairs = fam.tail.map(i => (fam.head, i))
      expect("dedup: a planted family clustered together passes",
        d.checkAnswers(spark, pairs, labels, kept, Some(famOnly)) == 0)
      expect("dedup: a pair below the Jaccard threshold is rejected",
        d.checkAnswers(spark, pairs :+ ((0L, 1L)), labels, kept, Some(famOnly)) > 0)
      expect("dedup: a split family is rejected",
        d.checkAnswers(spark, pairs, labels.init :+ ((fam.last, fam.last)), kept, Some(famOnly)) > 0)
      expect("dedup: a wrong anti-join result is rejected",
        d.checkAnswers(spark, pairs, labels, kept.tail, Some(famOnly)) > 0)
    } finally spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
