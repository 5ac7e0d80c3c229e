package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code is compiled once and reused: a repeated execution
  * of the benchmark's queries finds every class it needs in Spark's
  * generated-class cache instead of running Janino again. That holds
  * only while the working set fits the cache
  * (`GraftSession.CodegenCacheEntries`); with Spark's default of 100
  * entries these seven queries cycle through more classes than the
  * LRU keeps, so every round recompiles.
  *
  * Round 1 fills the fit-once caches and served state, so round 2 may
  * still plan differently from round 1; round 3 repeats round 2 and
  * must compile nothing.
  */
class CodegenReuseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01" // gate scale, TESTDATA.md
  private val queries = Seq("q01_odds_convert", "q12_join_enrich",
    "q22_lang_id", "q25_lsh_pairs", "q36_ann_ivf",
    "q182_incremental_spans", "q187_lm_retract")

  /** One round: every query's rows, sorted, and the classes compiled.
    * Doubles print to 12 significant digits, so a reordered
    * floating-point sum still compares equal (the outputs are flat). */
  private def round(): (Map[String, Seq[String]], Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = queries.map { q =>
      q -> SparkEntry.queries(q)(spark, dir).collect().toSeq
        .map(_.toSeq.map {
          case d: Double => f"$d%.12g"
          case x => String.valueOf(x)
        }.mkString("|")).sorted
    }.toMap
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("a repeated catalog round compiles no new classes and returns " +
      "the first round's outputs") {
    val (first, compiled1) = round()
    val (_, compiled2) = round()
    val (third, compiled3) = round()
    assert(compiled1 > 0, "round 1 must generate code")
    assert(compiled3 == 0,
      s"round 3 recompiled $compiled3 classes (rounds 1-2 compiled " +
        s"$compiled1, $compiled2): the working set outgrew the " +
        "generated-class cache")
    queries.foreach { q =>
      assert(first(q).nonEmpty, s"$q returned no rows")
      assert(third(q) == first(q), s"$q: round 3 output differs")
    }
  }
}
