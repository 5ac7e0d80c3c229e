package catalogbench

import graft.SparkEntry
import graft.dedup.{Dedup, SuffixRepeats}
import graft.forecast.Models
import graft.functions.OddsFunctions._
import graft.functions.PortableRound.pround
import graft.model.NgramLm
import graft.multimodal.Multimodal
import graft.operators.{Arb, Devig, Ev, Features}
import graft.sim.{Pq, Similarity, VectorExpressions}
import graft.text.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Public-function probes: traced replays of catalog query bodies that
  * time one call into a layer plus the materialization of its result
  * (noop sink), then finish the body and check that the replay's output
  * equals the catalog query's output. Also the native-expression rates:
  * rows/s of the public expression functions over the input.
  *
  * The replays copy the query bodies of `QueriesCore`/`QueriesScale`
  * (and `SparkEntry.entry`), whose input helpers are private.
  */
final class Probes(spark: SparkSession, dir: String) {
  private val sc = spark.sparkContext
  val times = mutable.LinkedHashMap.empty[String, Double]
  val equal = mutable.LinkedHashMap.empty[String, String]

  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
  private def docs: DataFrame = t("documents").repartition(col("doc_id"))
  private def vecs: DataFrame = t("embeddings").repartition(col("vec_id"))

  private def tagged[A](tag: String)(body: => A): A = {
    sc.setLocalProperty(Recorder.TagKey, s"probe|$tag")
    try body finally sc.setLocalProperty(Recorder.TagKey, null)
  }

  /** Times `call` and the materialization of its result. */
  def probe(name: String)(call: => DataFrame): DataFrame = tagged(name) {
    val t0 = System.nanoTime()
    val df = call
    df.write.mode("overwrite").format("noop").save()
    times(s"probe.${name}_s") = (System.nanoTime() - t0) / 1e9
    df
  }

  /** Times a call whose result is not a DataFrame (a fitted model). */
  def probeValue[A](name: String)(call: => A): A = tagged(name) {
    val t0 = System.nanoTime()
    val a = call
    times(s"probe.${name}_s") = (System.nanoTime() - t0) / 1e9
    a
  }

  /** Compares a replay with the catalog query (or `reference`). */
  def same(query: String, replay: DataFrame,
      reference: => DataFrame = null): Unit = tagged(s"$query/compare") {
    val ref = Option(reference).getOrElse(SparkEntry.queries(query)(spark, dir))
    val verdict = Check.compare(
      Check.fromRows(replay.schema, replay.collect()),
      Check.fromRows(ref.schema, ref.collect()))
    equal(query) = verdict.getOrElse("equal")
  }

  // ---- odds board: q03, q06, q08, q49 and SparkEntry.entry ----

  private def oddsBase: DataFrame = t("lineitem").select(
    col("l_orderkey").as("game_id"),
    (col("l_linenumber") % 2).as("outcome"),
    concat(lit("book_"), (col("l_suppkey") % 7).cast("string")).as("bookmaker"),
    col("l_linenumber"),
    when(col("l_partkey") % 3 === 0,
      when(col("l_partkey") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)) *
        (lit(100.0) + (col("l_partkey") % 150).cast("double")))
      .otherwise(((col("l_partkey") % 300).cast("double") + 101.0) / 100.0)
      .as("price"))
    .repartition(col("game_id"))

  def odds(): Unit = {
    val d = oddsBase.withColumn("decimal_odds", decimalize(col("price")))
      .withColumn("implied_prob", impliedProb(col("decimal_odds")))
    val prop = probe("Devig.proportional")(
      Devig.proportional(d, "implied_prob", Seq("game_id"), "devig_prob"))
    val pow = probe("Devig.power")(
      Devig.power(prop, "implied_prob", Seq("game_id"), 1.05, "true_prob"))
    same("q03_devig", pow.select(col("game_id"), col("outcome"),
      col("l_linenumber"), pround(col("devig_prob"), 6).as("devig_prob"),
      pround(col("true_prob"), 6).as("true_prob")))

    val ev = probe("Ev.enrich")(
      Ev.enrich(pow.withColumnRenamed("decimal_odds", "price_decimal")))
    same("q06_ev", ev.select(col("game_id"), col("outcome"),
      col("l_linenumber"), pround(col("ev"), 6).as("ev"),
      pround(col("variance"), 6).as("variance"),
      pround(col("ev_adj"), 6).as("ev_adj"),
      pround(col("kelly_fraction"), 6).as("kelly_fraction"),
      col("bet_flag")))

    val feats = probe("Features.build")(Features.build(t("events"),
      partitionCol = "user_id", orderCol = "ts", statCols = Seq("value"),
      targetCol = "value", windowSize = 5, tieBreak = Seq("event_id")))
    same("q08_rolling_features", feats.select(col("event_id"), col("user_id"),
      pround(col("value_rolling_avg"), 6).as("rolling_avg"),
      pround(col("target_value"), 6).as("target")))

    // the fixed smallest test-data set, which SparkEntry.entry reads
    val entryDir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$entryDir/lineitem.parquet")
    val entryOdds = li.select(
      col("l_orderkey").cast("string").as("game_id"),
      when(col("l_linenumber") % 2 === 0, lit("home")).otherwise(lit("away"))
        .as("outcome"),
      concat(lit("book_"), (col("l_suppkey") % 7).cast("string"))
        .as("bookmaker"),
      when(col("l_partkey") % 3 === 0,
        when(col("l_partkey") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)) *
          (lit(100.0) + (col("l_partkey") % 150).cast("double")))
        .otherwise(((col("l_partkey") % 300).cast("double") + 101.0) / 100.0)
        .as("price"))
      .withColumn("home_team", concat(lit("home_"), col("game_id")))
      .withColumn("away_team", concat(lit("away_"), col("game_id")))
    val enriched = Devig.proportional(
      entryOdds.withColumn("price", decimalize(col("price")))
        .withColumn("implied_prob", impliedProb(col("price"))),
      "implied_prob", Seq("game_id"), "devig_prob")
    same("entry", probe("Arb.summary")(Arb.summary(enriched)),
      SparkEntry.entry(spark))

    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val f49 = t("events")
      .withColumn("rolling_avg", avg(col("value")).over(wo.rowsBetween(-4, 0)))
      .withColumn("target", lead(col("value"), 1).over(wo))
      .filter(col("target").isNotNull)
      .select(col("event_id"), col("rolling_avg"), col("target"))
    val train = f49.filter(col("event_id") % 5 === 1)
    val test = f49.filter(col("event_id") % 5 === 0)
    val model = probeValue("Models.train")(Models.train(train,
      "random_forest", featureCols = Seq("rolling_avg"), labelCol = "target"))
    val bounds = train.agg(min(col("target")).as("lo"),
      max(col("target")).as("hi"), count(lit(1)).as("n_train"))
    same("q49_rf_forecast", Models.predict(model, test)
      .crossJoin(broadcast(bounds))
      .agg(count(lit(1)).as("n_test"), min(col("n_train")).as("n_train"),
        (count(when(col("prediction").isNotNull &&
          !isnan(col("prediction")) &&
          col("prediction") >= col("lo") &&
          col("prediction") <= col("hi"), 1)) === count(lit(1)))
          .as("preds_in_train_range")))
  }

  // ---- corpus curation: q36, q89, q174 ----

  def corpus(): Unit = {
    val v = vecs
    val cents = probeValue("Similarity.trainedCentroids")(
      Similarity.trainedCentroids(v, nlist = 8, iters = 2))
    val ivf = probe("Similarity.ivfTopK")(Similarity.ivfTopK(v,
      v.filter(col("vec_id") % 40 === 0), cents, k = 5, nprobe = 4,
      roundSim = Some(6)))
    same("q36_ann_ivf", ivf.select(col("query_id"), col("neighbor_id"),
      col("rank"), col("cosine_sim")))

    same("q89_semantic_dedup", probe("Similarity.semanticDedup")(
      Similarity.semanticDedup(vecs, Similarity.gridCentroids(8, 64),
        threshold = 0.35, roundSim = Some(6))))

    val d = docs
    val mh = probe("Dedup.minhashEdges")(
      Dedup.minhashEdges(d, threshold = 0.5, serveSigs = true))
    val sh = Dedup.simhashEdges(d, maxHamming = 12)
    val cl = probe("Dedup.duplicateClusters")(
      Dedup.duplicateClusters(mh.unionByName(sh)))
    same("q174_ensemble_dedup", cl.withColumn("n_members",
      count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long")))
  }

  // ---- incremental cycle: q180, q182, q185, q187 ----

  private def saCorpus: DataFrame = {
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("tk"))
    val sample = toks.filter(col("doc_id") % 20 === 0)
    val boiler = sample.filter(col("doc_id").isin(0L, 20L, 40L, 60L))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("doc_id"), col("tk")))),
        x => x.getField("tk"))).as("bl"))
    sample.crossJoin(broadcast(boiler))
      .select(col("doc_id"),
        when(col("doc_id") % 100 === 0, concat(col("tk"), col("bl")))
          .otherwise(col("tk")).as("tokens"))
  }

  def incremental(): Unit = {
    val d = docs
    val hist = d.filter(col("doc_id") % 5 =!= 0)
    val batch = d.filter(col("doc_id") % 5 === 0)
    val labels = Dedup.simhashClusters(hist, maxHamming = 12)
    val edges = probe("Dedup.simhashBatchEdges")(Dedup.simhashBatchEdges(
      batch, Dedup.simhashTable(hist), maxHamming = 12))
    same("q180_incremental_cycle",
      probe("Dedup.mergeClusters")(Dedup.mergeClusters(labels, edges)))

    val removed = d.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    same("q185_cluster_retract", probe("Dedup.retractClusters")(
      Dedup.simhashRetractClusters(Dedup.simhashClusters(d, maxHamming = 12),
        Dedup.simhashTable(d), removed, maxHamming = 12)))

    val aug = saCorpus
    val sHist = aug.filter(col("doc_id") % 200 =!= 100)
    val sBatch = aug.filter(col("doc_id") % 200 === 100)
    val spans = probe("SuffixRepeats.mergeSpanList")(
      SuffixRepeats.mergeSpanList(
        SuffixRepeats.repeatedSpanList(sHist, minLen = 25),
        SuffixRepeats.gramIndex(sHist, minLen = 25),
        sHist, sBatch, minLen = 25)._1)
    same("q182_incremental_spans", spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("covered_tokens"),
        max(col("span_max_ell")).cast("long").as("max_repeat_len")))

    val base = d.select(col("doc_id"), col("lang"),
      TextAnalysis.tokens(col("text")).as("tk"))
    val m = NgramLm.cachedBigram(base)
    val retracted = probeValue("NgramLm.retractCounts")(
      NgramLm.retractCounts(m, base.filter(col("doc_id") % 9 === 2)))
    same("q187_lm_retract",
      retracted.c12.select(col("w1"), col("w2"), col("c12").cast("long")))
  }

  // ---- native expressions ----

  /** Rows/s of `expr` over `df` replicated `copies` times. */
  private def rate(name: String, df: DataFrame, copies: Int)(
      expr: DataFrame => DataFrame): Unit = tagged(s"expr.$name") {
    val rows = df.crossJoin(spark.range(copies).withColumnRenamed("id", "__copy"))
    val n = df.count() * copies
    val t0 = System.nanoTime()
    expr(rows).write.mode("overwrite").format("noop").save()
    times(s"expr.${name}_rows_per_s") = n / ((System.nanoTime() - t0) / 1e9)
  }

  def expressions(): Unit = {
    val d = t("documents").select(col("doc_id"), col("text"))
    val v = t("embeddings").select(col("vec_id"), col("embedding"))
    val cb = Pq.codebookLiteral(8, 16, 8)
    rate("minhash", d, 40)(_.select(Dedup.minhashSignature(col("text"), 16, 3)))
    rate("simhash", d, 40)(_.select(Dedup.simhash(col("text"))))
    rate("dot", v, 200)(_.select(
      VectorExpressions.dotProduct(col("embedding"), col("embedding"))))
    val codes = v.select(col("vec_id"), col("embedding"),
      Pq.codes(Pq.distances(col("embedding"), cb)).as("pq_codes"))
    rate("adc", codes, 100)(_.select(
      VectorExpressions.adcDistance(col("pq_codes"), col("embedding"), cb)))
    rate("jpeg", v, 4)(r => Multimodal.imageDHash(Multimodal.resize(
      Multimodal.jpegAssetsNearDup(r.withColumn("vec_id",
        col("vec_id") * 1000 + col("__copy")).drop("__copy"), 53), 9, 8)))
  }
}

object Probes {
  /** Runs the workload's probes and the expression rates over `dir`,
    * which holds every table; returns the figures and the replay
    * verdicts as JSON. The cold workload probes the odds-board and
    * corpus-curation functions, the warm one the incremental ones. */
  def run(spark: SparkSession, w: Workload, dir: String): String = {
    val p = new Probes(spark, dir)
    if (w.state == Workloads.Cold) {
      p.odds()
      p.corpus()
    } else p.incremental()
    p.expressions()
    s"""{"figures": ${Json.obj(p.times)}, "equal": {${p.equal.map {
      case (k, v) => s"${Json.str(k)}: ${Json.str(v)}"
    }.mkString(", ")}}}"""
  }
}
