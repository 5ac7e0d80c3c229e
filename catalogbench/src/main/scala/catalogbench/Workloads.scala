package catalogbench

/** A workload: catalog queries run in the listed order by one client
  * (a closed loop — each query starts after the previous one ends).
  *
  * `groups` name the parts of the catalog the queries come from, and
  * are reported apart; `state` names the served-state condition a
  * timed pass runs under; `tables` are the input tables the queries
  * read, whose row counts make `rows_per_s`.
  */
final case class Workload(
    name: String,
    groups: Seq[(String, Seq[String])],
    state: String,
    tables: Seq[String]) {
  def queries: Seq[String] = groups.flatMap(_._2)
}

object Workloads {

  /** Every pass reads a fresh seeded input, so no fit-once cache (IVF
    * centroids, signature tables, ...) can answer from an earlier pass:
    * the pass pays its own fits, as a new batch would. */
  val Cold = "cold"
  /** Set-up runs the workload on the timed input, filling served
    * history before timing; timed passes pay only batch-sized work. */
  val Warm = "warm"

  val all: Map[String, Workload] = Seq(
    Workload("cold_batch",
      Seq(
        // the reference's odds surface: the odds rows derived from
        // lineitem, and the orders-customer-nation-region join
        "odds_board" -> Seq("q01_odds_convert", "q12_join_enrich"),
        // corpus curation: language id, the MinHash-LSH band self-join
        // over a signature table fitted once per input, and IVF
        // centroids trained once per input plus top-k
        "corpus_curation" -> Seq("q22_lang_id", "q25_lsh_pairs",
          "q36_ann_ivf")),
      Cold,
      Seq("lineitem", "orders", "customer", "nation", "region", "documents",
        "embeddings")),
    Workload("incremental_cycle",
      Seq(
        // delta batches merged into and retracted from served history
        "incremental_cycle" -> Seq("q182_incremental_spans",
          "q187_lm_retract")),
      Warm,
      Seq("documents"))
  ).map(w => w.name -> w).toMap
}
