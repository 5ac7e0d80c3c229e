package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded LSH: the one band-join design shared by the near-duplicate
  * detectors (MinHash, SimHash, SRP embeddings, perceptual hashes). A
  * signature splits into bands; two items are candidates when they
  * share any (band_idx, band value) — an equi-join, never the cross
  * product. Every band join built here keeps one exchange discipline:
  *
  *  - band columns are built once per item, from a signature that sits
  *    behind its caller's materialization barrier;
  *  - a self-join's two sides read ONE explicit repartition on
  *    (band_idx, band). Planner-inserted exchanges under the two aliased
  *    projections don't canonicalize equal, so without the barrier the
  *    same banded frame shuffles twice; with it ReuseExchange/AQE runs
  *    the shuffle once. Not over a signature table checkpointed with
  *    AQE off, though: its scan reports hashpartitioning(sig_fp) with
  *    each scan instance's own expression id, the two sides never
  *    canonicalize equal, and the band exchange runs once per side;
  *  - every band join is pinned `shuffle_hash`. The banded sides
  *    descend from signature-collapse AGGREGATES whose size estimates
  *    are tiny, so without the hint Spark broadcasts a
  *    corpus-proportional side (2M rows at sf1: a 6× wall regression;
  *    an OOM at 100 TB). The band equi-join stays a shuffle join at
  *    any size;
  *  - band rows carry fingerprints and representative ids only —
  *    callers join signatures back at candidate cardinality.
  */
object Lsh {

  /** MinHash band `b`'s bucket key: md5 over signature components
    * [b·r, (b+1)·r) joined with '|'. `b` is a column so one array HOF
    * builds every band of a row.
    */
  def minhashBandHash(sig: Column, b: Column, r: Int): Column =
    md5(concat_ws("|", slice(sig, b * r + 1, lit(r))))

  /** One `band` struct row (band_idx, band_hash) per MinHash band of
    * `sig`, a k = bands·r component signature.
    */
  def minhashBands(sig: Column, bands: Int, r: Int): Column =
    explode(transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band_idx"),
        minhashBandHash(sig, b, r).as("band_hash"))))

  /** (band_idx, band_val) rows over `bands` consecutive `width`-char
    * slices of a string signature (SimHash and perceptual hex hashes).
    */
  def substrBands(sig: Column, bands: Int, width: Int): Column =
    posexplode(array((0 until bands).map(b =>
      sig.substr(b * width + 1, width)): _*))
      .as(Seq("band_idx", "band_val"))

  /** Candidate rows of two banded frames: the (band_idx, `band`)
    * equi-join, shuffle-hash on both sides.
    */
  def bandProbe(left: DataFrame, right: DataFrame,
                band: String): DataFrame =
    left.hint("shuffle_hash")
      .join(right.hint("shuffle_hash"), Seq("band_idx", band))

  /** Band self-join of one banded frame behind one shared band
    * exchange. Each `carry` column and the `rep` column appear as
    * `<alias>_a` and `<alias>_b`; `<rep>_a < <rep>_b` keeps each
    * unordered pair of distinct representatives once (same-rep
    * collisions drop here; callers handle them exactly).
    */
  def bandSelfJoin(banded: DataFrame, band: String,
                   carry: Seq[(String, String)],
                   rep: (String, String)): DataFrame = {
    val shared = banded.repartition(col("band_idx"), col(band))
    def side(s: String): DataFrame = shared.select(
      (carry :+ rep).map { case (c, as) => col(c).as(s"${as}_$s") } ++
        Seq(col("band_idx"), col(band)): _*)
    bandProbe(side("a"), side("b"), band)
      .filter(col(s"${rep._2}_a") < col(s"${rep._2}_b"))
  }

  /** Rep→member star edges (id_a = rep_id, id_b = member) inside every
    * multi-member group. `members` is (`key`, `idCol`); `groups` is one
    * row per `key` with its min-id `rep_id` and member count `__m`.
    */
  def starEdges(members: DataFrame, groups: DataFrame, key: String,
                idCol: String): DataFrame =
    members
      .join(groups.filter(col("__m") > 1)
        .select(col(key), col("rep_id")), Seq(key))
      .filter(col(idCol) =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col(idCol).as("id_b"))

  /** Estimated Jaccard of two k-component MinHash signatures: the
    * fraction of equal components.
    */
  def minhashAgreement(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))
      .cast("double") / k
}
