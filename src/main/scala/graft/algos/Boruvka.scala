package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Ckpt, CkptState}

final case class BoruvkaResult(forest: DataFrame, rounds: Int)

/** Minimum spanning forest — Borůvka's algorithm (1926; the classic
  * min_plus-flavored GraphBLAS/LAGraph kernel): per round every component
  * picks its minimum-weight outgoing edge under the STRICT total order
  * (w, lo, hi) — the tie-break makes the forest unique and deterministic
  * even when weights repeat (the "distinct perturbed weights" trick done
  * exactly) — then the chosen edges merge their endpoint components and the
  * edge list contracts. Components at least halve per round, so ⌈log₂ n⌉
  * rounds span any connected graph; by the cut property every chosen edge
  * belongs to THE minimum spanning forest of the perturbed order, so a
  * bounded-round run returns a deterministic SUBSET of it (the same
  * bounded-round contract as MIS/KCore/KTruss).
  *
  * State is entirely COMPONENT-level after initialization: the contracted
  * relation (ca, cb, lo, hi, w) carries original endpoint ids only as
  * payload for the output. The per-round relabel is the exact min-label
  * fixpoint over the (tiny, ≤#components-row) merge graph via
  * MinReach.minReachColor — converged, so labels are canonical per merged
  * tree regardless of internal iteration counts, and a recursive-CTE
  * min-reach reproduces them exactly. No vertex-level join ever recurs; the
  * contracted relation only shrinks (intra-component edges drop at
  * relabel). Output: (lo, hi, w) forest edges chosen within maxRounds.
  */
object Boruvka {

  /** Selected-edge count at or below which the round's relabel runs on the
    * driver (collect the ≤1-row-per-component merge pairs, exact min-member
    * union-find, broadcast the label map back) instead of the distributed
    * MinReach fixpoint. The two produce IDENTICAL labels (min component id
    * per merged tree); the driver path just skips ~5 fixed-cost distributed
    * iterations per round — which dominate wall time once the contracted
    * graph is small. Above the threshold (early rounds at true web scale)
    * the relabel stays fully distributed. */
  private val driverRelabelMax = 1000000L

  /** Exact min-member labels of the merge-pair components, on the driver:
    * union-by-min (the smaller root adopts the larger) makes every final
    * root the MINIMUM member of its component — the same canonical label
    * MinReach converges to — independent of union order. */
  private[graft] def unionFindMinLabels(
      pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
      }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  /** `wEdgesSym`: symmetric weighted edges (src, dst, w), no self-loops,
    * one row per direction with equal w. */
  def run(spark: SparkSession, wEdgesSym: DataFrame, numPartitions: Int,
          maxRounds: Int = 4): BoruvkaResult = {
    // fused initial count (was a separate limit(1).count() probe job)
    val (e0, nE0) = Ckpt.materializeWithCount(wEdgesSym
      .select(col("src").as("ca"), col("dst").as("cb"),
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"), col("w"))
      .repartition(numPartitions, col("ca")))
    var e = e0
    // per-round chosen edges stay DERIVED plans over the (kept) sel states
    // — the former per-round distinct materialization job is gone; the
    // final union.distinct() already dedups for output
    val chosen = List.newBuilder[DataFrame]
    val selStates = List.newBuilder[CkptState]
    var rounds = 0
    var live = nE0 > 0
    while (live && rounds < maxRounds) {
      rounds += 1
      // min outgoing edge per component as ONE hash aggregation (partial +
      // final, no sort): min over the struct is the lexicographic (w, lo,
      // hi) order, and (w, lo, hi) is unique per undirected edge within a
      // component (the two directions live under different ca), so the
      // tagged-along cb never influences the order
      val (sel, nSel) = Ckpt.materializeWithCount(
        e.df.groupBy("ca")
          .agg(min(struct(col("w"), col("lo"), col("hi"), col("cb"))).as("_m"))
          .select(col("ca"), col("_m.cb").as("cb"), col("_m.lo").as("lo"),
            col("_m.hi").as("hi"), col("_m.w").as("w")))
      // both endpoints of a merge edge may each select it — the final
      // union's distinct dedups for output
      chosen += sel.df.select(col("lo"), col("hi"), col("w"))
      selStates += sel
      // canonical label per merged tree = min component id reachable over
      // the undirected merge graph; comps absent from the map keep their id
      // (left join + coalesce below)
      var lblState: CkptState = null
      val lbl: DataFrame =
        if (nSel <= driverRelabelMax) {
          val pairs = sel.df.select(col("ca"), col("cb")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          val m = unionFindMinLabels(pairs)
          broadcast(spark.createDataFrame(
            m.toSeq.sortBy(_._1)).toDF("id", "c"))
        } else {
          val mg = Ckpt.materialize(
            sel.df.select(col("ca").as("src"), col("cb").as("dst"))
              .unionByName(
                sel.df.select(col("cb").as("src"), col("ca").as("dst")))
              .distinct()
              .repartition(numPartitions, col("src"))
              .sortWithinPartitions("src"))
          val init = e.df.select(col("ca").as("id")).distinct()
            .select(col("id"), col("id").as("c"))
          val (st, _) = MinReach.minReachColor(init, mg.df, numPartitions)
          mg.release()
          lblState = st
          st.df
        }
      val la = lbl.select(col("id").as("ca"), col("c").as("_la"))
      val lb = lbl.select(col("id").as("cb"), col("c").as("_lb"))
      val (newE, nLive) = Ckpt.materializeWithCount(
        e.df.join(la, Seq("ca"), "left").join(lb, Seq("cb"), "left")
          .select(coalesce(col("_la"), col("ca")).as("_na"),
            coalesce(col("_lb"), col("cb")).as("_nb"),
            col("lo"), col("hi"), col("w"))
          .filter(col("_na") =!= col("_nb"))
          .select(col("_na").as("ca"), col("_nb").as("cb"),
            col("lo"), col("hi"), col("w"))
          .repartition(numPartitions, col("ca")))
      e.release() // sel states stay: they back the returned forest
      if (lblState != null) lblState.release()
      e = newE
      live = nLive > 0
    }
    e.release()
    val forest = chosen.result()
      .reduceOption(_.unionByName(_)).getOrElse(
        { import spark.implicits._
          Seq.empty[(Long, Long, Long)].toDF("lo", "hi", "w") })
      .distinct()
    BoruvkaResult(forest, rounds)
  }
}
