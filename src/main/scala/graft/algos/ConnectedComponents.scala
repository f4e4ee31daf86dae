package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ckpt

final case class CCResult(components: DataFrame, iterations: Int)

/** Connected components via FastSV (Zhang, Azad, Buluç; SIAM PP20), with the
  * exact semantics of the reference notebook
  * `/root/reference/notebooks/Connected Components -- FastSV.ipynb`:
  *
  *   f = 0..n-1 ; gp = f
  *   loop: mngp  = min_second(A @ gp)          — min grandparent of nbrs
  *         f[I] min= mngp  (I = old f values; duplicate targets pre-reduced
  *                          by min — the notebook's Reduce_assign, which
  *                          deliberately differs from GrB_assign dup rules)
  *         f = min(f, mngp) ; f = min(f, gp)   — hook + shortcut
  *         gp = f[f] ; stop when gp unchanged
  *
  * Edge input must be symmetric (both directions present). All vectors are
  * dense (id, v) DataFrames co-keyed on id; every step is an equi-join +
  * hash aggregation. Iteration state (f, gp) is re-materialized per round
  * via Ckpt (flat plans — O(1) planning cost per round) and previous-round
  * blocks are released one round later. Converges in O(log n) rounds.
  */
object ConnectedComponents {

  def run(spark: SparkSession, edgesSym: DataFrame, n: Long, numPartitions: Int,
          maxIter: Int = 64): CCResult = {
    // persist edges hash-partitioned on dst: the per-round min_second gather
    // joins on dst, so the (big) edge side is shuffled exactly once here
    val edges = edgesSym.repartition(numPartitions, col("dst"))
      .sortWithinPartitions("dst").persist() // sorted once: SMJ reuses it per round
    edges.count()

    var fState = Ckpt.materialize(
      spark.range(n).repartition(numPartitions, col("id"))
        .select(col("id"), col("id").as("v")))
    var gpState = fState      // f is the identity map, so gp = f(f) = f
    var iter = 0
    var changed = true

    while (changed && iter < maxIter) {
      val f = fState.df
      val gp = gpState.df
      // mngp(i) = min_{j in N(i)} gp(j)   [min_second semiring mxv]
      val gpl = gp.select(col("id").as("_j"), col("v").as("_gp"))
      val mngp = edges.join(gpl, col("dst") === col("_j"))
        .groupBy(col("src").as("id")).agg(min(col("_gp")).as("v"))

      // hooking: f[fOld(i)] min= mngp(i); duplicate targets reduced by min
      val scattered = f.select(col("id"), col("v").as("_t"))
        .join(mngp, "id")
        .groupBy(col("_t").as("id")).agg(min(col("v")).as("v"))

      // f = min(f, scattered, mngp, gp) — formerly a CHAIN of three
      // full-outer min-merge joins; min is associative/commutative and the
      // merged id set is the union of the operands', so ONE union + hash
      // min-aggregation produces the identical relation with a single
      // exchange and one aggregation stage instead of three join stages
      // (exact: component labels are int64)
      val f1 = f.select(col("id"), col("v"))
        .unionByName(scattered).unionByName(mngp)
        .unionByName(gp.select(col("id"), col("v")))
        .groupBy("id").agg(min(col("v")).as("v"))
      val newFState = Ckpt.materialize(f1)

      // gp = f[f], with the change flag (gp_new != gp) fused into the same
      // materialization job   [notebook: ne(gp_dup & gp) + lor reduce]
      val nf = newFState.df
      val f2 = nf.select(col("id").as("_k"), col("v").as("_gv"))
      val prev = gp.select(col("id").as("_pid"), col("v").as("_pv"))
      val gpPlan = nf.join(f2, nf("v") === col("_k"))
        .select(nf("id"), col("_gv").as("v"))
        .join(prev, col("id") === col("_pid"))
        .select(col("id"), col("v"),
          when(col("v") =!= col("_pv"), 1.0).otherwise(0.0).as("_chg"))
      val (newGpState, nChanged) = Ckpt.materializeWithSum(gpPlan, "_chg")
      changed = nChanged > 0

      // this round's inputs are no longer referenced — free their blocks
      Seq(fState, gpState).distinct.foreach(_.release())
      fState = newFState
      gpState = newGpState
      iter += 1
    }
    edges.unpersist()
    CCResult(fState.df.select(col("id"), col("v").as("component")), iter)
  }
}
