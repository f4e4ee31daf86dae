package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ckpt

final case class SCCResult(components: DataFrame, rounds: Int,
                           colorIters: Int = 0, markIters: Int = 0)

/** Strongly connected components of a DIRECTED graph by trim + forward
  * min-coloring + backward min-coloring (Orzan's coloring algorithm with
  * the Trim step of FW-BW-Trim; Slota/Rajamanickam/Madduri's multistep
  * method is the same skeleton) — the standard data-parallel SCC, and the
  * core of the classic web-graph bow-tie decomposition.
  *
  * Per outer round, over the still-unassigned subgraph:
  *  1. TRIM: a vertex with no in-edge or no out-edge inside the subgraph is
  *     a singleton SCC (it cannot lie on a cycle) — one distinct each way;
  *     on web graphs this strips the tendril mass cheaply.
  *  2. COLOR: c(v) = min vertex that reaches v, via [[MinReach]] — one
  *     edge-relax hop + one pointer jump per materialized job (32 → 7 jobs
  *     on the bench fixture vs plain relaxation).
  *  3. MARK: every color class c contains its eponymous root (c(c) = c, by
  *     minimality — class members are all ≥ their root), and SCC(root) =
  *     class vertices that reach the root. Any v→…→root path inside the
  *     class stays inside the class (an intermediate u is reached by c and
  *     reaches the root, so c(u) < c would contradict c(root) = c), so the
  *     test runs on INTRA-CLASS edges only: compute c_b(v) = min class
  *     vertex reachable FROM v ([[MinReach]] on the reversed intra-class
  *     edges — same pointer-jump acceleration) and mark where c_b(v) =
  *     c(v): the min vertex v reaches inside its class is the root iff v
  *     reaches the root.
  *  4. Assign scc = color for marked vertices; peel them and repeat.
  *
  * Outer rounds = length of the longest SCC chain not absorbed by trim
  * (worst case O(V) on a path graph — which trim dissolves from the ends
  * instead; real web graphs take a handful of rounds). Round-boundary
  * state lives in FLAT Ckpt rewraps (not DataFrame persist): a persisted
  * DF's lineage would reach back through the PREVIOUS round's released
  * Ckpt rdds, and any later cache rebuild (AQE re-plan, eviction,
  * non-cascading unpersist of an upstream) then recomputes a destroyed
  * localCheckpoint — flat scans have no lineage. Every step is an
  * equi-join + aggregation over co-partitioned state; the only driver-side
  * values are the per-job fused scalar sums. Vertices still unassigned
  * when `maxRounds` hits are absent from the output (document-by-count:
  * callers compare `components.count()` to their vertex count).
  */
object SCC {

  def run(spark: SparkSession, edges: DataFrame, numPartitions: Int,
          maxRounds: Int = 64, maxColorIters: Int = 256): SCCResult = {
    var eState = Ckpt.materialize(edges.select(col("src"), col("dst"))
      .repartition(numPartitions, col("src")))
    val (vState0, nVerts0) = Ckpt.materializeWithCount(
      eState.df.select(col("src").as("id"))
        .unionByName(eState.df.select(col("dst").as("id"))).distinct()
        .repartition(numPartitions, col("id")))
    var vState = vState0
    var nVerts = nVerts0

    val nTotal = nVerts

    var assigned = Ckpt.materialize(
      spark.range(0).select(col("id"), col("id").as("scc")))
    var rounds = 0
    var totalColorIters = 0
    var totalMarkIters = 0

    while (nVerts > 0 && rounds < maxRounds) {
      val e = eState.df
      val verts = vState.df
      // ---- 1. trim: no in-edge or no out-edge => singleton SCC ----------
      // ONE tagged-endpoint aggregation + one join replaces the former two
      // distincts + two anti-joins + union-distinct (5 shuffles → 2 per
      // round); a vertex absent from the edge set entirely (possible after
      // peeling) lands in the null branch and is trimmed like before
      val endTags = e.select(col("src").as("id"), lit(1).as("_o"), lit(0).as("_i"))
        .unionByName(e.select(col("dst").as("id"), lit(0).as("_o"), lit(1).as("_i")))
        .groupBy("id").agg(max(col("_o")).as("_o"), max(col("_i")).as("_i"))
      val trimmed = verts.join(endTags, Seq("id"), "left")
        .filter(col("_o").isNull || col("_o") === 0 || col("_i") === 0)
        .select(col("id"), col("id").as("scc"))

      // ---- 2. forward min-coloring (accelerated fixpoint) ---------------
      val live = verts.join(trimmed.select("id"), Seq("id"), "left_anti")
      // flat Ckpt rewrap, NOT .persist(): an InMemoryRelation on the
      // per-iteration hot path pays a TableCacheQueryStage per AQE job; the
      // rewrap scans a plain persisted RDD and DECLARES the hash
      // partitioning + sort, so each fixpoint hop joins it zero-exchange
      // (same discipline as PageRank's adjacency)
      val eLiveState = Ckpt.materialize(e
        .join(trimmed.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(trimmed.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
        .repartition(numPartitions, col("src"))
        .sortWithinPartitions("src"))
      val eLive = eLiveState.df

      val (cState, cIters) = MinReach.minReachColor(
        live.select(col("id"), col("id").as("c")), eLive, numPartitions,
        maxIters = maxColorIters)
      totalColorIters += cIters
      val colors = cState.df

      // ---- 3. backward min-coloring on intra-class edges ----------------
      val cs = colors.select(col("id").as("_s"), col("c").as("_cs"))
      val cd = colors.select(col("id").as("_d"), col("c").as("_cd"))
      // REVERSED intra-class edges, partitioned on the new src (= old dst),
      // the backward gather's join key
      val intraState = Ckpt.materialize(eLive
        .join(cs, col("src") === col("_s"))
        .join(cd, col("dst") === col("_d"))
        .filter(col("_cs") === col("_cd"))
        .select(col("dst").as("src"), col("src").as("dst"))
        .repartition(numPartitions, col("src"))
        .sortWithinPartitions("src"))

      val (bState, mIters) = MinReach.minReachColor(
        colors.select(col("id"), col("id").as("c")), intraState.df,
        numPartitions, maxIters = maxColorIters)
      totalMarkIters += mIters

      val cb = bState.df.select(col("id"), col("c").as("_cb"))
      val sccOfMarked = colors.join(cb, Seq("id"))
        .filter(col("_cb") === col("c"))
        .select(col("id"), col("c").as("scc"))

      // ---- 4. assign and peel ------------------------------------------
      // fused count: the all-assigned exit check rides the materialization
      val (newAssigned, nAssigned) = Ckpt.materializeWithCount(
        assigned.df.unionByName(trimmed).unionByName(sccOfMarked))
      // common last-round exit: everything assigned → skip building (and
      // shuffling) a next-round vertex/edge state that would be empty.
      if (nAssigned == nTotal) {
        eLiveState.release(); intraState.release()
        cState.release(); bState.release()
        assigned.release()
        assigned = newAssigned
        nVerts = 0
        rounds += 1
      } else {
        // peel with THIS round's assignments only (earlier rounds are
        // already out of the state) — the anti-join build side stays
        // round-sized
        val peeled = trimmed.select("id").unionByName(sccOfMarked.select("id"))

        val (newVState, nv) = Ckpt.materializeWithCount(
          verts.join(peeled, Seq("id"), "left_anti")
            .repartition(numPartitions, col("id")))
        val newEState = Ckpt.materialize(e
          .join(peeled.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(peeled.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
          .repartition(numPartitions, col("src")))

        eLiveState.release()
        intraState.release()
        cState.release()
        bState.release()
        assigned.release()
        eState.release()
        vState.release()
        assigned = newAssigned
        eState = newEState
        vState = newVState
        nVerts = nv
        rounds += 1
      }
    }
    eState.release()
    vState.release()
    SCCResult(assigned.df, rounds, totalColorIters, totalMarkIters)
  }
}
