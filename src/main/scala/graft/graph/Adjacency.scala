package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Partitioned CSR-style adjacency (north_star: "sorted vertex-range buckets
  * of packed neighbor arrays with explicit salting of high-degree hubs").
  *
  * Built ONCE per graph from the (src, dst) edge table and reused across all
  * iterations — the analogue of the reference backend's CSR storage
  * (`graphblas/core/ss/matrix.py:1163` import_csr), re-expressed as a
  * persisted, hash-partitioned Dataset of packed neighbor arrays:
  *
  *   (src: long, deg: long, dsts: array<long|int>)
  *
  * `deg` is the FULL out-degree of src (not the chunk length), so PageRank's
  * per-edge contribution `score/deg` needs no extra degree join at
  * iteration time. NOTE the element type of `dsts` is INT whenever
  * numVertices fits (fromPacked's int-packing — half the shuffle/cache
  * bytes); `gather` casts the exploded element back to long before
  * aggregating, so every consumer sees long-keyed sums.
  *
  * Hub salting: a vertex with out-degree above `maxChunk` is split into
  * ceil(deg/maxChunk) rows via arithmetic on dst (`dst % nChunks`) — no
  * global sort needed, and no single row or `collect_list` group ever holds
  * an unbounded array. This is the explicit skew control AQE cannot provide
  * for a giant aggregation group (SURVEY.md §4.2 item 2). High IN-degree
  * skew on the gather side is handled by Spark's partial (map-side)
  * aggregation.
  *
  * At 100 TB scale this layout is what makes iterative gather cheap: the big
  * adjacency is shuffled exactly once (at build), persisted partitioned by
  * `src`; each iteration only shuffles the small score vector to meet it.
  */
final case class Adjacency(rows: DataFrame, numVertices: Long, numEdges: Long,
                           numPartitions: Int) {
  def unpersist(): Unit = rows.unpersist()

  /** The `plus_second`/`plus_times` gather Aᵀ·f — the one kernel behind
    * PageRank, PPR, Katz, Eigenvector and HITS (the reference's
    * `semiring(A.T @ x)` mxv). Joins the rows to `state` on `src = id` and
    * returns `(dst: long, g: double)`, where g sums `factor` over dst's
    * in-edges. `factor` may read the state's columns and `deg`.
    *
    *  - Both sides are aliased (`a`, `s`), so `state` may be an
    *    unmaterialized step plan over the same cached relations.
    *  - `factor` is projected BEFORE the explode: an expression beside
    *    explode() evaluates once per generated edge row, not once per source.
    *  - The (possibly int-packed) neighbour id is widened to long right after
    *    the generator, so the aggregation keys and partitioning stay long.
    *  - groupBy(dst).sum runs partial (map-side) + final aggregation. An
    *    exchange-first variant (shuffle raw per-edge rows, aggregate after)
    *    was measured and rejected: the ~2× row reduction of the map-side
    *    combine beats its larger hash maps at every parallelism tested. */
  def gather(state: DataFrame, factor: Column): DataFrame =
    rows.alias("a")
      .join(state.alias("s"), col("a.src") === col("s.id"))
      .select(col("a.dsts"), factor.as("c"))
      .select(explode(col("dsts")).as("_dn"), col("c"))
      .select(col("_dn").cast("long").as("dst"), col("c"))
      .groupBy("dst").agg(sum(col("c")).as("g"))
}

object Adjacency {

  /** Packing stage only (no partitioning/persist): edge table → chunked
    * neighbor-array rows. Separated from `build` so a bench/pipeline can
    * materialize the packed layout to parquet ONCE and re-load it per
    * session (`fromPacked`) instead of re-running the two edge-scale build
    * shuffles — the Iceberg-style "write the layout, not the raw edges"
    * pattern for repeated runs over one graph. */
  def pack(edges: DataFrame, maxChunk: Int = 4096): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // Join edges with degree (both sides hash-partitioned on src), derive a
    // deterministic chunk id, then pack per (src, chunk).
    val nChunks = ceil(col("deg") / maxChunk).cast("long")
    edges
      .join(deg, "src")
      .withColumn("_chunk", pmod(col("dst"), nChunks))
      .groupBy(col("src"), col("_chunk"))
      .agg(first(col("deg")).as("deg"), sort_array(collect_list(col("dst"))).as("dsts"))
      .select(col("src"), col("deg"), col("dsts"))
  }

  /** Partition + sort + persist packed rows into the iteration-ready layout.
    *
    * When the vertex universe fits 32 bits the neighbor arrays are stored as
    * `array<int>` (round 4): the arrays are the bulk of the persisted bytes
    * and of every iteration's scan traffic, and this box's 8+-core legs are
    * DRAM-bandwidth-bound (BENCH/BASELINE.md) — halving array bytes buys
    * real headroom exactly where the scaling gate is tightest. `gather`
    * widens the neighbor id back to long right after the explode
    * (a register-width cast per edge row), keeping every aggregation/join
    * key long so the zero-exchange loop plan is unchanged — the win is the
    * persisted bytes and the per-iteration array SCAN, not the shuffle key
    * width. `src`/`deg` stay long: one fixed-width column per PACKED ROW
    * (~1/4096th of the array volume), and the score join keys on long ids. */
  def fromPacked(packed: DataFrame, numVertices: Long, numPartitions: Int,
                 storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): Adjacency = {
    val typed =
      if (numVertices <= Int.MaxValue)
        packed.withColumn("dsts", col("dsts").cast("array<int>"))
      else packed
    val rows = typed
      .repartition(numPartitions, col("src"))
      // sort ONCE at build: the cached relation advertises this ordering, so
      // every per-iteration sort-merge join against the score vector reuses
      // it instead of re-sorting the (huge) adjacency side each round — only
      // the small score side gets sorted per iteration
      .sortWithinPartitions("src")
      .persist(storage)
    val numEdges = rows.agg(coalesce(sum(size(col("dsts"))), lit(0L))).collect()(0).getLong(0)
    Adjacency(rows, numVertices, numEdges, numPartitions)
  }

  /** Build from a deduplicated (src, dst) edge table. `numVertices` is the
    * logical vertex-universe size (ids 0..n-1). */
  def build(edges: DataFrame, numVertices: Long, numPartitions: Int,
            maxChunk: Int = 4096,
            storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): Adjacency =
    fromPacked(pack(edges, maxChunk), numVertices, numPartitions, storage)
}
