package graft.graph

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
import graft.SparkTestSession

/** ScalaCheck guards for the CSR-style packed adjacency — the layout every
  * iterative kernel reads each round, so a packing bug corrupts every
  * algorithm at once. Random deduplicated edge lists with a forced hub
  * (so the chunk-salting path is always exercised) against driver-side
  * layout invariants:
  *   1. exploding the packed rows recovers EXACTLY the input edge set;
  *   2. `deg` is the FULL out-degree on every chunk row (PageRank divides
  *      by it without a join — a chunk-length value here silently inflates
  *      hub contributions);
  *   3. per-src chunk count ≤ ceil(deg/maxChunk) and the chunk partition of
  *      each hub's neighbors is the documented `dst % nChunks` arithmetic;
  *   4. neighbor arrays are sorted ascending (the build-once sort the
  *      iteration joins reuse);
  *   5. int-packing triggers exactly on numVertices ≤ Int.MaxValue and
  *      NEVER changes the recovered edge content;
  *   6. the layout is partitioning-independent (2 vs 5 partitions);
  *   7. `gather` computes Aᵀx with a per-source factor reading `deg`, on
  *      both the int-packed and the long-packed layout. */
object AdjacencyPropertySpec extends Properties("AdjacencyProps") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark = SparkTestSession.spark

  /** deduplicated edges over vertices 0..19, plus a hub at vertex 0 with
    * 9-17 distinct out-neighbors so ceil(deg/maxChunk) > 1 for small chunks */
  val genEdges: Gen[Set[(Long, Long)]] = for {
    n <- Gen.chooseNum(0, 40)
    es <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    hubDeg <- Gen.chooseNum(9, 17)
  } yield es.toSet ++ (1L to hubDeg).map(d => (0L, d))

  val genMaxChunk: Gen[Int] = Gen.oneOf(1, 2, 3, 5, 8, 4096)

  private def checkLayout(es: Set[(Long, Long)], maxChunk: Int,
                          numVertices: Long): Boolean = {
    import spark.implicits._
    val adj = Adjacency.build(es.toSeq.toDF("src", "dst"), numVertices,
      numPartitions = 3, maxChunk = maxChunk)
    try {
      val outDeg = es.groupBy(_._1).map { case (s, g) => (s, g.size.toLong) }
      val rows = adj.rows.collect()
      val intPacked = adj.rows.schema("dsts").dataType
        .asInstanceOf[ArrayType].elementType == IntegerType
      val dstsOf: org.apache.spark.sql.Row => Seq[Long] =
        if (intPacked) r => r.getSeq[Int](2).map(_.toLong)
        else r => r.getSeq[Long](2)
      val recovered = rows.flatMap(r => dstsOf(r).map(d => (r.getLong(0), d)))
      val perSrcRows = rows.groupBy(_.getLong(0))
      (intPacked == (numVertices <= Int.MaxValue)) &&
        adj.rows.schema("src").dataType == LongType &&
        adj.numEdges == es.size &&
        recovered.toSet == es && recovered.length == es.size &&
        rows.forall { r => // full degree + sortedness on every chunk row
          val ds = dstsOf(r)
          r.getLong(1) == outDeg(r.getLong(0)) && ds == ds.sorted
        } &&
        perSrcRows.forall { case (s, g) =>
          val deg = outDeg(s)
          val nChunks = (deg + maxChunk - 1) / maxChunk
          // rows are exactly the non-empty residue classes of dst % nChunks
          val want = es.filter(_._1 == s).map(_._2).groupBy(d =>
            java.lang.Math.floorMod(d, nChunks))
          g.length == want.size &&
            g.map(r => dstsOf(r).toSet).toSet == want.values.map(_.toSet).toSet
        }
    } finally adj.unpersist()
  }

  property("build: explode == input edges, full deg per chunk, dst%nChunks salting, sorted arrays, int-packed") =
    forAll(genEdges, genMaxChunk) { (es, mc) =>
      checkLayout(es, mc, numVertices = 20L)
    }

  property("long-path (numVertices > Int.MaxValue) keeps array<long> and identical content") =
    forAll(genEdges, genMaxChunk) { (es, mc) =>
      checkLayout(es, mc, numVertices = Int.MaxValue.toLong + 1)
    }

  property("layout is partitioning-independent: 2 vs 5 partitions recover the same rows") =
    forAll(genEdges) { es =>
      import spark.implicits._
      val packed = Adjacency.pack(es.toSeq.toDF("src", "dst"), maxChunk = 3)
      val a2 = Adjacency.fromPacked(packed, 20L, numPartitions = 2)
      val a5 = Adjacency.fromPacked(packed, 20L, numPartitions = 5)
      try {
        def flat(a: Adjacency) = a.rows
          .select(col("src"), col("deg"), explode(col("dsts")).as("d"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
        a2.numEdges == a5.numEdges && flat(a2) == flat(a5)
      } finally { a2.unpersist(); a5.unpersist() }
    }

  property("gather == driver-side Aᵀ(x/deg) with long dst keys, int- and long-packed") =
    forAll(genEdges, Gen.listOfN(20, Gen.chooseNum(-1.0, 1.0))) { (es, xs) =>
      import spark.implicits._
      val x = xs.toIndexedSeq
      val outDeg = es.groupBy(_._1).map { case (s, g) => (s, g.size.toDouble) }
      val want = es.toSeq.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => x(s.toInt) / outDeg(s) }.sum }
      val state = x.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      Seq(20L, Int.MaxValue.toLong + 1).forall { numVertices =>
        val adj = Adjacency.build(es.toSeq.toDF("src", "dst"), numVertices,
          numPartitions = 3, maxChunk = 3)
        try {
          val g = adj.gather(state, col("v") / col("deg"))
          val got = g.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          g.schema("dst").dataType == LongType && got.keySet == want.keySet &&
            want.forall { case (d, w) => math.abs(got(d) - w) < 1e-12 }
        } finally adj.unpersist()
      }
    }
}
