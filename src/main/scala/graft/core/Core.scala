package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core collection types of the engine, mirroring the reference's data model
  * (SURVEY.md §1): a sparse `Vector` is a DataFrame `(id: long, v)` where a
  * missing element is an ABSENT ROW (never a null value — reference
  * "missing ≠ zero", `docs/user_guide/operations.rst:156-249`); a sparse
  * `Matrix` is a DataFrame `(src: long, dst: long, v)` with `(src,dst)`
  * unique. Logical size/shape is carried alongside, as in
  * `graphblas/core/matrix.py:464-483` (nrows/ncols are declared shape, not
  * max stored index).
  *
  * All kernels are pure DataFrame→DataFrame plan builders: like the
  * reference's delayed expressions (`core/base.py:535`), nothing executes
  * until an action — Catalyst is our optimizer, Tungsten our JIT.
  */
object Names {
  val ID = "id"; val V = "v"; val SRC = "src"; val DST = "dst"
}

/** Write-control mask (reference `graphblas/core/mask.py:9-187`).
  * `keys` is the key-set DataFrame (already reduced to truthy rows for value
  * masks — value vs structure collapses at construction, SURVEY.md §2.4);
  * `complement` flips semi-join to anti-join.
  */
final case class GrbMask(keys: DataFrame, complement: Boolean = false,
                         small: Boolean = false) {
  def unary_~ : GrbMask = copy(complement = !complement)
  /** caller-asserted size hint: the key set is known-small (e.g. a frontier),
    * so the semi-join may be forced to broadcast. Structural masks derived
    * from edge-scale relations must NOT set this — at web scale a forced
    * broadcast of an O(nvals) mask OOMs the driver (VERDICT r1 §wrong 2). */
  def markSmall: GrbMask = copy(small = true)
}

object GrbMask {
  /** mask intersection/union recipes (reference `mask.py:86,113`
    * `__and__`/`__or__`): plain key-set algebra, complement handled by
    * set identities (¬a∧¬b = ¬(a∨b), etc. — the reference's
    * `_COMBINE_MASKS` table collapses to these). */
  def and(a: GrbMask, b: GrbMask, keys: Seq[String]): GrbMask = (a.complement, b.complement) match {
    case (false, false) => GrbMask(a.keys.join(b.keys, keys, "left_semi"))
    case (false, true)  => GrbMask(a.keys.join(b.keys, keys, "left_anti"))
    case (true, false)  => GrbMask(b.keys.join(a.keys, keys, "left_anti"))
    case (true, true)   => GrbMask(a.keys.unionByName(b.keys).distinct(), complement = true)
  }
  def or(a: GrbMask, b: GrbMask, keys: Seq[String]): GrbMask =
    ~and(~a, ~b, keys)

  /** structural mask m.S — write only keys present (mask.py:133) */
  def structure(df: DataFrame, keyCols: Seq[String]): GrbMask =
    GrbMask(df.select(keyCols.map(col): _*))
  /** value mask m.V — write only keys whose value is truthy (mask.py:151) */
  def value(df: DataFrame, keyCols: Seq[String], vCol: String = Names.V): GrbMask =
    GrbMask(df.filter(col(vCol).cast("boolean") === true).select(keyCols.map(col): _*))
}

object Kernels {
  import Names._

  private def keyed(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col): _*)

  /** Apply a mask's key filter to a result (semi-join; anti if complemented).
    * This is the masked-mxm pushdown site: callers apply it BELOW their
    * aggregation when semantics allow (SURVEY.md §4.2 item 3).
    *
    * Join strategy: shuffle semi-join by default — a structural mask is
    * O(nvals) of its source and unbounded at web scale, so forcing a
    * broadcast would OOM (e.g. TriangleCount's L mask IS the edge set).
    * Only a caller-asserted `mask.small` adds the broadcast hint; otherwise
    * AQE/autoBroadcastJoinThreshold decides from runtime stats.
    */
  def maskFilter(df: DataFrame, mask: GrbMask, keys: Seq[String]): DataFrame = {
    val joinType = if (mask.complement) "left_anti" else "left_semi"
    df.join(sized(mask.keys, mask.small), keys, joinType)
  }

  private def maskFilterInv(df: DataFrame, mask: GrbMask, keys: Seq[String]): DataFrame = {
    val joinType = if (mask.complement) "left_semi" else "left_anti"
    df.join(sized(mask.keys, mask.small), keys, joinType)
  }

  private[core] def sized(df: DataFrame, small: Boolean): DataFrame =
    if (small) df.hint("broadcast") else df

  /** The GraphBLAS write clause `C(mask, accum, replace) << T`
    * (reference `base.py:338-514` `_update`, semantics
    * `docs/user_guide/fundamentals.rst:14-38`):
    *  - accum: overlaps of old C and T combined by accum, singletons pass
    *    through (= ewise_add of state, `base.py:192-263`);
    *  - mask: writes restricted to mask keys; outside-mask old values kept,
    *    or dropped when replace=true (descriptor R variants,
    *    `core/descriptor.py:52`).
    */
  def write(
      old: DataFrame,
      t: DataFrame,
      keys: Seq[String],
      mask: Option[GrbMask] = None,
      accum: Option[BinaryOp] = None,
      replace: Boolean = false): DataFrame = {
    val z = accum match {
      case Some(op) => ewiseAddDF(old, t, keys, op)
      case None     => t
    }
    mask match {
      case None => z
      case Some(m) =>
        val inside  = maskFilter(z, m, keys)
        if (replace) inside
        else inside.unionByName(maskFilterInv(old, m, keys))
    }
  }

  /** index columns of an ewise join: (i, j) for matrices, (i, 0) for
    * vectors — a GraphBLAS vector is an n×1 column, the SAME convention the
    * positional/index-binary forms use in mxv/vxm — shared by both operands. */
  private def ewiseKeys(keys: Seq[String]): (Column, Column) = keys match {
    case Seq(s, d) => (col(s), col(d))
    case Seq(k)    => (col(k), lit(0L))
  }

  /** resolve a bound IndexBinaryOp to its index-aware form (carried on the
    * op, `BinaryOp.indexForm`) over the shared ewise keys; plain ops apply
    * as-is. */
  private def ewiseCombine(op: BinaryOp, keys: Seq[String],
                           va: Column, vb: Column): Column = {
    val (ki, kj) = ewiseKeys(keys)
    op.indexForm
      .map(f => f(va, ki, kj, vb, ki, kj))
      .getOrElse(op(va, vb))
  }

  /** ewise_add = full-outer union; overlaps combined, singletons passed
    * through UNCHANGED even for non-commutative ops
    * (`docs/user_guide/operations.rst:236-247`). Presence is tracked with
    * explicit marker columns, never by value-null (SURVEY.md §7.4).
    */
  def ewiseAddDF(a: DataFrame, b: DataFrame, keys: Seq[String], op: BinaryOp): DataFrame = {
    val la = a.select(keys.map(col) :+ col(V).as("_va") :+ lit(true).as("_pa"): _*)
    val rb = b.select(keys.map(col) :+ col(V).as("_vb") :+ lit(true).as("_pb"): _*)
    la.join(rb, keys, "full_outer")
      .select(keys.map(col) :+
        when(col("_pa") && col("_pb"), ewiseCombine(op, keys, col("_va"), col("_vb")))
          .when(col("_pa"), col("_va"))
          .otherwise(col("_vb")).as(V): _*)
  }

  /** ewise_mult = intersection (inner join), `matrix.py:1952`.
    * A bound IndexBinaryOp (`Ops.boundIndexMult`) resolves to its
    * index-aware form: both operands share the join keys, so (i, j) — or
    * (i, 0) for vectors, the n×1-column convention — are the key columns. */
  def ewiseMultDF(a: DataFrame, b: DataFrame, keys: Seq[String], op: BinaryOp): DataFrame = {
    val la = a.select(keys.map(col) :+ col(V).as("_va"): _*)
    val rb = b.select(keys.map(col) :+ col(V).as("_vb"): _*)
    la.join(rb, keys, "inner")
      .select(keys.map(col) :+ ewiseCombine(op, keys, col("_va"), col("_vb")).as(V): _*)
  }

  /** ewise_union = union with per-side fill defaults (`matrix.py:2043`) */
  def ewiseUnionDF(a: DataFrame, b: DataFrame, keys: Seq[String], op: BinaryOp,
                   leftDefault: Column, rightDefault: Column): DataFrame = {
    val la = a.select(keys.map(col) :+ col(V).as("_va") :+ lit(true).as("_pa"): _*)
    val rb = b.select(keys.map(col) :+ col(V).as("_vb") :+ lit(true).as("_pb"): _*)
    la.join(rb, keys, "full_outer")
      .select(keys.map(col) :+
        ewiseCombine(op, keys,
          when(col("_pa"), col("_va")).otherwise(leftDefault),
          when(col("_pb"), col("_vb")).otherwise(rightDefault)).as(V): _*)
  }
}

/** Sparse vector of logical size `size` (reference `core/vector.py:141`). */
final case class GrbVector(df: DataFrame, size: Long) {
  import Names._

  def nvals: Long = df.count()

  def apply(op: UnaryOp): GrbVector =
    copy(df = df.select(col(ID), op(col(V)).as(V)))

  /** apply(binaryop, left=scalar) — bind-1st (`matrix.py:2460`) */
  def applyLeft(op: BinaryOp, s: Column): GrbVector =
    copy(df = df.select(col(ID), op(s, col(V)).as(V)))

  def applyRight(op: BinaryOp, s: Column): GrbVector =
    copy(df = df.select(col(ID), op(col(V), s).as(V)))

  /** select(selectop, thunk): keep elements where predicate over
    * (v, id, thunk) holds (`vector.py:1536`). */
  def select(pred: (Column, Column) => Column): GrbVector =
    copy(df = df.filter(pred(col(V), col(ID))))

  /** select by a NAMED SelectOp (vector form: j == i). */
  def select(op: IndexUnaryOp, thunk: Column): GrbVector =
    copy(df = df.filter(op(col(V), col(ID), col(ID), thunk)))

  /** apply a NAMED IndexUnaryOp with thunk (vector form). */
  def applyIndexOp(op: IndexUnaryOp, thunk: Column): GrbVector =
    copy(df = df.select(col(ID), op(col(V), col(ID), col(ID), thunk).as(V)))

  def ewiseMult(other: GrbVector, op: BinaryOp): GrbVector =
    copy(df = Kernels.ewiseMultDF(df, other.df, Seq(ID), op))

  def ewiseAdd(other: GrbVector, op: BinaryOp): GrbVector =
    copy(df = Kernels.ewiseAddDF(df, other.df, Seq(ID), op))

  def ewiseUnion(other: GrbVector, op: BinaryOp, ld: Column, rd: Column): GrbVector =
    copy(df = Kernels.ewiseUnionDF(df, other.df, Seq(ID), op, ld, rd))

  /** dup with mask-on-construction (`vector.py` dup(mask=)). */
  def dup(mask: GrbMask): GrbVector =
    copy(df = Kernels.maskFilter(df, mask, Seq(ID)))

  /** Vector → Scalar fold (`vector.py:1635`); None = empty vector. */
  def reduce(m: Monoid): Option[Any] = {
    val r = df.agg(m.agg(col(V)).as("r")).collect()(0)
    if (r.isNullAt(0)) None else Some(r.get(0))
  }

  /** reduce with `allow_empty=False` (`vector.py:1652`): an empty vector
    * folds to the monoid identity instead of missing. */
  def reduceOrIdentity(m: Monoid): Any = {
    val r = df.agg(coalesce(m.agg(col(V)), m.identity).as("r")).collect()(0)
    r.get(0)
  }

  /** vxm: w(j) = ⊕_i v(i) ⊗ A(i,j)  (`vector.py:1309`). Optional output
    * mask below the agg and positional ⊗ as in GrbMatrix.mxv. */
  def vxm(a: GrbMatrix, s: Semiring, mask: Option[GrbMask] = None): GrbVector = {
    val left = df.select(col(ID).as("_i"), col(V).as("_vv"))
    val multCol = Ops.positionalMult.get(s.mult.name)
      .map(f => f(col("_i"), lit(0L), col("_i"), col(DST)))
      .orElse(s.mult.indexForm
        .map(f => f(col("_vv"), col("_i"), lit(0L), col(V), col("_i"), col(DST))))
      .getOrElse(s.mult(col("_vv"), col(V)))
    var prod = left.join(a.df, col("_i") === a.df(SRC))
      .select(col(DST).as(ID), multCol.as("_m"))
    mask.foreach { m => prod = Kernels.maskFilter(prod, m, Seq(ID)) }
    GrbVector(prod.groupBy(ID).agg(s.add.agg(col("_m")).as(V)), a.shape.ncols)
  }

  /** inner product v·w → scalar (`vector.py:1684`) */
  def inner(other: GrbVector, s: Semiring): Option[Any] =
    ewiseMult(other, s.mult).reduce(s.add)

  /** extract with index remap: w(new) = v(old) for (old,new) in `indexMap`
    * (`__getitem__` + `GrB_Col_extract`, SURVEY.md §2.7). The index map can
    * be the full vertex remap (10^12 rows at the design point), so the join
    * is a shuffle equi-join by default; pass `smallMap = true` only for a
    * known-small selection list. */
  def extract(indexMap: DataFrame, newSize: Long, smallMap: Boolean = false,
              inputMask: Option[GrbMask] = None): GrbVector = {
    // input_mask (reference `base.py:356-362`): mask applied to the INPUT of
    // an extract — a pre-filter semi-join before the remap
    val in = inputMask.fold(df)(m => Kernels.maskFilter(df, m, Seq(ID)))
    val m = Kernels.sized(indexMap.select(col("old").as("_o"), col("new").as("_n")), smallMap)
    GrbVector(
      in.join(m, col(ID) === col("_o"))
        .select(col("_n").as(ID), col(V)),
      newSize)
  }

  /** Scatter-assign with dedup-by-accum: `w(accum)[I] << u` where duplicate
    * targets are pre-reduced by the accum monoid — FastSV `Reduce_assign`
    * semantics (notebook `Connected Components -- FastSV.ipynb`,
    * SURVEY.md §2.7 / §7.4). `targets`: (id → target index) map.
    */
  def scatterAssign(targets: DataFrame, u: GrbVector, accumAgg: Column => Column,
                    accum: BinaryOp): GrbVector = {
    val t = targets.select(col("id").as("_si"), col("target").as("_ti"))
    val scattered = u.df.join(t, col(ID) === col("_si"))
      .groupBy(col("_ti").as(ID)).agg(accumAgg(col(V)).as(V))
    copy(df = Kernels.ewiseAddDF(df, scattered, Seq(ID), accum))
  }

  /** General assign `w(mask, accum, replace)[indices] << u` — 1-D form of
    * GrbMatrix.assign (reference `vector.py` `_prep_for_assign`): u's local
    * index idx maps to target position; without accum the index region is
    * replaced, with accum it's merged. */
  def assign(indexMap: DataFrame, u: GrbVector,
             mask: Option[GrbMask] = None, accum: Option[BinaryOp] = None,
             replace: Boolean = false, smallMap: Boolean = false): GrbVector = {
    val m = Kernels.sized(indexMap.select(col("idx").as("_i"), col("target").as("_t")), smallMap)
    val mapped = u.df.join(m, col(ID) === col("_i")).select(col("_t").as(ID), col(V))
    assignMapped(mapped, m.select(col("_t")), mask, accum, replace)
  }

  /** Scalar-broadcast assign `w(mask, accum)[indices] << s`
    * (`GrB_Vector_assign_Scalar`). */
  def assignScalar(targets: DataFrame, s: Column,
                   mask: Option[GrbMask] = None, accum: Option[BinaryOp] = None,
                   replace: Boolean = false, smallMap: Boolean = false): GrbVector = {
    val t = Kernels.sized(targets.select(col("target").as("_t")), smallMap)
    assignMapped(t.select(col("_t").as(ID), s.as(V)), t, mask, accum, replace)
  }

  private def assignMapped(mapped: DataFrame, region0: DataFrame,
                           mask: Option[GrbMask], accum: Option[BinaryOp],
                           replace: Boolean): GrbVector = {
    val region = region0.toDF(ID).distinct()
    val inside = df.join(region, Seq(ID), "left_semi")
    val outside = df.join(region, Seq(ID), "left_anti")
    copy(df = outside.unionByName(
      Kernels.write(inside, mapped, Seq(ID), mask, accum, replace)))
  }

  def mask(complement: Boolean = false): GrbMask =
    GrbMask(df.select(col(ID)), complement)

  /** reposition (`vector.py:1789`): shift indices, drop out-of-range. */
  def reposition(off: Long): GrbVector =
    copy(df = df.select((col(ID) + off).as(ID), col(V))
      .filter(col(ID) >= 0 && col(ID) < size))

  /** Vector → diagonal Matrix (`vector.py:605` Vector.diag /
    * `core/ss/matrix.py:252` ss.build_diag, GxB_Matrix_diag): a
    * (size+|k|)-square matrix holding v[i] at (i, i+k) for k ≥ 0 and at
    * (i+|k|, i) for k < 0 — the inverse of GrbMatrix.diag, and the recipe
    * base of the reference's own argmin/argmax aggregators (`agg.py:533`).
    * Pure projection: no shuffle, no action. */
  def diag(k: Long = 0): GrbMatrix = {
    val n = size + math.abs(k)
    val d =
      if (k >= 0) df.select(col(ID).as(Names.SRC), (col(ID) + k).as(Names.DST), col(V))
      else df.select((col(ID) - k).as(Names.SRC), col(ID).as(Names.DST), col(V))
    GrbMatrix(d, GrbShape(n, n))
  }

  /** outer product v ⊗ w → Matrix (`vector.py:1746`) — cross join; keep the
    * smaller side broadcastable or block it at scale. */
  def outer(other: GrbVector, op: BinaryOp): GrbMatrix = {
    val r = other.df.select(col(ID).as("_j"), col(V).as("_w"))
    GrbMatrix(
      df.crossJoin(r).select(col(ID).as(Names.SRC), col("_j").as(Names.DST),
        op(col(V), col("_w")).as(V)),
      GrbShape(size, other.size))
  }
}

object GrbVector {
  import Names._
  def fromPairs(spark: org.apache.spark.sql.SparkSession,
                pairs: Seq[(Long, Double)], size: Long): GrbVector = {
    import spark.implicits._
    GrbVector(pairs.toDF(ID, V), size)
  }
  /** dense iso vector: v[:] = s over 0..size-1 (`vector.py:789` from_scalar) */
  def dense(spark: org.apache.spark.sql.SparkSession, size: Long, s: Column): GrbVector =
    GrbVector(spark.range(size).select(col(ID), s.as(V)), size)
}

final case class GrbShape(nrows: Long, ncols: Long)

/** Sparse matrix (reference `core/matrix.py:167`). */
final case class GrbMatrix(df: DataFrame, shape: GrbShape) {
  import Names._

  def nvals: Long = df.count()

  /** zero-copy transpose view (`matrix.py:3825`): pure column swap. */
  def transpose: GrbMatrix =
    GrbMatrix(df.select(col(DST).as(SRC), col(SRC).as(DST), col(V)),
      GrbShape(shape.ncols, shape.nrows))

  def apply(op: UnaryOp): GrbMatrix =
    copy(df = df.select(col(SRC), col(DST), op(col(V)).as(V)))

  /** select(selectop): predicate over (v, src, dst) (`matrix.py:2534`);
    * e.g. tril = (v,i,j) => j < i ; valuegt(t) = (v,_,_) => v > t */
  def select(pred: (Column, Column, Column) => Column): GrbMatrix =
    copy(df = df.filter(pred(col(V), col(SRC), col(DST))))

  /** select by a NAMED SelectOp from the catalog with thunk
    * (`GrB_Matrix_select_*`, `operator/select.py`). */
  def select(op: IndexUnaryOp, thunk: Column): GrbMatrix =
    copy(df = df.filter(op(col(V), col(SRC), col(DST), thunk)))

  /** apply a NAMED IndexUnaryOp with thunk (`GrB_Matrix_apply_IndexOp_*`). */
  def applyIndexOp(op: IndexUnaryOp, thunk: Column): GrbMatrix =
    copy(df = df.select(col(SRC), col(DST), op(col(V), col(SRC), col(DST), thunk).as(V)))

  def ewiseMult(other: GrbMatrix, op: BinaryOp): GrbMatrix =
    copy(df = Kernels.ewiseMultDF(df, other.df, Seq(SRC, DST), op))

  def ewiseAdd(other: GrbMatrix, op: BinaryOp): GrbMatrix =
    copy(df = Kernels.ewiseAddDF(df, other.df, Seq(SRC, DST), op))

  /** ewise_union with per-side fill defaults (`matrix.py:2043`
    * GxB_Matrix_eWiseUnion) — matrix twin of GrbVector.ewiseUnion. */
  def ewiseUnion(other: GrbMatrix, op: BinaryOp, ld: Column, rd: Column): GrbMatrix =
    copy(df = Kernels.ewiseUnionDF(df, other.df, Seq(SRC, DST), op, ld, rd))

  /** dup with mask-on-construction (`matrix.py:683` dup(mask=)): copy
    * restricted to the mask's key set. */
  def dup(mask: GrbMask): GrbMatrix =
    copy(df = Kernels.maskFilter(df, mask, Seq(SRC, DST)))

  /** reduce_rowwise(monoid): Matrix → Vector per-row fold (`matrix.py:2636`) */
  def reduceRowwise(m: Monoid): GrbVector =
    GrbVector(df.groupBy(col(SRC).as(ID)).agg(m.agg(col(V)).as(V)), shape.nrows)

  def reduceColumnwise(m: Monoid): GrbVector =
    GrbVector(df.groupBy(col(DST).as(ID)).agg(m.agg(col(V)).as(V)), shape.ncols)

  def reduceScalar(m: Monoid): Option[Any] = {
    val r = df.agg(m.agg(col(V)).as("r")).collect()(0)
    if (r.isNullAt(0)) None else Some(r.get(0))
  }

  /** reduce with `allow_empty=False` (`matrix.py:2712`): an empty matrix
    * folds to the monoid identity instead of missing — matrix twin of
    * GrbVector.reduceOrIdentity. */
  def reduceScalarOrIdentity(m: Monoid): Any =
    df.agg(coalesce(m.agg(col(V)), m.identity).as("r")).collect()(0).get(0)

  /** mxv over a semiring: w(i) = ⊕_j A(i,j) ⊗ v(j) (`matrix.py:2203`) —
    * THE gather kernel. Vector side broadcast when small enough is left to
    * AQE/Catalyst; algorithm drivers use the pre-bucketed adjacency layout
    * (graft.graph.Adjacency) instead of this generic form.
    * Optional `mask` (output keys) is pushed BELOW the aggregation exactly
    * like mxm's — the descriptor fusion of `GrB_mxv`
    * (`fundamentals.rst:56-63`); Catalyst will not invent this placement.
    * Positional ⊗ (firsti/secondi/…) resolves to the join's index columns
    * (`Ops.positionalMult`) — zero runtime cost, the index is the key.
    */
  def mxv(v: GrbVector, s: Semiring, mask: Option[GrbMask] = None): GrbVector = {
    val right = v.df.select(col(ID).as("_j"), col(V).as("_vv"))
    val multCol = Ops.positionalMult.get(s.mult.name)
      .map(f => f(col(SRC), col("_j"), col("_j"), lit(0L)))
      .orElse(s.mult.indexForm
        .map(f => f(col(V), col(SRC), col("_j"), col("_vv"), col("_j"), lit(0L))))
      .getOrElse(s.mult(col(V), col("_vv")))
    var prod = df.join(right, col(DST) === col("_j"))
      .select(col(SRC).as(ID), multCol.as("_m"))
    mask.foreach { m => prod = Kernels.maskFilter(prod, m, Seq(ID)) }
    GrbVector(prod.groupBy(ID).agg(s.add.agg(col("_m")).as(V)), shape.nrows)
  }

  /** mxm over a semiring, with optional STRUCTURAL MASK PUSHED BELOW the
    * aggregation (`GrB_mxm` + descriptor fusion, `fundamentals.rst:56-63`;
    * our plan-construction rule, SURVEY.md §4.2 item 3 — Catalyst will not
    * invent this semi-join placement).
    */
  def mxm(other: GrbMatrix, s: Semiring, mask: Option[GrbMask] = None): GrbMatrix = {
    val l = df.select(col(SRC).as("_i"), col(DST).as("_k"), col(V).as("_va"))
    val r = other.df.select(col(SRC).as("_k2"), col(DST).as("_j"), col(V).as("_vb"))
    val multCol = Ops.positionalMult.get(s.mult.name)
      .map(f => f(col("_i"), col("_k"), col("_k"), col("_j")))
      .orElse(s.mult.indexForm
        .map(f => f(col("_va"), col("_i"), col("_k"), col("_vb"), col("_k"), col("_j"))))
      .getOrElse(s.mult(col("_va"), col("_vb")))
    var prod = l.join(r, col("_k") === col("_k2"))
      .select(col("_i").as(SRC), col("_j").as(DST), multCol.as("_m"))
    mask.foreach { m => prod = Kernels.maskFilter(prod, m, Seq(SRC, DST)) }
    val nc = other.shape.ncols
    val out =
      if (nc > 0 && shape.nrows <= Long.MaxValue / nc) {
        // PACKED group key (guide §2.3 — narrower shuffle keys): the
        // (src, dst) pair folds into ONE non-negative long src*ncols+dst
        // (exact while nrows*ncols fits int64 — guarded), halving the
        // aggregation key bytes of the wedge-scale product stream and
        // turning the hash-agg probe into a single-word compare. Unpacked
        // by exact integer div/mod on the (much smaller) group rows.
        prod.select((col(SRC) * nc + col(DST)).as("_sd"), col("_m"))
          .groupBy("_sd").agg(s.add.agg(col("_m")).as(V))
          // integer DIV, not `/`: double division corrupts keys above 2^53
          .select(expr(s"_sd DIV ${nc}L").as(SRC),
            (col("_sd") % nc).as(DST), col(V))
      } else prod.groupBy(SRC, DST).agg(s.add.agg(col("_m")).as(V))
    GrbMatrix(out, GrbShape(shape.nrows, other.shape.ncols))
  }

  /** extract k-th diagonal → Vector (`matrix.py:720` / GxB_Vector_diag):
    * v[i] = A[i, i+k] for k ≥ 0, A[i+|k|, i] for k < 0 — the vector index
    * is the row for super-diagonals and the COLUMN for sub-diagonals, so
    * GrbVector.diag(k).diag(k) round-trips for every k. */
  def diag(k: Long = 0): GrbVector =
    GrbVector(df.filter(col(DST) - col(SRC) === k)
      .select((if (k >= 0) col(SRC) else col(DST)).as(ID), col(V)),
      math.min(shape.nrows + math.min(k, 0), shape.ncols - math.max(k, 0)))

  /** extract submatrix with dense index remap (SURVEY.md §2.7): `rowMap` /
    * `colMap` are (old→new) DataFrames. Shuffle joins by default (the remap
    * may be vertex-universe-sized); `smallMaps = true` broadcasts both.
    * `inputMask` (reference `base.py:356-362`): mask applied to the INPUT of
    * the extract — a pre-filter semi-join before the remap, mirroring the
    * vector form (GrbVector.extract). */
  def extract(rowMap: DataFrame, colMap: DataFrame, newShape: GrbShape,
              smallMaps: Boolean = false,
              inputMask: Option[GrbMask] = None): GrbMatrix = {
    val in = inputMask.fold(df)(m => Kernels.maskFilter(df, m, Seq(SRC, DST)))
    val rm = Kernels.sized(rowMap.select(col("old").as("_ro"), col("new").as("_rn")), smallMaps)
    val cm = Kernels.sized(colMap.select(col("old").as("_co"), col("new").as("_cn")), smallMaps)
    GrbMatrix(
      in.join(rm, col(SRC) === col("_ro"))
        .join(cm, col(DST) === col("_co"))
        .select(col("_rn").as(SRC), col("_cn").as(DST), col(V)),
      newShape)
  }

  /** General assign `C(mask, accum, replace)[rows, cols] << A`
    * (reference `matrix.py:3116-3295` `_prep_for_assign`, semantics
    * `docs/user_guide/operations.rst:424-540`): A's local indices map through
    * the position lists (`rowMap`/`colMap`: (idx → target) DataFrames), then
    * merge region-wise into C. Without accum, the region is REPLACED by A
    * (region cells absent from A are deleted); with accum, overlaps combine
    * and region-only C values persist (= ewise_add on the region). Mask keys
    * are in C's coordinates and scope the region (GxB_subassign shape);
    * replace clears unwritten region cells inside the mask scope.
    * Join strategy matches extract/maskFilter: shuffle joins by default
    * (position lists CAN be vertex-universe-scale, and a forced broadcast
    * of one OOMs the driver); `smallMaps = true` is the caller-asserted
    * known-small hint, same contract as GrbMask.markSmall. */
  def assign(rowMap: DataFrame, colMap: DataFrame, a: GrbMatrix,
             mask: Option[GrbMask] = None, accum: Option[BinaryOp] = None,
             replace: Boolean = false, smallMaps: Boolean = false): GrbMatrix = {
    val rm = Kernels.sized(rowMap.select(col("idx").as("_ri"), col("target").as("_rt")), smallMaps)
    val cm = Kernels.sized(colMap.select(col("idx").as("_ci"), col("target").as("_ct")), smallMaps)
    val mapped = a.df.join(rm, col(SRC) === col("_ri"))
      .join(cm, col(DST) === col("_ci"))
      .select(col("_rt").as(SRC), col("_ct").as(DST), col(V))
    assignMapped(mapped, rm, cm, mask, accum, replace)
  }

  /** Scalar-broadcast assign `C(mask, accum)[rows, cols] << s`
    * (`matrix.py:3249` GrB_Matrix_assign_Scalar): every region cell gets s. */
  def assignScalar(rowTargets: DataFrame, colTargets: DataFrame, s: Column,
                   mask: Option[GrbMask] = None, accum: Option[BinaryOp] = None,
                   replace: Boolean = false, smallMaps: Boolean = false): GrbMatrix = {
    val rm = Kernels.sized(rowTargets.select(col("target").as("_rt")), smallMaps)
    val cm = Kernels.sized(colTargets.select(col("target").as("_ct")), smallMaps)
    val mapped = rm.crossJoin(cm)
      .select(col("_rt").as(SRC), col("_ct").as(DST), s.as(V))
    assignMapped(mapped, rm, cm, mask, accum, replace)
  }

  /** Row assign C[i, :] << u over u's index universe (`GrB_Row_assign`). */
  def assignRow(i: Long, u: GrbVector,
                mask: Option[GrbMask] = None, accum: Option[BinaryOp] = None,
                replace: Boolean = false): GrbMatrix = {
    val spark = df.sparkSession
    val rowMap = spark.range(1).select(col("id").as("idx"), lit(i).as("target"))
    val colMap = spark.range(u.size).select(col("id").as("idx"), col("id").as("target"))
    assign(rowMap, colMap, GrbMatrix(
      u.df.select(lit(0L).as(SRC), col(ID).as(DST), col(V)), GrbShape(1, u.size)),
      mask, accum, replace, smallMaps = false)
  }

  private def assignMapped(mapped: DataFrame, rm: DataFrame, cm: DataFrame,
                           mask: Option[GrbMask], accum: Option[BinaryOp],
                           replace: Boolean): GrbMatrix = {
    val region = rm.select(col("_rt").as(SRC)).distinct()
      .crossJoin(cm.select(col("_ct").as(DST)).distinct())
    val inside = df.join(region, Seq(SRC, DST), "left_semi")
    val outside = df.join(region, Seq(SRC, DST), "left_anti")
    val written = Kernels.write(inside, mapped, Seq(SRC, DST), mask, accum, replace)
    copy(df = outside.unionByName(written))
  }

  /** shift all indices, dropping out-of-range (`matrix.py:2764`) */
  def reposition(roff: Long, coff: Long): GrbMatrix =
    copy(df = df.select((col(SRC) + roff).as(SRC), (col(DST) + coff).as(DST), col(V))
      .filter(col(SRC) >= 0 && col(SRC) < shape.nrows &&
              col(DST) >= 0 && col(DST) < shape.ncols))

  def structureMask(complement: Boolean = false): GrbMask =
    GrbMask(df.select(col(SRC), col(DST)), complement)

  /** apply(indexunaryop, thunk): expression over (v, i, j) (`matrix.py:2500`) */
  def applyIndexed(f: (Column, Column, Column) => Column): GrbMatrix =
    copy(df = df.select(col(SRC), col(DST), f(col(V), col(SRC), col(DST)).as(V)))

  /** element access A[i,j] (`matrix.py:3022`) — driver convenience, parity
    * tests only (anti-pattern at scale, SURVEY.md §2.2). Dtype-agnostic:
    * returns whatever the value column holds (Double, Long, Row for record
    * dtypes, …). */
  def get(i: Long, j: Long): Option[Any] =
    df.filter(col(SRC) === i && col(DST) === j).collect()
      .headOption.map(_.get(2))

  /** A[i,j] = s (`matrix.py:3088`): upsert one element. */
  def set(i: Long, j: Long, s: Double): GrbMatrix = {
    val spark = df.sparkSession
    import spark.implicits._
    val one = Seq((i, j, s)).toDF(SRC, DST, V)
    copy(df = df.filter(!(col(SRC) === i && col(DST) === j)).unionByName(one))
  }

  /** del A[i,j] (`matrix.py:3529`) */
  def delete(i: Long, j: Long): GrbMatrix =
    copy(df = df.filter(!(col(SRC) === i && col(DST) === j)))

  /** kronecker product (`matrix.py:2333`): block-index arithmetic. */
  def kronecker(other: GrbMatrix, op: BinaryOp): GrbMatrix = {
    val r = other.df.select(col(SRC).as("_s2"), col(DST).as("_d2"), col(V).as("_v2"))
    GrbMatrix(
      df.crossJoin(r).select(
        (col(SRC) * other.shape.nrows + col("_s2")).as(SRC),
        (col(DST) * other.shape.ncols + col("_d2")).as(DST),
        op(col(V), col("_v2")).as(V)),
      GrbShape(shape.nrows * other.shape.nrows, shape.ncols * other.shape.ncols))
  }
}

object GrbMatrix {
  import Names._

  /** from_scalar (`matrix.py:1337`): iso-valued full matrix. Kept as a
    * range cross-join — avoid at scale; iso-ness is better expressed as a
    * lit() column in the consuming plan (SURVEY.md §2.1). */
  def fromScalar(spark: org.apache.spark.sql.SparkSession, value: Double,
                 shape: GrbShape): GrbMatrix = {
    val r = spark.range(shape.nrows).select(col("id").as(SRC))
    val c = spark.range(shape.ncols).select(col("id").as(DST))
    GrbMatrix(r.crossJoin(c).select(col(SRC), col(DST), lit(value).as(V)), shape)
  }
  /** from_coo with dup merge (`matrix.py:818`; dup required for duplicates) */
  def fromCoo(spark: org.apache.spark.sql.SparkSession,
              triples: Seq[(Long, Long, Double)], shape: GrbShape,
              dup: Option[Monoid] = None): GrbMatrix = {
    import spark.implicits._
    val df = triples.toDF(SRC, DST, V)
    val d = dup match {
      case Some(m) => df.groupBy(SRC, DST).agg(m.agg(col(V)).as(V))
      case None    => df
    }
    GrbMatrix(d, shape)
  }
}
