package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** IVF coarse-quantizer assignment as a CONSTANT-SIZE native kernel.
  *
  * The composed form (`array(c0_dist, c1_dist, ...)` + `array_position` /
  * `array_sort` — `Similarity.assignCell` pre round 11) is exact but its
  * GENERATED CODE grows with the cell count: every centroid is a literal
  * array expression, so at production cell counts (FAISS sizing:
  * `nCells ≈ √N` → 10⁴–10⁵ cells for 10⁸–10¹⁰ vectors) the whole-stage
  * function blows past the JIT's 8KB inline / 64KB method limits and the
  * plan degrades to interpreted evaluation of a 10⁴-node expression tree
  * PER ROW. This kernel keeps the centroid matrix as ONE flat reference
  * object (rides the broadcast task binary, not the codegen source), so
  * generated code is O(1) in the cell count and the scan stays inside
  * whole-stage codegen at any nCells.
  *
  * Arithmetic is BIT-IDENTICAL to the composed form (the DuckDB-gated
  * queries q96/q108/q110 hash on cell structure): per centroid j the
  * shifted squared distance `c2_j - 2·dot(v, c_j)` with `c2_j` summed
  * ascending driver-side and the dot accumulated ascending in doubles
  * exactly like [[HashExpressions.DotF64]]; ties resolve to the smallest
  * index ([[IvfKernel.nearest]] keeps the FIRST strict minimum, matching
  * `array_position(d, array_min(d))`; [[IvfKernel.nearestK]] orders by
  * `(distance, index)` ascending, matching `array_sort` over
  * `struct(d, cell)`).
  *
  * Above [[IvfKernel.PruneThreshold]] cells the kernel additionally
  * builds a two-level EXACT search index: √C super-centroids (k-means
  * over the centroids, driver-side, deterministic), each with its member
  * list and covering radius. A row computes its √C super distances, then
  * scans supers in ascending lower-bound order (`d(v,s) − r_s`, the
  * triangle inequality) and STOPS once the bound exceeds the best found —
  * O(dim·√C) expected per row instead of O(dim·C), same winners. The
  * bound comparison carries a 1e-7 slack so floating-point rounding of
  * the sqrt can never prune a tied-or-better member cell; equality with
  * the flat scan over adversarial inputs is spec-pinned (IvfKernelSpec).
  *
  * Measured (ProfileIvf, since retired — COVERAGE, *Retired dev
  * profilers*; 32k×64-dim rows, local[32], 2026-08-15):
  * composed form 6.3s @ 64 cells, 24.0s @ 256 (the generated method grows
  * past the JIT's compilable size and runs in the BYTECODE INTERPRETER),
  * then erratically 1.6s @ 1024 (codegen gives up entirely and the
  * JIT-compiled interpreted path takes over) — vs the kernel's flat
  * 0.14s / pruned 0.18s / pruned 0.16s: 45–130× and, more importantly,
  * FLAT in the cell count.
  */
object IvfKernel {
  val PruneThreshold = 128

  /** The serializable quantizer: flat row-major centroid matrix +
    * precomputed `c2`, plus the optional super-centroid pruning index.
    * Rides expressions as a reference object — Spark broadcasts the task
    * binary, so executors get ONE copy per stage, not one per row or per
    * task.
    */
  final class Quantizer(
      val dim: Int,
      val mat: Array[Double], // [c * dim + i]
      val c2: Array[Double],
      val superMat: Array[Double], // [s * dim + i], empty when flat
      val superMembers: Array[Array[Int]],
      val superRadius: Array[Double]) extends Serializable {
    val nCells: Int = c2.length
    def pruned: Boolean = superRadius.length > 0
    // content-based equality so semantically-equal plans dedup
    override def hashCode(): Int =
      java.util.Arrays.hashCode(mat) * 31 + dim
    override def equals(o: Any): Boolean = o match {
      case q: Quantizer => q.dim == dim &&
        java.util.Arrays.equals(q.mat, mat) &&
        java.util.Arrays.equals(q.superMat, superMat)
      case _ => false
    }
  }

  def build(centroids: Seq[Seq[Double]]): Quantizer = {
    val n = centroids.size
    require(n > 0, "need at least one centroid")
    val dim = centroids.head.size
    val mat = new Array[Double](n * dim)
    val c2 = new Array[Double](n)
    var c = 0
    while (c < n) {
      val row = centroids(c)
      var s = 0.0
      var i = 0
      while (i < dim) {
        val x = row(i)
        mat(c * dim + i) = x
        s += x * x // ascending, like the composed form's driver-side sum
        i += 1
      }
      c2(c) = s
      c += 1
    }
    if (n < PruneThreshold)
      return new Quantizer(dim, mat, c2, Array.emptyDoubleArray,
        Array.empty, Array.emptyDoubleArray)

    // ---- two-level index: k-means over the centroids themselves ----
    val nSup = math.max(2, math.sqrt(n.toDouble).round.toInt)
    val pts = Array.tabulate(n)(j => java.util.Arrays.copyOfRange(mat, j * dim, (j + 1) * dim))
    var sup = graft.ext.Similarity.farthestPointSweep(pts, nSup)
    var iter = 0
    val assign = new Array[Int](n)
    while (iter < 3) {
      var j = 0
      while (j < n) { assign(j) = nearestOf(pts(j), sup, dim); j += 1 }
      val sums = Array.fill(sup.length)(new Array[Double](dim))
      val cnt = new Array[Int](sup.length)
      j = 0
      while (j < n) {
        val a = assign(j); cnt(a) += 1
        var i = 0
        while (i < dim) { sums(a)(i) += pts(j)(i); i += 1 }
        j += 1
      }
      sup = sup.indices.map { s =>
        if (cnt(s) == 0) sup(s)
        else { val m = sums(s); var i = 0; while (i < dim) { m(i) /= cnt(s); i += 1 }; m }
      }.toArray
      iter += 1
    }
    var j = 0
    while (j < n) { assign(j) = nearestOf(pts(j), sup, dim); j += 1 }
    val members = Array.tabulate(sup.length)(s =>
      (0 until n).filter(assign(_) == s).toArray)
    val radius = Array.tabulate(sup.length) { s =>
      var r = 0.0
      members(s).foreach { j =>
        var d2 = 0.0
        var i = 0
        while (i < dim) { val t = pts(j)(i) - sup(s)(i); d2 += t * t; i += 1 }
        r = math.max(r, math.sqrt(d2))
      }
      r
    }
    val sMat = new Array[Double](sup.length * dim)
    var s = 0
    while (s < sup.length) {
      System.arraycopy(sup(s), 0, sMat, s * dim, dim)
      s += 1
    }
    new Quantizer(dim, mat, c2, sMat, members, radius)
  }

  private def nearestOf(p: Array[Double], cs: Array[Array[Double]], dim: Int): Int = {
    var best = Double.MaxValue
    var bi = 0
    var s = 0
    while (s < cs.length) {
      var d2 = 0.0
      var i = 0
      while (i < dim) { val t = p(i) - cs(s)(i); d2 += t * t; i += 1 }
      if (d2 < best) { best = d2; bi = s }
      s += 1
    }
    bi
  }

  /** Shifted squared distance of row-vector `v` to centroid `c` —
    * EXACTLY the composed form's `c2 - 2·dot`, dot accumulated ascending.
    */
  private def shiftedDist(q: Quantizer, v: ArrayData, isFloat: Boolean, c: Int): Double = {
    val dim = math.min(q.dim, v.numElements())
    var acc = 0.0
    var i = 0
    val base = c * q.dim
    while (i < dim) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      acc += x * q.mat(base + i)
      i += 1
    }
    q.c2(c) - 2.0 * acc
  }

  def nearest(q: Quantizer, v: ArrayData, isFloat: Boolean): Int = {
    if (!q.pruned) {
      var best = Double.MaxValue
      var bi = 0
      var c = 0
      while (c < q.nCells) {
        val d = shiftedDist(q, v, isFloat, c)
        if (d < best) { best = d; bi = c }
        c += 1
      }
      return bi
    }
    val order = superOrder(q, v, isFloat)
    val v2 = selfDot(q, v, isFloat)
    var best = Double.MaxValue
    var bi = 0
    var oi = 0
    while (oi < order.length) {
      val (lb, s) = order(oi)
      // |v−c|² = shifted + |v|²; prune when (lb − slack)² > best true d²
      if (best < Double.MaxValue) {
        val bestD = math.sqrt(math.max(0.0, best + v2))
        if (lb - FpSlack > bestD) return bi
      }
      val mem = q.superMembers(s)
      var m = 0
      while (m < mem.length) {
        val c = mem(m)
        val d = shiftedDist(q, v, isFloat, c)
        if (d < best || (d == best && c < bi)) { best = d; bi = c }
        m += 1
      }
      oi += 1
    }
    bi
  }

  def nearestK(q: Quantizer, v: ArrayData, isFloat: Boolean, k: Int): ArrayData = {
    val kk = math.min(k, q.nCells)
    val bd = new Array[Double](kk)
    val bc = new Array[Int](kk)
    var filled = 0
    def offer(c: Int, d: Double): Unit = {
      if (filled < kk || d < bd(filled - 1) ||
          (d == bd(filled - 1) && c < bc(filled - 1))) {
        var pos = if (filled < kk) filled else kk - 1
        while (pos > 0 && (bd(pos - 1) > d || (bd(pos - 1) == d && bc(pos - 1) > c))) {
          bd(pos) = bd(pos - 1); bc(pos) = bc(pos - 1); pos -= 1
        }
        bd(pos) = d; bc(pos) = c
        if (filled < kk) filled += 1
      }
    }
    if (!q.pruned) {
      var c = 0
      while (c < q.nCells) { offer(c, shiftedDist(q, v, isFloat, c)); c += 1 }
    } else {
      val order = superOrder(q, v, isFloat)
      val v2 = selfDot(q, v, isFloat)
      var oi = 0
      var done = false
      while (oi < order.length && !done) {
        val (lb, s) = order(oi)
        if (filled == kk) {
          val worstD = math.sqrt(math.max(0.0, bd(kk - 1) + v2))
          if (lb - FpSlack > worstD) done = true
        }
        if (!done) {
          val mem = q.superMembers(s)
          var m = 0
          while (m < mem.length) { offer(mem(m), shiftedDist(q, v, isFloat, mem(m))); m += 1 }
        }
        oi += 1
      }
    }
    new GenericArrayData(bc.take(filled))
  }

  private val FpSlack = 1e-7

  /** Supers ordered by ascending triangle-inequality lower bound
    * `max(0, d(v, s) − r_s)`.
    */
  private def superOrder(q: Quantizer, v: ArrayData,
      isFloat: Boolean): Array[(Double, Int)] = {
    val nS = q.superRadius.length
    val dim = math.min(q.dim, v.numElements())
    val v2 = selfDot(q, v, isFloat)
    val out = new Array[(Double, Int)](nS)
    var s = 0
    while (s < nS) {
      var acc = 0.0
      var s2 = 0.0
      var i = 0
      val base = s * q.dim
      while (i < dim) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val y = q.superMat(base + i)
        acc += x * y
        s2 += y * y
        i += 1
      }
      val d = math.sqrt(math.max(0.0, v2 - 2.0 * acc + s2))
      out(s) = (math.max(0.0, d - q.superRadius(s)), s)
      s += 1
    }
    java.util.Arrays.sort(out, Ordering.by((t: (Double, Int)) => t))
    out
  }

  private def selfDot(q: Quantizer, v: ArrayData, isFloat: Boolean): Double = {
    val dim = math.min(q.dim, v.numElements())
    var acc = 0.0
    var i = 0
    while (i < dim) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      acc += x * x
      i += 1
    }
    acc
  }
}

object IvfExpressions {
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** `nearest_cell(vec)` — index of the nearest centroid, first-min ties. */
  case class NearestCell(child: Expression, q: IvfKernel.Quantizer)
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_nearest_cell"
    private lazy val fl = isFloat(child)
    override def nullSafeEval(v: Any): Any =
      IvfKernel.nearest(q, v.asInstanceOf[ArrayData], fl)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val qRef = ctx.addReferenceObj("quantizer", q,
        classOf[IvfKernel.Quantizer].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.IvfKernel.nearest($qRef, $v, $fl);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `nearest_cells(vec, k)` — the k nearest centroid indices ordered by
    * `(distance, index)` ascending.
    */
  case class NearestCells(child: Expression, q: IvfKernel.Quantizer, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_nearest_cells"
    private lazy val fl = isFloat(child)
    override def nullSafeEval(v: Any): Any =
      IvfKernel.nearestK(q, v.asInstanceOf[ArrayData], fl, k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val qRef = ctx.addReferenceObj("quantizer", q,
        classOf[IvfKernel.Quantizer].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.IvfKernel.nearestK($qRef, $v, $fl, $k);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
