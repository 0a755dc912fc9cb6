package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Element-wise float difference of two ARRAY<FLOAT> columns — the
  * residual step of residual IVF-PQ encoding (`x - centroid(list)`,
  * the Faiss IndexIVFPQ convention; see [[graft.api.Graft.ivfPqBuild]]).
  * Exactly `zip_with(a, b, (x, y) -> x - y)` (float arithmetic,
  * truncated to the shorter array — the HOF's null-fill domain for
  * unequal lengths never occurs at the call sites, where both arrays
  * are dim-length), compiled: the HOF's lambda evaluates INTERPRETED
  * per element, and this runs on the FULL-CORPUS encode pass — the
  * exact r10/r11 cliff class (107 s of interpreted lambda in one
  * 1M-vector encode before the SQ8 kernels). VecSubKernelSpec pins
  * kernel ≡ HOF. */
case class VecSubF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_sub_f32 requires ARRAY<FLOAT> inputs, got $l and $r")
    }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "vec_sub_f32"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecSubF32.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  graft.functions.VecSubF32.sub($a, $b);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object VecSubF32 {
  def sub(x: ArrayData, y: ArrayData): ArrayData = {
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = x.getFloat(i) - y.getFloat(i)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Native Catalyst expression for the float-vector dot product: the hot
  * inner loop of every similarity/dedup operator over embeddings.
  *
  * Semantics are EXACTLY the sequential fold
  * `sum_i (double)a[i] * (double)b[i]` — the same order of operations as
  * the `aggregate(zip_with(...))` HOF it replaces and as the DuckDB
  * oracle's `list_sum(list_transform(list_zip(...)))`, so results stay
  * bit-identical while the codegen'd loop runs on primitive arrays with
  * zero per-element allocation (the HOF materializes a zipped struct
  * array per row-pair, which dominated the d05/s01 profile).
  */
case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_f32 requires ARRAY<FLOAT> inputs, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Native integer dot product over two ARRAY<INT> columns — the scoring
  * loop of scalar-quantized (SQ8) retrieval, where vectors are stored as
  * per-vector-scaled int8 codes (the s05 convention) and the approximate
  * dot is `idot(qa, qb) · mxa · mxb / 127²`. The fold is exact 64-bit
  * integer arithmetic (64-dim int8 products bound |acc| ≤ 64·127² ≪
  * 2⁶³), so cross-engine parity is exact by construction — no float
  * ordering concerns at all. Same zero-allocation primitive-array loop
  * as [[DotProductF32]]. */
case class DotProductI32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_i32 requires ARRAY<INT> inputs, got $l and $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i32"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getInt(i).toLong * y.getInt(i).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((long) $a.getInt($i)) * ((long) $b.getInt($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Native ADC (asymmetric distance computation) table lookup for product
  * quantization: given a per-QUERY lookup table `lut` (flattened
  * `m × ksub` doubles, `lut[mi * ksub + code]` = the query⋅sub-centroid
  * dot product, precomputed ONCE per query) and a per-ROW code array
  * (`m` small ints), returns `sum_mi lut[mi * ksub + code[mi]]`.
  *
  * This is the PQ scan trick from Jégou et al.: the per-candidate cost
  * drops from m × dsub multiply-adds (the interpreted
  * `aggregate(zip_with(slice(...)))` HOF it replaces — the engine's
  * slowest per-byte code, r7 verdict) to m array reads, and the loop
  * codegens into the same whole-stage pipeline as the surrounding join.
  * The LUT entries are computed with the identical sequential fold the
  * old inline dot used, so ADC scores stay bit-identical.
  *
  * Registered as a public SQL function, so the index arithmetic is
  * bounds-checked: a code outside [0, ksub) or past the LUT's length
  * raises a named error instead of silently reading past the
  * UnsafeArrayData payload (whose own assert is disabled in normal
  * JVMs). Library call sites always satisfy the invariant, so the
  * branch never fires on the hot path — it exists for the SQL surface.
  */
case class PqAdcLut(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_lut requires (ARRAY<DOUBLE>, ARRAY<INT>), got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_lut"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val code = b.asInstanceOf[ArrayData]
    val m = code.numElements()
    val n = lut.numElements()
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      val c = code.getInt(mi)
      if (c < 0 || c >= ksub || mi * ksub + c >= n)
        PqAdcLut.outOfRange(mi, c, ksub, n)
      acc += lut.getDouble(mi * ksub + c)
      mi += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val mi = ctx.freshName("mi")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = $b.numElements();
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $c = $b.getInt($mi);
         |  if ($c < 0 || $c >= $ksub || $mi * $ksub + $c >= $n) {
         |    graft.functions.PqAdcLut.outOfRange($mi, $c, $ksub, $n);
         |  }
         |  $acc += $a.getDouble($mi * $ksub + $c);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object PqAdcLut {
  /** Named failure for the SQL surface (called from generated code). */
  def outOfRange(mi: Int, code: Int, ksub: Int, lutLen: Int): Nothing =
    throw new IllegalArgumentException(
      s"pq_adc_lut: code $code at subspace $mi out of range for " +
        s"ksub=$ksub, lut of $lutLen entries")
}

/** Native PQ encoder: per corpus vector, the argmax sub-centroid code
  * for every subspace in ONE codegen'd pass — the per-corpus-byte map
  * work of PQ index build (m × ksub × dsub multiply-adds per row; the
  * interpreted `array_min(transform(map_entries(...)))` HOF it replaces
  * allocated a struct per (subspace, centroid) candidate and was the
  * dominant linear-growth term of s10/s11 index build).
  *
  * Inputs are the flattened codebook (one broadcast row): `cells[j]` =
  * `mi * ksub + code` for live codebook entry j (Lloyd can empty cells,
  * so entries are sparse and sorted), `cents` = the entries' centroids
  * concatenated (dsub floats each), `cnrms[j]` = the entries' norms.
  * Output: `m` codes (ARRAY<INT>).
  *
  * Parity contract with the HOF (asserted in VectorExpressionsSpec):
  * per entry the dot product is the same sequential fold, the winner
  * comparison is `java.lang.Double.compare` on -dot/cnrm then the
  * smaller code — exactly Spark's struct ordering in `array_min`
  * (NaN greater than every double and equal to itself). A vector
  * shorter than m·dsub yields null (the HOF produced an undefined
  * code there; no fixture or API path feeds short vectors), as does a
  * codebook with an entry-less subspace — malformed input fails to a
  * null row instead of emitting a poisoned sentinel code.
  */
case class PqEncodeF32(first: Expression, second: Expression,
    third: Expression, fourth: Expression, m: Int, ksub: Int, dsub: Int,
    l2: Boolean = false)
    extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _),
            ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_encode_f32 requires (ARRAY<FLOAT>, ARRAY<INT>, ARRAY<FLOAT>, " +
          s"ARRAY<DOUBLE>), got $other")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_f32"
  override def nullable: Boolean = true

  /** Shared by eval and the codegen template (called reflectively from
    * generated code, so it must be public static-like — an object method
    * on the companion). */
  override protected def nullSafeEval(vecA: Any, cellsA: Any, centsA: Any,
      cnrmsA: Any): Any =
    PqEncodeF32.encode(vecA.asInstanceOf[ArrayData],
      cellsA.asInstanceOf[ArrayData], centsA.asInstanceOf[ArrayData],
      cnrmsA.asInstanceOf[ArrayData], m, ksub, dsub, l2)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, cells, cents, cnrms) => {
      val out = ctx.freshName("out")
      s"""
         |Object $out = graft.functions.PqEncodeF32.encode(
         |  $vec, $cells, $cents, $cnrms, $m, $ksub, $dsub, $l2);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(newFirst, newSecond, newThird, newFourth)
}

object PqEncodeF32 {
  /** The encode kernel: primitive-array loops, zero per-candidate
    * allocation. Returns null (not an exception) for vectors shorter
    * than m·dsub — the HOF folded null there. `l2`: argmin L2 distance
    * (dot − cnrm²/2 argmax, the Faiss PQ objective — see
    * [[CentroidTopNF32.compute]]) instead of max cosine. */
  def encode(vec: ArrayData, cells: ArrayData, cents: ArrayData,
      cnrms: ArrayData, m: Int, ksub: Int, dsub: Int,
      l2: Boolean = false): AnyRef = {
    if (vec.numElements() < m * dsub) return null
    val nEntries = cells.numElements()
    val bestNegd = new Array[Double](m)
    val bestCode = new Array[Int](m)
    java.util.Arrays.fill(bestNegd, java.lang.Double.NaN)
    java.util.Arrays.fill(bestCode, Int.MaxValue)
    var j = 0
    while (j < nEntries) {
      val cell = cells.getInt(j)
      val mi = cell / ksub
      val code = cell - mi * ksub
      var acc = 0.0
      var t = 0
      val vOff = mi * dsub
      val cOff = j * dsub
      while (t < dsub) {
        acc += vec.getFloat(vOff + t).toDouble *
          cents.getFloat(cOff + t).toDouble
        t += 1
      }
      val negd =
        if (l2) { val cn = cnrms.getDouble(j); 0.5 * cn * cn - acc }
        else -acc / cnrms.getDouble(j)
      val cmp = java.lang.Double.compare(negd, bestNegd(mi))
      if (cmp < 0 || (cmp == 0 && code < bestCode(mi))) {
        bestNegd(mi) = negd
        bestCode(mi) = code
      }
      j += 1
    }
    // A subspace with zero live codebook entries has no argmax: return
    // null (the short-vector convention) rather than emit the sentinel
    // Int.MaxValue inside a containsNull=false array — a poisoned code
    // that would overflow pq_adc_lut's index arithmetic downstream.
    // Unreachable via pqCodebooks (every subspace keeps >= 1 cell), so
    // this only fires on malformed hand-built codebooks.
    var mi = 0
    while (mi < m) {
      if (bestCode(mi) == Int.MaxValue) return null
      mi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(bestCode)
  }
}

/** Whole-index directed-multiprobe kernel: ALL tables' probe codes for
  * one vector in one native pass (Lv et al. 2007, "Multi-Probe LSH").
  * A per-table formulation (one probe expression per table under an
  * `array()` of per-plane dotF32 nodes) builds a tables × bits × dim
  * expression tree (~25k nodes at the derived 100×-scale layout) whose
  * generated method blows past the JIT compile threshold — the probe
  * build then runs in the bytecode interpreter at ~40µs per row-table,
  * dwarfing the join it feeds. Here the hyperplanes ride along as a
  * plain constructor array (no expression nodes at all) and the
  * margins/codes/probes loop is one JIT-compiled method:
  * vec · planes[t,j] exactly as [[DotProductF32]] folds it (planes
  * stored as FLOAT, accumulated in double), so codes agree bit-for-bit
  * with the `lshIndex` side's dotF32 codes.
  *
  * Output: ARRAY<INT> of tables · probesPerTable ints, table-major —
  * probesPerTable = 1 + m + C(min(m2, m), 2) (exact code, directed
  * single flips of the m lowest-|margin| bits, directed pair flips of
  * the m2 lowest). A true near-neighbor's code differs from the row's
  * almost surely in low-margin bits, so directed probing holds recall
  * at a fraction of full multiprobe's probe rows: measured at scale10,
  * directed probing with 13 probes per table gave recall 0.983, against
  * 0.973 for full hamming-1. The caller derives (tbl, probe) from the
  * flat position.
  */
case class LshProbesAll(child: Expression, planes: Array[Float],
    tables: Int, bits: Int, dim: Int, m: Int, m2: Int)
    extends UnaryExpression {
  require(tables > 0 && bits > 0 && bits <= 30 && dim > 0 &&
    m >= 0 && m <= bits && m2 >= 0 && m2 <= m &&
    planes.length == tables * bits * dim,
    s"lsh_probes_all(tables=$tables, bits=$bits, dim=$dim, m=$m, " +
      s"m2=$m2, planes=${planes.length})")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"lsh_probes_all requires ARRAY<FLOAT> vectors, got $t")
    }
  override def dataType: DataType = ArrayType(IntegerType, false)
  override def prettyName: String = "lsh_probes_all"

  override protected def nullSafeEval(input: Any): Any =
    LshProbesAll.compute(input.asInstanceOf[ArrayData], planes,
      tables, bits, dim, m, m2)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    // ship the plane matrix once per task as generated-class state, not
    // per-row expression data
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "float[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LshProbesAll.compute($c, $planesRef, " +
        s"$tables, $bits, $dim, $m, $m2)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object LshProbesAll {
  def probesPerTable(bits: Int, m: Int, m2: Int): Int = {
    val cnt = math.min(m, bits)
    val deep = math.min(m2, cnt)
    1 + cnt + deep * (deep - 1) / 2
  }

  def compute(vec: ArrayData, planes: Array[Float], tables: Int,
      bits: Int, dim: Int, m: Int, m2: Int): ArrayData = {
    val d = math.min(dim, vec.numElements())
    val v = new Array[Double](d)
    var i = 0
    while (i < d) { v(i) = vec.getFloat(i).toDouble; i += 1 }
    val ppt = probesPerTable(bits, m, m2)
    val out = new Array[Int](tables * ppt)
    val selA = new Array[Double](math.max(m, 1))
    val selJ = new Array[Int](math.max(m, 1))
    var t = 0
    while (t < tables) {
      var code = 0
      var cnt = 0
      var j = 0
      while (j < bits) {
        val base = (t * bits + j) * dim
        var acc = 0.0
        var k = 0
        while (k < d) { acc += v(k) * planes(base + k).toDouble; k += 1 }
        if (acc > 0) code |= (1 << j)
        val a = if (acc < 0) -acc else acc
        // ascending insertion-select by (|margin|, bit): strict `<`
        // keeps the earlier bit on ties (array_sort's struct order)
        var pos = -1
        if (cnt < m) { pos = cnt; cnt += 1 }
        else if (m > 0 && a < selA(m - 1)) pos = m - 1
        if (pos >= 0) {
          while (pos > 0 && a < selA(pos - 1)) {
            selA(pos) = selA(pos - 1); selJ(pos) = selJ(pos - 1); pos -= 1
          }
          selA(pos) = a; selJ(pos) = j
        }
        j += 1
      }
      val w0 = t * ppt
      out(w0) = code
      var s = 0
      while (s < cnt) { out(w0 + 1 + s) = code ^ (1 << selJ(s)); s += 1 }
      val deep = math.min(m2, cnt)
      var w = w0 + 1 + cnt
      var x = 1
      while (x < deep) {
        var y = 0
        while (y < x) {
          out(w) = code ^ (1 << selJ(x)) ^ (1 << selJ(y))
          w += 1; y += 1
        }
        x += 1
      }
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Whole-table centroid ranking kernel: the `probes` nearest centroids
  * (cosine desc, list_id asc) for one ARRAY<FLOAT> vector in one native
  * pass, with the centroid matrix riding along as plain constructor data
  * — the [[LshProbesAll]] treatment applied to the k-means assignment
  * loop.
  *
  * The HOF formulation (`aggregate`/`array_sort` over a broadcast
  * `collect_list` of centroid structs) evaluates its lambdas
  * interpreted, one struct allocation per (row, centroid): fine at the
  * fixture layouts (nlist ≤ ~500), but the derived-nlist builds past
  * the deriveNlist √n crossover put nlist in the thousands and the
  * assignment pass at n·nlist ≈ 10¹⁰ lambda evaluations — hours of
  * interpreter overhead for ~1 minute of actual flops. This kernel is
  * the same argmax/top-N as one JIT-compiled loop, and
  * [[graft.api.Graft]] runs every centroid assignment and probe
  * selection through it; the HOF shapes live on in test scope as its
  * oracles.
  *
  * Semantics match the two HOF shapes exactly (CentroidKernelSpec
  * pins both against random data):
  *  - cos = dotF32(vec, centroid) / (nrm · cnrm), the same
  *    double-accumulated float fold, bounded by the shorter array;
  *    `nrm` arrives as the second child (the `normalized` column),
  *    cnrm is precomputed on the driver with the identical fold.
  *  - ordering: cos desc, list_id asc on ties (primitive ==, so
  *    -0.0 == 0.0 like Spark's nanSafeCompareDoubles).
  *  - NaN cos (zero-norm vector or centroid): `nanWins = true` mirrors
  *    the argmax fold's GreaterThan SQL semantics (NaN is GREATEST — a
  *    NaN cosine wins), `nanWins = false` the top-N array_sort over
  *    (negcos, list_id) (NaN negcos sorts LAST — a NaN cosine loses).
  *    Under ANSI mode (the session default) the HOF paths cannot
  *    actually reach NaN — the 0/0 raises DIVIDE_BY_ZERO first — so
  *    the kernel's NaN ordering is deterministic-by-construction
  *    rather than observed parity. The kernel deliberately does NOT
  *    re-raise on a zero norm: zero-norm screening is `normalized`'s
  *    job (real corpora never carry one past it), and an assignment
  *    kernel that throws mid-build on one bad row at 10⁹ vectors
  *    would trade a deterministic ordering for a lost cluster job —
  *    callers that want ANSI's strictness filter `nrm > 0` upstream.
  *
  * Output: ARRAY<INT> of min(probes, nlist) list_ids, best first. */
case class CentroidTopNF32(left: Expression, right: Expression,
    cents: Array[Float], cnrms: Array[Double], listIds: Array[Int],
    dim: Int, probes: Int, nanWins: Boolean, l2: Boolean = false)
    extends BinaryExpression {
  require(dim > 0 && probes > 0 && listIds.length == cnrms.length &&
    cents.length == listIds.length * dim,
    s"centroid_topn(dim=$dim, probes=$probes, nlist=${listIds.length}, " +
      s"cents=${cents.length})")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"centroid_topn requires (ARRAY<FLOAT>, DOUBLE), got $l and $r")
    }
  override def dataType: DataType = ArrayType(IntegerType, false)
  override def prettyName: String = "centroid_topn"

  override protected def nullSafeEval(vec: Any, nrm: Any): Any =
    CentroidTopNF32.compute(vec.asInstanceOf[ArrayData],
      nrm.asInstanceOf[Double], cents, cnrms, listIds, dim, probes,
      nanWins, l2)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    // centroid matrix ships once per task as generated-class state
    val centsRef = ctx.addReferenceObj("centCents", cents, "float[]")
    val cnrmsRef = ctx.addReferenceObj("centCnrms", cnrms, "double[]")
    val idsRef = ctx.addReferenceObj("centIds", listIds, "int[]")
    nullSafeCodeGen(ctx, ev, (v, n) =>
      s"${ev.value} = graft.functions.CentroidTopNF32.compute($v, $n, " +
        s"$centsRef, $cnrmsRef, $idsRef, $dim, $probes, $nanWins, $l2);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CentroidTopNF32 {
  /** cos ordering: is (a, idA) strictly better than (b, idB)? Better =
    * higher cos (NaN greatest when nanWins, least otherwise), ties by
    * lower list_id; primitive == keeps -0.0 == 0.0 (nanSafe). */
  private def better(a: Double, idA: Int, b: Double, idB: Int,
      nanWins: Boolean): Boolean = {
    val aN = java.lang.Double.isNaN(a)
    val bN = java.lang.Double.isNaN(b)
    if (aN || bN) {
      if (aN && bN) idA < idB
      else if (nanWins) aN
      else bN
    } else if (a == b) idA < idB
    else a > b
  }

  /** `l2 = false`: score = dot/(nrm·cnrm) — max cosine, the coarse-
    * quantizer/probe convention. `l2 = true`: score = dot − cnrm²/2 —
    * argmax is EXACTLY argmin of the L2 distance ‖v − c‖² (the ‖v‖²
    * term is constant per row), the Faiss PQ train/encode objective;
    * cosine here picks directionally-close cells regardless of
    * MAGNITUDE, which wrecks residual reconstruction (r12: recall
    * DROPPED 0.778 → 0.475 when ksub grew 16 → 256 under cosine —
    * more near-duplicate directions at wrong scales to mis-pick). */
  def compute(vec: ArrayData, nrm: Double, cents: Array[Float],
      cnrms: Array[Double], listIds: Array[Int], dim: Int, probes: Int,
      nanWins: Boolean, l2: Boolean = false): ArrayData = {
    val nlist = listIds.length
    val d = math.min(dim, vec.numElements())
    val v = new Array[Double](d)
    var i = 0
    while (i < d) { v(i) = vec.getFloat(i).toDouble; i += 1 }
    val kept = math.min(probes, nlist)
    val selC = new Array[Double](kept)
    val selId = new Array[Int](kept)
    var cnt = 0
    var c = 0
    while (c < nlist) {
      val base = c * dim
      var acc = 0.0
      var k = 0
      while (k < d) { acc += v(k) * cents(base + k).toDouble; k += 1 }
      val cos =
        if (l2) acc - 0.5 * cnrms(c) * cnrms(c)
        else acc / (nrm * cnrms(c))
      val id = listIds(c)
      // descending insertion-select under `better`
      var pos = -1
      if (cnt < kept) { pos = cnt; cnt += 1 }
      else if (better(cos, id, selC(kept - 1), selId(kept - 1), nanWins))
        pos = kept - 1
      if (pos >= 0) {
        while (pos > 0 && better(cos, id, selC(pos - 1), selId(pos - 1),
            nanWins)) {
          selC(pos) = selC(pos - 1); selId(pos) = selId(pos - 1); pos -= 1
        }
        selC(pos) = cos; selId(pos) = id
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(selId, cnt))
  }
}

/** Native per-query PQ ADC lookup-table build (the other half of
  * Jégou et al.'s table trick, [[PqAdcLut]] being the read side): from
  * a query vector and the flattened broadcast codebook (sorted live
  * `cells` + concatenated `cents`, the [[PqEncodeF32]] layout), the
  * dense m·ksub qlut with `qlut[mi·ksub+code] = dot(qe_sub(mi),
  * centroid(mi,code))` and 0.0 at dead cells. Each cell's dot is the
  * identical ascending sequential fold the nested
  * `transform(transform(aggregate(zip_with(...))))` HOF used — ADC
  * scores stay bit-identical — but the HOF evaluated ~m·ksub·dsub
  * interpreted lambda calls plus two map lookups PER QUERY, which the
  * r11 many-query regime multiplies by 10⁵ queries per batch. */
case class PqQueryLutF32(first: Expression, second: Expression,
    third: Expression, m: Int, ksub: Int, dsub: Int)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _),
            ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_query_lut_f32 requires (ARRAY<FLOAT>, ARRAY<INT>, " +
          s"ARRAY<FLOAT>), got $other")
    }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)
  override def prettyName: String = "pq_query_lut_f32"

  override protected def nullSafeEval(qeA: Any, cellsA: Any,
      centsA: Any): Any =
    PqQueryLutF32.lut(qeA.asInstanceOf[ArrayData],
      cellsA.asInstanceOf[ArrayData], centsA.asInstanceOf[ArrayData],
      m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qe, cells, cents) => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  graft.functions.PqQueryLutF32.lut(
         |    $qe, $cells, $cents, $m, $ksub, $dsub);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(newFirst, newSecond, newThird)
}

object PqQueryLutF32 {
  /** Cells whose subvector runs past the query's length keep 0.0 — the
    * HOF behaved identically there (zip_with pads the short slice with
    * nulls, the fold goes null, coalesce lands 0.0), and no resolved
    * call path produces a short query vector. */
  def lut(qe: ArrayData, cells: ArrayData, cents: ArrayData,
      m: Int, ksub: Int, dsub: Int): ArrayData = {
    val out = new Array[Double](m * ksub)
    val nCells = cells.numElements()
    val qn = qe.numElements()
    var j = 0
    while (j < nCells) {
      val cell = cells.getInt(j)
      val mi = cell / ksub
      val vOff = mi * dsub
      val cOff = j * dsub
      if (vOff + dsub <= qn && cell < out.length) {
        var acc = 0.0
        var t = 0
        while (t < dsub) {
          acc += qe.getFloat(vOff + t).toDouble *
            cents.getFloat(cOff + t).toDouble
          t += 1
        }
        out(cell) = acc
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Native max-|x| over an ARRAY<FLOAT> column — the per-vector SQ8
  * scale (s05's storage convention). Semantics mirror the
  * `array_max(transform(vec, x -> abs(CAST(x AS DOUBLE))))` HOF it
  * replaces exactly: cast-then-abs per element, array_max's NaN-greatest
  * ordering, null on an empty array. The HOF evaluates its lambda
  * INTERPRETED per element — measured 107 s for one sqTopK call at 1M
  * vectors (r11 many-query probe), the identical cliff class r10 fixed
  * on the centroid/LSH paths — where this loop codegens into the
  * surrounding stage. */
case class MaxAbsF32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"max_abs_f32 requires ARRAY<FLOAT> input, got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "max_abs_f32"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    MaxAbsF32.maxAbs(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      s"""
         |Object $out = graft.functions.MaxAbsF32.maxAbs($a);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((java.lang.Double) $out).doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

object MaxAbsF32 {
  /** Null for an empty array (array_max's convention); NaN is greatest
    * (catalyst ordering), so one NaN component poisons the scale the
    * same way the HOF did. Null ELEMENTS are skipped — array_max's
    * null handling (r11 advice: the previous version read them as 0.0
    * via ArrayData.getFloat, silently diverging from the HOF on
    * user-supplied containsNull arrays); an all-null array is null,
    * like the empty one.
    *
    * Named `maxAbs`, NOT `eval`: the case class inherits
    * `eval(InternalRow)` from UnaryExpression, and scalac suppresses
    * the companion's static forwarder on a name clash — generated
    * code calling `MaxAbsF32.eval(ArrayData)` then failed Janino
    * compilation and SILENTLY disabled whole-stage codegen for every
    * stage containing max_abs_f32 (35 fallbacks in one sf0.1 verify
    * sweep, r12 find). */
  def maxAbs(arr: ArrayData): AnyRef = {
    val n = arr.numElements()
    var mx = 0.0
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = java.lang.Math.abs(arr.getFloat(i).toDouble)
        if (!seen || java.lang.Double.isNaN(v) || v > mx) mx = v
        seen = true
      }
      i += 1
    }
    if (!seen) null else java.lang.Double.valueOf(mx)
  }
}

/** Native SQ8 encode: `round(CAST(x AS DOUBLE) * 127 / mx)` per element
  * of an ARRAY<FLOAT>, as ARRAY<INT>. Rounding replays Spark's
  * `round()` on DOUBLE bit for bit (NaN/Infinity pass through the
  * rounding, then cast; otherwise java BigDecimal.valueOf → setScale(0,
  * HALF_UP) — the exact RoundBase double path), so gate rows and the
  * DuckDB oracle parity are unchanged; Sq8KernelSpec pins kernel ≡ HOF
  * row-for-row. Same interpreted-lambda retirement as [[MaxAbsF32]].
  *
  * ONE domain divergence from the `transform(round(...))` HOF (r11
  * advice): a null ARRAY ELEMENT encodes as 0 (ArrayData.getFloat
  * reads it as 0.0f), where the HOF's transform would emit a null
  * code. The output type is ARRAY<INT> containsNull=false BY DESIGN —
  * every downstream consumer ([[DotProductI32]]) folds primitive int
  * arrays — so null propagation cannot round-trip; 0 is the zero-
  * contribution encoding. Internal call sites never see null elements
  * (split/normalized embeddings); reachable only via the registered
  * `sq8_encode_f32` SQL function. Pinned by Sq8KernelSpec. */
case class Sq8EncodeF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq8_encode_f32 requires (ARRAY<FLOAT>, DOUBLE), got $l and $r")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sq8_encode_f32"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sq8EncodeF32.encode(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  graft.functions.Sq8EncodeF32.encode($a, $b);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object Sq8EncodeF32 {
  /** Spark's RoundBase double path at scale 0: NaN/Infinity unchanged,
    * else BigDecimal HALF_UP — NOT Math.round (HALF_UP rounds -2.5 to
    * -3, Math.round to -2). */
  private def roundHalfUp(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  def encode(arr: ArrayData, mx: Double): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = roundHalfUp(arr.getFloat(i).toDouble * 127.0 / mx).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

object VectorExpressions {
  /** Column-level exact integer dot product over two ARRAY<INT>
    * columns (SQ8 scoring — see [[DotProductI32]]). */
  def dotI32(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      DotProductI32(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Column-level dot product over two ARRAY<FLOAT> columns. */
  def dotF32(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      DotProductF32(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** ADC score: sum over subspaces of the per-query LUT entry selected
    * by each candidate's PQ code. `lut` is ARRAY<DOUBLE> of length
    * m·ksub, `code` ARRAY<INT> of length m with values in [0, ksub). */
  def pqAdcLut(lut: Column, code: Column, ksub: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqAdcLut(
        org.apache.spark.sql.graft.Bridge.expression(lut),
        org.apache.spark.sql.graft.Bridge.expression(code),
        ksub))

  /** The `probes` nearest centroid list_ids for an ARRAY<FLOAT> vector
    * with precomputed norm, best first (see [[CentroidTopNF32]]). */
  def centroidTopN(vec: Column, nrm: Column, cents: Array[Float],
      cnrms: Array[Double], listIds: Array[Int], dim: Int, probes: Int,
      nanWins: Boolean, l2: Boolean = false): Column =
    org.apache.spark.sql.graft.Bridge.column(
      CentroidTopNF32(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        org.apache.spark.sql.graft.Bridge.expression(nrm),
        cents, cnrms, listIds, dim, probes, nanWins, l2))

  /** ALL tables' directed probe codes for an ARRAY<FLOAT> vector, flat
    * table-major (see [[LshProbesAll]]). */
  def lshProbesAll(vec: Column, planes: Array[Float], tables: Int,
      bits: Int, dim: Int, m: Int, m2: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      LshProbesAll(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        planes, tables, bits, dim, m, m2))

  /** Element-wise float difference (see [[VecSubF32]]) — the residual
    * step of residual IVF-PQ. */
  def vecSubF32(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      VecSubF32(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Per-vector SQ8 scale: max |x| over an ARRAY<FLOAT> column (see
    * [[MaxAbsF32]]). */
  def maxAbsF32(vec: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MaxAbsF32(org.apache.spark.sql.graft.Bridge.expression(vec)))

  /** SQ8 int8 codes: round(x · 127 / mx) per element (see
    * [[Sq8EncodeF32]]). */
  def sq8EncodeF32(vec: Column, mx: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      Sq8EncodeF32(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        org.apache.spark.sql.graft.Bridge.expression(mx)))

  /** Per-query dense m·ksub ADC lookup table against the flattened
    * codebook (see [[PqQueryLutF32]]). */
  def pqQueryLutF32(qe: Column, cells: Column, cents: Column,
      m: Int, ksub: Int, dsub: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqQueryLutF32(
        org.apache.spark.sql.graft.Bridge.expression(qe),
        org.apache.spark.sql.graft.Bridge.expression(cells),
        org.apache.spark.sql.graft.Bridge.expression(cents),
        m, ksub, dsub))

  /** PQ encode: per-subspace argmax codes against the flattened
    * codebook (see [[PqEncodeF32]]). */
  def pqEncodeF32(vec: Column, cells: Column, cents: Column,
      cnrms: Column, m: Int, ksub: Int, dsub: Int,
      l2: Boolean = false): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqEncodeF32(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        org.apache.spark.sql.graft.Bridge.expression(cells),
        org.apache.spark.sql.graft.Bridge.expression(cents),
        org.apache.spark.sql.graft.Bridge.expression(cnrms),
        m, ksub, dsub, l2))
}
