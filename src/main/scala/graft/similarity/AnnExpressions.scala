package graft.similarity

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Static eval targets for the IVF centroid expressions — shared by the
  * interpreted and codegen paths (the K×Dim centroid matrix rides in as a
  * codegen reference object, materialized once per plan, not per row).
  *
  * The arithmetic is pinned to the column-function form it replaced
  * (`aggregate(zip_with(nv, cv, (x,y) -> x*y), 0d, (s,x) -> s+x)`): a
  * sequential index-order fold per centroid, so for well-formed fixed-Dim
  * rows (the only rows the wired readers produce) results are bit-identical
  * to the prior plan and to the DuckDB oracle's `list_inner_product`.
  * Degenerate inputs differ deliberately — see the next paragraph.
  *
  * Malformed-row verdicts (never produced by the wired `embeddings()`
  * readers, which emit fixed-Dim arrays): a row SHORTER than the baked
  * plane/centroid width folds over the shared prefix only — deterministic,
  * never an out-of-bounds `ArrayData` read (the zip_with forms null-padded
  * instead, yielding null dots); [[dotBoxed]] keeps the explicit
  * null-on-length-mismatch verdict because its output is nullable.
  */
object AnnOps {
  /** Cosines of a unit vector against every baked unit centroid;
    * index = centroid id.
    */
  def centroidCos(nv: ArrayData, cents: Array[Array[Double]]): ArrayData = {
    val n = nv.numElements()
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val lim = math.min(cv.length, n) // shared prefix: a short row never reads OOB
      var s = 0.0
      var i = 0
      while (i < lim) { s += nv.getDouble(i) * cv(i); i += 1 }
      out(c) = s
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Unit vector: x / sqrt(Σx²), both folds in index order — the same
    * arithmetic as the `transform(v, x / sqrt(aggregate(v, 0d, s+x*x)))`
    * form it replaced. A zero vector normalizes to itself (all zeros,
    * cosine 0 against everything) instead of the column form's
    * NULL-element array (Spark's non-ANSI Divide) — the same verdict under
    * every positive similarity threshold, without NaN poisoning argmax.
    */
  def unitVec(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    val nrm = math.sqrt(s)
    val out = new Array[Double](n)
    if (nrm > 0.0) {
      i = 0
      while (i < n) { out(i) = v.getDouble(i) / nrm; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Boxed dot product, index-order fold; null on length mismatch — the
    * verdict the zip_with form produced (its null padding turned a
    * mismatched tail into a null sum).
    */
  def dotBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    java.lang.Double.valueOf(s)
  }

  /** Per-band SRP sign-bit keys of a raw vector (index = band id); the dot
    * against each ±1 plane is the same sequential index-order fold as the
    * `aggregate(zip_with(v, plane, x*p))` form it replaced.
    */
  def srpKeys(v: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](planes.length)
    var b = 0
    while (b < planes.length) {
      val band = planes(b)
      val bits = new Array[Char](band.length)
      var p = 0
      while (p < band.length) {
        val plane = band(p)
        val lim = math.min(plane.length, n)
        var s = 0.0
        var i = 0
        while (i < lim) { s += v.getDouble(i) * plane(i); i += 1 }
        bits(p) = if (s > 0) '1' else '0'
        p += 1
      }
      out(b) = org.apache.spark.unsafe.types.UTF8String.fromString(new String(bits))
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Nearest-centroid id: argmax cosine, ties → LOWER cid (strict `>` keeps
    * the first maximum — same verdict as the struct-max-on-(cos, −cid) form
    * it replaced).
    */
  def centroidArgmax(nv: ArrayData, cents: Array[Array[Double]]): Int = {
    val n = nv.numElements()
    var best = 0
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val lim = math.min(cv.length, n)
      var s = 0.0
      var i = 0
      while (i < lim) { s += nv.getDouble(i) * cv(i); i += 1 }
      if (s > bestCos) { bestCos = s; best = c }
      c += 1
    }
    best
  }
}

/** `srp_keys(v) → array<string>`: the SRP-LSH bucket key of every band in
  * one pass — element b is the P-char sign-bit string of band b's
  * hyperplanes ('1' iff the plane dot product is > 0, matching the
  * `when(dot > 0, "1")` column form it replaced). Same rationale as
  * [[CentroidCos]]: the column form was B×P interpreted HOF dot products
  * over B×P×Dim literal nodes per row.
  */
case class SrpKeys(child: Expression, planes: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    AnnOps.srpKeys(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.similarity.AnnOps.srpKeys($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): SrpKeys =
    copy(child = newChild)
}

/** `unit_vec(v) → array<double>` — the embedding normalized to unit L2.
  * Exists for performance: the `transform`/`aggregate` column form is
  * CodegenFallback and evaluates per row with boxed elements; at the
  * million-vector dimension the normalization pass dominated the IVF
  * index build (`graft.Harness ann`, BENCH/ann_scale.json). Same arithmetic,
  * one codegen'd loop.
  */
case class UnitVec(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    AnnOps.unitVec(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.similarity.AnnOps.unitVec($c)")
  override protected def withNewChildInternal(newChild: Expression): UnitVec =
    copy(child = newChild)
}

/** `dot_d(a, b) → double` — index-order-fold dot product of two double
  * arrays; null when the lengths differ (the zip_with form's verdict for a
  * mismatched pair). The per-candidate verification dot of every LSH/IVF
  * path — the same CodegenFallback rationale as [[UnitVec]].
  */
case class DotD(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  // null is also the length-mismatch verdict, produced for non-null inputs
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    AnnOps.dotBoxed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.similarity.AnnOps.dotBoxed($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotD = copy(left = newLeft, right = newRight)
}

/** `centroid_cos(nv) → array<double>` of cosines against the K baked unit
  * centroids (index = centroid id).
  *
  * Exists for performance, not convenience: the column-function form bakes
  * the K×Dim centroid matrix into the plan as K CreateArray nodes of Dim
  * literals each, wrapped in zip_with/aggregate lambdas — a ~2,000-node
  * tree that (a) every Catalyst analyzer/optimizer rule re-traverses on
  * every invocation and (b) evaluates interpreted, because higher-order
  * functions are CodegenFallback. One expression node carrying the matrix
  * as a codegen reference object keeps the stage in whole-stage codegen and
  * the plan tree flat (q_ann_ivf: 9.4 s → see BENCH/r5_ann_ivf_expr.json).
  */
case class CentroidCos(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    AnnOps.centroidCos(v.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.similarity.AnnOps.centroidCos($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidCos =
    copy(child = newChild)
}

/** `centroid_argmax(nv) → int` — nearest-centroid id (ties → lower cid).
  * Same rationale as [[CentroidCos]]; this is the corpus-side assignment,
  * evaluated once per corpus row, so it is the hot path of the IVF build.
  */
case class CentroidArgmax(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    AnnOps.centroidArgmax(v.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.similarity.AnnOps.centroidArgmax($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidArgmax =
    copy(child = newChild)
}
