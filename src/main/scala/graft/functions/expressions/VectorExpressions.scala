package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression, userRaisedError}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native dot product over two double arrays (SURVEY.md §4.3 contingency).
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — is
  * semantically right but interpreted: Spark's higher-order functions run
  * lambda closures per element outside WholeStageCodegen. On the pairwise
  * dedup/similarity operators that's 3 dots × 64 dims per candidate pair of
  * pure interpreter overhead (observed 64 s for q_dedup_embed at sf0.1).
  *
  * This expression emits a tight codegen'd loop (and a matching interpreted
  * eval). Accumulation is strictly left-to-right, the same order as the
  * HOF fold and DuckDB's list sum, so oracle parity is bit-exact.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  /** Result is NULL for ragged inputs (length mismatch) or any null
    * element — a malformed embedding must not yield a plausible score.
    * Hence nullable even when both children are non-nullable.
    */
  override def nullable: Boolean = true

  /** Per-element null checks are emitted only when the array type admits
    * null elements, so clean containsNull=false inputs keep the branchless
    * hot loop.
    */
  private def mayHaveNullElements: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _                          => true
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = mayHaveNullElements
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (mayHaveNullElements)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

/** The ONE IVF centroid-assignment kernel: the `nProbe` nearest centroids
  * of `v` by cosine as (csim, cid) structs, csim DESC, ties to the lowest
  * cid. `block` is an array of (cid: int|bigint, cv, cnrm = |cv|) structs
  * read by position (`IvfOps.centroidBlock` / `centroidLiteral`),
  * flattened once per task: a literal or a scalar subquery is the same
  * object on every row, and a `when` chain over a few constant blocks
  * (`KMeans.fitSubspaces`) keeps one flattening per block.
  *
  * Scoring is [[DotProduct]]'s left-to-right arithmetic behind the
  * zero-norm floor: `den = sqrt(v·v) · cnrm`; csim = `dot / den` when
  * `den > 0`, else -2 (below any cosine; never a division by zero under
  * ANSI), and a NaN quotient floors too. A ragged centroid scores NULL,
  * which ranks below -2; a null `v`, or one holding a null, scores -2
  * everywhere. An empty or null block fails the query.
  */
case class NearestCentroids(v: Expression, block: Expression, nProbe: Int)
    extends BinaryExpression {
  require(nProbe >= 1, s"nearest_centroids: nProbe must be >= 1, got $nProbe")

  override def left: Expression = v
  override def right: Expression = block

  override def checkInputDataTypes(): TypeCheckResult =
    (v.dataType, block.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(StructType(Array(
          StructField(_, IntegerType | LongType, _, _),
          StructField(_, ArrayType(DoubleType, _), _, _),
          StructField(_, DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "nearest_centroids requires array<double> and " +
          "array<struct<cid: int|bigint, cv: array<double>, cnrm: double>>, " +
          s"got ${v.dataType.simpleString} / ${block.dataType.simpleString}")
    }

  private def cidType: DataType = block.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].fields(0)
    .dataType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("csim", DoubleType), StructField("cid", cidType))),
    containsNull = false)

  override def nullable: Boolean = false

  /** Per-task scorer; public for the generated code. */
  def newKernel(): CentroidKernel =
    new CentroidKernel(nProbe, cidType == LongType)

  @transient private lazy val kernel = newKernel()

  override def eval(input: InternalRow): Any =
    kernel.nearest(v.eval(input).asInstanceOf[ArrayData],
      block.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val vGen = v.genCode(ctx)
    val bGen = block.genCode(ctx)
    val self = ctx.addReferenceObj("nearestCentroids", this)
    val k = ctx.addMutableState(classOf[CentroidKernel].getName,
      "centroidKernel", s => s"$s = $self.newKernel();")
    ev.copy(code = code"""
      |${vGen.code}
      |${bGen.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $k.nearest(
      |  ${vGen.isNull} ? null : ${vGen.value},
      |  ${bGen.isNull} ? null : ${bGen.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroids =
    copy(v = newLeft, block = newRight)

  override def prettyName: String = "nearest_centroids"
}

/** [[NearestCentroids]]' scorer: one per task, not thread-safe. */
final class CentroidKernel(nProbe: Int, longCids: Boolean) {

  /** A block in primitive arrays: centroid j's vector is
    * cv(off(j) until off(j) + len(j)), len -1 when it is null or holds a
    * null (every dot with it is null); a null cnrm is NaN, which floors
    * every score like a zero one. */
  private final class Flat(block: ArrayData) {
    val k: Int = block.numElements()
    val cid = new Array[Long](k); val cidNull = new Array[Boolean](k)
    val cnrm = new Array[Double](k); val len = new Array[Int](k)
    private val cvs = Array.tabulate(k) { j =>
      val c = if (block.isNullAt(j)) null else block.getStruct(j, 3)
      cidNull(j) = c == null || c.isNullAt(0)
      if (!cidNull(j)) cid(j) = if (longCids) c.getLong(0) else c.getInt(0)
      cnrm(j) = if (c == null || c.isNullAt(2)) Double.NaN else c.getDouble(2)
      val cv = if (c == null || c.isNullAt(1)) null else c.getArray(1)
      val n = if (cv == null) -1 else cv.numElements()
      len(j) = if ((0 until n).exists(cv.isNullAt)) -1 else n
      if (len(j) > 0) cv.toDoubleArray() else Array.emptyDoubleArray
    }
    val off: Array[Int] = cvs.scanLeft(0)(_ + _.length)
    val cv: Array[Double] = cvs.flatten
  }

  private val flats = new java.util.IdentityHashMap[ArrayData, Flat]()
  private var vbuf = new Array[Double](0)
  private var sim = new Array[Double](0)
  private var simNull = new Array[Boolean](0)
  private var top = new Array[Int](nProbe)

  private def flatOf(block: ArrayData): Flat = {
    var f = flats.get(block)
    if (f == null) {
      if (block == null || block.numElements() == 0) throw userRaisedError(
        "IvfOps.assign: empty centroid block — nothing to assign to")
      if (flats.size >= 64) flats.clear()
      f = new Flat(block)
      flats.put(block, f)
    }
    f
  }

  /** Strictly better rank: higher csim (null lowest), then lower cid
    * (null last); a full tie keeps the earlier centroid. */
  private def better(f: Flat, a: Int, b: Int): Boolean =
    if (simNull(a) != simNull(b)) !simNull(a)
    else if (!simNull(a) && sim(a) != sim(b)) sim(a) > sim(b)
    else if (f.cidNull(a) != f.cidNull(b)) !f.cidNull(a)
    else !f.cidNull(a) && f.cid(a) < f.cid(b)

  def nearest(v: ArrayData, block: ArrayData): ArrayData = {
    val f = flatOf(block)
    if (sim.length < f.k) {
      sim = new Array[Double](f.k); simNull = new Array[Boolean](f.k)
    }
    // |v| summed left to right, as DotProduct(v, v); NaN (no norm) when
    // v is null or holds a null
    val dim = if (v == null) 0 else v.numElements()
    if (vbuf.length < dim) vbuf = new Array[Double](dim)
    var acc = 0.0
    var i = 0
    while (i < dim && !v.isNullAt(i)) {
      vbuf(i) = v.getDouble(i); acc += vbuf(i) * vbuf(i); i += 1
    }
    val nrm = if (v == null || i < dim) Double.NaN else math.sqrt(acc)
    var j = 0
    while (j < f.k) {
      val den = nrm * f.cnrm(j)
      simNull(j) = den > 0 && f.len(j) != dim
      sim(j) = if (!(den > 0) || simNull(j)) -2d else {
        acc = 0.0
        i = 0
        while (i < dim) { acc += vbuf(i) * f.cv(f.off(j) + i); i += 1 }
        val q = acc / den
        if (q.isNaN) -2d else q
      }
      j += 1
    }
    // top p = min(nProbe, k) by insertion — p is a handful
    val p = math.min(nProbe, f.k)
    var n = 0
    j = 0
    while (j < f.k) {
      if (n < p || better(f, j, top(n - 1))) {
        i = if (n < p) { n += 1; n - 1 } else p - 1
        while (i > 0 && better(f, j, top(i - 1))) { top(i) = top(i - 1); i -= 1 }
        top(i) = j
      }
      j += 1
    }
    new GenericArrayData(Array.tabulate[Any](p) { r =>
      val c = top(r)
      new GenericInternalRow(Array[Any](if (simNull(c)) null else sim(c),
        if (f.cidNull(c)) null else if (longCids) f.cid(c) else f.cid(c).toInt))
    })
  }
}

object VectorFunctions {
  /** Column API for the native dot product. */
  def dot_product(a: Column, b: Column): Column =
    toColumn(DotProduct(toExpression(a), toExpression(b)))

  /** Column API for [[NearestCentroids]]: the `nProbe` nearest centroids
    * of `v` in `block` as (csim, cid) structs, best first. */
  def nearest_centroids(v: Column, block: Column, nProbe: Int): Column =
    toColumn(NearestCentroids(toExpression(v), toExpression(block), nProbe))

  /** Cosine similarity via the native dot product — identical arithmetic to
    * the DuckDB oracle: dot / (sqrt(|a|²) * sqrt(|b|²)).
    */
  def cosine_sim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dot_product(a, b) / (sqrt(dot_product(a, a)) * sqrt(dot_product(b, b)))
  }
}
