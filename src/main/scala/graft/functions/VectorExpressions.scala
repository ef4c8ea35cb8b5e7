package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for vector similarity (SURVEY.md §2.9 V4).
 *
 * The reference delegates similarity scoring to its vector store
 * (`src/coldata/vdb/vdb.py:90-100`, metric selection vdb.py:155-166); here the
 * score is a first-class codegen'd expression over `ARRAY<FLOAT>` (or
 * `ARRAY<DOUBLE>`) so it runs inside whole-stage codegen in the scan/join
 * stage — the perf lever for brute-force and IVF ANN at scale (SURVEY §4 P6).
 *
 * Accumulation is double-precision, sequential over the array — the same
 * evaluation order as the DuckDB oracle's list_cosine_similarity.
 */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _)  => false
    case other => throw new IllegalArgumentException(
      s"$prettyName expects ARRAY<FLOAT>/ARRAY<DOUBLE>, got $other")
  }

  /** Read element i of `a` as double, honoring the child's element type. */
  protected final def elem(e: Expression, a: ArrayData, i: Int): Double =
    if (elemIsDouble(e)) a.getDouble(i) else a.getFloat(i).toDouble

  /** Codegen accessor fragment for element i of variable `v`. */
  protected final def elemCode(e: Expression, v: String, i: String): String =
    if (elemIsDouble(e)) s"$v.getDouble($i)" else s"(double) $v.getFloat($i)"

  /** Dimension check: mismatched lengths are an error, never a silent
    * truncation — a plausible-looking score over a prefix would mask
    * embedding-dimension bugs (DuckDB's list_cosine_similarity, which the
    * oracle uses, errors the same way). */
  protected final def checkDims(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (y.numElements() != n) throw new IllegalArgumentException(
      s"$prettyName: mismatched vector dimensions $n vs ${y.numElements()}")
    n
  }

  /** Codegen form of [[checkDims]]; declares the length variable `n`.
    * Every local comes from `ctx.freshName` — a fixed name would collide
    * (janino "redefinition of local variable") when two vector expressions
    * land in the same generated function, silently demoting the whole
    * projection to interpreted mode. */
  protected final def dimCheckCode(x: String, y: String, n: String): String =
    s"""int $n = $x.numElements();
       |if ($y.numElements() != $n) {
       |  throw new IllegalArgumentException("$prettyName: mismatched vector dimensions "
       |    + $n + " vs " + $y.numElements());
       |}""".stripMargin
}

/**
 * Codegen'd deterministic hash embedding — the SAME kernel as
 * [[VectorFns.hashEmbed]] (bit-identical output), run as a Catalyst
 * expression instead of a mapPartitions/encoder pass: the old path paid a
 * full external-Row round trip per row (deserialize every column, box every
 * output float through `Row.fromSeq`); here only the text column is read
 * (UTF8String) and the vector lands directly as an UnsafeArrayData primitive
 * copy, inside whole-stage codegen. NULL text embeds to the zero vector —
 * exactly what the UDF/mapPartitions spelling did — so the expression is
 * never null (but stays DECLARED nullable so written layout schemas are
 * byte-identical to the old path's).
 */
case class HashEmbed(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true // schema parity with the old column
  override def prettyName: String = "hash_embed"

  override def eval(input: InternalRow): Any =
    VectorFns.hashEmbedData(
      child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val dimLit = dim.toString
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.VectorFns.hashEmbedData(
            ${c.isNull} ? null : ${c.value}, $dimLit);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Codegen'd nearest-centroid assignment — the routing rule of
 * [[graft.operators.VectorSearch.assignCells]] — the IVF probe's rule, max
 * unrounded cosine with ties to the lowest cell ([[VectorFns.cellOrder]]) —
 * over a primitive `float[][]` centroid table carried in the plan
 * (nlist×dim floats — metadata-sized). Replaces the Scala UDF whose
 * Seq[Float] input boxed every element of every vector on every row.
 */
case class NearestCell(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cell"

  override def nullSafeEval(input: Any): Any =
    VectorFns.nearestCell(input.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorFns.nearestCell($c, $cents)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Codegen'd hashed word-n-gram shingle SET — the kernel of
 * [[graft.operators.Dedup]]'s shingling (sha256-derived 60-bit hash per
 * shingle, distinct, ascending), run as an expression instead of a Scala
 * UDF whose Array[Long] output boxed every element through the catalyst
 * converter (and whose `.distinct.sorted` boxed again internally). NULL
 * text yields the empty set (the UDF's contract), so never null.
 */
case class HashedShingleSet(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // schema parity with the old column
  override def prettyName: String = "shingle_set"

  override def eval(input: InternalRow): Any =
    graft.operators.Dedup.shingleSetKernel(
      child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val nLit = n.toString
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.operators.Dedup.shingleSetKernel(
            ${c.isNull} ? null : ${c.value}, $nLit);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd |A ∩ B| of two ascending-sorted distinct long arrays — the
  * exact-verify merge scan of [[graft.operators.Dedup.setSimJoin]], minus
  * the Seq[Long] UDF conversion that boxed every element of both sides on
  * every candidate pair. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.operators.Dedup.sortedIntersectKernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.operators.Dedup.sortedIntersectKernel($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a,b) = dot(a,b) / (|a|*|b|); 0.0 when either norm is 0. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkDims(x, y)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = elem(left, x, i); val yi = elem(right, y, i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      s"""
         |${dimCheckCode(x, y, n)}
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xi = ${elemCode(left, x, i)};
         |  double yi = ${elemCode(right, y, i)};
         |  $dot += xi * yi; $nx += xi * xi; $ny += yi * yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot(a,b), double accumulation. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkDims(x, y)
    var dot = 0.0; var i = 0
    while (i < n) { dot += elem(left, x, i) * elem(right, y, i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |${dimCheckCode(x, y, n)}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${elemCode(left, x, i)} * ${elemCode(right, y, i)};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Euclidean distance (metric 'L2' in the reference config —
  * vdb.py:162-166 compares with 'less' for L2). */
case class L2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "l2_dist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = checkDims(x, y)
    var s = 0.0; var i = 0
    while (i < n) { val d = elem(left, x, i) - elem(right, y, i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |${dimCheckCode(x, y, n)}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double d = ${elemCode(left, x, i)} - ${elemCode(right, y, i)};
         |  $acc += d * d;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
