package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers invoked from generated code (kept tiny and branch-free
  * where possible so JIT inlines them inside the whole-stage loop). */
object ExprUtil {

  /** DMS parse per parse.py:43-69 (see CleaningFunctions.dms2dd). */
  def dmsToDecimal(input: UTF8String): Double = {
    val s = input.toString
    if (s.exists(ch => ch == '°' || ch == '\'' || ch == '"')) {
      val parts = s.split("[°'\"]+")
      try {
        if (parts.length == 4) {
          val dd = parts(0).toDouble + parts(1).toDouble / 60 + parts(2).toDouble / 3600
          if (parts(3) == "S" || parts(3) == "W") -dd else dd
        } else if (parts.length == 3) {
          val dd = parts(0).toDouble + parts(1).toDouble / 60
          if (parts(2) == "S" || parts(2) == "W") -dd else dd
        } else Double.NaN
      } catch { case _: NumberFormatException => 0.0 }
    } else {
      try s.trim.toDouble
      catch { case _: NumberFormatException => Double.NaN }
    }
  }

  /** thefuzz/rapidfuzz `fuzz.ratio` semantics (update_reads.py:176-179):
    * 100 * (1 - indel_distance/(|a|+|b|)), rounded half-up to Int.
    * Indel distance = Levenshtein with substitutions forbidden (cost 2),
    * which is what SequenceMatcher-style ratio measures. O(|a|·|b|) with
    * a single rolling row — no allocation beyond one int array. */
  def fuzzRatio(a: UTF8String, b: UTF8String): Int = {
    val s = a.toString
    val t = b.toString
    val n = s.length
    val m = t.length
    if (n + m == 0) return 100
    val prev = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      var diagonal = prev(0)
      prev(0) = i
      j = 1
      while (j <= m) {
        val tmp = prev(j)
        prev(j) =
          if (s.charAt(i - 1) == t.charAt(j - 1)) diagonal
          else 1 + math.min(prev(j), prev(j - 1))
        diagonal = tmp
        j += 1
      }
      i += 1
    }
    val dist = prev(m)
    math.round(100.0 * (1.0 - dist.toDouble / (n + m))).toInt
  }

  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData, aFloat: Boolean,
      b: org.apache.spark.sql.catalyst.util.ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}

/** F2 as a custom Catalyst expression with codegen (SURVEY §4.3.2):
  * string DMS coordinate → signed decimal degrees (DoubleType). NaN is
  * used for the reference's "no DMS markers and not numeric" passthrough
  * (callers coalesce). */
case class DmsToDecimal(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    ExprUtil.dmsToDecimal(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprUtil.dmsToDecimal($c)")
  override protected def withNewChildInternal(c: Expression): DmsToDecimal = copy(c)
  override def prettyName: String = "dms_to_decimal"
}

/** fuzz.ratio as a custom Catalyst expression with codegen (SURVEY §2.9/§4.3.2). */
case class FuzzRatio(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprUtil.fuzzRatio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprUtil.fuzzRatio($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FuzzRatio =
    copy(l, r)
  override def prettyName: String = "fuzz_ratio"
}

/** Column-level entry points for the custom expressions. SQL reaches the
  * same expressions through [[graft.plans.GraftExtensions]], which every
  * graft session installs. */
object CustomExpressions {
  import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}

  def dms_to_decimal(c: Column): Column =
    toColumn(DmsToDecimal(toExpr(c)))
  def fuzz_ratio(a: Column, b: Column): Column =
    toColumn(FuzzRatio(toExpr(a), toExpr(b)))
  def fuzz_wratio(a: Column, b: Column): Column =
    toColumn(FuzzWRatio(toExpr(a), toExpr(b)))
  def dot_product(a: Column, b: Column): Column =
    toColumn(DotProduct(toExpr(a), toExpr(b)))
  def jaro_winkler_bp(a: Column, b: Column): Column =
    toColumn(JaroWinklerBp(toExpr(a), toExpr(b)))
  def damerau_levenshtein(a: Column, b: Column): Column =
    toColumn(DamerauLevenshtein(toExpr(a), toExpr(b)))
}

/** Dot product of two numeric arrays, accumulated in double in index
  * order (identical result to the zip_with/aggregate formulation, but
  * codegen-able — higher-order functions run interpreted and re-evaluate
  * per reference, which made cosine scoring the bench hotspot). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, FloatType}
  override def dataType: DataType = DoubleType
  private def isFloat(e: Expression) = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val lFloat = isFloat(left)
  private lazy val rFloat = isFloat(right)
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprUtil.dot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], lFloat,
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], rFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ExprUtil.dot($a, $lFloat, $b, $rFloat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(l, r)
  override def prettyName: String = "dot_product"
}
