package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd string-similarity kernels (the record-linkage
  * siblings of [[VecKernels]]'s vector kernels). Spark ships
  * `levenshtein` but no Jaro–Winkler; this implements the standard
  * definition, verified empirically against DuckDB's
  * `jaro_winkler_similarity` (same match-window, transposition,
  * 0.7 boost threshold, and empty-string = 0.0 conventions), so the
  * DuckDB oracle can re-score every pair independently.
  */
object StrKernels {

  /** Jaro similarity: m matches within a window of
    * max(|a|,|b|)/2 − 1, t/2 transpositions over the matched
    * subsequences, 0.0 when either side is empty or nothing matches.
    */
  def jaro(s1: UTF8String, s2: UTF8String): Double = {
    val a = s1.toString
    val b = s2.toString
    val len1 = a.length
    val len2 = b.length
    if (len1 == 0 || len2 == 0) return 0.0
    val window = math.max(0, math.max(len1, len2) / 2 - 1)
    val m1 = new Array[Boolean](len1)
    val m2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val hi = math.min(len2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && a.charAt(i) == b.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    (m.toDouble / len1 + m.toDouble / len2 + (m - t / 2).toDouble / m) / 3.0
  }

  /** Jaro–Winkler: the [[jaro]] score boosted by the common prefix
    * (≤ 4 chars, scale 0.1) — applied only when jaro > 0.7, matching
    * the rapidfuzz/DuckDB convention.
    */
  def jaroWinkler(s1: UTF8String, s2: UTF8String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    val a = s1.toString
    val b = s2.toString
    val maxL = math.min(4, math.min(a.length, b.length))
    var l = 0
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }
}

case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    StrKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrKernels.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Column-level entry points (the [[VectorFunctions]] pattern). */
object StrFunctions {
  import org.apache.spark.sql.GraftBridge.{column, expression}

  def jaroWinklerSim(a: Column, b: Column): Column =
    column(JaroWinklerSim(expression(a), expression(b)))
}
