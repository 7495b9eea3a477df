package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector similarity kernels as native Catalyst expressions with whole-stage
  * codegen, over `array<float>` columns.
  *
  * Semantics follow the reference similarity module
  * (reference: src/similarity.ts:2-24):
  *   - cosine(a,b)    = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))
  *   - euclidean(a,b) = 1 / (1 + l2dist(a,b))   -- similarity, NOT distance,
  *     so "higher is better" holds for both metrics uniformly.
  *
  * Accumulation is double-precision over float inputs in index order, which
  * is what a straightforward sequential implementation (and the DuckDB
  * oracle) produces. Both arguments must have the same length: a
  * dimension mismatch throws, in generated and interpreted code alike.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  /** The common length of `x` and `y`. Vectors of different dimensions
    * have no similarity (reference: src/main.ts:235-237), so a mismatch
    * throws, naming both lengths. */
  protected def dim(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"$prettyName: dimension mismatch, $n vs ${y.numElements()}")
    n
  }

  /** Generated-code twin of [[dim]]: declares `n` as the common length of
    * the arrays `a` and `b`, or throws. */
  protected def genDim(n: String, a: String, b: String): String =
    s"""int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  throw new IllegalArgumentException("$prettyName: dimension mismatch, "
       |    + $n + " vs " + $b.numElements());
       |}""".stripMargin

  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }
}

/** dot(a,b) accumulated in double (reference: src/similarity.ts:2-8). */
case class DotProductExpr(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = dim(x, y)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i); i += 1 }
    dot
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |${genDim(n, a, b)}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $a.getFloat($i)) * $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity (reference: src/similarity.ts:10-12). */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_similarity"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = dim(x, y)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |${genDim(n, a, b)}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Euclidean *similarity* `1/(1+l2)` (reference: src/similarity.ts:14-24). */
case class EuclideanSimilarityExpr(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "euclidean_similarity"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = dim(x, y)
    var ss = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i)
      ss += d * d
      i += 1
    }
    1.0 / (1.0 + math.sqrt(ss))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ss = ctx.freshName("ss")
      val d = ctx.freshName("d")
      s"""
         |${genDim(n, a, b)}
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ((double) $a.getFloat($i)) - $b.getFloat($i);
         |  $ss += $d * $d;
         |}
         |${ev.value} = 1.0 / (1.0 + java.lang.Math.sqrt($ss));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level entry points (the public function surface). */
object similarity {
  private def expr(c: Column) = GraftColumnBridge.expression(c)

  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductExpr(expr(a), expr(b)))
  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarityExpr(expr(a), expr(b)))
  def euclidean_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(EuclideanSimilarityExpr(expr(a), expr(b)))

  /** Similarity column for a [[graft.hnsw.Metric]]-style name.
    * Invalid metric throws, mirroring reference src/main.ts:42-44.
    * "dot" (maximum inner product, MIPS) is additive beyond the
    * reference's cosine/euclidean pair — unnormalized embedding models
    * rank by inner product. */
  def sim(metric: String)(a: Column, b: Column): Column = metric match {
    case "cosine"    => cosine_sim(a, b)
    case "euclidean" => euclidean_sim(a, b)
    case "dot"       => dot_product(a, b)
    case other => throw new IllegalArgumentException(s"Invalid metric: $other")
  }

  /** Register `cosine_sim` / `euclidean_sim` / `dot_product` for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", es => CosineSimilarityExpr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "euclidean_sim", es => EuclideanSimilarityExpr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", es => DotProductExpr(es(0), es(1)), "built-in")
  }
}
