package graft.expressions

import graft.functions.Parse
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

/** Native Catalyst form of the reference's `to_number` locale-heuristic
  * parser (reid/func.py:18-32): same semantics as Parse.toNumber, but
  * as a real `Expression` with `doGenCode`, so it
  * stays inside whole-stage codegen — no UDF serialization boundary, no
  * codegen fence in hot standardization scans.
  *
  * This is the (b) tier of the custom-operator ladder (SURVEY §7.3): the
  * one hot scalar where a native expression pays; everything else in the
  * library is built-ins. Registered via [[GraftExtensions]] as
  * `graft_to_number_native` for SQL and `expr(...)` use.
  */
case class ToNumberExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_to_number_native needs STRING, got ${child.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_to_number_native"

  // a non-null input can still parse to null → nullSafeEval may return null
  override def nullSafeEval(input: Any): Any =
    ToNumberExpr.parse(input.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    // fresh name: two calls in one generated method must not collide
    val r = ctx.freshName("graftToNumber")
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = -1.0;
      if (!${c.isNull}) {
        java.lang.Double $r = graft.expressions.ToNumberExpr.parse(
          ${c.value}.toString());
        if ($r != null) {
          ${ev.isNull} = false;
          ${ev.value} = $r.doubleValue();
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ToNumberExpr {
  /** Java-friendly boxed entry point shared by eval and generated code. */
  def parse(s: String): java.lang.Double =
    Parse.toNumber(s) match {
      case Some(d) => java.lang.Double.valueOf(d)
      case None => null
    }
}

/** SparkSessionExtensions hook: `spark.sql.extensions=graft.expressions.GraftExtensions`
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  // analysis-time arity errors name the function, like built-ins do —
  // not a raw IndexOutOfBounds from children(1)
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> n.toString,
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(children)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_to_number_native"),
      new ExpressionInfo(classOf[ToNumberExpr].getName, "graft_to_number_native"),
      arity("graft_to_number_native", 1)(c => ToNumberExpr(c.head))))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCountExpr].getName,
        "graft_sorted_intersect_count"),
      arity("graft_sorted_intersect_count", 2)(c =>
        SortedIntersectCountExpr(c.head, c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotLongExpr].getName, "graft_dot_long"),
      arity("graft_dot_long", 2)(c => DotLongExpr(c.head, c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_hashed_shingles"),
      new ExpressionInfo(classOf[HashedShinglesExpr].getName,
        "graft_hashed_shingles"),
      arity("graft_hashed_shingles", 2)(c =>
        HashedShinglesExpr(c.head, c(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "graft_simhash"),
      arity("graft_simhash", 2)(c => SimhashExpr(c.head, c(1)))))
  }
}
