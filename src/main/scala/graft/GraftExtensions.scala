package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.Natives

/** `SparkSessionExtensions` injection point, the one way this library's
  * native expressions get SQL names:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Every session built with this config resolves the eight names of
  * [[Natives.sqlNames]] (`vec_dot`, `mask_and_count`, ...) from SQL,
  * `expr` and `call_function`. Library code needs none of this: it builds
  * the same nodes as typed Columns through [[Natives]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Natives.sqlNames.foreach { case (name, cls, arity, ctor) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        GraftExtensions.builder(name, arity, ctor)))
    }
}

object GraftExtensions {

  /** `ctor` behind an arity check, so `vec_dot(x)` fails analysis with
    * the standard WRONG_NUM_ARGS error naming the function, not with an
    * out-of-bounds crash inside the constructor. */
  private def builder(name: String, arity: Int,
                      ctor: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = children => {
    if (children.length != arity)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> arity.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    ctor(children)
  }
}
