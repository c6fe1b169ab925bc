package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Library entry point for `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Registers the engine's native kernels as SQL functions so the SQL-string
  * path reaches them too — a user can write `SELECT vec_dot(a, b)` and get
  * the codegen'd primitive loop, not an interpreted HOF. This is the
  * standard packaging for a Spark-native extension library: nothing here
  * changes planning for the DataFrame path, which builds the expressions
  * directly ([[VecOp]], [[Kernels]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, args, build) =>
      val cls = if (name.startsWith("vec_")) classOf[VecOp] else Kernels.getClass
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == args.length,
            s"$name(${args.mkString(", ")}) takes ${args.length} argument(s)")
          build(children)
        }))
    }
}

object GraftExtensions {
  private def col(e: Expression): Column = GraftSqlBridge.column(e)

  private def vec(sqDist: Boolean)(c: Seq[Expression]): Expression = VecOp(c(0), c(1), sqDist)

  /** `fn(c(0), int(c(1)), …)` for the kernels with literal int parameters. */
  private def kernel(fn: (Column, Seq[Int]) => Column)(c: Seq[Expression]): Expression =
    GraftSqlBridge.expression(fn(col(c.head), c.tail.map {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"integer parameters must be integer literals, got $other")
    }))

  /** SQL name, argument names, builder. */
  private val functions: Seq[(String, Seq[String], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", Seq("a", "b"), vec(sqDist = false)),
    ("vec_sq_dist", Seq("a", "b"), vec(sqDist = true)),
    ("hashed_word_grams", Seq("text", "n"), kernel((t, p) => Kernels.wordGrams(t, p(0)))),
    ("hashed_char_grams", Seq("text", "n"), kernel((t, p) => Kernels.charGrams(t, p(0)))),
    ("hashed_char_grams_wide", Seq("text", "n"),
      kernel((t, p) => Kernels.charGramsWide(t, p(0)))),
    ("min_gram_md5", Seq("text", "n"), kernel((t, p) => Kernels.minGramMd5(t, p(0)))),
    ("top_gram_count", Seq("text", "n"), kernel((t, p) => Kernels.topGramCount(t, p(0)))),
    ("band_sigs", Seq("hv", "bands"), kernel((t, p) => Kernels.bandSigs(t, p(0)))),
    ("winnowed_gram_pos", Seq("text", "n", "winnow_mod"),
      kernel((t, p) => Kernels.winnowedGramPos(t, p(0), p(1)))),
    ("simhash16", Seq("text"), kernel((t, _) => Kernels.simhash(t, 8, 16))),
    ("simhash60", Seq("text"), kernel((t, _) => Kernels.simhash(t, 15, 60))))
}
