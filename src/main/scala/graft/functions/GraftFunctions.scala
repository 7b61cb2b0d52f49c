package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Registration surface for graft's native functions. */
object GraftFunctions {

  /** Extract a compile-time integer parameter from a SQL argument. The
    * Scala constructors take these as plain `Int`s (they size the kernels'
    * arrays and shift masks), so the SQL surface requires a FOLDABLE
    * integer — a literal or constant expression — matching how Spark's own
    * parameter-like arguments (e.g. `ntile(n)`, `approx_count_distinct`'s
    * rsd) are constrained.
    */
  private def foldableInt(e: Expression, fn: String, param: String): Int = {
    require(e.foldable && e.dataType == IntegerType,
      s"$fn: $param must be a constant INT, got ${e.sql}")
    val v = e.eval()
    require(v != null, s"$fn: $param must not be NULL")
    v.asInstanceOf[Int]
  }

  /** (SQL name, kernel class, argument names, builder over the arguments). */
  private val table: Seq[(String, Class[_], Seq[String], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], Seq("a", "b"),
      c => CosineSimilarity(c(0), c(1))),
    ("simhash_long", classOf[SimHashLong], Seq("tokens", "bits"),
      c => SimHashLong(c(0), foldableInt(c(1), "simhash_long", "bits"))),
    ("winnow_mins", classOf[WinnowMins], Seq("shingles", "w"),
      c => WinnowMins(c(0), foldableInt(c(1), "winnow_mins", "w"))),
    ("max_run_length", classOf[MaxRunLength], Seq("tokens"),
      c => MaxRunLength(c(0))))

  /** Every graft native function, in registration order, as the
    * (identifier, info, builder) triples Spark's function registry takes.
    */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    table.map { case (name, cls, args, build) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(cls.getCanonicalName, name),
        (children: Seq[Expression]) => {
          require(children.size == args.size,
            s"wrong number of arguments: expected $name(${args.mkString(", ")})")
          build(children)
        })
    }

  /** Imperative registration onto an existing session (SQL names
    * `cosine_sim`, `simhash_long`, `winnow_mins`, `max_run_length`); new
    * sessions can instead use [[GraftExtensions]] via
    * `spark.sql.extensions=graft.functions.GraftExtensions`.
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** SparkSessionExtensions hook: `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions` makes every graft
  * native function ([[GraftFunctions.all]]) available in every SQL/DataFrame
  * context of the session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
