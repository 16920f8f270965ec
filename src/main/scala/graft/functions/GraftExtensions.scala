package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration for graft's custom expressions, so
  * they are first-class SQL functions (`SELECT dot_product(a, b)`) on
  * any session launched with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` —
  * the standard way a library ships Catalyst extensions to a cluster.
  * `register` does the same for an already-running session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  /** hyperplane_sketch(v, table, bits, dims): the LSH sketch kernel with
    * its deterministic sign matrix resolved from the three foldable int
    * arguments — SQL users get the same engine-exact buckets as the
    * DataFrame API (`Ann.sketch`). */
  private def mkSketch(children: Seq[Expression]): Expression = {
    require(children.size == 4, "hyperplane_sketch(v, table, bits, dims) takes exactly 4 arguments")
    val args = children.tail.map { e =>
      require(e.foldable, "hyperplane_sketch table/bits/dims must be literals")
      e.eval(null).asInstanceOf[Number].intValue()
    }
    val Seq(t, bits, dims) = args
    val signs = Array.tabulate(bits, dims)((p, d) => graft.ann.Ann.planeSign(t, p, d))
    HyperplaneSketch(children.head, signs)
  }

  /** (SQL name, expression class, builder) of every graft function —
    * the one table both the extension (`apply`) and `register` read. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProduct], children => {
      require(children.size == 2, "dot_product(a, b) takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    }),
    ("poly_hash", classOf[PolyHash], children => {
      require(children.size == 1, "poly_hash(s) takes exactly 1 argument")
      PolyHash(children.head)
    }),
    ("hyperplane_sketch", classOf[HyperplaneSketch], mkSketch))

  /** Register graft functions on a live session (tests, notebooks);
    * idempotent — a second call replaces each function with itself. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
