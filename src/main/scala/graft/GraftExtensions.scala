package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — lets any session pick up the
  * graft function surface at build time:
  *
  * {{{
  *   builder.withExtensions(new GraftExtensions)
  *   // or: spark.sql.extensions=graft.GraftExtensions (GraftSession's way)
  * }}}
  *
  * (The `VectorExpressions.register` path does the same for an
  * already-built session; this is the config-driven variant a cluster
  * would use so SQL users get the functions without any code.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.VectorExpressions.sqlFunctions.foreach {
      case (name, builder) =>
        ext.injectFunction((FunctionIdentifier(name),
          info(name, s"$name - graft codegen expression"),
          (exprs: Seq[Expression]) => builder(exprs)))
    }
    // whole-operator extensions: the declarative as-of join node lowers
    // to its union+running-max plan during analysis (plans/AsOfJoin);
    // the per-group top-k node lowers to the WindowGroupLimit-eligible
    // window+filter shape (plans/TopKPerGroup)
    ext.injectResolutionRule(session => new graft.plans.ResolveAsOfJoin(session))
    ext.injectResolutionRule(session => new graft.plans.ResolveTopKPerGroup(session))
  }
}
