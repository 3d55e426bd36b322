package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.types.StringType

import graft.functions.{MdHash64, VecCosine, VecDot, VecNormSq}
import graft.plans.TopKPerGroup

/** `SparkSessionExtensions` hook: graft's native expressions as SQL
  * functions and its planner strategies (the [[TopKPerGroup]] node).
  * Installed by [[GraftSession]]; a session built elsewhere installs
  * it with `spark.sql.extensions=graft.GraftExtensions`:
  *
  * {{{
  * val spark = GraftSession.local()
  * spark.sql("SELECT vec_cosine(a.embedding, b.embedding) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[VecDot].getName, null, name, usage,
      "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerGroup.Strategy)
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float arrays"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_norm_sq"),
      info("vec_norm_sq", "vec_norm_sq(a) - squared L2 norm of a float array"),
      (args: Seq[Expression]) => VecNormSq(args(0))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity, one fused pass"),
      (args: Seq[Expression]) => VecCosine(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_mdhash64"),
      info("graft_mdhash64",
        "graft_mdhash64(x) - portable 60-bit md5-prefix hash (DuckDB-reproducible)"),
      (args: Seq[Expression]) => MdHash64(Cast(args(0), StringType))))
  }
}
