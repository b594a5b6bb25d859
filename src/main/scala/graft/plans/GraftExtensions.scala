package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's SQL surface additions. [[graft.Session]] installs them
  * on every session it builds (`Session.fork` children and streaming
  * microbatch sessions inherit them); elsewhere
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` does.
  *
  * This is the one place a SQL function name is bound. Each name uses
  * its companion's `build`, the same one the registry-free Column
  * entry (`of`) calls, so the argument checks exist once. The
  * DataFrame path never needs these names.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def bind(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    bind(CosineSimilarity.fnName, classOf[CosineSimilarity], CosineSimilarity.build)
    bind(MinhashSignature.fnName, classOf[MinhashSignature], MinhashSignature.build)
    bind(UnicodeTokens.fnName, classOf[UnicodeTokens], UnicodeTokens.build)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectOptimizerRule(_ => FuseCosine)
  }
}
