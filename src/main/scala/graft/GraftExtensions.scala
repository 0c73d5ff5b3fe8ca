package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.Natives

/** `spark.sql.extensions=graft.GraftExtensions` registration path for
  * every native graft expression ([[Natives.all]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Natives.all.foreach { n =>
      ext.injectFunction((FunctionIdentifier(n.name),
        new ExpressionInfo(n.cls.getName, n.name), n.build))
    }
}
