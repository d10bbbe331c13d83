package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump the formatted physical plan of named SparkEntry
  * queries (for cross-commit plan diffs when a bench number moves).
  * Usage: `runMain graft.PlanDump <sfDir> <name>[,<name>...]` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = GraftSession.build("graft-plandump")
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
