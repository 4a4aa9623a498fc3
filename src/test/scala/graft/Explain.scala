package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev tool: for each named query, print explain(formatted) of the
  * initial plan, then execute the query and print the FINAL adaptive
  * plan (post-AQE — shows runtime join strategies, AQEShuffleRead
  * coalescing, and ReusedExchange stage dedup that the initial plan
  * cannot). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.explain("formatted")
      println(s"===== $name (final adaptive plan) =====")
      df.collect() // execute THIS Dataset's QueryExecution (a noop
      // write would plan and run its own, leaving this one initial)
      df.queryExecution.executedPlan.foreach {
        case a: AdaptiveSparkPlanExec => println(a.executedPlan.toString)
        case _ =>
      }
    }
  }
}
