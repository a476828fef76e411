package graft

import org.apache.spark.sql.SparkSession

/** Dev tool beside PlanShapeSpec, the live plan guard: plans every gated
  * query (no execution) and prints one line per query — shuffle-exchange
  * count and the presence of the two plan shapes the guard watches
  * (cartesian product, broadcast nested-loop join). Re-run after a plan
  * change to see what moved.
  *
  * Usage: runMain graft.PlanScout [sfDir]
  */
object PlanScout {

  /** Shuffle exchanges in the (initial, pre-AQE) physical plan — the
    * deterministic planning-time count; broadcasts print as
    * BroadcastExchange and don't match. Same counting rule as
    * BucketingSpec.
    */
  def shuffles(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length

  def initialPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = initialPlan(fn(spark, sfDir))
        val flags = Seq(
          if (p.contains("CartesianProduct")) "CARTESIAN" else "",
          if (p.contains("BroadcastNestedLoopJoin")) "BNLJ" else "")
          .filter(_.nonEmpty).mkString(",")
        println(s"PLAN $name shuffles=${shuffles(p)} $flags")
      } catch {
        case e: Throwable => println(s"PLAN $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
