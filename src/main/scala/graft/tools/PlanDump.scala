package graft.tools

import org.apache.spark.sql.SparkSession

/** Print `explain("formatted")` for SparkEntry queries (plan review). Plans
  * only; no query executes (ivfTopK's tiny codebook collect is the lone
  * plan-time action, by its documented design).
  *
  * Usage: runMain graft.tools.PlanDump [query...]
  *   With no query names, every SparkEntry query is printed, sorted by name.
  * Env: SPARK_GRAFT_SF_DIR (the variable Bench reads; default sf0.001).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", dir)
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      println(s"===== $q =====")
      graft.SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
