package graft

import org.apache.spark.sql.execution.ExplainMode

/** Prints the plan of each query named in args, from the session Bench
  * runs: a one-line `[summary]` of the plan's scans, exchanges, windows and
  * join strategies, then the formatted plan in PLANS.md's normalized form.
  * `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.Explain q02_filter ..."`
  * (default sf0.001, as Plans; the cores follow `SPARK_GRAFT_CPUS`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val p = Plans.flagshipDf(name, spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      println(s"===== $name =====")
      val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
      val exch = """\(\d+\) Exchange""".r.findAllIn(p).size
      val wins = """\(\d+\) Window""".r.findAllIn(p).size
      println(s"[summary] scans=$scans exchanges=$exch windows=$wins " +
        s"bhj=${p.contains("BroadcastHashJoin")} smj=${p.contains("SortMergeJoin")} " +
        s"cart=${p.contains("CartesianProduct")} bnlj=${p.contains("BroadcastNestedLoopJoin")}")
      println(Plans.normalize(p).trim)
    }
    spark.stop()
  }
}
