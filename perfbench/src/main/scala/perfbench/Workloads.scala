package perfbench

import org.apache.spark.sql.SparkSession

object Workloads {
  /** Warms the JIT and the host CPU before anything is timed. `library`
    * follows the library bench's own protocol; `serve` opens with its cold
    * backlog, which is measured as such.
    */
  def warm(workload: String, spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    if (workload == "library") graft.Bench.warmCpu(spark)
  }

  /** Runs the workload; returns its own set-up seconds. */
  def run(workload: String, ctx: Ctx, out: Outcome): Double = workload match {
    case "library" => Library.run(ctx, out)
    case "serve" => ServeWorkload.run(ctx, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
