package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan evidence the optimization rounds commit under `plans/`.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...|all>
  * Reads the data dir from SPARK_GRAFT_SF_DIR (same contract as Bench).
  * Each query `q` writes `<outDir>/<q>_<suffix>.txt`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: PlanDump <outDir> <suffix> <q1,q2,...|all>")
    val Array(outDir, suffix, list) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected =
      if (list == "all") SparkEntry.queries else SparkEntry.named(list)
    val spark = GraftSession.getOrCreate("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
