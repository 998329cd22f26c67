package graft

import org.apache.spark.sql.SparkSession

import graft.fuzz.SqlFuzzer

/** Differential-fuzz driver, Spark side (verdict r11 #1).
  *
  * Generates `n` seeded queries in the Spark∩DuckDB dialect subset
  * ([[graft.fuzz.SqlFuzzer]]), runs each over the fixture tables, and
  * dumps results as parquet plus `fuzz_sql.json` — the exact layout
  * `tools/check_fuzz.py` consumes to run the SAME SQL through DuckDB
  * and compare (float-tolerant, int-width-normalized).
  *
  * Usage: runMain graft.Fuzz <sfDir> <outDir> [n] [seed0]
  *
  * A Spark-side failure is recorded in `fuzz_errors.json` instead of
  * aborting the sweep — zero entries there plus zero DIVERGE lines
  * from the checker is the gate.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = args.lift(2).map(_.toInt).getOrElse(500)
    val seed0 = args.lift(3).map(_.toLong).getOrElse(20260816L)
    val spark = GraftSession.builder("graft-fuzz")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    registerViews(spark, sfDir)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val sqls = scala.collection.mutable.LinkedHashMap.empty[String, String]
    (0 until n).foreach { i =>
      val name = f"fz$i%04d"
      val sql = SqlFuzzer.generate(seed0 + i)
      sqls(name) = sql
      try {
        Verify.ntzNormalized(spark.sql(sql))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case scala.util.control.NonFatal(e) =>
        // fatal JVM errors (OOM, StackOverflow) must ABORT the sweep:
        // a corrupted driver would record misleading per-query rows
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[fuzz] $name failed: ${errors(name)}")
        System.err.println(s"[fuzz]   sql: $sql")
      }
    }
    Verify.writeJsonMap(s"$outDir/fuzz_sql.json", sqls)
    Verify.writeJsonMap(s"$outDir/fuzz_errors.json", errors)
    println(s"[fuzz] ${n - errors.size}/$n ran on Spark; " +
      s"${errors.size} errors (fuzz_errors.json)")
    spark.stop()
  }

  /** Fixture views by bare table name — the same names DuckDB's side
    * binds, so one SQL text runs on both engines. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    SqlFuzzer.tables.foreach { t =>
      val raw = spark.read.parquet(s"$sfDir/${t.name}.parquet")
      // events.parquet can carry TIMESTAMP(NANOS), which the session
      // reads as a raw nano long (nanosAsLong=true); convert to micros
      // exactly like queries.Fixtures.events so both engines see timestamps
      val df =
        if (t.name == "events" &&
            raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", org.apache.spark.sql.functions
            .timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000"))
            .cast("timestamp_ntz"))
        else raw
      df.createOrReplaceTempView(t.name)
    }
}
