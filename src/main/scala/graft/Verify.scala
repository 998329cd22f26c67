package graft

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The artifact
  * helpers are shared with [[Fuzz]] (the differential gate writes the
  * same layout) so the two gates can never drift on encoding. */
object Verify {

  /** Session-tz timestamps would dump with isAdjustedToUTC=true and
    * fail the naive-TIMESTAMP oracle schema gate; the session zone is
    * UTC so the NTZ cast is instant-preserving. */
  private[graft] def ntzNormalized(out: DataFrame): DataFrame =
    out.select(out.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        org.apache.spark.sql.functions.col(f.name)
          .cast("timestamp_ntz").as(f.name)
      else org.apache.spark.sql.functions.col(f.name)
    }: _*)

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Flat string-to-string JSON object, insertion-ordered. */
  private[graft] def writeJsonMap(path: String,
      m: collection.Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // iteration aid (mirrors Bench): SPARK_GRAFT_VERIFY_ONLY=q1,q2
    // limits the dump (an unknown name fails); the driver sets nothing
    // and gets every query
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .fold(SparkEntry.queries)(SparkEntry.named)
    val spark = GraftSession.builder("graft-verify")
      // timestamps as INT64 micros so DuckDB reads identical values
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST: it is a static map with zero dependence
    // on execution, and it is the one file the driver's comparator
    // cannot work without — writing it last meant a wall-clock kill
    // 10 minutes from the end zeroed 283 already-completed dumps
    // (round-13 gate: CORRECTNESS_r13.json = {}). Written up front,
    // a timeout still yields a row for every dump that finished.
    writeJsonMap(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    selected.foreach { case (name, fn) =>
      try {
        ntzNormalized(fn(spark, sfDir))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
