package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession

/** Dev-only fixture and yardstick main (not part of the library
  * surface). Two modes:
  *  - `synth1 [outDir]`: write the ~sf1 perf fixture from sf0.1;
  *  - `jdbcYardstick`: time BASELINE.md's embedded-JDBC load of the
  *    lineitem table under `SPARK_GRAFT_SF_DIR`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(mode == "synth1" || mode == "jdbcYardstick",
      s"unknown mode '$mode'; usage: Probe synth1 [outDir] | Probe jdbcYardstick")
    val spark = GraftSession.getOrCreate("graft-probe")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try {
      if (mode == "synth1") synth1(spark, args.lift(1).getOrElse("/tmp/sf1"))
      else jdbcYardstick(spark, dir)
    } finally spark.stop()
  }

  /** BASELINE.md's local sanity yardstick: full-lineitem parquet →
    * embedded-JDBC complete-mode load, wall-clock + rows/min. The
    * reference's projections are ~666 K rows/min (1 worker) to ~1 M
    * rows/min (20 workers). */
  def jdbcYardstick(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import graft.core.{ReplicationMode, SinkConf}
    val url = s"jdbc:derby:memory:yardstick${System.nanoTime()};create=true"
    graft.sources.JdbcConnector.withConnection(url, Map.empty) { c =>
      val st = c.createStatement()
      st.execute("""CREATE TABLE LINEITEM (
        L_ORDERKEY BIGINT, L_PARTKEY BIGINT, L_SUPPKEY BIGINT,
        L_LINENUMBER INTEGER, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE,
        L_DISCOUNT DOUBLE, L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1),
        L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP)""")
      st.close()
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet").toDF(
      "L_ORDERKEY", "L_PARTKEY", "L_SUPPKEY", "L_LINENUMBER", "L_QUANTITY",
      "L_EXTENDEDPRICE", "L_DISCOUNT", "L_TAX", "L_RETURNFLAG",
      "L_LINESTATUS", "L_SHIPDATE")
    val t = System.nanoTime()
    graft.sources.JdbcConnector.write(li,
      SinkConf(connect = url, table = Some("LINEITEM"),
        mode = ReplicationMode.Complete))
    val secs = (System.nanoTime() - t) / 1e9
    val n = graft.sources.JdbcConnector.withConnection(url, Map.empty) { c =>
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM LINEITEM")
      rs.next(); rs.getLong(1)
    }
    println(f"=== jdbcYardstick: $n%,d rows in $secs%.1fs = ${n / secs * 60}%,.0f rows/min")
  }

  /** Synthesize a ~sf1 fixture set (VERDICT r12 #5): 10 id-shifted
    * copies of every sf0.1 fact table with FK columns shifted
    * CONSISTENTLY (joins stay intact), dimension tables (region,
    * nation) kept as-is so FK targets still exist. Two distortions a
    * naive union would introduce are corrected because they would
    * blow up quadratic OUTPUTS rather than scale inputs: document
    * texts get a per-copy token suffix (cross-copy texts are
    * DISTINCT, vocab grows Heaps-style, intra-copy dup structure
    * preserved) and embeddings for copies > 0 are fresh hash-derived
    * vectors (identical-vector clones would multiply every
    * cosine-threshold pair count by 100). A PERF fixture, not a
    * correctness oracle. */
  def synth1(spark: org.apache.spark.sql.SparkSession, outDir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    val SH = 100000000L
    def load(name: String): DataFrame =
      spark.read.parquet(s"/root/testdata/sf0.1/$name.parquet")
    def copies(name: String, shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = load(name)
      val out = (0 until 10).map(i => shift(base, i)).reduce(_.unionAll(_))
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[synth1] $name -> ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    def sh(c: String, i: Int): org.apache.spark.sql.Column =
      col(c) + lit(i * SH)
    // dimensions unchanged (FK targets)
    for (t <- Seq("region", "nation")) {
      load(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[synth1] $t -> copied")
    }
    copies("customer", (d, i) => d.withColumn("c_custkey", sh("c_custkey", i)))
    copies("supplier", (d, i) => d.withColumn("s_suppkey", sh("s_suppkey", i)))
    copies("part", (d, i) => d.withColumn("p_partkey", sh("p_partkey", i)))
    copies("orders", (d, i) => d
      .withColumn("o_orderkey", sh("o_orderkey", i))
      .withColumn("o_custkey", sh("o_custkey", i)))
    copies("lineitem", (d, i) => d
      .withColumn("l_orderkey", sh("l_orderkey", i))
      .withColumn("l_partkey", sh("l_partkey", i))
      .withColumn("l_suppkey", sh("l_suppkey", i)))
    copies("events", (d, i) => d
      .withColumn("event_id", sh("event_id", i))
      .withColumn("user_id", sh("user_id", i)))
    copies("documents", (d, i) =>
      if (i == 0) d.withColumn("doc_id", sh("doc_id", i))
      else d.withColumn("doc_id", sh("doc_id", i))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            t => concat(t, lit("_"), lit(i))))))
    copies("embeddings", (d, i) =>
      if (i == 0) d.withColumn("vec_id", sh("vec_id", i))
      else {
        val dim = size(col("embedding"))
        d.withColumn("vec_id", sh("vec_id", i))
          .withColumn("embedding", transform(
            sequence(lit(0), dim - 1),
            j => ((pmod(hash(col("vec_id"), j), lit(2001)) - 1000)
              .cast("double") / 1000.0).cast("float")))
      })
  }
}
