package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one query per implemented operator from
  * SURVEY.md §2 (+ the beyond-parity training-data operators), each
  * with a DuckDB-equivalent oracle. Every query is declared once, as a
  * `Q(name, build, oracle)` in its family file under `graft/queries/`;
  * this object only derives the driver's maps from those declarations.
  * Naming: s*=scan/source, f*=filter, q*=query pushdown,
  * j*=join, agg*=aggregation, w*=window, m*=replication mode,
  * t*=conversion, k*=kafka, c*=csv, dd*=dedup, sim*=similarity,
  * ta*=text analysis, mm*=multimodal, st*=stream-shaped.
  */
object SparkEntry {

  /** Every declared query, family by family, in declaration order. */
  private[graft] val declared: Seq[Q] = Seq(SourcesQ, ReplModesQ,
    RelationalQ, ConversionsQ, DedupQ, SimilarityQ, TextQ, QualityQ,
    MultimodalQ, StreamingQ, ExperimentsQ).flatMap(_.declared)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** The driver's oracle map, built on first use. Some queries share
    * another query's oracle: a composed IVF plan at full probe
    * re-verifies its exhaustive yardstick, and a stream run of a batch
    * operator must equal the batch result. */
  lazy val oracleSql: Map[String, String] =
    declared.map(q => q.name -> q.oracle).toMap

  /** The queries named in a comma list (blank entries ignored) — the
    * drivers' one name selector. Fails naming every unknown entry, so
    * a misspelt name cannot silently run nothing. */
  def named(list: String): Map[String, (SparkSession, String) => DataFrame] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    queries.filter { case (name, _) => names(name) }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("j1_join_agg")(spark, "/root/testdata/sf0.001")
}
