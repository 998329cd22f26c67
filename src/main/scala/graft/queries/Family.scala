package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the DataFrame it builds from a session
  * and a data dir, and the DuckDB SQL that checks it. The oracle text
  * is built on first use, so running a query never pays for it. */
final class Q private[queries] (val name: String,
    val build: (SparkSession, String) => DataFrame, oracleText: => String) {
  lazy val oracle: String = oracleText
}

/** One family file of queries: every `Q(...)` statement in the body of
  * a subclass declares one query, in declaration order. */
abstract class Family {
  private val decls = scala.collection.mutable.ArrayBuffer.empty[Q]

  final def declared: Seq[Q] = decls.toSeq

  protected final def Q(name: String,
      build: (SparkSession, String) => DataFrame, oracle: => String): Q = {
    val q = new Q(name, build, oracle)
    decls += q
    q
  }
}
