package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints ONE machine-readable JSON line. A query that throws is
  * recorded as failed (no fabricated timing), excluded from the total,
  * and makes the process exit nonzero — a bench that can't fail isn't
  * a bench.
  *
  * Timeout survivability (round-14): the round-13 driver gate was
  * killed at a 1-hour wall and its record was an unparseable carcass
  * because the single JSON line printed only at the very end. Now a
  * `"metric":"partial"` line is emitted after every 25 queries and at
  * each pass boundary, so a killed run still yields per-query minima
  * for everything measured so far; the final `"metric":"total"` line
  * remains the last line printed, so a driver that takes the last
  * parseable line sees the full record on a clean exit and the best
  * partial on a kill.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=dd2_x,dd4_y limits the run
    // (an unknown name fails the run before the session starts)
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(SparkEntry.queries)(SparkEntry.named)
    val spark = GraftSession.getOrCreate("graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    // warm the JVM/codegen once on the smallest table so per-query
    // numbers measure the plan, not first-call classloading
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // N samples per query, report the MIN — taken as N FULL PASSES
    // over the suite in independently seeded-shuffled orders, not
    // back-to-back. Why: one cold sample is not a measurement (a
    // co-tenant CPU burst wrote a 6x phantom regression into the
    // round-3 record — dd7 35.5s vs a reproducible 4.6s), and
    // back-to-back samples of the SAME query both sit inside any
    // sustained load window, so the min defended within a query but
    // not across a 15-minute run (round-5 record: ta4 4.1s vs 0.9s
    // reproducible). With shuffled passes the two samples of a query
    // land minutes apart and in different neighborhoods, so a load
    // burst must span the whole run to survive the min. Seeded
    // (SPARK_GRAFT_BENCH_SEED, default 42) for reproducible order;
    // pass 1's sample doubles as the "cold" field (classload +
    // codegen latency for that query).
    def once(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
    }
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").flatMap { s =>
      val p = scala.util.Try(s.toLong).toOption
      if (p.isEmpty) System.err.println(
        s"[bench] ignoring malformed SPARK_GRAFT_BENCH_SEED='$s', using 42")
      p
    }.getOrElse(42L)
    val base = selected.toSeq.sortBy(_._1)
    // min-of-N. DEFAULT TWO passes: the driver's gate wall is a fixed
    // ~1-hour window and a 3-pass driver-shape run already used half
    // of it on an IDLE machine (round-13 postmortem: under co-tenant
    // load the 3-pass default blew the window and zeroed the record).
    // The tighter min-of-THREE protocol is the LOCAL record protocol:
    // set SPARK_GRAFT_BENCH_PASSES=3 (see PERF.md "Bench protocol").
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap { s =>
      val p = scala.util.Try(s.toInt).toOption.filter(_ >= 1)
      if (p.isEmpty) System.err.println(
        s"[bench] ignoring malformed SPARK_GRAFT_BENCH_PASSES='$s', using 2")
      p
    }.getOrElse(2)
    // Floor-bound multi-micro-batch streaming queries: their wall is
    // trigger/commit cadence + state-store I/O on /tmp — a
    // deterministic machinery floor that every extra pass pays in
    // full but the min cannot sharpen (PERF.md "Bench protocol",
    // verdict r13 #3: the st family alone was ~13% of suite time and
    // dilates worst under co-tenant load). Timed in pass 1 only; the
    // record lists them under "single_pass" so the statistic is
    // honest. SPARK_GRAFT_BENCH_SINGLE_PASS overrides (comma list, or
    // "none" to re-time everything every pass).
    // membership = st-family queries with min >= 5s on the r14 idle
    // 2-pass record (PERF.md); together ~71s of the family's ~121s
    // min-sum, saved per extra pass
    val defaultSinglePass =
      "st19_stream_stream_join,st20_stream_outer_join," +
      "st12_stream_countmin,st14_stream_neardup,st11_trending," +
      "st8_stream_dedup,st23_stream_ivf_occupancy"
    val singlePass: Set[String] =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SINGLE_PASS", defaultSinglePass) match {
        case v if v.trim == "none" => Set.empty
        case v => SparkEntry.named(v).keySet
      }

    // samples seen so far, per query, in pass order (head = pass 1)
    val acc = scala.collection.mutable.Map.empty[String, Vector[Either[String, Double]]]
    def summarize(): (Seq[(String, Double, Double, Double)], Seq[(String, String)]) = {
      val done = base.flatMap { case (name, _) =>
        acc.get(name).map(samples => (name, samples))
      }
      val failed = done.collect { case (n, ss) if ss.exists(_.isLeft) =>
        (n, ss.collectFirst { case Left(e) => e }.get)
      }
      val ok = done.collect { case (n, ss) if ss.forall(_.isRight) =>
        val ts = ss.collect { case Right(t) => t }
        (n, ts.min, ts.head, ts.last)
      }
      (ok, failed)
    }
    def emit(metric: String, passesDone: Int): Unit = {
      val (ok, failed) = summarize()
      val qs = ok.map { case (k, v, _, _) => jstr(k) + ":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val cold = ok.map { case (k, _, c, _) => jstr(k) + ":" + f"$c%.3f" }
        .mkString("{", ",", "}")
      val p2 = ok.map { case (k, _, _, w) => jstr(k) + ":" + f"$w%.3f" }
        .mkString("{", ",", "}")
      val errs = failed.map { case (k, e) => jstr(k) + ":" + jstr(e) }
        .mkString("{", ",", "}")
      val total = ok.map(_._2).sum
      val sp = singlePass.toSeq.sorted.filter(n => base.exists(_._1 == n))
        .map(jstr).mkString("[", ",", "]")
      println(f"""{"metric":${jstr(metric)},"value":$total%.3f,"unit":"sec","queries":$qs,"cold":$cold,"pass2":$p2,"failed":$errs,"n_ok":${ok.size},"n_failed":${failed.size},"seed":$seed,"passes":$passes,"passes_done":$passesDone,"single_pass":$sp,"sf":${jstr(sfDir)}}""")
      System.out.flush()
    }
    for (i <- 0 until passes) {
      val order = new scala.util.Random(seed + i).shuffle(base)
      var sincePartial = 0
      order.foreach { case (name, fn) =>
        if (i == 0 || !singlePass(name)) {
          val r = once(name, fn)
          acc(name) = acc.getOrElse(name, Vector.empty) :+ r
          sincePartial += 1
          if (sincePartial >= 25) { emit("partial", i); sincePartial = 0 }
        }
      }
      if (i < passes - 1) emit("partial", i + 1)
    }
    // Raw first/last pass samples are logged alongside the min (the
    // headline "queries"): cross-round deltas are only interpretable
    // when every record carries the same statistic plus samples
    // behind it — a round that quotes a single pass against another
    // round's multi-pass min manufactures a phantom regression (the
    // r8/r7 +16% episode). "passes" records N for the same reason.
    emit("total", passes)
    val anyFailed = acc.valuesIterator.exists(_.exists(_.isLeft))
    spark.stop()
    if (anyFailed) sys.exit(1)
  }
}
