package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.cli.Main
import graft.core.{Config, ReplicaEngine, Telemetry}
import graft.sources.PgWireClient

/** One benchmark run in one JVM: fixture load (untimed), session start
  * plus a cold iteration (`setup_s`), one warm-up iteration, then measured
  * iterations until the run's time budget is spent. Every iteration's
  * output is checked untimed; the judgement is made by run.py from the
  * values written here.
  *
  * Untraced iterations time only the public entry points
  * (`graft.cli.Main.run`, a `SparkEntry.queries` function plus its
  * checksum action). Traced iterations call the same public functions
  * one layer at a time and record spans, Spark job intervals, per-stage
  * task times, planning phases and streaming progress.
  *
  * Usage: `perfbench.Harness <job.json>`; run.py writes the job file.
  */
object Harness {

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val job = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = job.get("out").asText()
    val result = new java.util.LinkedHashMap[String, Any]()
    val code =
      try { new Run(job, result).execute(); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          result.put("fatal", String.valueOf(e))
          1
      }
    Files.writeString(Paths.get(out), mapper.writeValueAsString(result), UTF_8)
    sys.exit(code)
  }

  private def now(): Double = System.nanoTime() / 1e6

  /** Order-independent checksum over every output column: the row count
    * and the exact decimal sum of one 64-bit hash per row. Doubles are
    * hashed as their 7-significant-digit text, so summation order
    * inside Spark cannot flip the result. */
  def checksum(df: DataFrame): (Long, String) = {
    def canon(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType =>
        val d = c.cast(DoubleType)
        when(isnan(d), lit("NaN")).otherwise(format_string("%.6e", d + lit(0.0)))
      case ArrayType(et, _) => transform(c, e => canon(e, et))
      case st: StructType =>
        struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    val hashed = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
    val r = hashed.agg(count(lit(1)), sum(col("h"))).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Spark job intervals and per-stage task run times — the views
    * `graft.core.Telemetry` does not record. */
  final class JobRecorder extends SparkListener {
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
    val taskTimes = new ConcurrentLinkedQueue[(Int, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) taskTimes.add((e.stageId, e.taskMetrics.executorRunTime))

    def clear(): Unit = { jobStart.clear(); jobs.clear(); taskTimes.clear() }
  }

  /** Planning phase times of every query execution, from its tracker. */
  final class PlanRecorder extends QueryExecutionListener {
    @volatile var analysis, optimization, planning = 0.0
    @volatile var executions = 0
    private def add(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      analysis += ms("analysis"); optimization += ms("optimization"); planning += ms("planning")
      executions += 1
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
    def clear(): Unit = synchronized { analysis = 0; optimization = 0; planning = 0; executions = 0 }
  }

  /** Micro-batch count and summed `triggerExecution` time. */
  final class StreamRecorder extends StreamingQueryListener {
    @volatile var batches = 0
    @volatile var batchMs = 0.0
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      batches += 1
      batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    }
    def clear(): Unit = synchronized { batches = 0; batchMs = 0 }
  }

  /** One operation's outcome inside an iteration. */
  final case class Op(name: String, seconds: Double, rows: Long, check: Seq[String],
      error: Option[String])

  final class Run(job: JsonNode, result: java.util.Map[String, Any]) {
    private val seed = job.get("seed").asLong()
    private val seconds = job.get("seconds").asDouble()
    // wall time, from the start of this JVM's work, after which no further
    // iteration starts that would not end in time (run.py kills the JVM at
    // its own deadline)
    private val budgetMs = job.get("budget_s").asDouble() * 1e3
    private val started = now()
    private val traceMode = job.get("trace").asBoolean()
    private val pgSock = job.path("pg").path("socket").asText()
    private val pgUser = job.path("pg").path("user").asText()
    private val dataDir = job.get("data_dir").asText()

    private val spans = new ConcurrentLinkedQueue[(String, String, Double, Double)]()
    private var tracing = false
    // sub-millisecond resolution on the epoch-millisecond clock the
    // listener bus stamps job events with
    private val epoch0 = System.currentTimeMillis().toDouble
    private val nano0 = now()
    private def wallMs(): Double = epoch0 + (now() - nano0)
    private def span[T](op: String, layer: String)(body: => T): T = {
      val t0 = wallMs()
      try body finally if (tracing) spans.add((op, layer, t0, wallMs()))
    }

    private def pg[T](f: PgWireClient => T): T = {
      val cl = PgWireClient.connect(PgWireClient.UnixSocket(pgSock), pgUser, "postgres")
      try f(cl) finally cl.close()
    }
    private def pgRows(sql: String): Seq[String] =
      pg(_.exec(sql)).rows.map(_.map(v => if (v == null) "NULL" else v).mkString("|"))
    private def pgExec(sqls: Seq[String]): Unit = pg(cl => sqls.foreach(cl.exec))

    private def strings(n: JsonNode): Seq[String] = n.asScala.map(_.asText()).toSeq

    // ---- workloads -----------------------------------------------------

    /** Replication ops carry their CLI arguments, check queries and row
      * count query; query ops name a `SparkEntry.queries` entry. */
    private val queryKind = job.get("kind").asText() == "query"
    private val ops = job.get("ops").asScala.map(o => o.get("name").asText() -> o).toMap
    private def cliArgs(op: String): Array[String] = strings(ops(op).get("args")).toArray

    /** Untimed: each statement on its own (VACUUM refuses a transaction). */
    private def runSql(key: String): Unit = strings(job.path(key)).foreach(s => pgExec(Seq(s)))

    private def opNames(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1009 + pass).shuffle(ops.keys.toSeq.sorted)

    /** One replication, untraced: exactly what a CLI user runs. */
    private def replicate(op: String): Unit =
      if (!tracing) Main.run(cliArgs(op))
      else span(op, "op") {
        // Main.run, one public call at a time
        val conf = span(op, "cli.parse") {
          Config.fromProperties(Main.parseArgs(cliArgs(op)) - "verbose")
        }
        val s = GraftSession.getOrCreate("graft-replicate")
        s.conf.unset(graft.core.Checkpoints.ConfKey)
        val df = span(op, "core.plan") {
          ReplicaEngine.transform(s, ReplicaEngine.read(s, conf.source), conf.source)
        }
        span(op, "core.write") { ReplicaEngine.write(df, conf.sink) }
      }

    private def query(spark: SparkSession, name: String): (Long, String) = {
      val fn = SparkEntry.queries(name)
      if (!tracing) checksum(fn(spark, dataDir))
      else span(name, "op") {
        val df = span(name, "query.build") { fn(spark, dataDir) }
        span(name, "query.action") { checksum(df) }
      }
    }

    /** One iteration: every operation once, timed one by one. The reset
      * before an operation and its check after stay outside the clock. */
    private def iteration(spark: SparkSession, pass: Int): (Double, Seq[Op]) = {
      val done = opNames(pass).map { name =>
        if (!queryKind) runSql("reset_sql")
        // every operation starts from a collected heap, so one operation's
        // garbage is not paid for inside the next one's clock
        System.gc()
        val t0 = now()
        // the operation, returning its untimed check
        val run = Try[() => (Long, Seq[String])] {
          if (queryKind) {
            val (rows, sum) = query(spark, name)
            () => (rows, Seq(rows.toString, sum))
          } else {
            replicate(name)
            () => (pgRows(ops(name).get("rows_sql").asText()).head.toLong,
              strings(ops(name).get("check_sql")).flatMap(pgRows))
          }
        }
        val dt = (now() - t0) / 1e3
        run.flatMap(check => Try(check())) match {
          case Success((rows, chk)) => Op(name, dt, rows, chk, None)
          case Failure(e) => Op(name, dt, 0, Nil, Some(String.valueOf(e).take(500)))
        }
      }
      (done.map(_.seconds).sum, done)
    }

    /** `sources.scan_s`: read + transform into Spark's noop sink. */
    private def scanProbe(spark: SparkSession): Double =
      opNames(0).map { name =>
        val conf = Config.fromProperties(Main.parseArgs(cliArgs(name)) - "verbose")
        val t0 = now()
        ReplicaEngine.transform(spark, ReplicaEngine.read(spark, conf.source), conf.source)
          .write.format("noop").mode("overwrite").save()
        (now() - t0) / 1e3
      }.sum

    private def opJson(o: Op): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("name", o.name); m.put("s", o.seconds); m.put("rows", o.rows)
      m.put("check", o.check.asJava)
      o.error.foreach(m.put("error", _))
      m
    }

    def execute(): Unit = {
      runSql("fixture_sql")
      val t0 = now()
      val spark = GraftSession.getOrCreate("perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      val session = (now() - t0) / 1e3
      val (coldWall, coldOps) = iteration(spark, 0)
      // session start plus the cold operations; resets and checks excluded
      result.put("setup_s", session + coldWall)
      result.put("session_s", session)

      val recorder = new JobRecorder
      val plans = new PlanRecorder
      val streams = new StreamRecorder
      if (traceMode) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(plans)
        spark.streams.addListener(streams)
      }
      val iters = new java.util.ArrayList[Any]()
      def record(kind: String, wall: Double, ops: Seq[Op],
          extra: java.util.Map[String, Any] = new java.util.HashMap()): Unit = {
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("kind", kind); m.put("wall_s", wall)
        m.put("ops", ops.map(opJson).asJava)
        m.putAll(extra)
        iters.add(m)
      }
      record("cold", coldWall, coldOps)
      // one warm-up iteration, checked but not measured: the first warm
      // one still runs beside the JIT compiler (on query_mix ~10% slower
      // than the next, and by how much varies from run to run)
      val (warmWall, warmOps) = iteration(spark, 1)
      record("warmup", warmWall, warmOps)

      var measured = 0.0
      var pass = 2
      var plain = 0
      var traced = 0
      var lastCostMs = now() - started
      // at least two measured iterations, so every run reports a median;
      // traced runs alternate untraced/traced starting and ending untraced,
      // so warm-up drift cancels out of the tracing overhead. A run too slow
      // for its budget stops early, after one untraced (and one traced)
      // iteration, rather than being killed.
      def fits = now() - started + lastCostMs < budgetMs
      while ((measured < seconds || plain + traced < 2 ||
          (traceMode && (plain < 2 || traced == 0 || plain == traced))) &&
          (fits || plain == 0 || (traceMode && traced == 0))) {
        val iterStart = now()
        val doTrace = traceMode && plain > traced
        if (!doTrace) {
          val (wall, ops) = iteration(spark, pass)
          record("plain", wall, ops)
          measured += wall; plain += 1
        } else {
          org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 30000)
          recorder.clear(); plans.clear(); streams.clear(); spans.clear()
          tracing = true
          val ((wall, ops), tm) = Telemetry.measure(spark)(iteration(spark, pass))
          tracing = false
          val t = new java.util.LinkedHashMap[String, Any]()
          t.put("spans", spans.asScala.toSeq.map { case (op, layer, a, b) =>
            Map("op" -> op, "layer" -> layer, "start" -> a, "end" -> b).asJava
          }.asJava)
          t.put("jobs", recorder.jobs.asScala.toSeq.map { case (a, b) =>
            Seq(a.toDouble, b.toDouble).asJava }.asJava)
          t.put("task_ms", recorder.taskTimes.asScala.toSeq
            .groupBy(_._1).toSeq.sortBy(_._1)
            .map(_._2.map(_._2).asJava).asJava)
          t.put("telemetry", Map[String, Any](
            "bytes_read" -> tm.bytesRead,
            "shuffle_write_bytes" -> tm.shuffleBytesWritten,
            "shuffle_read_bytes" -> tm.shuffleBytesRead,
            "spill_bytes" -> tm.diskBytesSpilled, "task_ms" -> tm.taskTimeMs,
            "tasks" -> tm.tasks).asJava)
          t.put("plan_ms", Map[String, Any]("analysis" -> plans.analysis,
            "optimization" -> plans.optimization, "planning" -> plans.planning,
            "executions" -> plans.executions).asJava)
          t.put("streaming", Map[String, Any]("batches" -> streams.batches,
            "batch_ms" -> streams.batchMs).asJava)
          if (!queryKind) t.put("scan_s", scanProbe(spark))
          val extra = new java.util.HashMap[String, Any]()
          extra.put("trace", t)
          record("traced", wall, ops, extra)
          measured += wall; traced += 1
        }
        lastCostMs = now() - iterStart
        pass += 1
      }
      result.put("iterations", iters)
      result.put("cores", spark.sparkContext.defaultParallelism)
      result.put("peak_rss_mb", peakRssMb())
      spark.stop()
    }
  }

  /** Driver high-water RSS from /proc (MiB). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
