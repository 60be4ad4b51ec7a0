package perfbench

import java.io.{BufferedWriter, File, FileWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

import graft.{GraftSession, SparkEntry}
import graft.io.Tables
import graft.pipeline.PipelineDriver

/** The measured JVM of the perfbench benchmark (`perfbench/run.py`
  * launches it on the compiled classpath and does all analysis).
  *
  * Arguments are `key=value` pairs:
  *  - `mode`     `run`, or `oracles` (write `SparkEntry.oracleSql`, exit)
  *  - `launch`   epoch seconds at which the caller started this JVM
  *  - `cores`    local[cores] master and shuffle partitions
  *  - `tables`   directory of the sf tables (warm-up and resolve probe)
  *  - `workload` `queries` or `ingest`
  *  - `ops`      file with one operation per line: a query name, or a
  *               batch parquet path
  *  - `warmup`   ops the warm-up pass runs: the first `warmup` of `ops`
  *  - `passes`   then run at least this many measured passes over `ops`
  *  - `seconds`  and keep starting measured passes until this much
  *               measured work is done
  *  - `trace`    1 then repeats the measured passes with spans and
  *               Spark listener events recorded
  *  - `work`     scratch directory of this run
  *  - `out`      JSON-lines record file
  *  - `compact`  ingest only: `compactThreshold` for `runIngest`
  *
  * Pass 0 is the warm-up pass of the cold JVM and is not measured. Its
  * query results are written to parquet for run.py to check; every
  * measured pass writes them to the `noop` sink. A pass over query
  * operations reads the tables through a fresh hard-linked alias
  * directory, so the per-(session, dir) shared fits are rebuilt in every
  * pass instead of served from the previous one.
  */
object Harness {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at sub-millisecond resolution, comparable with
    * the timestamps Spark's listener events carry.
    */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private def epochSeconds: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  // ---- JSON lines ----------------------------------------------------

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  final class Records(path: String) {
    private val w = new PrintWriter(new BufferedWriter(new FileWriter(path)))
    def apply(kind: String, fields: (String, Any)*): Unit = synchronized {
      w.println(json(collection.immutable.ListMap(("kind" -> kind) +: fields: _*)))
    }
    def close(): Unit = synchronized(w.close())
  }

  // ---- spans (traced runs only) --------------------------------------

  final class Tracer(rec: Records, sc: org.apache.spark.SparkContext) {
    private var next = 0
    private var current = 0
    def apply[T](name: String)(body: => T): T = {
      next += 1
      val (id, parent, start) = (next, current, nowMs)
      current = id
      sc.setLocalProperty("perfbench.span", id.toString)
      try body
      finally {
        rec("span", "id" -> id, "parent" -> parent, "name" -> name,
          "start" -> start, "end" -> nowMs)
        current = parent
        sc.setLocalProperty("perfbench.span", parent.toString)
      }
    }
  }

  /** Keeps only the frames an attribution needs: the first line (the
    * short call site) and frames of the product or the harness.
    */
  private def frames(details: String): String =
    Option(details).getOrElse("").split("\n").zipWithIndex.collect {
      case (l, 0) => l
      case (l, _) if l.contains("graft.") || l.contains("perfbench.") => l
    }.mkString("\n")

  final class Recorder(rec: Records) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val result = e.stageInfos.maxBy(_.stageId)
      rec("job", "job" -> e.jobId, "start" -> e.time.toDouble,
        "span" -> prop("perfbench.span").map(_.toInt).getOrElse(0),
        "sql" -> prop("spark.sql.execution.id").map(_.toLong),
        "stages" -> e.stageIds, "site" -> result.name,
        "details" -> frames(result.details))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      rec("job_end", "job" -> e.jobId, "end" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      rec("stage", "stage" -> s.stageId, "tasks" -> s.numTasks,
        "submit" -> s.submissionTime.map(_.toDouble),
        "complete" -> s.completionTime.map(_.toDouble),
        "ok" -> s.failureReason.isEmpty)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      rec("task", "stage" -> e.stageId, "launch" -> i.launchTime.toDouble,
        "finish" -> i.finishTime.toDouble,
        "cpu_ns" -> m.map(_.executorCpuTime).getOrElse(0L),
        "gc_ms" -> m.map(_.jvmGCTime).getOrElse(0L),
        "sr_bytes" -> m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        "sw_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "spill_bytes" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled)
          .getOrElse(0L))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        rec("sql", "sql" -> s.executionId, "details" -> frames(s.details))
      case s: SparkListenerSQLExecutionEnd =>
        // the end event carries the execution's QueryExecution, whose
        // planning tracker holds the phase times; the field is
        // private[sql] to Scala but a public method to reflection
        Option(s.getClass.getMethod("qe").invoke(s)).foreach { qe =>
          rec("qe", "id" -> s.executionId,
            "phases" -> phases(qe.asInstanceOf[QueryExecution]))
        }
      case _ =>
    }
  }

  private def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble / 1e3 }

  // ---- the run -------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val rec = new Records(a("out"))
    if (a("mode") == "oracles") {
      SparkEntry.oracleSql.foreach { case (q, sql) => rec("oracle", "name" -> q, "sql" -> sql) }
      rec.close(); return
    }
    val cores = a("cores").toInt
    val work = new File(a("work"))
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]"), cores, "perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // warm-up: one parquet scan and one shuffle aggregate, so the
    // first timed operation does not pay their one-time machinery
    val tables = a("tables")
    Tables.table(spark, tables, "region").count()
    spark.range(1000000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count().count()
    rec("setup", "setup_s" -> (epochSeconds - a("launch").toDouble),
      "session_s" -> sessionS, "warmup_s" -> ((System.nanoTime() - t0) / 1e9 - sessionS))

    // graft.Bench's host-contention sentinel, a diagnostic only
    def sentinel(): Double = {
      val s0 = System.nanoTime()
      spark.range(2000000L).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").sum("v").count()
      (System.nanoTime() - s0) / 1e9
    }
    sentinel()
    rec("sentinel", "s" -> sentinel())

    var tracing = false
    val sc = spark.sparkContext
    val span = new Tracer(rec, sc)
    def traced[T](name: String)(body: => T): T =
      if (tracing) span(name)(body) else body

    val ops = Files.readAllLines(new File(a("ops")).toPath).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
    def alias(name: String): String = {
      val d = new File(work, s"alias/$name")
      d.mkdirs()
      new File(tables).listFiles().foreach { f =>
        Files.createLink(new File(d, f.getName).toPath, f.toPath)
      }
      d.getPath
    }
    def error(e: Throwable): String =
      (e.getClass.getName + ": " + Option(e.getMessage).getOrElse(""))
        .take(500)

    // the workload: a warm-up pass when asked, then at least `passes`
    // measured passes, and more until `seconds` of measured work are
    // done; pass numbers run on across both phases
    val (passes, budget) = (a("passes").toInt, a("seconds").toDouble)
    val warmupOps = ops.take(a("warmup").toInt)
    var pass = 0
    def runPass(passOps: Seq[String], warmup: Boolean): Double = {
      spark.catalog.clearCache()
      val dir = if (a("workload") == "queries") alias(s"p$pass") else ""
      val regBase = new File(work, s"ingest/p$pass/reg").getPath
      val (p0, c0) = (System.nanoTime(), cpuNs)
      traced(s"pass:$pass") {
        passOps.zipWithIndex.foreach { case (op, k) =>
          val o0 = System.nanoTime()
          var parts = Map.empty[String, Double]
          def part[T](name: String)(body: => T): T = {
            val s0 = System.nanoTime()
            try traced(name)(body)
            finally parts += (name + "_s") -> (System.nanoTime() - s0) / 1e9
          }
          var plan: Map[String, Double] = Map.empty
          val err = try {
            traced(s"op:$op") {
              if (a("workload") == "queries") {
                val df: DataFrame = part("build")(SparkEntry.queries(op)(spark, dir))
                part("plan")(df.queryExecution.executedPlan)
                plan = phases(df.queryExecution)
                val out = df.write.mode("overwrite")
                part("exec") {
                  if (warmup) out.parquet(new File(work, s"check/$op").getPath)
                  else out.format("noop").save()
                }
              } else {
                val docs = spark.read.parquet(op)
                part("ingest")(PipelineDriver.runIngest(spark, docs,
                  new File(work, s"ingest/p$pass/out/b$k").getPath, regBase,
                  buckets = 4, batchNo = k, bench = None, minhash = true,
                  autoCompact = true, compactThreshold = a("compact").toInt))
              }
            }
            None
          } catch { case e: Throwable => Some(error(e)) }
          rec("op", "pass" -> pass, "warmup" -> warmup, "traced" -> tracing,
            "name" -> op, "ok" -> err.isEmpty, "s" -> (System.nanoTime() - o0) / 1e9,
            "error" -> err, "parts" -> parts, "phases" -> plan)
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      rec("pass", "pass" -> pass, "warmup" -> warmup, "traced" -> tracing,
        "wall_s" -> wall, "cpu_s" -> (cpuNs - c0) / 1e9, "ops" -> passOps.size)
      pass += 1
      wall
    }
    def workload(warmup: Boolean): Unit = traced("workload") {
      if (warmup) runPass(warmupOps, warmup = true)
      var (measured, timed) = (0, 0.0)
      while (measured < passes || (passes > 0 && timed < budget)) {
        timed += runPass(ops, warmup = false)
        measured += 1
      }
    }

    // a traced run repeats the measured passes in the same, warm JVM
    // with spans and Spark listener events recorded; the tracing
    // overhead is measured against the untraced ones
    workload(warmup = true)
    if (a("trace") == "1") {
      tracing = true
      sc.addSparkListener(new Recorder(rec))
      // resolve probe: Tables.table on every table of a cold alias (the
      // calls the queries make themselves are inside their build phase)
      traced("resolve") {
        val dir = alias("resolve")
        Tables.names.filter(n => new File(tables, s"$n.parquet").exists).foreach { n =>
          val r0 = System.nanoTime()
          traced(s"resolve:$n")(Tables.table(spark, dir, n))
          rec("resolve", "table" -> n, "s" -> (System.nanoTime() - r0) / 1e9)
        }
      }
      workload(warmup = false)
    }
    rec("sentinel", "s" -> sentinel())
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    rec("end", "passes" -> pass, "peak_rss_mb" -> hwm / 1024.0)
    spark.stop()
    rec.close()
  }
}
