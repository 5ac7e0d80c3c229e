package catalogbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.CatalogBenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.StructType

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Runs one workload in one driver JVM and writes its raw measurements
  * as JSON; `run.py` turns them into metrics.
  *
  * Set-up runs the workload once per `--warm` input, untimed (JIT and
  * codegen warm-up; for the warm workload these inputs are the timed
  * one, so the first pass also fills served history). Timed passes then
  * run until `--seconds` have passed, at least two, pass `i` reading
  * `--inputs(i)` (the last one repeats; the cold workload stops when
  * they run out).
  * Every query output is collected to the driver inside its timing and
  * compared with its DuckDB oracle after the pass, in this JVM, untimed.
  * Set-up outputs are not compared (a failure there still counts).
  *
  * With `--trace 1` odd passes run traced and even ones untraced (at
  * least three passes), so their difference is the tracing overhead;
  * then the probes and expression rates run, traced, on
  * `--probe-input`.
  *
  * Oracle results are read from `<input>/oracle/`, which another process
  * may still be writing: the check waits for `<input>/oracle/done`.
  *
  * Usage: catalogbench.Main --workload W --warm D1,D2,... --inputs D1,D2,...
  *   --seconds S --trace 0|1 --out FILE [--probe-input DIR]
  */
object Main {

  final case class Exec(query: String, input: String, wallS: Double,
      rows: Long, ok: Boolean, error: String, jobs: Long, checkS: Double)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val w = Workloads.all(opt("--workload"))
    val warm = opt("--warm").split(',').toSeq
    val inputs = opt("--inputs").split(',').toSeq
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"

    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val base = new Recorder(traced = false)
    sc.addSparkListener(base)
    val tracer = new Recorder(traced = true)

    /** Executions by pass label ("setup0", ..., "0", "1", ...). */
    val execs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Exec]]
    /** Jobs of the first execution of each (input, query). */
    val firstJobs = mutable.Map.empty[(String, String), Long]

    type Output = Either[Throwable, (StructType, Array[Row])]

    /** Runs one query, collecting its output inside the timing. */
    def runQuery(pass: String, q: String, dir: String, rec: Recorder)
        : (Exec, Output) = {
      val tag = s"$pass|$q"
      sc.setLocalProperty(Recorder.TagKey, tag)
      base.currentTag = tag
      tracer.currentTag = tag
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out: Output = try {
        val df = SparkEntry.queries(q)(spark, dir)
        Right((df.schema, df.collect()))
      } catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      rec.addQuerySpan(Recorder.QuerySpan(tag, startMs, System.currentTimeMillis()))
      sc.setLocalProperty(Recorder.TagKey, null)
      CatalogBenchBus.drain(sc)
      val jobs = rec.of(tag).jobs
      firstJobs.getOrElseUpdate((dir, q), jobs)
      val rows = out.map(_._2.length.toLong).getOrElse(0L)
      (Exec(q, dir, wall, rows, ok = true, "", jobs, 0.0), out)
    }

    def awaitOracles(dir: String): Unit = {
      val deadline = System.nanoTime() + 120e9.toLong
      while (!new File(s"$dir/oracle/done").exists && System.nanoTime() < deadline)
        Thread.sleep(50)
    }

    /** Compares one output with its oracle result. */
    def check(e: Exec, out: Output): Exec = {
      val c0 = System.nanoTime()
      val verdict = out match {
        case Left(err) => Some(s"FAILED ${err.getClass.getSimpleName}: " +
          String.valueOf(err.getMessage).linesIterator.nextOption().getOrElse(""))
        case Right((schema, rows)) =>
          awaitOracles(e.input)
          val oracle = new File(s"${e.input}/oracle/${e.query}.json")
          if (!oracle.isFile) Some("no oracle result")
          else Check.compare(Check.fromRows(schema, rows), Check.loadOracle(oracle))
            .map("MISMATCH " + _)
      }
      e.copy(ok = verdict.isEmpty, error = verdict.getOrElse(""),
        checkS = (System.nanoTime() - c0) / 1e9)
    }

    /** One pass over the workload. The heap is collected first and the
      * outputs are checked after the last query, so neither lands in a
      * timed query. */
    def runPass(label: String, dir: String, rec: Recorder,
        checked: Boolean = true): PassStats = {
      System.gc()
      val t0 = System.nanoTime()
      val results = w.queries.map(q => runQuery(label, q, dir, rec))
      val wallAll = (System.nanoTime() - t0) / 1e9
      val c = rec.sum(_.startsWith(label + "|"))
      val status = sc.getExecutorMemoryStatus.values
      val storageB = status.map { case (max, free) => max - free }.sum
      val cachedB = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val done = results.map { case (e, out) =>
        if (checked) check(e, out)
        else out.fold(_ => check(e, out), _ => e)
      }
      execs(label) = mutable.ArrayBuffer.from(done)
      PassStats(label, dir, rec eq tracer, done.map(_.wallS).sum, wallAll,
        c.taskMs / 1e3, c.cpuNs / 1e9, c.jobs, storageB / 1048576.0,
        cachedB / 1048576.0)
    }

    // ---- set-up: session, JIT/codegen warm-up, served-state fill ----
    warm.zipWithIndex.foreach { case (dir, k) =>
      runPass(s"setup$k", dir, base, checked = false)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // CPU of every JVM thread so far: set-up work, counted apart from
    // the time other guests of the host take from this one
    val setupCpuS = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
    val codegenSetup = (CodeGenerator.compileTime / 1e9,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

    // ---- timed passes ----
    val passes = mutable.ArrayBuffer.empty[PassStats]
    val t0 = System.nanoTime()
    var i = 0
    // the cold workload needs a fresh input per pass; it stops when they
    // run out
    def more = (System.nanoTime() - t0) / 1e9 < seconds &&
      (w.state != Workloads.Cold || i < inputs.size)
    while (i < (if (trace) 3 else 2) || more) {
      val traced = trace && i % 2 == 1
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      passes += runPass(i.toString, inputs(math.min(i, inputs.size - 1)),
        if (traced) tracer else base)
      if (traced) {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      i += 1
    }
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val codegenAll = (CodeGenerator.compileTime / 1e9,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

    val probeJson =
      if (trace) Probes.run(spark, w, opt.getOrElse("--probe-input", inputs.last))
      else "{}"
    CatalogBenchBus.drain(sc)

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload": ${Json.str(w.name)}, "state": ${Json.str(w.state)}, """
    json ++= s""""setup_s": $setupS, "setup_cpu_s": $setupCpuS, "session_s": $sessionS, """
    json ++= s""""cpus": ${sc.defaultParallelism}, """
    json ++= s""""spark_version": ${Json.str(spark.version)}, """
    json ++= s""""jdk": ${Json.str(System.getProperty("java.version"))}, """
    json ++= s""""heap_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """
    json ++= s""""codegen_setup": {"compile_s": ${codegenSetup._1}, "classes": ${codegenSetup._2}}, """
    json ++= s""""codegen_all": {"compile_s": ${codegenAll._1}, "classes": ${codegenAll._2}}, """
    json ++= s""""passes": ${passes.map(_.json).mkString("[", ", ", "]")}, """
    json ++= s""""execs": {${execs.map { case (label, xs) =>
      Json.str(label) + ": " + xs.map { e =>
        s"""{"query": ${Json.str(e.query)}, "input": ${Json.str(e.input)}, "wall_s": ${e.wallS}, "rows": ${e.rows}, "ok": ${e.ok}, "error": ${Json.str(e.error)}, "jobs": ${e.jobs}, "check_s": ${e.checkS}, "first_jobs": ${firstJobs((e.input, e.query))}}"""
      }.mkString("[", ", ", "]")
    }.mkString(", ")}}, """
    json ++= s""""layers": ${if (trace) Layers.json(tracer, passes.filter(_.traced).map(_.label).toSeq) else "{}"}, """
    json ++= s""""probes": $probeJson}"""
    Files.writeString(Paths.get(opt("--out")), json.toString)
    spark.stop()
  }

  final case class PassStats(label: String, input: String, traced: Boolean,
      passS: Double, wallS: Double, taskS: Double, cpuS: Double, jobs: Long,
      stateMb: Double, cachedMb: Double) {
    def json: String =
      s"""{"label": ${Json.str(label)}, "input": ${Json.str(input)}, "traced": $traced, "pass_s": $passS, "wall_s": $wallS, "task_s": $taskS, "cpu_s": $cpuS, "jobs": $jobs, "state_mb": $stateMb, "cached_mb": $cachedMb}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  def obj(kv: Iterable[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
}
