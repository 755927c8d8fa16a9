package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM: set up, measure one workload for
  * a fixed time, check every output, and write the raw samples as JSON
  * for `run.py` to reduce into metrics.
  *
  * Usage: Harness <workload> <inputsDir> <workDir> <seconds> <trace 0|1> <out.json>
  */
object Harness {

  /** Setup is repeated this many times per run; its median is setup_s. */
  val SetupRounds = 3
  /** Every run makes at least this many timed passes, so no median and
    * no tail rests on a single pass. */
  val MinPasses = 3

  /** The number of timed passes of a run of `seconds`, where one pass
    * takes about `nominalS` on a 4-core machine. It depends on the
    * arguments only, so every run of a workload does the same work, and
    * its latency tail and peak RSS cover the same samples. */
  def passCount(seconds: Double, nominalS: Double): Int =
    math.max(MinPasses, math.round(seconds / nominalS).toInt)

  final class Result {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val latMs = mutable.ArrayBuffer.empty[Double]
    var rowsPerPass = 0L
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (errors.size < 50) errors += what }
    }
  }

  var tracer: Tracer = new Tracer(false)
  var engine: EngineListener = _
  val progress = new ProgressListener

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, inputs, work, secondsS, traceS, out) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val res = new Result
    val cores = Runtime.getRuntime.availableProcessors
    val spark = workload match {
      case "ingest" => Ingest.run(res, inputs, work, seconds, traced, jvmStartMs, cores)
      case "query_mix" => QueryMixRun.run(res, inputs, work, seconds, traced, jvmStartMs, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.extra("peak_rss_mb") = vmHwmMb()
    if (traced) {
      engineLayers(res)
      res.layers("trace.overhead_s") =
        if (res.tracedPassS.isEmpty || res.passS.isEmpty) 0.0
        else medianOf(res.tracedPassS) - medianOf(res.passS)
      writeSpans(s"$work/trace_spans.json")
    }
    spark.stop()
    Files.write(Paths.get(out), Json.obj(Seq(
      "setup_s" -> res.setupS, "pass_s" -> res.passS,
      "traced_pass_s" -> res.tracedPassS, "lat_ms" -> res.latMs,
      "rows_per_pass" -> res.rowsPerPass, "attempted" -> res.attempted,
      "failed" -> res.failed, "errors" -> res.errors,
      "layers" -> res.layers) ++ res.extra.toSeq).getBytes(UTF_8))
    System.exit(0)
  }

  // ---- session ---------------------------------------------------------

  /** The session confs graft.Verify / graft.Bench use, plus scratch
    * locations kept inside the work directory. */
  def session(work: String, cores: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Builds the session [[SetupRounds]] times; the first round is timed
    * from JVM start. `prepare` is the workload's warm-up, table
    * resolution and stream start. Returns the last, live session. */
  def setUp(res: Result, work: String, cores: Int, jvmStartMs: Long,
      extra: Map[String, String] = Map.empty)(prepare: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    for (round <- 1 to SetupRounds) {
      val t0 = if (round == 1) jvmStartMs.toDouble else System.currentTimeMillis.toDouble
      if (spark != null) spark.stop()
      spark = session(work, cores, extra)
      engine = new EngineListener(tracer.PropKey)
      spark.sparkContext.addSparkListener(engine)
      progress.clear()
      spark.streams.addListener(progress)
      prepare(spark)
      res.setupS += (System.currentTimeMillis - t0) / 1000.0
    }
    spark
  }

  /** Switches the second half of a traced run to tracing. */
  def startTracing(): Unit = {
    tracer = new Tracer(true)
    engine.traced = true
  }

  /** Hygiene between ops, outside any timed region, as graft.Bench does. */
  def cleanCaches(spark: SparkSession): Int = {
    val left = spark.sparkContext.getPersistentRDDs.size +
      (if (spark.sharedState.cacheManager.isEmpty) 0 else 1)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    left
  }

  // ---- engine layer ----------------------------------------------------

  def engineLayers(res: Result): Unit = {
    val passes = math.max(1, res.tracedPassS.size).toDouble
    val c = engine.total(engine.bySpan.keySet.asScala.map(_.longValue))
    val mb = 1024.0 * 1024.0
    res.layers("engine.jobs") = c.jobs / passes
    res.layers("engine.stages") = c.stages / passes
    res.layers("engine.tasks") = c.tasks / passes
    res.layers("engine.failed_tasks") = c.failedTasks / passes
    res.layers("engine.task_cpu_s") = c.taskCpuNs / 1e9 / passes
    res.layers("engine.gc_s") = c.gcMs / 1e3 / passes
    res.layers("engine.scheduler_delay_s") = c.schedDelayMs / 1e3 / passes
    res.layers("engine.shuffle_fetch_wait_s") = c.fetchWaitMs / 1e3 / passes
    res.layers("engine.shuffle_write_mb") = c.shuffleWriteB / mb / passes
    res.layers("engine.spill_mb") = c.spillB / mb / passes
    res.layers("engine.input_mb") = c.inputB / mb / passes
    res.layers("engine.output_mb") = c.outputB / mb / passes
    res.layers("engine.task_skew") =
      if (c.stageSkew.isEmpty) 1.0 else percentile(c.stageSkew, 0.9)
  }

  def writeSpans(path: String): Unit = {
    val rows = tracer.spans.synchronized(tracer.spans.toList).map { s =>
      val c = Option(engine.bySpan.get(s.id))
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ns" -> tracer.selfNs(s),
        "jobs" -> c.map(_.jobs).getOrElse(0L), "tasks" -> c.map(_.tasks).getOrElse(0L),
        "task_cpu_ns" -> c.map(_.taskCpuNs).getOrElse(0L)))
    }
    Files.write(Paths.get(path), rows.mkString("[", ",\n", "]").getBytes(UTF_8))
  }

  // ---- small helpers ---------------------------------------------------

  def medianOf(xs: Iterable[Double]): Double = percentile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, or the
    * largest sample when that percentile is not above the median
    * (`tail` in run.py). */
  def tailOf(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else if (s.size <= 20) s.last else s(s.size - 11)
  }

  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, (p * s.size).toInt))
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def props(path: String): java.util.Properties = {
    val p = new java.util.Properties
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    p
  }

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(x => rmrf(x.getPath)))
    f.delete()
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length else 0L
  }

  def allBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).map(_.map(x => allBytes(x.getPath)).sum).getOrElse(0L)
    else f.length
  }

  def listFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).map(_.toSeq.filter(_.isFile).sortBy(_.getName)).getOrElse(Nil)
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
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
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
