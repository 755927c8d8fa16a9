package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import Harness._

/** `query_mix`: a closed loop with one client; each op runs one registry
  * query into the `noop` sink. An untimed verification pass first writes
  * every query's result as parquet, which `run.py` compares with the
  * query's DuckDB oracle; it also warms each query's code paths. */
object QueryMixRun {

  /** The analytic mix, in pass order: one query from each of seven
    * registry modules, short planning-bound ones and the iterative
    * q114 (IterBarrier). */
  val QueryMix: Seq[String] = Seq(
    "q01_pricing_summary", "q24_json_extract", "q45_ngram_jaccard", "q136_span_dedup",
    "q114_pagerank", "q109_data_quality", "q82_higher_order")

  /** One pass over the mix on a 4-core machine, in seconds. */
  val NominalPassS = 6.0

  /** Registry module of each query, for the per-module layer times. */
  lazy val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "EventOps" -> graft.queries.EventOps.queries,
    "TextOps" -> graft.queries.TextOps.queries,
    "VectorOps" -> graft.queries.VectorOps.queries,
    "MultimodalOps" -> graft.queries.MultimodalOps.queries,
    "ExtendedOps" -> graft.queries.ExtendedOps.queries,
    "SqlOps" -> graft.queries.SqlOps.queries,
    "CorpusOps" -> graft.queries.CorpusOps.queries,
    "WarehouseOps" -> graft.queries.WarehouseOps.queries,
    "MlOps" -> graft.queries.MlOps.queries,
    "CurationPipeline" -> graft.pipelines.CurationPipeline.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** graft.Bench's warm-up: parquet reader, codegen, shuffle, broadcast,
    * window, generator and higher-order paths. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
    li.groupBy("l_returnflag").count()
      .join(broadcast(li.select("l_returnflag").distinct()), "l_returnflag")
      .orderBy("l_returnflag").write.format("noop").mode("overwrite").save()
    val w = Window.partitionBy("l_returnflag").orderBy("l_orderkey")
    li.select(col("l_returnflag"), col("l_orderkey"), row_number().over(w).as("rn"),
      sum(col("l_quantity")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("rs"))
      .write.format("noop").mode("overwrite").save()
    li.select(explode(split(regexp_replace(
      concat_ws(" ", col("l_returnflag"), col("l_orderkey").cast("string")),
      "\\s+", " "), " ")).as("t"))
      .groupBy("t").count()
      .select(col("t"), col("count"),
        aggregate(sequence(lit(1), lit(4)), lit(0L), (a, x) => a + x).as("s"))
      .write.format("noop").mode("overwrite").save()
  }

  def run(res: Result, inputs: String, work: String, seconds: Double, traced: Boolean,
      jvmStartMs: Long, cores: Int): SparkSession = {
    val dir = s"$inputs/tables"
    val resolveMs = mutable.LinkedHashMap.empty[String, Double]
    val spark = setUp(res, work, cores, jvmStartMs) { s =>
      warmUp(s, dir)
      Tables.names.foreach { n =>
        resolveMs(n) = timed(
          (if (n == "events") Tables.events(s, dir) else Tables(s, dir, n)).schema)._2
      }
    }
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"$work/oracle_sql.json"),
      Json.obj(QueryMix.flatMap(q => oracle.get(q).map(q -> _))).getBytes(UTF_8))

    // untimed verification pass: each result lands as parquet for run.py
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    QueryMix.foreach { q =>
      Try(registry(q)(spark, dir).write.parquet(s"$work/verify/$q"))
        .failed.foreach(e => verifyErrors(q) = String.valueOf(e.getMessage).take(300))
      cleanCaches(spark)
    }

    val ops = mutable.ArrayBuffer.empty[Seq[(String, Any)]]
    val passRows = mutable.ArrayBuffer.empty[Long]
    var op = 0L
    var pass = 0
    var blocksLeft = 0L
    def onePass(passes: mutable.ArrayBuffer[Double]): Unit = {
      pass += 1
      var total = 0.0
      val rows0 = engine.inputRecords.get
      QueryMix.foreach { q =>
        op += 1
        val (ok, ms) = timed(Try(tracer.span(sc, q, "queries", op) {
          val df = tracer.span(sc, "build", "queries", op)(registry(q)(spark, dir))
          if (tracer.enabled) tracer.span(sc, "plan", "plans", op)(df.queryExecution.executedPlan)
          df.write.format("noop").mode("overwrite").save()
        }).isSuccess)
        if (ok) total += ms
        ops += Seq("pass" -> pass, "q" -> q, "ms" -> (if (ok) ms else -1.0),
          "traced" -> tracer.enabled)
        val left = cleanCaches(spark)
        if (tracer.enabled) blocksLeft += left
      }
      passes += total / 1000.0
      if (!tracer.enabled) passRows += engine.inputRecords.get - rows0
    }
    def phase(count: Int, passes: mutable.ArrayBuffer[Double]): Unit =
      for (_ <- 1 to count) onePass(passes)

    val count = passCount(seconds, NominalPassS)
    if (!traced) phase(count, res.passS)
    else {
      phase(count / 2, res.passS)
      startTracing()
      phase(count - count / 2, res.tracedPassS)
      val passes = math.max(1, res.tracedPassS.size).toDouble
      val spans = tracer.spans.toList
      val builds = spans.filter(_.name == "build")
      res.layers("queries.build_ms") = medianOf(builds.map(s => (s.endNs - s.startNs) / 1e6))
      res.layers("queries.build_jobs") = engine.total(builds.map(_.id)).jobs / passes
      QueryMix.map(moduleOf).distinct.foreach { m =>
        res.layers(s"queries.${m}_s") = spans
          .filter(s => s.layer == "queries" && moduleOf.get(s.name).contains(m))
          .map(s => (s.endNs - s.startNs) / 1e9).sum / passes
      }
      res.layers("plans.plan_ms") =
        medianOf(spans.filter(_.name == "plan").map(s => (s.endNs - s.startNs) / 1e6))
      res.layers("operators.persisted_blocks_left") = blocksLeft / passes
      res.layers("Tables.resolve_ms") = resolveMs.values.sum
    }
    res.extra("ops") = ops.map(_.toMap)
    res.extra("pass_rows") = passRows
    res.extra("verify_errors") = verifyErrors
    spark
  }
}
