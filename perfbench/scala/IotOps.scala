package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import Harness._

/** The IoT half of `ingest`: `RunDag.runDag` refresh cycles over the
  * generated conn.log CSV and seeded `uid` point lookups (hits and
  * misses) against the serving table each cycle loads. */
object IotOps {
  val Table = "iot_serving"
  val LookupsPerPass = 12

  final case class Lookup(uid: String, rows: Int, label: String,
      duration: Option[Double], origBytes: Option[Long])

  def readLookups(path: String): IndexedSeq[Lookup] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.map { line =>
      val f = line.split("\t", -1)
      def opt(s: String) = if (s == "\\N") None else Some(s)
      Lookup(f(0), f(1).toInt, f(2), opt(f(3)).map(_.toDouble), opt(f(4)).map(_.toLong))
    }

  /** Exactly the expected rows: none for a miss, one matching row for a hit. */
  def lookupOk(l: Lookup, rows: Array[Row]): Boolean =
    rows.length == l.rows && rows.forall { r =>
      r.getAs[String]("uid") == l.uid && r.getAs[String]("label") == l.label &&
        Option(r.getAs[Any]("duration_sec")).map(_.asInstanceOf[Double]) == l.duration &&
        Option(r.getAs[Any]("orig_bytes")).map(_.asInstanceOf[Long]) == l.origBytes
    }

  def lookup(spark: SparkSession, table: String, uid: String): Array[Row] =
    spark.table(table).where(col("uid") === uid).collect()

  /** Splits each traced cycle at the call sites of the jobs it ran. The
    * sorted write's jobs run on adaptive-execution threads and carry no
    * `graft` call site; the first job named after `RunDag.scala` is the
    * read-back of the store, which starts validation, and the positional
    * `insertInto` starts the serving load. */
  def layers(res: Result, hitRows: Long): Unit = {
    val build, write, validate, load = mutable.ArrayBuffer.empty[Double]
    tracer.spans.filter(_.name == "runDag").foreach { s =>
      val jobs = engine.jobsOf(s.id)
      if (jobs.nonEmpty) {
        build += (jobs.head.startMs - s.startMs).toDouble
        val (w, rest) = jobs.span(!_.callSite.contains("RunDag.scala"))
        val (v, l) = rest.span(!_.callSite.startsWith("insertInto"))
        def span(js: Seq[JobInfo]) =
          if (js.isEmpty) 0.0 else (js.map(_.endMs).max - js.map(_.startMs).min) / 1000.0
        write += span(w); validate += span(v); load += span(l)
      }
    }
    val lookupSpans = tracer.spans.filter(_.name == "lookup")
    val scanned = engine.total(lookupSpans.map(_.id)).inputRecords
    res.layers("iot.build_ms") = medianOf(build)
    res.layers("iot.sorted_write_s") = medianOf(write)
    res.layers("iot.validate_s") = medianOf(validate)
    res.layers("iot.serving_load_s") = medianOf(load)
    res.layers("iot.lookup_ms") = medianOf(lookupSpans.map(s => (s.endNs - s.startNs) / 1e6))
    res.layers("iot.lookup_rows_scanned_per_row_returned") =
      scanned.toDouble / math.max(1L, hitRows)
  }
}
