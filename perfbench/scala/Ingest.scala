package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.iot.RunDag
import Harness._
import IotOps.{lookup, lookupOk, readLookups, LookupsPerPass, Table}
import EventStreamOps.{batchEndMs, batchOfFile, expected, start, verify, OpenLoop, Sinks}

/** `ingest`: the pipeline's two ingest paths in one session.
  *
  * One pass is one `RunDag.runDag` refresh of the conn.log serving store,
  * [[IotOps.LookupsPerPass]] seeded `uid` lookups against it, and one
  * `AvailableNow` drain of the staged event backlog through the three
  * stateful event queries; `pass_s` times the refresh plus the drain, and
  * the lookups are the latency samples. After the passes an open loop
  * lands event files at a fixed rate below the drain rate; each (file,
  * sink) pair gives one freshness sample, from when the file was due to
  * the end of the micro-batch that read it. */
object Ingest {

  /** One pass (refresh + drain) on a 4-core machine, in seconds. */
  val NominalPassS = 6.0
  /** Untimed passes before the timed ones. */
  val WarmPasses = 1
  /** Share of a traced run's seconds given to the open loop. */
  val OpenLoopShare = 0.2
  /** Long enough to land the files for a freshness tail at 2 files/s. */
  val MinOpenLoopS = 4.0

  def run(res: Result, inputs: String, work: String, seconds: Double, traced: Boolean,
      jvmStartMs: Long, cores: Int): SparkSession = {
    val iot = props(s"$inputs/iot/expected.properties")
    def expect(k: String) = iot.getProperty(k).toLong
    val ev = props(s"$inputs/events/expected.properties")
    val rowsPerFile = ev.getProperty("rows_per_file").toLong
    val perSec = ev.getProperty("files_per_s").toDouble
    val keys = readLookups(s"$inputs/iot/lookups.tsv")
    // set-up: session build, then the three event streams started and
    // fed one file
    val spark = setUp(res, work, cores, jvmStartMs, EventStreamOps.RocksDb) { s =>
      start(s, s"$inputs/events/warm", s"$work/warm", Trigger.AvailableNow(), "w")
        .foreach(_.awaitTermination())
      rmrf(s"$work/warm")
    }
    val sc = spark.sparkContext
    val csv = s"$inputs/iot/csv"
    val store = s"$work/store"
    val backlog = s"$inputs/events/backlog"
    val eventRows = listFiles(backlog).size * rowsPerFile
    val pool = listFiles(s"$inputs/events/live")
    // the backlog is the same every pass, so its batch computation runs once
    lazy val backlogWant = expected(spark, backlog)
    res.rowsPerPass = expect("rows") + eventRows
    var op = 0L
    var nextLookup = 0
    var hitRows = 0L
    val drainedBytes = mutable.ArrayBuffer.empty[Double]
    val freshMs = mutable.ArrayBuffer.empty[Double]

    def refresh(): Option[Double] = {
      val (report, ms) = timed(Try(tracer.span(sc, "runDag", "iot", op) {
        RunDag.runDag(spark, csv, store, Table)
      }))
      val ok = report match {
        case Success(r) =>
          val ok = r.rowsWritten == expect("rows") && r.servingCount == expect("rows") &&
            r.nullDurations == expect("null_durations") &&
            r.maliciousRows == expect("malicious_rows")
          res.op(ok, s"runDag report $r does not match $iot")
          ok
        case Failure(e) => res.op(false, s"runDag threw ${e.getMessage}"); false
      }
      if (ok) Some(ms) else None
    }

    def lookups(n: Int): Unit = for (_ <- 0 until n) {
      val l = keys(nextLookup % keys.size)
      nextLookup += 1
      val (rows, ms) = timed(Try(tracer.span(sc, "lookup", "iot", op) {
        lookup(spark, Table, l.uid)
      }))
      val ok = rows.toOption.exists(lookupOk(l, _))
      res.op(ok, s"lookup ${l.uid}: ${rows.map(_.mkString(";"))}")
      if (ok) {
        res.latMs += ms
        if (tracer.enabled) hitRows += l.rows
      }
    }

    def drain(): Option[Double] = {
      val dir = s"$work/drain$op"
      val (qs, ms) = timed(Try(tracer.span(sc, "drain", "streaming", op) {
        val qs = start(spark, backlog, dir, Trigger.AvailableNow(), s"d$op")
        qs.foreach(_.awaitTermination())
      }))
      val ok = qs match {
        case Success(_) =>
          val bad = verify(spark, backlogWant, dir, s"d$op", eventRows, drain = true)
          res.op(bad.isEmpty, s"drain $op: ${bad.getOrElse("")}")
          drainedBytes += dirBytes(s"$dir/dedup").toDouble
          bad.isEmpty
        case Failure(e) => res.op(false, s"drain $op threw ${e.getMessage}"); false
      }
      rmrf(dir)
      if (ok) Some(ms) else None
    }

    def openLoop(budgetS: Double): Unit = {
      op += 1
      val dir = s"$work/live$op"
      val in = s"$dir/in"
      Files.createDirectories(Paths.get(in))
      Try(tracer.span(sc, "open_loop", "streaming", op) {
        start(spark, in, dir, Trigger.ProcessingTime(0L), s"l$op")
      }) match {
        case Failure(e) => res.op(false, s"open loop $op threw ${e.getMessage}")
        case Success(qs) =>
          val gen = new OpenLoop(pool, s"$dir/stage", in, perSec, (budgetS * 1000).toLong)
          gen.start()
          gen.join()
          val drained = Try(qs.foreach(_.processAllAvailable()))
          qs.foreach(_.stop())
          val ends = Sinks.zip(qs).map { case (sink, q) =>
            val b = batchOfFile(s"$dir/ckpt_$sink")
            val e = batchEndMs(q)
            (name: String) => b.get(name).flatMap(e.get)
          }
          val landed = gen.landed.toSeq
          val bad = gen.error.map(e => s"generator: $e")
            .orElse(drained.failed.toOption.map(e => s"stream: ${e.getMessage}"))
            .orElse(verify(spark, expected(spark, in), dir, s"l$op", landed.size * rowsPerFile,
              drain = false))
          val commitAt = landed.map { l =>
            val fresh = ends.map(_(l.name).map(_ - l.dueMs))
            fresh.foreach { f =>
              val ok = f.isDefined && bad.isEmpty
              res.op(ok, s"open loop $op file ${l.name}: ${bad.getOrElse("never committed")}")
              if (ok && tracer.enabled) freshMs += f.get.toDouble
            }
            l.dueMs + fresh.flatten.maxOption.getOrElse(0L)
          }
          if (tracer.enabled) {
            res.layers("streaming.generator_late_ms") =
              landed.map(l => (l.landedMs - l.dueMs).toDouble).maxOption.getOrElse(0.0)
            res.layers("streaming.backlog_files_max") = landed.indices.map { i =>
              landed.indices.count(j => landed(j).landedMs <= landed(i).landedMs &&
                commitAt(j) > landed(i).landedMs)
            }.maxOption.getOrElse(0).toDouble
            res.layers("streaming.checkpoint_mb") =
              Sinks.map(s => allBytes(s"$dir/ckpt_$s")).sum / 1048576.0
          }
      }
      rmrf(dir)
    }

    def phase(count: Int, passes: mutable.ArrayBuffer[Double]): Unit =
      for (_ <- 1 to count) {
        op += 1
        val r = refresh()
        lookups(LookupsPerPass)
        val d = drain()
        for (a <- r; b <- d) passes += (a + b) / 1000.0
      }

    // untimed warm passes: the first also creates the serving table, and
    // the timed passes then start on a warmer JIT and heap
    for (i <- 1 to WarmPasses) {
      RunDag.runDag(spark, csv, store, Table)
      keys.take(4).foreach(l => lookup(spark, Table, l.uid))
      start(spark, backlog, s"$work/warm$i", Trigger.AvailableNow(), s"warm$i")
        .foreach(_.awaitTermination())
      rmrf(s"$work/warm$i")
    }

    // freshness is a per-layer metric, so only the traced run lands files
    val count = passCount(seconds, NominalPassS)
    if (!traced) phase(count, res.passS)
    else {
      phase(count / 2, res.passS)
      startTracing()
      progress.clear()
      phase(count - count / 2, res.tracedPassS)
      openLoop(math.max(MinOpenLoopS, seconds * OpenLoopShare))
      IotOps.layers(res, hitRows)
      EventStreamOps.layers(res)
      res.layers("streaming.freshness_p50_ms") = medianOf(freshMs)
      res.layers("streaming.freshness_tail_ms") = tailOf(freshMs)
    }
    res.extra("iot_stored_bytes") = dirBytes(store)
    res.extra("iot_input_bytes") = expect("csv_bytes")
    res.extra("events_stored_bytes") = medianOf(drainedBytes)
    res.extra("events_input_bytes") = ev.getProperty("backlog_bytes").toLong
    res.extra("store_dir") = s"$work/warehouse/$Table"
    spark
  }
}
