package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.EventStream
import Harness._

/** The event half of `ingest`: file-sourced events through
  * `EventStream.dedup`, `EventStream.tumblingHourly` and
  * `EventStream.statefulUserTotalsV2` on the RocksDB state store, as
  * three queries over one directory, plus the open-loop file lander. */
object EventStreamOps {
  val Sinks = Seq("dedup", "tumbling", "totals")
  val RocksDb = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  final case class Landing(name: String, dueMs: Long, landedMs: Long)

  /** Lands `pool` files into `dir` at `perSec`, each written under
    * `stage` first and renamed in, for at most `durationMs`. */
  final class OpenLoop(pool: Seq[File], stage: String, dir: String, perSec: Double,
      durationMs: Long) extends Thread("perfbench-open-loop") {
    val landed = mutable.ArrayBuffer.empty[Landing]
    @volatile var error: Option[Throwable] = None
    override def run(): Unit = try {
      Files.createDirectories(Paths.get(stage))
      val t0 = System.currentTimeMillis + 100
      val stepMs = 1000.0 / perSec
      pool.iterator.zipWithIndex.map { case (f, i) => (f, t0 + (i * stepMs).toLong) }
        .takeWhile(_._2 - t0 < durationMs)
        .foreach { case (f, due) =>
          val wait = due - System.currentTimeMillis
          if (wait > 0) Thread.sleep(wait)
          val staged = Paths.get(stage, f.getName)
          Files.copy(f.toPath, staged, StandardCopyOption.REPLACE_EXISTING)
          Files.move(staged, Paths.get(dir, f.getName), StandardCopyOption.ATOMIC_MOVE)
          landed += Landing(f.getName, due, System.currentTimeMillis)
        }
    } catch { case e: Throwable => error = Some(e) }
  }

  private val EntryRe = """"path":"([^"]+)".*?"batchId":(\d+)""".r

  /** Input file name -> batch id, from the file source's checkpoint log. */
  def batchOfFile(ckpt: String): Map[String, Long] =
    listFiles(s"$ckpt/sources/0").filterNot(_.getName.startsWith(".")).flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().flatMap(l => EntryRe.findFirstMatchIn(l))
        .map(m => new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong)
    }.toMap

  /** Batch id -> wall time (ms) at which the batch finished. */
  def batchEndMs(q: StreamingQuery): Map[Long, Long] =
    progress.snapshot.filter(_.runId == q.runId).map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).longValue)
    }.toMap

  /** The three queries over `in`, one checkpoint each under `dir`. */
  def start(spark: SparkSession, in: String, dir: String, trigger: Trigger,
      tag: String): Seq[StreamingQuery] = {
    def src = EventStream.readEventsStream(spark, in)
    def parquet(df: DataFrame, sink: String) = df.writeStream.format("parquet")
      .option("path", s"$dir/$sink").option("checkpointLocation", s"$dir/ckpt_$sink")
      .trigger(trigger).start()
    Seq(parquet(EventStream.dedup(src), "dedup"),
      parquet(EventStream.tumblingHourly(src), "tumbling"),
      EventStream.toMemorySink(EventStream.statefulUserTotalsV2(src), s"totals_$tag",
        OutputMode.Update()).option("checkpointLocation", s"$dir/ckpt_totals")
        .trigger(trigger).start())
  }

  /** What the three sinks must hold after reading every file in `in`:
    * a batch computation over the same files. */
  final case class Expected(rows: Long, ids: Long, totals: Map[Long, (Long, Double)],
      windows: Map[(String, String), (Long, Double)])

  private def byUser(df: DataFrame) = df.collect()
    .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
  private val windowKey = (r: Row) => (r.get(0).toString, r.getString(1))

  def expected(spark: SparkSession, in: String): Expected = {
    val raw = spark.read.parquet(in)
    Expected(raw.count(), raw.select("event_id").distinct().count(),
      byUser(raw.groupBy("user_id").agg(count(lit(1)), sum("value"))),
      graft.queries.EventOps.tumblingHourly(
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))).collect()
        .map(r => windowKey(r) -> (r.getLong(2), r.getDouble(3))).toMap)
  }

  /** Checks the three sinks under `dir` against `want`, for `rows`
    * landed input rows. Returns the problems found, if any. */
  def verify(spark: SparkSession, want: Expected, dir: String, tag: String, rows: Long,
      drain: Boolean): Option[String] = {
    if (want.rows != rows) return Some(s"read ${want.rows} input rows, landed $rows")
    val problems = mutable.ArrayBuffer.empty[String]
    // dedup: exactly the distinct event ids, once each
    val dd = spark.read.parquet(s"$dir/dedup")
    val (n, nd) = (dd.count(), dd.select("event_id").distinct().count())
    if (n != want.ids || nd != n)
      problems += s"dedup emitted $n rows ($nd distinct), expected ${want.ids}"
    // user totals: the last update per user equals the batch totals
    val got = byUser(spark.table(s"totals_$tag").groupBy("user_id")
      .agg(max("n_events"), max_by(col("total_value"), col("n_events"))))
    val wrong = want.totals.count { case (u, (wn, wv)) =>
      !got.get(u).exists { case (gn, gv) =>
        gn == wn && math.abs(gv - wv) <= 1e-6 * math.max(1.0, math.abs(wv))
      }
    }
    if (wrong > 0 || got.size != want.totals.size)
      problems += s"user totals: $wrong of ${want.totals.size} users wrong, ${got.size} emitted"
    // tumbling: every emitted (closed) window equals the batch aggregate
    val tw = spark.read.parquet(s"$dir/tumbling").collect()
    val twBad =
      tw.count(r => !want.windows.get(windowKey(r)).contains((r.getLong(2), r.getDouble(3))))
    if (twBad > 0 || tw.map(windowKey).distinct.length != tw.length || (drain && tw.isEmpty))
      problems += s"tumbling: $twBad of ${tw.length} windows wrong"
    spark.sql(s"DROP VIEW IF EXISTS totals_$tag")
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  /** Streaming and state-store counters from the traced half's progress. */
  def layers(res: Result): Unit = {
    val ps = progress.snapshot.filter(_.numInputRows > 0)
    def dur(k: String) = medianOf(ps.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    res.layers("streaming.batches") = ps.size.toDouble
    res.layers("streaming.rows_per_batch") =
      if (ps.isEmpty) 0.0 else ps.map(_.numInputRows).sum.toDouble / ps.size
    Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "addBatch_ms",
      "queryPlanning" -> "queryPlanning_ms", "latestOffset" -> "latestOffset_ms",
      "walCommit" -> "walCommit_ms", "commitOffsets" -> "commitOffsets_ms")
      .foreach { case (k, name) => res.layers(s"streaming.$name") = dur(k) }
    val st = progress.snapshot.flatMap(_.stateOperators.toSeq)
    res.layers("state.rows_total") = st.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    res.layers("state.memory_mb") =
      st.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0) / 1048576.0
    res.layers("state.commit_ms") = medianOf(st.map(_.commitTimeMs.toDouble))
    res.layers("state.rows_removed") = st.map(_.numRowsRemoved.toDouble).sum
    res.layers("state.rows_dropped_late") = st.map(_.numRowsDroppedByWatermark.toDouble).sum
  }
}
