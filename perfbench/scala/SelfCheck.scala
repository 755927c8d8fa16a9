package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.iot.{IotPipeline, Transforms}

/** Runs the program's CSV read and transform over a generated sample and
  * writes `uid, label, duration_sec, orig_bytes` per row as TSV, so the
  * self-tests can compare the generator's expectations with it.
  *
  * Usage: SelfCheck <csvDir> <out.tsv> <workDir> */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val Array(csv, out, work) = args
    val spark: SparkSession = Harness.session(work, 2)
    val rows = Transforms.transform(IotPipeline.readCsv(spark, csv))
      .select("uid", "label", "duration_sec", "orig_bytes").collect()
    val lines = rows.map { r =>
      def v(i: Int) = if (r.isNullAt(i)) "\\N" else r.get(i).toString
      Seq(v(0), v(1), v(2), v(3)).mkString("\t")
    }
    Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}
