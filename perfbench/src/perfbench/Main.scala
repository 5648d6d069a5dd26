package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.Engine

/** What one run was asked to do. `bench` is the benchmark's own directory
  * (expected outputs live there); `work` is this run's scratch directory. */
final case class RunCtx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    bench: Path, work: Path, data: String, record: Boolean, sessionSecs: Double)

/** Everything a run reports. The end-to-end metrics every workload shares
  * and the per-layer metrics go to the result line; each workload's own
  * metric names and the notes are printed above it. */
final class Report {
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
  private val lines = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double): Unit = layerMetrics(name) = v
  def named(name: String, v: Double, unit: String, how: String = ""): Unit =
    lines += (if (v.isNaN) s"metric $name: $how" else
      f"metric $name = $v%.6f $unit" + (if (how.nonEmpty) s" ($how)" else ""))
  def note(name: String, text: String): Unit = lines += s"note $name: $text"
  def setCounts(a: Long, f: Long): Unit = { attempted = a; failed = f }

  def print(): Unit = {
    lines.foreach(println)
    println(f"metric error_rate = ${if (attempted > 0) failed.toDouble / attempted else 1.0}%.6f " +
      s"($failed failed of $attempted attempted)")
    val e = e2eMetrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val l = layerMetrics.map { case (k, v) => s""""$k":${num(v)}""" }
    // one line the launcher parses into the result object
    println(s"""PERFBENCH {"attempted":$attempted,"failed":$failed,"e2e":{${e.mkString(",")}},""" +
      s""""layers":{${l.mkString(",")}}}""")
  }
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p75/p90/p95/p99 with at least ten samples beyond it:
    * (percentile, value, samples beyond), or None. */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] =
    Seq(99, 95, 90, 75).map { p =>
      val beyond = xs.size - math.ceil(p / 100.0 * xs.size).toInt
      (p, beyond)
    }.find(_._2 >= 10).map { case (p, b) => (p, quantile(xs, p / 100.0), b) }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --bench <dir> --work <dir> --data <dir> [--record]`.
  * Prints notes and the workload's own metrics, then one `PERFBENCH {...}`
  * line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    require(workload == "batch_queries" || Cdc.shapes.contains(workload),
      s"unknown workload $workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val spark = Engine.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    val ctx = RunCtx(workload, opts("seed").toLong, opts("seconds").toInt,
      opts.get("trace").contains("1"), Paths.get(opts("bench")).toAbsolutePath, work,
      Paths.get(opts("data")).toAbsolutePath.toString, args.contains("--record"),
      sessionSecs)
    val out = new Report
    calib(spark) // untimed: the probe measures the machine, not JIT warm-up
    val calibStart = calib(spark)
    try {
      if (workload == "batch_queries") Batch.run(spark, ctx, out)
      else Cdc.run(spark, ctx, out)
    } finally {
      out.note("machine", f"calib_start_s=$calibStart%.3f calib_end_s=${calib(spark)}%.3f " +
        s"loadavg_start=[$loadStart] loadavg_end=[${loadavg()}] " +
        s"cores=${spark.sparkContext.defaultParallelism}")
      out.print()
      spark.stop()
    }
  }

  /** The `graft.Bench` calibration probe: a fixed 16M-row codegen'd sum. */
  def calib(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 24).selectExpr("sum((id % 65536) * (id % 63)) AS s")
      .queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }
}
