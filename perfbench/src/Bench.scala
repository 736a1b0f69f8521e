package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The benchmark's single process: one closed loop, one op at a time,
  * on `local[N]`. Usage:
  *
  * {{{
  * perfbench.Bench --workload diff_tall|ingest --seed N
  *   --seconds S --trace 0|1 --work DIR --spans FILE [--inject KIND]
  * }}}
  *
  * Prints one JSON object as the last line of stdout: with `--trace 0`
  * the end-to-end metrics, with `--trace 1` the per-layer ones.
  * `--inject` corrupts a result before it is checked, to show the
  * check fails (diff: `summary`, `cells`; ingest: `count`, `dup`,
  * `seq`, `shard`).
  */
object Bench {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, spans: File, inject: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("spans")), m.get("inject"))
  }

  def tallShape: DiffShape = DiffShape("tall", 1500000L, 7,
    Seq("int", "long", "double", "string", "date", "int", "string"),
    nullPct = 10, changeBp = 75, checked = Seq(0, 2, 3, 4))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Set("diff_tall", "ingest")(o.workload), s"unknown workload ${o.workload}")
    // the tracer finds a module by its frames in the call stacks Spark
    // records, which it cuts to 20 frames by default
    if (o.trace) System.setProperty("spark.callstack.depth", "1000")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val warehouse = new File(o.work, "warehouse")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.local.dir", new File(o.work, "local").getAbsolutePath)
      .getOrCreate()
    System.err.println(f"perfbench: session ready ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after JVM start")
    val wl: Workload = o.workload match {
      case "diff_tall" => new DiffWorkload(spark, tallShape, o.seed, warehouse, o.inject)
      case "ingest" => new IngestWorkload(spark, o.seed, maxFilesPerBucket = 3, docsPerBatch = 300,
        o.seconds, warehouse, o.inject)
    }
    try {
      wl.setup()
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val tracer = if (o.trace) Some(new Tracer(spark, Layers.ByCallSite)) else None
      // a traced run compares counters across at least two iterations
      val minIters = math.max(wl.minIterations, if (o.trace) 2 else 1)
      val ops = scala.collection.mutable.ArrayBuffer.empty[Seq[OpResult]]
      var i = 0
      def timedSum = ops.flatten.map(_.seconds).filterNot(_.isNaN).sum
      while (ops.size < minIters || (ops.size < wl.maxIterations && timedSum < o.seconds)) {
        val r = try wl.iteration(i, tracer) catch {
          case e: Exception =>
            e.printStackTrace()
            Seq(OpResult(Double.NaN, 0L, ok = false))
        }
        System.err.println(s"perfbench: iteration $i: " + r.map(x => f"${x.seconds}%.3f").mkString(" "))
        ops += r
        i += 1
      }
      val all = ops.flatten.toSeq
      val failed = all.count(!_.ok)
      val timed = all.filterNot(_.seconds.isNaN)
      val metrics: Seq[(String, Double, String)] = tracer match {
        case None => Seq(
          ("setup_s", setupS, "s"),
          ("op_s", median(timed.map(_.seconds)), "s"),
          ("rows_per_s", timed.map(_.rows).sum / timed.map(_.seconds).sum, "rows/s"),
          ("out_bytes_per_in_byte", wl.outBytesPerInByte, "ratio"))
        case Some(t) =>
          t.stop()
          Layers.metrics(t, wl.layerMetrics + ("process.peak_rss_mb" -> vmHwmMb()), o.spans)
      }
      val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
        s""""metrics": {${body.mkString(", ")}}}""")
    } finally {
      wl.cleanup()
      spark.stop()
    }
  }
}
