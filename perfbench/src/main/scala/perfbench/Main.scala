package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics. Lines starting `metric `
  * name a metric with its value and unit; the line starting `result `
  * carries the JSON that `run.py` prints last. */
object Main {
  private def json(ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${jsonNum(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val workload: Ctx => Outcome = opts.workload match {
      case "topic_sort" => TopicSort.run
      case "stream_window" => StreamWindow.run
      case "corpus_dedup" => CorpusDedup.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    opts.workDir.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.local.dir", new java.io.File(opts.workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(opts.workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM start to a ready session, measured once per run.
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val ctx = new Ctx(spark, opts)
    val out = try workload(ctx) finally ctx.tracer.on = false
    val setup = Metric("setup_s", sessionS + out.setupS, "s")
    System.err.println(f"[perfbench] setup: session $sessionS%.3f s, workload ${out.setupS}%.3f s")
    val errorRate = ctx.checks.nFailed.toDouble / math.max(1L, ctx.checks.nAttempted)
    val shown = (setup +: out.e2e) ++ out.info ++ Seq(
      Metric("error_rate", errorRate, "ratio"),
      Metric("attempted", ctx.checks.nAttempted.toDouble, "count"))
    shown.foreach(m => println(s"metric ${m.name} ${m.value} ${m.unit}"))
    val reported =
      if (opts.trace) {
        val layers = Layers.complete(out.layers)
        layers.foreach(m => println(s"metric ${m.name} ${m.value} ${m.unit}"))
        ctx.tracer.write(opts.traceOut)
        layers
      } else setup +: out.e2e
    println(s"""result {"correct": ${ctx.checks.nFailed == 0}, "attempted": ${ctx.checks.nAttempted}, """ +
      s""""failed": ${ctx.checks.nFailed}, "metrics": ${json(reported)}}""")
    System.out.flush()
    spark.stop()
  }
}
