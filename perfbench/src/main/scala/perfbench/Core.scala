package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line options, as passed by `run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, cores: Int, workDir: File,
                      traceOut: File)

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, new File(need("workdir")),
      new File(need("trace-out")))
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What a workload reports. `setupS` is the workload's own set-up time
  * (input generation, staging, warm-up); session start is added by
  * [[Main]]. `e2e` are the gated end-to-end metrics, `info` the
  * workload-specific end-to-end figures printed beside them, `layers`
  * the per-layer metrics of a traced run. */
final case class Outcome(setupS: Double, e2e: Seq[Metric], info: Seq[Metric],
                         layers: Seq[Metric])

/** Counts every checked output and every timed operation; a failure is
  * counted, reported on stderr, and the run goes on. */
final class Checks {
  private val attempted = new AtomicLong
  private val failed = new AtomicLong

  def check(what: String)(ok: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val r = try ok catch { case e: Throwable =>
      System.err.println(s"[perfbench] check '$what' threw: $e"); false }
    if (!r) { failed.incrementAndGet(); System.err.println(s"[perfbench] CHECK FAILED: $what") }
    r
  }

  /** One attempted operation; an exception counts as a failure. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body) catch { case e: Throwable =>
      failed.incrementAndGet()
      System.err.println(s"[perfbench] operation '$what' failed: $e")
      e.printStackTrace()
      None
    }
  }

  /** Record `n` attempted operations of which `bad` failed. */
  def count(n: Long, bad: Long): Unit = { attempted.addAndGet(n); failed.addAndGet(bad) }

  def nAttempted: Long = attempted.get
  def nFailed: Long = failed.get
}

/** Spans (name, start, end, parent, run id) kept in memory and written
  * out as JSON lines when the run ends. Records only while `on`, which
  * a traced run sets around its traced section. */
final class Tracer(runId: String) {
  @volatile var on = false
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val s = System.nanoTime()
      try body finally {
        val e = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized { spans += Span(id, parent, name, s, e) }
      }
    }

  /** A span observed rather than wrapped (e.g. a streaming batch phase
    * reported by the engine's progress events). */
  def add(name: String, startNs: Long, endNs: Long, parent: Long = 0L): Long =
    if (!on) 0L else {
      val id = ids.incrementAndGet()
      spans.synchronized { spans += Span(id, parent, name, startNs, endNs) }
      id
    }

  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.synchronized {
      spans.foreach { s =>
        w.println(f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}""")
      }
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the `statistics.quantiles`
    * "inclusive" convention). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Engine- and JVM-wide counters read from outside the program: Spark
  * stage metrics through the program's `tools.StageMetrics` listener,
  * and the JVM's collector beans. */
final class Counters(spark: SparkSession) {
  private val sm = graft.tools.StageMetrics.attach(spark)

  final case class Snap(cpuS: Double, shuffleWriteB: Long, spillDiskB: Long,
                        tasks: Long, gcS: Double) {
    def -(o: Snap): Snap = Snap(cpuS - o.cpuS, shuffleWriteB - o.shuffleWriteB,
      spillDiskB - o.spillDiskB, tasks - o.tasks, gcS - o.gcS)
  }

  def snap(): Snap = {
    val st = sm.stages
    Snap(st.map(_.cpuMs).sum / 1000.0, st.map(_.shuffleWriteB).sum,
      st.map(_.spillDiskB).sum, st.map(_.numTasks.toLong).sum, Counters.gcSeconds())
  }
}

object Counters {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Heap in use after a full collection: the footprint the run keeps. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Timing {
  /** Run `body` again and again until `budgetS` seconds have passed (at
    * least once), with tracing set to `traced`. Each run is one attempted
    * operation; the ones that failed are counted and left out. */
  def repeat[R](ctx: Ctx, what: String, budgetS: Double, traced: Boolean)(body: => R): Seq[R] = {
    val reps = ArrayBuffer.empty[R]
    ctx.tracer.on = traced
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < budgetS) ctx.checks.op(what)(body).foreach(reps += _)
    reps.toSeq
  }

  def seconds[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }

  /** Materialise a plan into Spark's `noop` sink: every row is produced,
    * nothing is written. */
  def noop(df: DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())._2
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val checks = new Checks
  val tracer = new Tracer(s"${opts.workload}-seed${opts.seed}")
  val counters = new Counters(spark)
  def outPartitions: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt
}

/** Per-layer metric set: every traced run reports the same names, so a
  * layer a workload does not use reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.memtopic.produce_s" -> "s",
    "sources.memtopic.scan_s" -> "s",
    "sources.memtopic.sink_commit_s" -> "s",
    "functions.csvcodec.decode_s" -> "s",
    "operators.sorting.sort_s.id" -> "s",
    "operators.sorting.sort_s.name" -> "s",
    "operators.sorting.sort_s.continent" -> "s",
    "operators.sorting.shuffle_write_bytes" -> "bytes",
    "operators.sorting.spill_bytes" -> "bytes",
    "operators.sorting.partition_skew" -> "ratio",
    "streaming.batches" -> "count",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.wal_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "sources.memtopic.latest_offset_ms" -> "ms",
    "streaming.state_bytes" -> "bytes",
    "streaming.rows_dropped_late" -> "count",
    "sources.memtopic.backlog_rows" -> "count",
    "generator_lag_ms" -> "ms",
    "sources.connectors.read_s" -> "s",
    "operators.textanalysis.quality_s" -> "s",
    "operators.dedup.exact_s" -> "s",
    "plans.minhash.signatures_s" -> "s",
    "operators.dedup.pairs_s" -> "s",
    "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.pair_yield" -> "ratio",
    "operators.dedup.cc_rounds" -> "count",
    "operators.dedup.survivors_s" -> "s",
    "spark.cpu_s" -> "s",
    "spark.shuffle_bytes" -> "bytes",
    "spark.tasks" -> "count",
    "jvm.gc_s" -> "s",
    "trace.overhead_pct" -> "%")

  /** Fill the full set from a workload's measured subset. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unregistered layer metrics: $unknown")
    all.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
