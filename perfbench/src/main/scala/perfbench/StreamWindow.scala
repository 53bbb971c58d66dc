package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StringType}

import graft.functions.CsvCodec
import graft.sources.{MemTopic, MemTopicStreamSource}
import graft.streaming.Streaming

/** Growable primitive long array. */
final class LongBuf {
  private var a = new Array[Long](1 << 14)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def apply(i: Int): Long = a(i)
  def length: Int = n
}

/** Single-threaded open-loop event generator. Event `i` of a phase is
  * due at `start + i / rate`; the schedule never waits for the engine.
  * Each record's due time is kept by (partition, offset), so latency is
  * measured from when the event was due, and the generator's own lateness
  * is recorded as lag. About 3% of events are redelivered a little later
  * on another partition (same line), for the stream's dedup to drop. */
final class EventGen(topic: String, seed: Long, val parts: Int, tracer: Tracer) {
  import EventGen._
  private val r = new SplittableRandom(seed)
  private val nanos0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  /** Due time of each appended record, by partition and offset. */
  val due: Array[LongBuf] = Array.fill(parts)(new LongBuf)
  /** Distinct events by id: event time, type, value. */
  val tsMs = new LongBuf
  val typ = new LongBuf
  val value = new LongBuf
  /** Ids of the events redelivered so far (each adds one more record). */
  val redelivered = new LongBuf
  @volatile var appended = 0L
  val lagNs = new LongBuf
  /** Redeliveries waiting to be sent: (due sequence number, partition, id, line). */
  private var pending = List.empty[(Long, Int, Long, String)]

  /** Run one phase at `rate` events/s for `seconds`; returns its
    * [start, end) due-time window in nanos. */
  def phase(rate: Double, seconds: Double): (Long, Long) = {
    val total = (rate * seconds).toLong
    val start = System.nanoTime()
    val step = 1e9 / rate
    var i = 0L
    val chunk = Array.fill(parts)(ArrayBuffer.empty[String])
    val chunkDue = Array.fill(parts)(ArrayBuffer.empty[Long])
    while (i < total) {
      val now = System.nanoTime()
      val dueCount = math.min(total, ((now - start) / step).toLong + 1)
      if (dueCount <= i) LockSupport.parkNanos(start + (i * step).toLong - now)
      else {
        while (i < dueCount) {
          val d = start + (i * step).toLong
          val id = tsMs.length.toLong
          // event time trails creation by up to 500 ms: out of order, never late
          val ts = epochMs0 + (d - nanos0) / 1000000L - r.nextInt(500)
          val ti = pickType(r.nextInt(100))
          val v = r.nextInt(1000).toLong
          tsMs += ts; typ += ti; value += v
          val line = s"$id,$ts,${Types(ti)},$v"
          val p = (id % parts).toInt
          chunk(p) += line; chunkDue(p) += d
          if (r.nextInt(100) < 3) pending = (id + 20 + r.nextInt(200), (p + 1) % parts, id, line) :: pending
          i += 1
        }
        val (ready, later) = pending.partition(_._1 < tsMs.length)
        pending = later
        ready.foreach { case (_, p, id, line) =>
          chunk(p) += line; chunkDue(p) += start + ((i - 1) * step).toLong; redelivered += id
        }
        val emitted = System.nanoTime()
        tracer.span("sources.memtopic.append")((0 until parts).foreach { p =>
          if (chunk(p).nonEmpty) {
            chunkDue(p).foreach { d => due(p) += d; lagNs += emitted - d }
            MemTopic.append(topic, p, chunk(p))
            appended += chunk(p).length
            chunk(p).clear(); chunkDue(p).clear()
          }
        })
      }
    }
    (start, start + (total * step).toLong)
  }

  /** Expected (window start ms, type) -> (count, sum of value) over every
    * record appended, redeliveries included, recomputed without the engine. */
  def expectedWindows(windowMs: Long): Map[(Long, String), (Long, Long)] = {
    val m = scala.collection.mutable.Map.empty[(Long, String), (Long, Long)]
    def add(i: Int): Unit = {
      val k = (Math.floorDiv(tsMs(i), windowMs) * windowMs, Types(typ(i).toInt))
      val (n, s) = m.getOrElse(k, (0L, 0L))
      m(k) = (n + 1, s + value(i))
    }
    (0 until tsMs.length).foreach(add)
    (0 until redelivered.length).foreach(j => add(redelivered(j).toInt))
    m.toMap
  }
}

object EventGen {
  val Types: Array[String] = Array("view", "click", "cart", "buy", "search", "share", "like", "rate")
  // Skewed type mix: view 40%, click 20%, the rest share 40%.
  private def pickType(u: Int): Int =
    if (u < 40) 0 else if (u < 60) 1 else 2 + (u - 60) % 6
}

/** `stream_window`: an open-loop generator appends timestamped CSV events
  * to a topic while two Structured Streaming queries read it: watermarked
  * windowed counts (`Streaming.windowedCounts`, update mode) and
  * watermarked dedup of redelivered events (`Streaming.dedupStream`,
  * append mode), each into a sink the benchmark owns. (The program's two
  * operators each define a watermark, so they cannot be chained in one
  * query.) An event is done when both sinks have committed it. Latency is
  * measured at a fixed rate; a short ladder of rates then finds the
  * highest sustained one. */
object StreamWindow {
  /** Offered load of the fixed-rate phase, events/s. */
  val Rate = 10000.0
  /** Rates tried after the fixed phase (its own rate is the first rung),
    * events/s, each for `RungSeconds`. */
  val Ladder: Seq[Double] = Seq(20000.0, 40000.0)
  val RungSeconds = 3.0
  /** p99 latency limit a rung must meet to count as sustained. */
  val P99LimitMs = 4000.0
  val WindowMs = 2000L
  /** Both queries start a micro-batch every `TriggerMs` (sooner only when
    * the previous one overran), so batch sizes do not feed back on batch
    * durations. */
  val TriggerMs = 1000L
  private val Watermark = "5 seconds"
  private val Parts = 3

  /** A sink the benchmark owns: `consume` takes each batch's rows, then
    * the batch's commit time is recorded. */
  final class Sink(name: String, tracer: Tracer, consume: DataFrame => Unit) {
    val commitNs = new ConcurrentHashMap[Long, Long]()
    def write(batch: DataFrame, id: Long): Unit = tracer.span(s"stream_window.sink.$name") {
      consume(batch)
      commitNs.put(id, System.nanoTime())
    }
  }

  /** Latest (count, sum) per (window start ms, type). */
  final class WindowTable {
    val table = new ConcurrentHashMap[(Long, String), (Long, Long)]()
    def consume(b: DataFrame): Unit =
      b.select(unix_millis(col("window_start")), col("event_type"), col("n"), col("sum_value"))
        .collect().foreach(r => table.put((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
  }

  /** How often each event id was emitted by the dedup query. */
  final class IdCounts {
    val seen = new ConcurrentHashMap[Long, Int]()
    def consume(b: DataFrame): Unit =
      b.select(col("event_id")).collect().foreach(r => seen.merge(r.getLong(0), 1, _ + _))
  }

  final case class Progress(query: java.util.UUID, batchId: Long, start: Seq[Long], end: Seq[Long],
                            durations: Map[String, Long], stateBytes: Long, dropped: Long,
                            stateCommitMs: Long, backlog: Long, atNs: Long)

  final class Listener(g: EventGen) extends StreamingQueryListener {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    private def offsets(json: String): Seq[Long] =
      if (json == null || json.trim.isEmpty || json == "null") Seq.fill(g.parts)(0L)
      else json.trim.stripPrefix("[").stripSuffix("]").split(",").filter(_.nonEmpty).map(_.trim.toLong).toSeq
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.sources.isEmpty) return
      val end = offsets(p.sources(0).endOffset)
      progress.add(Progress(p.id, p.batchId, offsets(p.sources(0).startOffset), end,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.memoryUsedBytes).sum,
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        p.stateOperators.map(_.commitTimeMs).sum,
        g.appended - end.sum, System.nanoTime()))
    }
    def of(q: StreamingQuery): Seq[Progress] =
      progress.asScala.filter(_.query == q.id).toSeq.sortBy(_.batchId)
  }

  private def startQueries(spark: SparkSession, topic: String, ckpt: File,
                           windows: Sink, dedup: Sink): Seq[(StreamingQuery, Sink)] = {
    def events = CsvCodec.decode(MemTopicStreamSource(topic).loadStream(spark), col("line"),
      Seq("event_id" -> LongType, "ts_ms" -> LongType, "event_type" -> StringType, "value" -> LongType))
    val qw = Streaming.windowedCounts(events, "ts_ms", Watermark, s"${WindowMs / 1000} seconds")
      .writeStream.outputMode("update").trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", new File(ckpt, "windows").getPath)
      .foreachBatch((b: DataFrame, id: Long) => windows.write(b, id))
      .start()
    val qd = Streaming.dedupStream(events, Seq("event_id"), "ts_ms", Watermark)
      .select("event_id")
      .writeStream.outputMode("append").trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", new File(ckpt, "dedup").getPath)
      .foreachBatch((b: DataFrame, id: Long) => dedup.write(b, id))
      .start()
    Seq(qw -> windows, qd -> dedup)
  }

  /** Wait until every query has committed every appended record. */
  private def drain(listener: Listener, qs: Seq[StreamingQuery], gen: EventGen, timeoutS: Double): Boolean = {
    val until = System.nanoTime() + (timeoutS * 1e9).toLong
    def done = qs.forall(q => listener.of(q).exists(_.end.sum == gen.appended))
    while (!done && System.nanoTime() < until) Thread.sleep(20)
    done
  }

  /** Commit time of every record, by partition and offset: the latest
    * over the queries of the commit of the batch whose offset range holds
    * it; -1 while some query has not committed it. */
  private def commitTimes(gen: EventGen, runs: Seq[(Seq[Progress], Sink)]): Array[Array[Long]] =
    Array.tabulate(gen.parts) { p =>
      val n = gen.due(p).length
      val done = Array.fill(n)(Long.MinValue)
      runs.foreach { case (ps, sink) =>
        val mine = Array.fill(n)(-1L)
        ps.foreach { b =>
          val c = sink.commitNs.getOrDefault(b.batchId, -1L)
          var o = b.start(p)
          while (o < math.min(b.end(p), n.toLong)) { if (mine(o.toInt) < 0) mine(o.toInt) = c; o += 1 }
        }
        (0 until n).foreach(o => done(o) = if (mine(o) < 0 || done(o) == -1L) -1L else math.max(done(o), mine(o)))
      }
      done
    }

  /** Latencies (ns) of the records due in [from, to), the number never
    * committed, and the last commit time among them. */
  private def latencies(gen: EventGen, commit: Array[Array[Long]],
                        from: Long, to: Long): (Seq[Double], Long, Long) = {
    val out = new LongBuf
    var missing = 0L
    var last = from
    (0 until gen.parts).foreach { p =>
      (0 until gen.due(p).length).foreach { o =>
        val d = gen.due(p)(o)
        if (d >= from && d < to) {
          val c = commit(p)(o)
          if (c < 0) missing += 1 else { out += (c - d); last = math.max(last, c) }
        }
      }
    }
    (Seq.tabulate(out.length)(out(_).toDouble), missing, last)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val work = ctx.opts.workDir
    // Set-up, repeated three times (median): start both queries on a
    // fresh topic and run them until the generator's first event is
    // committed by both. The third start is the measured run.
    final class Run(val gen: EventGen, val listener: Listener, val windows: WindowTable,
                    val ids: IdCounts, val qs: Seq[(StreamingQuery, Sink)])
    var run: Run = null
    val startS = Stats.median((1 to 3).map { i =>
      val topic = s"perfbench_events_$i"
      MemTopic.create(topic, Parts)
      val (r, s) = Timing.seconds {
        val gen = new EventGen(topic, ctx.opts.seed, Parts, ctx.tracer)
        val listener = new Listener(gen)
        spark.streams.addListener(listener)
        val w = new WindowTable
        val ids = new IdCounts
        val qs = startQueries(spark, topic, new File(work, s"ckpt-$i"),
          new Sink("windows", ctx.tracer, w.consume), new Sink("dedup", ctx.tracer, ids.consume))
        gen.phase(1000.0, 0.001)
        val until = System.nanoTime() + 60L * 1000000000L
        while ((ids.seen.isEmpty || w.table.isEmpty) && qs.forall(_._1.isActive) &&
          System.nanoTime() < until) Thread.sleep(5)
        new Run(gen, listener, w, ids, qs)
      }
      if (i < 3) {
        r.qs.foreach(_._1.stop())
        spark.streams.removeListener(r.listener)
        MemTopic.drop(topic)
      } else run = r
      s
    })
    val (gen, listener, windows, ids, qs) = (run.gen, run.listener, run.windows, run.ids, run.qs)
    val topic = "perfbench_events_3"

    // Warm-up at the fixed rate (JIT, codegen, state store).
    val (_, warmS) = Timing.seconds(gen.phase(Rate, 3.0))

    val secs = ctx.opts.seconds.toDouble
    val c0 = ctx.counters.snap()
    val lag0 = gen.lagNs.length
    // A traced run measures the first half of the phase untraced and the
    // second half traced, for the tracing overhead.
    val fixedA = gen.phase(Rate, if (ctx.opts.trace) secs / 2 else secs)
    ctx.tracer.on = ctx.opts.trace
    val fixedB = if (ctx.opts.trace) ctx.tracer.span("stream_window.fixed_rate")(gen.phase(Rate, secs / 2)) else fixedA
    val fixed = (fixedA._1, fixedB._2)
    val perSec = ctx.counters.snap() - c0
    val lags = (lag0 until gen.lagNs.length).map(i => gen.lagNs(i).toDouble)
    val rungs = Ladder.map(r => r -> ctx.tracer.span(s"stream_window.rung.${r.toLong}")(gen.phase(r, RungSeconds)))
    ctx.checks.check("both queries committed every appended record")(drain(listener, qs.map(_._1), gen, 30))
    // after the drain: a full GC earlier would stall the batches still
    // committing the fixed phase's last events
    val heapMb = Counters.retainedHeapMb()
    qs.foreach(_._1.stop())
    spark.streams.removeListener(listener)

    // Correctness against a recomputation over everything generated.
    val expected = gen.expectedWindows(WindowMs)
    val got = windows.table.asScala.toMap
    ctx.checks.check(s"window counts equal the recomputation (${got.size} vs ${expected.size} windows)")(got == expected)
    ctx.checks.check("dedup emitted every event exactly once")(
      ids.seen.size == gen.tsMs.length && ids.seen.asScala.forall { case (id, n) => n == 1 && id < gen.tsMs.length })

    val runs = qs.map { case (q, sink) => (listener.of(q), sink) }
    val commit = commitTimes(gen, runs)
    val (lat, missing, lastCommit) = latencies(gen, commit, fixed._1, fixed._2)
    ctx.checks.count(lat.length + missing, missing)
    require(lat.nonEmpty, "no event of the fixed-rate phase was committed")
    val p50 = Stats.percentile(lat, 50) / 1e6
    val p99 = Stats.percentile(lat, 99) / 1e6
    // Events of the phase over the time until the last of them was committed.
    val goodput = lat.length / ((lastCommit - fixed._1) / 1e9)

    // Ladder: sustained = p99 within the limit and no backlog growth.
    val all = runs.flatMap(_._1)
    val ladder = rungs.map { case (rate, (from, to)) =>
      val (l, miss, _) = latencies(gen, commit, from, to)
      val rp99 = if (l.isEmpty) Double.PositiveInfinity else Stats.percentile(l, 99) / 1e6
      val bl = all.filter(p => p.atNs >= from && p.atNs < to).map(p => (p.atNs.toDouble, p.backlog.toDouble))
      val growth = if (bl.size < 2) 0.0 else {
        val mx = bl.map(_._1).sum / bl.size; val my = bl.map(_._2).sum / bl.size
        val slope = bl.map { case (x, y) => (x - mx) * (y - my) }.sum /
          math.max(1e-9, bl.map { case (x, _) => (x - mx) * (x - mx) }.sum)
        slope * (to - from) // backlog change over the rung, records
      }
      (rate, miss == 0 && rp99 <= P99LimitMs && growth < rate * 0.5, rp99)
    }
    val fixedOk = missing == 0 && p99 <= P99LimitMs
    val sustained = if (!fixedOk) 0.0 else ladder.takeWhile(_._2).lastOption.map(_._1).getOrElse(Rate)

    val e2e = Seq(
      Metric("throughput_per_s", goodput, "1/s"),
      Metric("latency_p50_ms", p50, "ms"),
      Metric("latency_p99_ms", p99, "ms"))
    val info = Seq(
      Metric("retained_heap_mb", heapMb, "MB"),
      Metric("event_latency_p50_ms", p50, "ms"),
      Metric("event_latency_p99_ms", p99, "ms"),
      Metric("sustained_eps", sustained, "1/s"),
      Metric("fixed_rate_eps", Rate, "1/s"),
      Metric("events_measured", lat.length, "count")) ++
      ladder.map { case (r, _, rp99) => Metric(s"ladder_p99_ms.${r.toLong}", rp99, "ms") }

    val layers = if (!ctx.opts.trace) Nil else {
      // Batch phases as spans, from the engine's progress reports.
      all.foreach { p =>
        val total = p.durations.getOrElse("triggerExecution", 0L) * 1000000L
        val id = ctx.tracer.add("streaming.batch", p.atNs - total, p.atNs)
        Seq("latestOffset", "queryPlanning", "walCommit", "addBatch").foreach { k =>
          p.durations.get(k).foreach(ms => ctx.tracer.add(s"streaming.$k", p.atNs - total, p.atNs - total + ms * 1000000L, id))
        }
      }
      val inFixed = all.filter(p => p.atNs >= fixed._1 && p.atNs < fixed._2)
      def med(f: Progress => Double) = if (inFixed.isEmpty) 0.0 else Stats.median(inFixed.map(f))
      def dur(k: String)(p: Progress) = p.durations.getOrElse(k, 0L).toDouble
      def p50of(from: Long, to: Long) = Stats.percentile(latencies(gen, commit, from, to)._1, 50)
      Seq(
        Metric("streaming.batches", inFixed.size, "count"),
        Metric("streaming.batch_ms_p50", med(dur("triggerExecution")), "ms"),
        Metric("streaming.add_batch_ms", med(dur("addBatch")), "ms"),
        Metric("streaming.planning_ms", med(dur("queryPlanning")), "ms"),
        Metric("streaming.wal_ms", med(dur("walCommit")), "ms"),
        Metric("streaming.state_commit_ms", med(_.stateCommitMs.toDouble), "ms"),
        Metric("sources.memtopic.latest_offset_ms", med(dur("latestOffset")), "ms"),
        Metric("streaming.state_bytes", med(_.stateBytes.toDouble), "bytes"),
        Metric("streaming.rows_dropped_late", all.map(_.dropped).sum.toDouble, "count"),
        Metric("sources.memtopic.backlog_rows", med(_.backlog.toDouble), "count"),
        Metric("generator_lag_ms", Stats.percentile(lags, 99) / 1e6, "ms"),
        Metric("spark.cpu_s", perSec.cpuS / secs, "s"),
        Metric("spark.shuffle_bytes", perSec.shuffleWriteB / secs, "bytes"),
        Metric("spark.tasks", perSec.tasks / secs, "count"),
        Metric("jvm.gc_s", perSec.gcS / secs, "s"),
        Metric("trace.overhead_pct", (p50of(fixedB._1, fixedB._2) / p50of(fixedA._1, fixedA._2) - 1) * 100, "%"))
    }
    MemTopic.drop(topic)
    System.err.println(f"[perfbench] set-up: start (median of 3) $startS%.3f s, warm-up $warmS%.3f s")
    Outcome(startS + warmS, e2e, info, layers)
  }
}
