package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.CsvCodec
import graft.operators.Sorting
import graft.sources.{MemTopic, MemTopicRecordSink, MemTopicRecordSource}

/** `topic_sort`: the paper's whole job. Seeded CSV records are produced
  * into a 3-partition topic, then three total-ordered copies (by `id`,
  * `name`, `continent`) are each re-scanned from the source topic and
  * written to a sorted topic. One repetition is one full pipeline. */
object TopicSort {
  val Records = 200000
  val SourcePartitions = 3
  val Keys: Seq[String] = Seq("id", "name", "continent")
  private val Fields = Seq("id" -> IntegerType, "name" -> StringType,
    "address" -> StringType, "continent" -> StringType)
  private val Staging = "perfbench_staging"
  private val Source = "perfbench_source"
  private def sortedTopic(k: String) = s"perfbench_sorted_$k"

  /** Order-independent fingerprint of a multiset of lines. */
  final case class Fingerprint(n: Long, sum: Long, xor: Long) {
    def add(line: String): Fingerprint = {
      val h = (MurmurHash3.stringHash(line, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(line, 0xbeef).toLong & 0xffffffffL)
      Fingerprint(n + 1, sum + h, xor ^ h)
    }
  }
  private def fingerprint(lines: Iterator[String]): Fingerprint =
    lines.foldLeft(Fingerprint(0, 0, 0))(_ add _)

  private def topicLines(topic: String): Iterator[String] =
    (0 until MemTopic.numPartitions(topic)).iterator.flatMap { p =>
      MemTopic.slice(topic, p, 0, MemTopic.endOffset(topic, p)).iterator
    }

  private def stage(lines: Array[String], topic: String): Unit = {
    MemTopic.create(topic, SourcePartitions)
    val chunk = (lines.length + SourcePartitions - 1) / SourcePartitions
    (0 until SourcePartitions).foreach { p =>
      MemTopic.append(topic, p, lines.slice(p * chunk, (p + 1) * chunk))
    }
  }

  /** Field `k` of a line, read without the program's codec. */
  private def keyOf(k: String, line: String): String = {
    val a = line.indexOf(',')
    k match {
      case "id" => line.substring(0, a)
      case "name" => line.substring(a + 1, line.indexOf(',', a + 1))
      case "continent" => line.substring(line.lastIndexOf(',') + 1)
    }
  }

  /** Independent output check of one sorted topic: N rows, keys
    * non-decreasing in (partition, offset) order, same multiset of lines
    * as the source. */
  private def checkSorted(ctx: Ctx, k: String, expect: Fingerprint): Unit = {
    val topic = sortedTopic(k)
    var prev: String = null
    var prevId = Long.MinValue
    var ordered = true
    topicLines(topic).foreach { line =>
      val key = keyOf(k, line)
      if (k == "id") {
        val v = key.toLong
        if (v < prevId) ordered = false
        prevId = v
      } else {
        if (prev != null && prev.compareTo(key) > 0) ordered = false
        prev = key
      }
    }
    val fp = fingerprint(topicLines(topic))
    ctx.checks.check(s"$topic has ${expect.n} rows (got ${fp.n})")(fp.n == expect.n)
    ctx.checks.check(s"$topic keys are non-decreasing by (partition, offset)")(ordered)
    ctx.checks.check(s"$topic holds the source's lines")(fp == expect)
  }

  private def decoded(spark: SparkSession): DataFrame =
    CsvCodec.decode(MemTopicRecordSource(Source).load(spark), col("line"), Fields)

  private def sorted(spark: SparkSession, k: String): DataFrame =
    Sorting.totalSort(decoded(spark), col(k)).select("line")

  final case class Rep(produceS: Double, copyS: Map[String, Double], pipelineS: Double,
                       doneS: Seq[Double], shuffleB: Long, spillB: Long, skew: Double,
                       layer: Map[String, Double])

  private def resetTopics(outParts: Int): Unit = {
    MemTopic.create(Source, SourcePartitions)
    Keys.foreach(k => MemTopic.create(sortedTopic(k), outParts))
  }

  /** max / mean rows over the output partitions of a sorted topic. */
  private def skewOf(topic: String): Double = {
    val sizes = (0 until MemTopic.numPartitions(topic)).map(p => MemTopic.endOffset(topic, p).toDouble)
    if (sizes.sum == 0) 0.0 else sizes.max / (sizes.sum / sizes.length)
  }

  /** One pipeline: produce, then the three sorted copies. Traced, each
    * copy also materialises its plan prefixes (scan, decode, sort) into
    * the noop sink so time can be attributed per layer by difference. */
  private def pipeline(ctx: Ctx, staging: String, traced: Boolean): Rep = {
    val tr = ctx.tracer
    val spark = ctx.spark
    resetTopics(ctx.outPartitions)
    val before = ctx.counters.snap()
    val layer = scala.collection.mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    tr.span("topic_sort.pipeline") {
      val (_, produceS) = Timing.seconds(tr.span("sources.memtopic.produce") {
        MemTopicRecordSink(Source).save(MemTopicRecordSource(staging).load(spark))
      })
      layer("sources.memtopic.produce_s") = produceS
      val copies = Keys.map { k =>
        val (_, s) = Timing.seconds(tr.span(s"topic_sort.copy.$k") {
          if (traced) {
            val scan = tr.span("sources.memtopic.scan")(Timing.noop(MemTopicRecordSource(Source).load(spark)))
            val dec = tr.span("functions.csvcodec.decode")(Timing.noop(decoded(spark)))
            val srt = tr.span("operators.sorting.sort")(Timing.noop(sorted(spark, k)))
            val (_, full) = Timing.seconds(tr.span("sources.memtopic.sink_commit") {
              MemTopicRecordSink(sortedTopic(k)).save(sorted(spark, k))
            })
            layer("sources.memtopic.scan_s") = layer.getOrElse("sources.memtopic.scan_s", 0.0) + scan
            layer("functions.csvcodec.decode_s") = layer.getOrElse("functions.csvcodec.decode_s", 0.0) + (dec - scan)
            layer(s"operators.sorting.sort_s.$k") = srt - dec
            layer("sources.memtopic.sink_commit_s") =
              layer.getOrElse("sources.memtopic.sink_commit_s", 0.0) + (full - srt)
          } else MemTopicRecordSink(sortedTopic(k)).save(sorted(spark, k))
        })
        k -> (s, (System.nanoTime() - t0) / 1e9)
      }
      val d = ctx.counters.snap() - before
      Rep(produceS, copies.map { case (k, (s, _)) => k -> s }.toMap,
        (System.nanoTime() - t0) / 1e9, copies.map(_._2._2), d.shuffleWriteB, d.spillDiskB,
        Keys.map(k => skewOf(sortedTopic(k))).max, layer.toMap)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val seed = ctx.opts.seed
    // Set-up, repeated three times (median): generate and stage inputs.
    var lines: Array[String] = null
    val stageS = Stats.median((1 to 3).map { _ =>
      Timing.seconds { lines = Gen.records(seed, Records); stage(lines, Staging) }._2
    })
    val expect = fingerprint(lines.iterator)
    // Warm-up: two full pipelines. The first pays planning and code
    // generation; the second still runs ~30% slow while the JIT settles.
    val (_, warmS) = Timing.seconds((1 to 2).foreach { _ =>
      ctx.checks.op("warm-up pipeline")(pipeline(ctx, Staging, traced = false))
    })
    lines = null

    def timedReps(budgetS: Double, traced: Boolean): Seq[Rep] =
      Timing.repeat(ctx, "topic_sort pipeline", budgetS, traced) {
        val r = pipeline(ctx, Staging, traced)
        System.err.println(f"[perfbench] pipeline${if (traced) " traced" else ""} ${r.pipelineS}%.3f s: produce ${r.produceS}%.3f s, " +
          Keys.map(k => f"$k ${r.copyS(k)}%.3f s").mkString(", "))
        ctx.checks.check("source topic holds the staged lines")(fingerprint(topicLines(Source)) == expect)
        Keys.foreach(k => checkSorted(ctx, k, expect))
        r
      }

    val secs = ctx.opts.seconds.toDouble
    val c0 = ctx.counters.snap()
    val reps = timedReps(if (ctx.opts.trace) secs / 2 else secs, traced = false)
    val perRep = ctx.counters.snap() - c0
    val heapMb = Counters.retainedHeapMb()
    require(reps.nonEmpty, "no topic_sort pipeline completed")

    val sortRate = 3.0 * Records * reps.size / reps.map(_.copyS.values.sum).sum
    val e2e = Seq(
      Metric("throughput_per_s", sortRate, "1/s"),
      Metric("latency_p50_ms", Stats.median(reps.map(_.doneS(1))) * 1000, "ms"),
      Metric("latency_p99_ms", Stats.median(reps.map(_.doneS(2))) * 1000, "ms"))
    val info = Seq(
      Metric("retained_heap_mb", heapMb, "MB"),
      Metric("pipeline_s", Stats.median(reps.map(_.pipelineS)), "s"),
      Metric("sort_rec_per_s", sortRate, "1/s"),
      Metric("reps", reps.size, "count"))

    val layers = if (!ctx.opts.trace) Nil else {
      val traced = timedReps(secs / 2, traced = true)
      require(traced.nonEmpty, "no traced topic_sort pipeline completed")
      def med(name: String) = Stats.median(traced.map(_.layer.getOrElse(name, 0.0)))
      val names = traced.flatMap(_.layer.keys).distinct
      val n = reps.size.toDouble
      names.map(nm => Metric(nm, med(nm), "s")) ++ Seq(
        Metric("operators.sorting.shuffle_write_bytes", Stats.median(reps.map(_.shuffleB.toDouble)), "bytes"),
        Metric("operators.sorting.spill_bytes", Stats.median(reps.map(_.spillB.toDouble)), "bytes"),
        Metric("operators.sorting.partition_skew", Stats.median(reps.map(_.skew)), "ratio"),
        Metric("spark.cpu_s", perRep.cpuS / n, "s"),
        Metric("spark.shuffle_bytes", perRep.shuffleWriteB / n, "bytes"),
        Metric("spark.tasks", perRep.tasks / n, "count"),
        Metric("jvm.gc_s", perRep.gcS / n, "s"),
        Metric("trace.overhead_pct",
          (Stats.median(traced.map(_.pipelineS)) / Stats.median(reps.map(_.pipelineS)) - 1) * 100, "%"))
    }
    (Seq(Source, Staging) ++ Keys.map(sortedTopic)).foreach(MemTopic.drop)
    System.err.println(f"[perfbench] set-up: staging (median of 3) ${stageS}%.3f s, warm-up ${warmS}%.3f s")
    Outcome(stageS + warmS, e2e, info, layers)
  }
}
