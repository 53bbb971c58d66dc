package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.JsonlSource

/** `corpus_dedup`: a seeded corpus with planted near-duplicate clusters,
  * staged as JSONL files, runs through the curation chain of the
  * program's `pipeline_curation_v2`: quality filter -> exact survivors ->
  * MinHash LSH pairs -> near-dup survivors. One repetition is one chain. */
object CorpusDedup {
  val BaseDocs = 10000
  // LSH settings of the program's curation pipeline.
  private val NumHashes = 16
  private val NumBands = 4
  private val MinEstimate = 0.5
  /** Floors for the planted-duplicate check: below these the run fails. */
  val MinRecall = 0.85
  val MinPrecision = 0.6
  private val Schema = new StructType().add("doc_id", LongType).add("text", StringType)
  private val Files = 4

  private def stage(c: Gen.Corpus, dir: File): Unit = {
    dir.mkdirs()
    val ws = (0 until Files).map(i => new PrintWriter(new File(dir, f"part-$i%05d.jsonl"), "UTF-8"))
    try c.ids.indices.foreach { i =>
      // texts hold only letters, digits, spaces, '.' and '#': no escaping needed
      ws(i % Files).println(s"""{"doc_id":${c.ids(i)},"text":"${c.texts(i)}"}""")
    } finally ws.foreach(_.close())
  }

  private def docs(spark: SparkSession, dir: File): DataFrame =
    JsonlSource(dir.getPath, Schema).load(spark)

  private def kept(spark: SparkSession, dir: File): DataFrame =
    TextAnalysis.quality(docs(spark, dir), "doc_id", "text", passthrough = Seq("text"))
      .filter(col("alpha_ratio") >= 0.6 && col("stopword_ratio") >= 0.05)

  private def exact(spark: SparkSession, dir: File): DataFrame =
    Dedup.exactSurvivors(kept(spark, dir), "doc_id", Seq("text"))

  private def pairs(spark: SparkSession, dir: File): DataFrame =
    Dedup.minhashPairs(exact(spark, dir), "doc_id", "text", NumHashes, NumBands, MinEstimate)

  private def survivors(spark: SparkSession, dir: File): Array[Long] = {
    import spark.implicits._
    Dedup.nearDupSurvivors(exact(spark, dir), "doc_id", pairs(spark, dir))
      .select("doc_id").as[Long].collect()
  }

  /** Band-join candidate pairs, counted from the program's public banding
    * step (the pair operator itself keeps no such count). */
  private def candidates(spark: SparkSession, dir: File): Long = {
    val bands = Dedup.minhashBands(
      Dedup.minhashSignatures(exact(spark, dir), "doc_id", "text", NumHashes), NumHashes, NumBands)
    bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc"), col("y.doc")).distinct().count()
  }

  final case class Rep(chainS: Double, layer: Map[String, Double])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = new File(ctx.opts.workDir, "corpus")
    // Set-up, repeated three times (median): generate and stage the corpus.
    var corpus: Gen.Corpus = null
    val stageS = Stats.median((1 to 3).map { _ =>
      Timing.seconds { corpus = Gen.corpus(ctx.opts.seed, BaseDocs); stage(corpus, dir) }._2
    })
    val nDocs = corpus.ids.length
    // Ground truth: every planted cluster member except its min id is a
    // duplicate the chain should remove.
    val planted = corpus.clusters.flatMap(c => c.sorted.tail).toSet
    val universe = corpus.ids.toSet -- corpus.lowQuality
    val textOf = corpus.ids.zip(corpus.texts).toMap
    val exactLosers = corpus.clusters.flatMap(_.groupBy(textOf).values.flatMap(_.sorted.tail)).toSet

    def verify(surv: Array[Long]): (Double, Double) = {
      val s = surv.toSet
      ctx.checks.check("survivors are distinct input documents")(s.size == surv.length && s.subsetOf(universe))
      ctx.checks.check("low-quality documents are filtered")(corpus.lowQuality.forall(id => !s.contains(id)))
      ctx.checks.check("of byte-identical documents only the min id survives")(
        exactLosers.forall(id => !s.contains(id)))
      val removed = universe -- s
      val hit = removed.count(planted.contains)
      val recall = hit.toDouble / planted.size
      val precision = if (removed.isEmpty) 1.0 else hit.toDouble / removed.size
      ctx.checks.check(f"recall $recall%.4f >= $MinRecall")(recall >= MinRecall)
      ctx.checks.check(f"precision $precision%.4f >= $MinPrecision")(precision >= MinPrecision)
      (recall, precision)
    }

    // Warm-up: two full chains. The first pays planning and code
    // generation (~4x a steady chain); the second still runs ~25% slow
    // while the JIT settles.
    val (_, warmS) = Timing.seconds {
      (1 to 2).foreach { _ =>
        val (_, s) = Timing.seconds(ctx.checks.op("warm-up chain")(survivors(spark, dir)))
        System.err.println(f"[perfbench] warm-up chain $s%.3f s")
      }
    }

    val quality = ArrayBuffer.empty[(Double, Double)]
    def timedReps(budgetS: Double, traced: Boolean): Seq[Rep] =
      Timing.repeat(ctx, "corpus_dedup chain", budgetS, traced) {
        val layer = scala.collection.mutable.Map.empty[String, Double]
        val (surv, s) = Timing.seconds(ctx.tracer.span("corpus_dedup.chain") {
          if (traced) {
            val tr = ctx.tracer
            val read = tr.span("sources.connectors.read")(Timing.noop(docs(spark, dir)))
            val q = tr.span("operators.textanalysis.quality")(Timing.noop(kept(spark, dir)))
            // the signature step reads only (id, text): compare like with like
            val ex = tr.span("operators.dedup.exact")(Timing.noop(exact(spark, dir).select("doc_id", "text")))
            val sig = tr.span("plans.minhash.signatures")(Timing.noop(
              Dedup.minhashSignatures(exact(spark, dir), "doc_id", "text", NumHashes)))
            val pr = tr.span("operators.dedup.pairs")(Timing.noop(pairs(spark, dir)))
            val (sv, full) = Timing.seconds(tr.span("operators.dedup.survivors")(survivors(spark, dir)))
            layer ++= Seq("sources.connectors.read_s" -> read,
              "operators.textanalysis.quality_s" -> (q - read),
              "operators.dedup.exact_s" -> (ex - q),
              "plans.minhash.signatures_s" -> (sig - ex),
              "operators.dedup.pairs_s" -> (pr - sig),
              "operators.dedup.survivors_s" -> (full - pr))
            sv
          } else survivors(spark, dir)
        })
        System.err.println(f"[perfbench] chain ${if (traced) "traced" else "untraced"} $s%.3f s")
        quality += verify(surv)
        Rep(s, layer.toMap)
      }

    val secs = ctx.opts.seconds.toDouble
    val c0 = ctx.counters.snap()
    val reps = timedReps(if (ctx.opts.trace) secs / 2 else secs, traced = false)
    val perRep = ctx.counters.snap() - c0
    val heapMb = Counters.retainedHeapMb()
    require(reps.nonEmpty, "no corpus_dedup chain completed")
    val chainS = Stats.median(reps.map(_.chainS))
    val e2e = Seq(
      Metric("throughput_per_s", nDocs / chainS, "1/s"),
      // every document's result is ready when its chain completes
      Metric("latency_p50_ms", chainS * 1000, "ms"),
      Metric("latency_p99_ms", chainS * 1000, "ms"))
    val info = Seq(
      Metric("retained_heap_mb", heapMb, "MB"),
      Metric("dedup_docs_per_s", nDocs / chainS, "1/s"),
      Metric("dedup_recall", Stats.median(quality.map(_._1).toSeq), "ratio"),
      Metric("dedup_precision", Stats.median(quality.map(_._2).toSeq), "ratio"),
      Metric("docs", nDocs, "count"),
      Metric("reps", reps.size, "count"))

    val layers = if (!ctx.opts.trace) Nil else {
      val traced = timedReps(secs / 2, traced = true)
      require(traced.nonEmpty, "no traced corpus_dedup chain completed")
      val names = traced.flatMap(_.layer.keys).distinct
      val n = reps.size.toDouble
      val cand = candidates(spark, dir)
      val kept = pairs(spark, dir).count()
      val rounds = Dedup.connectedComponentsWithRounds(pairs(spark, dir))._2
      names.map(nm => Metric(nm, Stats.median(traced.map(_.layer(nm))), "s")) ++ Seq(
        Metric("operators.dedup.candidate_pairs", cand.toDouble, "count"),
        Metric("operators.dedup.pair_yield", if (cand == 0) 0.0 else kept.toDouble / cand, "ratio"),
        Metric("operators.dedup.cc_rounds", rounds.toDouble, "count"),
        Metric("spark.cpu_s", perRep.cpuS / n, "s"),
        Metric("spark.shuffle_bytes", perRep.shuffleWriteB / n, "bytes"),
        Metric("spark.tasks", perRep.tasks / n, "count"),
        Metric("jvm.gc_s", perRep.gcS / n, "s"),
        Metric("trace.overhead_pct",
          (Stats.median(traced.map(_.chainS)) / chainS - 1) * 100, "%"))
    }
    System.err.println(f"[perfbench] set-up: staging (median of 3) ${stageS}%.3f s, warm-up ${warmS}%.3f s")
    Outcome(stageS + warmS, e2e, info, layers)
  }
}
