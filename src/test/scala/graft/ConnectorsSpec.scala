package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.CsvCodec
import graft.operators.Sorting
import graft.sources.{AvroIngest, AvroSplitProvider, CsvLineSource, KafkaSource, ParquetSink, RecordGenerator}

/** EP2 through the file transport: CSV lines in → key extraction →
  * total sort → sink — the reference pipeline with Parquet/text standing
  * in for the Kafka topic (connector jar absent in this offline build,
  * which KafkaSource.available reports). */
class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  test("CSV line file source -> parse -> sort -> parquet sink round trip") {
    val in = Files.createTempDirectory("graft-lines").toString
    val out = Files.createTempDirectory("graft-sorted").toString
    RecordGenerator.csvLines(spark, 1000, seed = 5)
      .select("line").write.mode("overwrite").text(in)

    val lines = CsvLineSource(in).load(spark)
    val decoded = CsvCodec.decode(lines, col("line"), Seq(
      "id" -> IntegerType, "name" -> StringType,
      "address" -> StringType, "continent" -> StringType))
    ParquetSink(out).save(
      Sorting.totalSort(decoded, col("id"), col("name")).select("line"))

    val sorted = spark.read.parquet(out)
    assert(sorted.count() === 1000)
    // payload passthrough: identical multiset of raw lines
    val inBag = lines.as[String].collect().sorted
    val outBag = sorted.as[String].collect().sorted
    assert(inBag.sameElements(outBag))
  }

  test("MemoryStream-backed StreamRecordSource drives sortedCopy — non-file transport") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.{StreamRecordSource, WrappedStreamSource}
    import graft.streaming.Streaming

    val ms = MemoryStream[(Int, String)](spark)
    ms.addData((3, "cc"), (1, "aa"), (2, "bb"), (5, "ee"), (4, "dd"))
    val src: StreamRecordSource =
      WrappedStreamSource(ms.toDF().toDF("id", "name"))

    val out = Files.createTempDirectory("graft-ms-out").toString
    val ckpt = Files.createTempDirectory("graft-ms-ckpt").toString
    val q = Streaming.sortedCopyStream(src.loadStream(spark), out, ckpt, Seq("id"))
    q.awaitTermination()

    val got = spark.read.parquet(out)
    assert(got.count() === 5)
    // multiset conservation through the in-memory transport
    assert(got.select("id").as[Int].collect().sorted.toSeq === Seq(1, 2, 3, 4, 5))
    // each batch directory is internally sorted by the key
    val batch0 = spark.read.parquet(s"$out/batch=000000000")
      .select("id").as[Int].collect()
    assert(batch0.sameElements(batch0.sorted))
  }

  test("MemTopic DSv2: produce -> bounded scan -> total sort -> sink, reference EP1+EP2") {
    import graft.sources.{MemTopic, MemTopicRecordSink, MemTopicRecordSource}

    MemTopic.create("source", numPartitions = 3)
    // ≥ shuffle partitions: the sink maps write task i → topic
    // partition i % n, so with n ≥ tasks the mapping is the identity
    // and (partition, offset) read order = the sort's range order —
    // the partition-id-prefixed "single ordered topic" form from
    // SURVEY §2.1 O9.
    MemTopic.create("sorted_id", numPartitions = 8)
    try {
      // EP1: produce generated CSV records into the partitioned topic
      MemTopicRecordSink("source").save(
        RecordGenerator.csvLines(spark, 600, seed = 11).select("line"))

      // EP2: bounded scan -> key extraction -> total sort -> sink
      val src = MemTopicRecordSource("source").load(spark)
      val sorted = Sorting.totalSort(
        CsvCodec.decode(src, col("line"), Seq(
          "id" -> IntegerType, "name" -> StringType,
          "address" -> StringType, "continent" -> StringType)),
        col("id"), col("name"))
      MemTopicRecordSink("sorted_id").save(sorted.select("line"))

      // offset-bounded read (the drain-heuristic replacement): every
      // ACTION plans a fresh consistent [0, latest-at-plan) snapshot
      // and terminates — it never tail-chases or truncates on a slow
      // source like the reference's 5s-idle heuristic can
      val bounded = MemTopicRecordSource("sorted_id").load(spark)
      assert(bounded.count() === 600)

      // multiset conservation through both topic hops
      val inBag = MemTopicRecordSource("source").load(spark)
        .as[String].collect().sorted
      val outBag = bounded.as[String].collect().sorted
      assert(inBag.sameElements(outBag))

      MemTopic.append("sorted_id", 0, Seq("999999,zzz,late row,Asia"))
      assert(bounded.count() === 601,
        "the next action's plan captures the new end offsets")

      // the sorted topic is globally ordered when read back in
      // (partition, offset) order — the validation consumer's view
      val ids = spark.read.format(classOf[graft.sources.MemTopicProvider].getName)
        .option("topic", "sorted_id").load()
        .filter(col("value") =!= "999999,zzz,late row,Asia")
        .orderBy("partition", "offset")
        .select(CsvCodec.fieldAs(col("value"), 0, IntegerType))
        .as[Int].collect()
      assert(ids.length === 600)
      assert(ids.sameElements(ids.sorted), "global total order across the topic")
    } finally { MemTopic.drop("source"); MemTopic.drop("sorted_id") }
  }

  test("MemTopic MicroBatchStream: offset-tracked micro-batches, resume from checkpoint") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.{MemTopic, MemTopicStreamSource}

    MemTopic.create("mbs", numPartitions = 2)
    try {
      MemTopic.append("mbs", 0, Seq("a", "b"))
      MemTopic.append("mbs", 1, Seq("c"))
      val out = Files.createTempDirectory("graft-mbs-out").toString
      val ckpt = Files.createTempDirectory("graft-mbs-ckpt").toString
      def run(): Unit = {
        val q = MemTopicStreamSource("mbs").loadStream(spark)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", out).start()
        q.awaitTermination()
      }
      run()
      assert(spark.read.parquet(out).count() === 3)
      // rows appended AFTER the first bounded run: a restart on the SAME
      // checkpoint must read exactly the delta — committed offsets
      // resume, nothing is re-read, nothing is lost
      MemTopic.append("mbs", 0, Seq("d"))
      MemTopic.append("mbs", 1, Seq("e", "f"))
      run()
      val all = spark.read.parquet(out).select("line").as[String].collect().sorted
      assert(all.toSeq === Seq("a", "b", "c", "d", "e", "f"),
        "second run must append exactly the post-checkpoint delta")
    } finally MemTopic.drop("mbs")
  }

  /** Runs one AvailableNow pass of `topic` into a parquet sink on the
    * given checkpoint; the error of a failed pass, with its causes. */
  private def memTopicRun(topic: String, ckpt: String, out: String): Option[String] = {
    import org.apache.spark.sql.streaming.Trigger
    val q = graft.sources.MemTopicStreamSource(topic).loadStream(spark)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    try { q.awaitTermination(); None }
    catch { case e: Exception =>
      Some(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | "))
    }
  }

  test("MemTopic: offsets past a partition's end fail loudly, also on stream resume") {
    import graft.sources.MemTopic
    MemTopic.create("mt_lost", numPartitions = 2)
    try {
      MemTopic.append("mt_lost", 0, Seq("a", "b"))
      MemTopic.append("mt_lost", 1, Seq("c"))
      val bad = intercept[IllegalStateException](MemTopic.slice("mt_lost", 1, 0, 5))
      assert(bad.getMessage.contains("topic 'mt_lost' partition 1: offsets [0, 5)"))
      intercept[IllegalStateException](MemTopic.slice("mt_lost", 0, 2, 1))
      assert(MemTopic.slice("mt_lost", 0, 1, 2).toSeq === Seq("b"))
      val ckpt = Files.createTempDirectory("graft-mt-lost-ckpt").toString
      val out = Files.createTempDirectory("graft-mt-lost-out").toString
      assert(memTopicRun("mt_lost", ckpt, out).isEmpty)
      // re-created with fewer records: the checkpoint (2, 1) is past the
      // new ends (1, 0), so the resumed stream must fail, not read nothing
      MemTopic.create("mt_lost", numPartitions = 2)
      MemTopic.append("mt_lost", 0, Seq("x"))
      val err = memTopicRun("mt_lost", ckpt, out)
      assert(err.exists(e => e.contains("topic 'mt_lost' partition") &&
          e.contains("records were lost")),
        s"resume past the topic's end must fail loudly, got $err")
    } finally MemTopic.drop("mt_lost")
  }

  test("MemTopic: a checkpointed offset vector of the wrong length fails loudly") {
    import graft.sources.MemTopic
    MemTopic.create("mt_parts", numPartitions = 2)
    try {
      MemTopic.append("mt_parts", 0, Seq("a"))
      val ckpt = Files.createTempDirectory("graft-mt-parts-ckpt").toString
      val out = Files.createTempDirectory("graft-mt-parts-out").toString
      assert(memTopicRun("mt_parts", ckpt, out).isEmpty)
      MemTopic.create("mt_parts", numPartitions = 3)
      MemTopic.append("mt_parts", 2, Seq("b"))
      val err = memTopicRun("mt_parts", ckpt, out)
      assert(err.exists(_.contains(
        "topic 'mt_parts' has 3 partitions but the checkpointed offsets [1,0] have 2")),
        s"a partition-count change must fail loudly, got $err")
    } finally MemTopic.drop("mt_parts")
  }

  test("MemTopic: unknown topics and partitions are rejected with their names") {
    import graft.sources.MemTopic
    Seq[() => Any](() => MemTopic.numPartitions("mt_none"),
        () => MemTopic.endOffset("mt_none", 0),
        () => MemTopic.append("mt_none", 0, Seq("a"))).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("unknown topic 'mt_none'"))
    }
    MemTopic.create("mt_one", numPartitions = 1)
    try {
      val e = intercept[IllegalArgumentException](MemTopic.endOffset("mt_one", 1))
      assert(e.getMessage.contains("topic 'mt_one' has 1 partitions, no partition 1"))
    } finally MemTopic.drop("mt_one")
  }

  test("Kafka connector availability is reported, not assumed") {
    // this offline build has no spark-sql-kafka jar; the source must
    // detect that rather than fail at plan time
    assert(!KafkaSource.available)
  }

  test("AvroSplit: block-split read is exact for EVERY split size") {
    val d = java.nio.file.Files.createTempDirectory("graft-avrosplit").toFile
    val rows = (1L to 500L).map(i => (i, s"name-$i", i % 5, i * 101L)).toSeq
    // one file, tiny sync interval -> many deflate blocks
    AvroIngest.writeCustomerAvro(rows, new java.io.File(d, "all.avro"),
      syncIntervalBytes = 64)
    val len = new java.io.File(d, "all.avro").length()
    // sweep split sizes across the block-size scale: boundaries land
    // mid-block, exactly on syncs, and beyond EOF — the union must be
    // exact (no lost or doubled row) and small splits must fan out
    Seq(128L, 1024L, 4096L, len, 2 * len).foreach { sb =>
      val df = spark.read.format(classOf[AvroSplitProvider].getName)
        .option("path", d.getPath).option("splitBytes", sb).load()
      val got = df.orderBy("c_custkey")
        .as[(Long, String, Long, Long)].collect().toSeq
      assert(got === rows, s"splitBytes=$sb roundtrip diverged")
      if (sb <= 1024) assert(df.rdd.getNumPartitions > 1,
        s"splitBytes=$sb must plan >1 task over the ${len}B file")
    }
    // inferred schema: long/string fields, non-null (no unions here)
    val sch = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).load().schema
    assert(sch.map(_.dataType.simpleString) ===
      Seq("bigint", "string", "bigint", "bigint"))
  }

  test("AvroSplit: column pruning reaches the scan; values exact under splits") {
    val d = java.nio.file.Files.createTempDirectory("graft-avroprune").toFile
    val rows = (1L to 300L).map(i => (i, s"name-$i", i % 7, i * 13L)).toSeq
    AvroIngest.writeCustomerAvro(rows, new java.io.File(d, "all.avro"),
      syncIntervalBytes = 64)
    val df = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).option("splitBytes", 1024L).load()
      .select("acctbal_cents", "c_custkey") // reversed order on purpose
    // the projection must narrow the DSv2 scan's ReadSchema, not sit
    // above a full-width scan
    val readSchemas = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema().fieldNames.toSeq
    }
    assert(readSchemas.nonEmpty && readSchemas.forall(_.toSet ===
      Set("c_custkey", "acctbal_cents")), s"ReadSchema not pruned: $readSchemas")
    val got = df.orderBy("c_custkey").as[(Long, Long)].collect().toSeq
    assert(got === rows.map(r => (r._4, r._1)), "pruned values diverged")
  }

  test("AvroSplit: array<float> fields decode exactly across split boundaries") {
    val d = java.nio.file.Files.createTempDirectory("graft-avroarr").toFile
    val rows = (1L to 200L).map(i =>
      (i, (0 until 16).map(j => (i * 31 + j * 7).toFloat / 3f), i.toInt % 4)).toSeq
    AvroIngest.writeEmbeddingAvro(rows, new java.io.File(d, "all.avro"),
      syncIntervalBytes = 256)
    val df = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).option("splitBytes", 2048L).load()
    assert(df.schema.map(_.dataType.simpleString) ===
      Seq("bigint", "array<float>", "int"))
    assert(df.rdd.getNumPartitions > 1, "array fixture must split >1 task")
    val got = df.orderBy("vec_id")
      .as[(Long, Seq[Float], Int)].collect().toSeq
    assert(got === rows, "array roundtrip diverged")
    // pruning composes with arrays: project ONLY the array column
    val onlyArr = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).option("splitBytes", 2048L).load()
      .select("embedding")
    val rs = onlyArr.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema().fieldNames.toSeq
    }
    assert(rs.forall(_ === Seq("embedding")), s"array pruning failed: $rs")
    assert(onlyArr.collect().map(_.getSeq[Float](0).sum).sum ===
      rows.map(_._2.sum).sum)
  }

  test("AvroIngest: multi-file container roundtrip is exact and file-parallel") {
    val d = java.nio.file.Files.createTempDirectory("graft-avro").toFile
    val rows = (1L to 37L).map(i =>
      (i, s"name-$i", i % 5, i * 101L)).toSeq
    // three container files (uneven split) — the binaryFile scan must
    // decode each independently and the union must be exact
    rows.grouped(15).zipWithIndex.foreach { case (g, i) =>
      AvroIngest.writeCustomerAvro(g.toSeq,
        new java.io.File(d, f"part-$i%02d.avro"))
    }
    val got = AvroIngest.readCustomerAvro(spark, d.getPath)
    // per-FILE fan-out actually observed, not just claimed: binaryFile's
    // openCostInBytes (4 MiB) pads each file past the packed-split
    // target, so three container files must plan as >1 scan partition,
    // and the decode is a narrow mapPartitions over that scan — a
    // single-partition plan here would mean the decode is NOT
    // file-parallel
    assert(got.rdd.getNumPartitions >= 2)
    val back = got.orderBy("c_custkey")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(back === rows)
    // deflate codec actually engaged: the files are container-framed,
    // not raw — magic bytes 'Obj' + version 1
    val head = java.nio.file.Files.readAllBytes(
      new java.io.File(d, "part-00.avro").toPath).take(4)
    assert(head.sameElements(Array[Byte]('O', 'b', 'j', 1)))
  }
}
