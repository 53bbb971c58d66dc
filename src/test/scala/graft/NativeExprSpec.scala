package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.{MinhashSignature, ShingleHashes, SimHash32}
import graft.sources.Tables

/** Bit-parity of the native codegen text-hash expressions against the
  * interpreted built-in formulations they replaced — the property that
  * keeps the DuckDB oracles exact. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf("sf0.001")).cache()

  private lazy val withWords = docs
    .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))

  test("MinhashSignature equals the explode + conv(substr(md5)) + min formulation") {
    val native = withWords.filter(size(col("w")) >= 3)
      .select(col("doc_id"), MinhashSignature(col("w"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val interpreted = withWords
      .select(col("doc_id"), explode(TextFunctions.shingles("w")).as("shingle"))
      .withColumn("h0",
        expr("cast(conv(substr(md5(shingle), 1, 12), 16, 10) as bigint)"))
      .select(col("doc_id"), col("h0"),
        explode(expr("sequence(0, 15)")).as("seed"))
      .groupBy(col("doc_id"), col("seed"))
      .agg(min(expr(
        s"((2 * seed + 1) * h0 + (1000003 * seed + 12345)) % ${MinhashSignature.M61}"))
        .as("minh"))
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(seed, minh))), x -> x.minh)")
        .as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native.nonEmpty && native === interpreted)
  }

  test("SimHash32 equals the token-explode 32-vote formulation") {
    val native = docs.select(col("doc_id"),
        SimHash32(TextFunctions.words(col("text"))).as("sh"))
      .as[(Long, Long)].collect().toMap
    val toks = docs
      .select(col("doc_id"), explode(TextFunctions.words(col("text"))).as("t"))
      .withColumn("h", TextFunctions.hash32(col("t")))
    val votes = (0 until 32).map { j =>
      sum(when(expr(s"(h div ${1L << j}) % 2") === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val bits = (0 until 32).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val interpreted = toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(native.nonEmpty && native === interpreted)
  }

  test("ShingleHashes equals distinct sorted conv(substr(md5)) of the shingle strings") {
    val native = withWords.filter(size(col("w")) >= 3)
      .select(col("doc_id"), ShingleHashes(col("w")).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val interpreted = withWords
      .select(col("doc_id"), explode(TextFunctions.shingles("w")).as("shingle"))
      .withColumn("h",
        expr("cast(conv(substr(md5(shingle), 1, 12), 16, 10) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("h"))).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native.nonEmpty && native === interpreted)
  }

  test("non-ASCII text: native md5 hashing matches the built-in md5 byte-for-byte") {
    // Fixtures are pure ASCII, so this is the only coverage of the
    // UTF-8 encode path inside the native expressions.
    val df = Seq(
      (1L, "héllo wörld çafé naïve résumé"),
      (2L, "日本語 テキスト の 重複 検出 テスト"),
      (3L, "mixed ascii und ümlaute plus 中文 words here"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
    val native = df.select(col("doc_id"), ShingleHashes(col("w")).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val interpreted = df
      .select(col("doc_id"), explode(TextFunctions.shingles("w")).as("shingle"))
      .withColumn("h",
        expr("cast(conv(substr(md5(shingle), 1, 12), 16, 10) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("h"))).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native === interpreted)
    val nativeSim = df.select(col("doc_id"), SimHash32(col("w")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val interpSim = df
      .select(col("doc_id"), explode(col("w")).as("t"))
      .withColumn("h", TextFunctions.hash32(col("t")))
      .groupBy(col("doc_id"))
      .agg(expr(
        (0 until 32).map(j =>
          s"CASE WHEN sum(CASE WHEN (h div ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END")
          .mkString(" + ")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(nativeSim === interpSim)
  }

  test("RewriteCountInSet: idiomatic size(filter(IN)) optimizes into the native CountInSet") {
    import graft.plans.{CountInSet, RewriteCountInSet}
    // parquet-backed input: local relations would be constant-folded
    // away (ConvertToLocalRelation) before the pattern can be observed
    def query() = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.filter(
            TextFunctions.words(col("text")),
            x => x.isin("the", "and", "a"))).as("c"))
    val expected = query().as[(Long, Int)].collect().toMap // HOF path
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RewriteCountInSet
    try {
      val df = query()
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.expressions.exists(_.exists(_.isInstanceOf[CountInSet])),
        s"rule must replace the HOF pattern; optimized plan was:\n$optimized")
      assert(df.as[(Long, Int)].collect().toMap === expected,
        "rewritten plan must produce the same counts")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("short docs: MinhashSignature/ShingleHashes are NULL under 3 words; SimHash32 is defined") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
    val got = df.select(col("doc_id"),
        MinhashSignature(col("w"), 4).as("sig"),
        ShingleHashes(col("w")).as("hs"),
        SimHash32(col("w")).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2), r.isNullAt(3)))
      .toMap
    assert(got(1L) === ((true, true, false)))
    assert(got(2L) === ((false, false, false)))
  }

  test("CharStats: known entropies, code-point counting, null propagation") {
    val df = Seq(
      (1L, Some("aaaa")),          // one symbol -> H = 0
      (2L, Some("ab")),            // two equiprobable -> H = 1
      (3L, Some("aabb")),          // still 1 bit
      (4L, Some("abcd")),          // four equiprobable -> H = 2
      (5L, Some("")),              // empty -> all zeros
      (6L, Some("ééx")), // 2-byte char counted as ONE code point
      (7L, None)                   // null in -> null out
    ).toDF("id", "t")
      .select(col("id"), graft.plans.CharStats(col("t")).as("cs"))
      .select(col("id"), col("cs.chars"), col("cs.uniq_chars"),
        col("cs.entropy"))
    val got = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else (r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((4, 1, 0.0)))
    assert(got(2L) === ((2, 2, 1.0)))
    assert(got(3L) === ((4, 2, 1.0)))
    assert(got(4L) === ((4, 4, 2.0)))
    assert(got(5L) === ((0, 0, 0.0)))
    val (c6, u6, h6) = got(6L).asInstanceOf[(Int, Int, Double)]
    assert((c6, u6) === ((3, 2)))
    val expected6 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2)
    assert(math.abs(h6 - expected6) < 1e-12)
    assert(got(7L) === null)
  }

  test("JaroWinkler matches DuckDB's jaro_winkler_similarity on anchor cases") {
    // Values captured from DuckDB 1.0 jaro_winkler_similarity — the
    // oracle the graded query compares against. Covers: the textbook
    // pairs, window-0 short strings, a 3-cycle transposition (odd
    // mismatch count -> integer halving), case sensitivity, the
    // both-empty convention (0.0, rapidfuzz), and the >0.7 boost gate.
    val cases = Seq(
      ("martha", "marhta", 0.9611111111),
      ("dixon", "dicksonx", 0.8133333333),
      ("jellyfish", "smellyfish", 0.8962962963),
      ("abcxx", "bcaxx", 0.8666666667),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("a", "a", 1.0),
      ("ab", "ba", 0.0),
      ("abcdef", "fedcba", 0.3888888889),
      ("Customer#000000001", "Customer#000000002", 0.9777777778),
      ("Customer#000000019", "Customer#000000091", 0.9888888889),
      ("abcde", "abdce", 0.9466666667),
      ("CRATE", "TRACE", 0.7333333333),
      ("DwAyNE", "DuANE", 0.84),
      ("x", "y", 0.0))
    val got = cases.toDF("a", "b", "want")
      .select(col("want"), graft.plans.JaroWinkler(col("a"), col("b")).as("jw"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"want ${r.getDouble(0)} got ${r.getDouble(1)}")
    }
  }

  test("CharStats equals the explode-per-character aggregate formulation") {
    val native = docs
      .select(col("doc_id"), graft.plans.CharStats(col("text")).as("cs"))
      .select(col("doc_id"), col("cs.chars"), col("cs.uniq_chars"),
        round(col("cs.entropy"), 8).as("h"))
      .as[(Long, Int, Int, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val interpreted = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("int").as("chars"),
        count(lit(1)).cast("int").as("uniq"),
        round(expr("log2(sum(c)) - sum(c * log2(c)) / sum(c)"), 8).as("h"))
      .as[(Long, Int, Int, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(native.nonEmpty && native === interpreted)
  }

  test("PosNgramsGen (UDTF) streams exactly posexplode(ShingleHashes.positional)") {
    import org.apache.spark.sql.graftbridge.Bridge
    val gen = withWords.select(col("doc_id"),
        Bridge.column(graft.plans.PosNgramsGen(Bridge.expression(col("w")), 3))
          .as(Seq("pos", "gram_hash")))
      .as[(Long, Int, Long)].collect().toSet
    val composed = withWords.filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        posexplode(ShingleHashes.positional(col("w"))).as(Seq("pos", "gram_hash")))
      .as[(Long, Int, Long)].collect().toSet
    assert(gen.nonEmpty && gen === composed)
    // generator contract: short docs emit NOTHING (no null row, no crash)
    val short = Seq((1L, Seq("a", "b"))).toDF("doc_id", "w")
    val none = short.select(
        Bridge.column(graft.plans.PosNgramsGen(Bridge.expression(col("w")), 3))
          .as(Seq("pos", "gram_hash")))
      .collect()
    assert(none.isEmpty)
    // NULL tokens (impossible via split(), reachable through the SQL
    // registration with a hand-built array) hash as the empty string —
    // deterministic and position-preserving, never an NPE; the array
    // form must agree gram-for-gram (shared hashGram kernel)
    val withNull = Seq((1L, "ok")).toDF("doc_id", "k")
      .select(col("doc_id"), expr("array('a', NULL, 'b', 'c')").as("w"))
    val genNull = withNull.select(
        Bridge.column(graft.plans.PosNgramsGen(Bridge.expression(col("w")), 3))
          .as(Seq("pos", "gram_hash")))
      .as[(Int, Long)].collect().toSet
    val arrNull = withNull.select(
        posexplode(ShingleHashes.positional(col("w"))).as(Seq("pos", "gram_hash")))
      .as[(Int, Long)].collect().toSet
    assert(genNull.size === 2 && genNull === arrNull)
  }

  test("GraftExtensions: every function in the table resolves through spark.sql") {
    graft.plans.GraftExtensions.register(spark)
    // one call per table entry with its expected first column; a new
    // entry without a case here fails the key check below
    val calls: Map[String, (String, Any)] = Map(
      "graft_dot" -> (
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))", 11.0),
      "graft_minhash" -> (
        "SELECT size(graft_minhash(split('a b c d', ' '), 4))", 4),
      "graft_top_count" -> (
        "SELECT graft_top_count(array('a', 'b', 'a'))", 2L),
      "graft_char_stats" -> (
        "SELECT graft_char_stats('abca').uniq_chars", 3),
      "graft_jaro_winkler" -> (
        "SELECT graft_jaro_winkler('graft', 'graft')", 1.0),
      "graft_pos_ngrams" -> (
        """SELECT count(*) FROM (SELECT split('a b c d e', ' ') AS w)
          |LATERAL VIEW graft_pos_ngrams(w, 3) t AS pos, gram_hash""".stripMargin,
        3L))
    assert(graft.plans.GraftExtensions.functions.map(_._1).toSet === calls.keySet)
    calls.foreach { case (name, (sql, want)) =>
      assert(spark.sql(sql).head().get(0) === want, name)
    }
  }
}
