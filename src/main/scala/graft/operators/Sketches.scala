package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketch operators. The first resident is a fully
  * REPLAYABLE HyperLogLog (Flajolet et al. 2007, the family every
  * engine's approx_count_distinct descends from): registers built
  * explicitly from md5 bits, so the estimate itself hash-grades
  * against an oracle replaying the identical algorithm — unlike the
  * engine-opaque sketch, which can only be bound-checked.
  *
  * Scale/correctness contract:
  *   - register construction is one partial-aggregable max per
  *     (group, bucket): map-side combine collapses every partition to
  *     ≤ m rows, i.e. the sketch MERGES by construction across any
  *     partitioning, any shuffle, and (because max is idempotent and
  *     commutative) across streaming micro-batches in complete mode;
  *   - the harmonic sum Σ 2^(−M_j) scales by 2^60 into exact longs
  *     (M ≤ 57) summed associatively in decimal(38,0) — the only
  *     floats are the final α·m²·2^60/Σ division and the small-range
  *     ln branch, both single deterministic ops;
  *   - rho derives from pure STRING algebra on the hex digest
  *     (leading-'0' count + first nonzero digit's bit length), which
  *     an oracle mirrors verbatim — no 56-bit integer parsing.
  * m is fixed at 256 registers (b = 8): standard error 1.04/√m ≈ 6.5%.
  */
object Sketches {

  /** Per-(group, bucket) HLL registers of the distinct values of
    * `keyCol` — the MERGEABLE half of the sketch (union sketches by
    * taking max(mreg) per bucket). Missing buckets are absent here
    * (register 0); [[hllEstimate]] re-spines them. A group whose keys
    * are ALL null has no registers at all and is therefore absent from
    * every downstream estimate (the oracle replay spines post-filter
    * to state the same semantics). */
  def hllRegisters(df: DataFrame, groupCol: String, keyCol: Column): DataFrame =
    // nulls are not values: distinct-count semantics skip them (a null
    // key would otherwise land a null bucket and poison the group max)
    hllBucketRho(df.filter(keyCol.isNotNull), groupCol, keyCol)
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("mreg"))

  /** The md5 → (bucket, rho) per-ROW projection behind [[hllRegisters]],
    * exposed for single-scan composites that fold other per-row
    * statistics into the same (group, bucket) aggregation (the solo
    * profile's count/null ride-alongs). A null key yields a null
    * bucket/rho row — the caller filters or sentinel-groups it; the
    * register builder above filters. */
  def hllBucketRho(df: DataFrame, groupCol: String, keyCol: Column): DataFrame =
    // The key is inlined, not aliased: a `__k` alias could shadow a
    // groupCol named `__k`.
    df.select(col(groupCol), md5(keyCol.cast("string")).as("hx"))
      .select(col(groupCol),
        expr("cast(conv(substring(hx, 1, 2), 16, 10) as int)").as("bucket"),
        expr("ltrim('0', substring(hx, 3, 14))").as("stripped"))
      .withColumn("d",
        expr("cast(conv(substring(stripped, 1, 1), 16, 10) as int)"))
      .withColumn("rho",
        when(col("stripped") === "", lit(57))
          .otherwise(lit(4) * (lit(14) - length(col("stripped"))) +
            (lit(4) - when(col("d") >= 8, 4).when(col("d") >= 4, 3)
              .when(col("d") >= 2, 2).otherwise(1)) + lit(1)))
      .select(col(groupCol), col("bucket"), col("rho"))

  /** α_256·m²·2^60 / Σ with the standard small-range (linear-counting)
    * branch — THE estimate expression over an exact harmonic sum and a
    * zero-register count, shared by every finalizer below and written
    * with the identical literal sequence the DuckDB replay
    * ([[oracleEstimateExpr]]) uses, so the constants are the same IEEE
    * doubles in both engines. */
  def estimateExpr(ssum: Column, v0: Column): Column = {
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(1.152921504606846976e18)
    val rawE = alphaM2 / ssum.cast("double")
    when(rawE <= 640.0 && v0 > 0,
      lit(256.0) * log(lit(256.0) / v0.cast("double")))
      .otherwise(rawE)
  }

  /** Finalize registers into the HLL estimate per group: spine the 256
    * buckets, exact-integer harmonic sum, α-corrected raw estimate
    * with the standard small-range (linear-counting) branch. Output:
    * (group, registers_nonzero, hll_estimate). */
  def hllEstimate(registers: DataFrame, groupCol: String): DataFrame = {
    val spine = registers.select(col(groupCol)).distinct()
      .select(col(groupCol), explode(expr("sequence(0, 255)")).as("bucket"))
    val regs = spine.join(registers, Seq(groupCol, "bucket"), "left")
      .select(col(groupCol), coalesce(col("mreg"), lit(0)).as("mreg"))
    val agg = regs.groupBy(col(groupCol))
      .agg(sum(expr("cast(shiftleft(cast(1 as bigint), 60 - mreg) as decimal(38,0))"))
          .as("ssum"),
        sum(when(col("mreg") === 0, 1L).otherwise(0L)).as("v0"))
    agg.select(col(groupCol),
      (lit(256L) - col("v0")).as("registers_nonzero"),
      round(estimateExpr(col("ssum"), col("v0")), 2).as("hll_estimate"))
  }

  /** Per-group HLL estimate quantized to an exact micro-unit BIGINT —
    * the SUMMABLE finalization for sketch-SET rollups (HyperBall's
    * Σ_v |B(v,t)|, union-size audits): `floor(est·1e6)` is computed
    * per group from exact integer inputs, so any downstream total is
    * an associative BIGINT sum (the silhouette discipline — quantize
    * BEFORE the cross-group aggregate, never sum raw doubles).
    *
    * Unlike [[hllEstimate]] this needs NO 256-bucket spine explode:
    * stored registers always have mreg ≥ 1, so the missing buckets'
    * harmonic mass is the closed form (256 − present)·2^60 and
    * v0 = 256 − present — the finalize is ONE partial-aggregable pass
    * over the (group, bucket, mreg) rows, whose count is bounded by
    * min(ball, 256) per group, not 256·|groups|. Output:
    * (group, est_micro). est ≤ ~1.5·|distinct keys| by construction,
    * so est_micro fits BIGINT through ~10^12 distinct keys. */
  def hllEstimateMicro(registers: DataFrame, groupCol: String): DataFrame = {
    val agg = registers.groupBy(col(groupCol))
      .agg(
        (sum(expr(
          "cast(shiftleft(cast(1 as bigint), 60 - mreg) as decimal(38,0))")) +
          (lit(256L) - count(lit(1))).cast("decimal(38,0)") *
            lit(1152921504606846976L).cast("decimal(38,0)")).as("ssum"),
        (lit(256L) - count(lit(1))).as("v0"))
    agg.select(col(groupCol),
      floor(estimateExpr(col("ssum"), col("v0")) * lit(1000000.0))
        .as("est_micro"))
  }

  /** DuckDB replay of [[hllRegisters]] + the register/harmonic half of
    * [[hllEstimate]], PARAMETERIZED over the source relation so every
    * HLL oracle (q_hll_sketch, stream_hll, q_profile_approx_solo)
    * instantiates the SAME replay text and cannot drift from the one
    * Spark implementation above. `src` is a table/CTE name, `grp` a
    * column of it (kept under its own name throughout), `keyExpr` a
    * VARCHAR-typed expression over `src` (null keys are skipped —
    * mirroring the register builder's isNotNull filter; the spine
    * derives from the POST-filter rows `h`, matching [[hllEstimate]]
    * whose spine can only see the registers, so a group whose keys
    * are ALL null is ABSENT on both sides — not estimate 0).
    * Emits CTEs `h → r0 → r1 →
    * reg → spine → regs → agg`; `agg` exposes (grp, ssum, v0), and the
    * caller appends its own final SELECT using [[oracleEstimateExpr]]. */
  def oracleCtesOver(src: String, grp: String, keyExpr: String): String =
    s"""h AS (SELECT $grp,
       |        md5($keyExpr) AS hx
       |      FROM $src WHERE $keyExpr IS NOT NULL),
       |r0 AS (SELECT $grp,
       |         16 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
       |           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
       |         ltrim(substr(hx, 3, 14), '0') AS stripped
       |       FROM h),
       |r1 AS (SELECT $grp, bucket,
       |         CASE WHEN stripped = '' THEN 57
       |              ELSE 4 * (14 - length(stripped))
       |                + (4 - CASE WHEN strpos('0123456789abcdef',
       |                                        substr(stripped, 1, 1)) - 1 >= 8 THEN 4
       |                           WHEN strpos('0123456789abcdef',
       |                                        substr(stripped, 1, 1)) - 1 >= 4 THEN 3
       |                           WHEN strpos('0123456789abcdef',
       |                                        substr(stripped, 1, 1)) - 1 >= 2 THEN 2
       |                           ELSE 1 END) + 1 END AS rho
       |       FROM r0),
       |reg AS (SELECT $grp, bucket, max(rho) AS mreg
       |        FROM r1 GROUP BY 1, 2),
       |spine AS (SELECT $grp, bucket
       |          FROM (SELECT DISTINCT $grp FROM h)
       |          CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bucket)),
       |regs AS (SELECT s.$grp, coalesce(reg.mreg, 0) AS mreg
       |         FROM spine s LEFT JOIN reg
       |           ON reg.$grp = s.$grp AND reg.bucket = s.bucket),
       |agg AS (SELECT $grp,
       |          sum(CAST(1 AS BIGINT) << (60 - mreg)) AS ssum,
       |          sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS v0
       |        FROM regs GROUP BY 1)""".stripMargin

  /** The events-table instantiation (q_hll_sketch, stream_hll). */
  val oracleCtes: String =
    oracleCtesOver("events", "event_type", "CAST(user_id AS VARCHAR)")

  /** The estimate expression over `agg`'s (ssum, v0) — α·m²·2^60/Σ
    * with the linear-counting small-range branch; literal sequence
    * matches [[hllEstimate]] exactly. */
  val oracleEstimateExpr: String =
    """CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
      |            * 1152921504606846976.0 / CAST(ssum AS DOUBLE) <= 640.0
      |          AND v0 > 0
      |     THEN 256.0 * ln(256.0 / CAST(v0 AS DOUBLE))
      |     ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
      |            * 1152921504606846976.0 / CAST(ssum AS DOUBLE) END""".stripMargin
}
