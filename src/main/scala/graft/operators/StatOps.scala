package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Shared exact-statistic building blocks for the query surface. */
private[graft] object StatOps {

  /** Deterministic order-preserving bucket id for a non-negative long
    * key: (bit-length << 4) | next-4-bits — the q35/q145 integer-octave
    * trick sharpened 16× (≤ ~1040 buckets for the full long range).
    * Monotone non-decreasing in the key, so bucket boundaries respect
    * any ordering that starts with the key; a PURE value function, so —
    * unlike a sampled RangePartitioner — every evaluation over any
    * partitioning produces identical buckets with no checkpoint pinning.
    * Uniform-ish domains land ≤ 1/16 of an octave per bucket; the
    * degenerate all-one-value input collapses to one bucket, which for
    * the histogram-shaped callers below is one ROW anyway. */
  def octaveBucket16(key: Column): Column = {
    val v = greatest(key.cast("long"), lit(0L))
    val b = length(bin(v)) // bit-length; bin(0) = "0" -> 1
    val sub = call_function("shiftright", v, greatest(b - 5, lit(0)).cast("int")) % 16
    (b * 16 + sub).cast("int")
  }

  /** Exact inclusive running totals over a bucketed total order — the
    * scalable replacement for an unpartitioned window cumsum (which
    * Catalyst plans as Exchange SinglePartition + one task sorting ALL
    * rows, the textbook 100×-scale-killer).
    *
    * Two-level shape, ONE plan, zero driver actions: `bucket` (a
    * monotone function of the leading `order` column, e.g.
    * [[octaveBucket16]]) splits the order into ≤ ~1040 contiguous
    * ranges. Level 1: a windowed cumsum PER (group, bucket) — parallel,
    * each task holds only its bucket's rows. Level 2: per-(group,
    * bucket) totals are a tiny aggregation (buckets × groups rows)
    * whose exclusive prefix sums — the bucket offsets — come from a
    * window over that AGGREGATED relation (bounded ≤ ~1040 rows per
    * task by construction; the literal partition key when no group is
    * given is NOT a row-level global window, it is the q145-octave
    * bounded-state idiom) and broadcast-join back:
    * `cum = offset + local`. Everything is an exact integer sum of a
    * pure value function, so the result is identical at ANY
    * partitioning — no sampled RangePartitioner, no localCheckpoint
    * pinning — and depends only on the total (group, order) ordering
    * (make it strict with tie-break columns, or "inclusive" is
    * ambiguous). Both branches hang off the same child, so Spark's
    * exchange reuse scans the source once.
    *
    * For each `(name, w)` in `weights` the output carries `name` — the
    * inclusive cumulative sum of `w` within the row's group — and
    * `${name}_total`, the group's grand total.
    */
  def rangeCumsum(df: DataFrame, group: Seq[String], order: Seq[String],
      weights: Seq[(String, Column)], bucket: Column): DataFrame = {
    val withW = weights.foldLeft(df.withColumn("__bkt", bucket)) {
      case (d, (n, w)) => d.withColumn(s"__w_$n", w.cast("long"))
    }
    val keyCols = group :+ "__bkt"
    // level 1: windowed cumsum inside each (group, bucket) — parallel
    val wLocal = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Constant-factor note (profiled warm at sf0.1, q147 alone): the
    // q147-shaped call spends ~90% of its wall time building the input
    // histogram (groupBy-shuffle of the fact), NOT here; of the helper's
    // own cost, the second bucket-local sort+window (offsets branch) is
    // the only duplicated work, and both fusion attempts measured SLOWER
    // than re-sorting — a lazy localCheckpoint of the windowed relation
    // (1.19→~1.05 s became 1.05→1.19 s: materialization overhead exceeds
    // a 32-thread re-sort of ~400k rows) and a post-window repartition
    // for ReuseExchange (extra shuffle pass > saved sort). The current
    // shape IS the practical floor under the single-scan + bounded-task
    // constraints; at 100 TB both branches stay bucket-parallel.
    val withLocal = weights.foldLeft(withW) { case (d, (n, _)) =>
      d.withColumn(s"__local_$n", sum(col(s"__w_$n")).over(wLocal))
    }
    // level 2: per-(group, bucket) totals taken from the LEVEL-1 OUTPUT —
    // the bucket total IS the last inclusive local cumsum (max_by over
    // the strict order; a plain max would be wrong for negative weights,
    // e.g. q165's ±1 sweep deltas). Consuming the windowed relation
    // instead of re-deriving the input makes the whole helper SINGLE-
    // SCAN: both branches demand the same columns (group ∪ order ∪ __w)
    // from the same child, so their `__bkt` hash exchanges canonicalize
    // identically and ReuseExchange / AQE stage reuse computes the
    // upstream (scan, derivation aggregates, shuffle) exactly once; only
    // the bucket-local sort+window runs per branch, and the offsets
    // branch collapses to ≤ ~1040 rows per task right above it. (The
    // join below must stay null-safe on `__bkt` — an equi-join would
    // infer an `isnotnull(bucket)` filter into the probe branch only,
    // de-canonicalizing the exchanges and silently re-deriving the
    // source twice.) Offsets via a BOUNDED window over the bucket
    // aggregate — group-less that is an empty-partitionSpec window, the
    // structural exemption PlanScan.rowLevelGlobalWindows recognizes.
    val lastOrd = struct(order.map(col): _*)
    val totAggs = weights.map { case (n, _) =>
      max_by(col(s"__local_$n"), lastOrd).as(s"__t_$n") }
    val wOff = (if (group.isEmpty) Window.partitionBy()
      else Window.partitionBy(group.map(col): _*))
      .orderBy(col("__bkt"))
    val offCols = weights.flatMap { case (n, _) => Seq(
      coalesce(sum(col(s"__t_$n")).over(
        wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as(s"__off_$n"),
      sum(col(s"__t_$n")).over(
        wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as(s"${n}_total")) }
    val offsets = withLocal.groupBy(keyCols.map(col): _*)
      .agg(totAggs.head, totAggs.tail: _*)
      .select(keyCols.map(col) ++ offCols: _*)

    // NULL-SAFE join on the group keys: a NULL group is a real group to
    // the window formulation this replaces (partitionBy keeps it as its
    // own partition) — a using-columns join would silently drop its rows
    val offRenamed = offsets.select(offsets.columns.map { c =>
      if (keyCols.contains(c)) col(c).as(s"__o_$c") else col(c)
    }.toIndexedSeq: _*)
    val joinCond = group.map(g => col(g) <=> col(s"__o_$g"))
      .foldLeft(col("__bkt") <=> col("__o___bkt"))(_ && _)
    val joined = withLocal.join(broadcast(offRenamed), joinCond)
      .drop(keyCols.map(k => s"__o_$k"): _*)
    val withCums = weights.foldLeft(joined) { case (d, (n, _)) =>
      d.withColumn(n, col(s"__off_$n") + col(s"__local_$n"))
    }
    withCums.drop("__bkt")
      .drop(weights.map { case (n, _) => s"__w_$n" }: _*)
      .drop(weights.map { case (n, _) => s"__local_$n" }: _*)
      .drop(weights.map { case (n, _) => s"__off_$n" }: _*)
  }

  /** Exact LOWER p50/p99 per `flag` over a (flag, cents) relation, the
    * shrink-first way (q117 rule): collapse to the per-(flag, value)
    * histogram FIRST — the shuffle sees only distinct values, never the
    * row count — then take the value where the cumulative count reaches
    * rank ceil(p·n). The cumsum is [[rangeCumsum]], so even a
    * high-cardinality value domain (timestamps, raw doubles) never
    * funnels through one task. Value-at-rank over the multiset == min
    * value whose cumulative count reaches the rank, so this is bit-equal
    * to a row_number formulation at any partitioning. Used by q35 (exact
    * quantile columns) and q145 (the exactness baseline the octave
    * sketch is gated against). */
  def rankQuantiles(cents: DataFrame): DataFrame = {
    val hist = cents.groupBy(col("flag"), col("cents")).agg(count(lit(1)).as("c"))
    rangeCumsum(hist, Seq("flag"), Seq("cents"), Seq("cum" -> col("c")),
        octaveBucket16(col("cents")))
      .groupBy(col("flag"))
      .agg(min(when(col("cum") >= expr("(cum_total + 1) div 2"), col("cents"))).as("p50_cents"),
        min(when(col("cum") >= expr("(99 * cum_total + 99) div 100"), col("cents"))).as("p99_cents"))
  }
}
