package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range sharding for ordered windows partitioned by a small fixed key
  * set (a priority, nation, segment or event-type alphabet).
  *
  * A window `PARTITION BY key ORDER BY order` sorts each key's whole
  * stream on ONE task, so its parallelism is floored at the key
  * alphabet however much data or how many cores there are. Sharding on
  * (key, value-bucket) makes it grow with the data instead: every key's
  * order range is cut into `nb = max(MinShardsPerKey, ⌈n / rowsPerShard⌉)`
  * buckets, each (key, bucket) shard sorts on its own, and a tiny
  * bucket summary (|keys|·|buckets| rows) carries the row counts of
  * earlier buckets, so a shard-local rank plus its carry is the rank in
  * the key's whole stream.
  *
  * The contract every caller relies on:
  *   - `bucket` is a monotone non-decreasing function of the order
  *     VALUE alone, in the requested direction: the difference to the
  *     key's `v_lo` (or from its `v_hi`, descending) is exact in the
  *     column's own type, and its double cast and the scaling onto `nb`
  *     preserve order. So buckets order like the window, and equal
  *     values always share a bucket: a boundary can never split a tie
  *     group, whatever tie-break the caller's window then applies.
  *   - Bucket sizes are a performance knob only; correctness needs
  *     just that every row gets one bucket in `[0, nb)`. A key whose
  *     values are all equal is one bucket, 0.
  *   - The order column must be non-null: `min`/`max` and `least` skip
  *     nulls, so a null value lands in bucket 0 or `nb - 1` by accident
  *     of the branch taken, not where the window's null ordering puts it.
  */
object RangeShards {

  /** Row budget per (key, value-bucket) shard: 64k rows sort in
    * milliseconds and amortize the carry rows to noise. */
  val RowsPerShard = 65536L

  /** Floor on shards per key, so the carry path runs at every scale
    * (the sf0.01 oracle gate included) instead of degenerating to one
    * bucket below 64k rows per key. */
  val MinShardsPerKey = 8L

  /** Returns `(bucketed, carry)`.
    *
    * `bucketed` is `df` plus the per-key `n`, `v_lo`, `v_hi` and `nb`
    * (and `extraStats`, which ride the same single per-key aggregate),
    * broadcast-joined back, and the row's `bucket`.
    *
    * `carry` is `(key, bucket, cb, off)`: `cb` rows in the bucket and
    * `off` rows in all earlier buckets of the key. It is
    * broadcast-sized; the caller joins it with `broadcast`. */
  def rangeSharded(df: DataFrame, key: String, order: String,
      descending: Boolean, rowsPerShard: Long,
      extraStats: Column*): (DataFrame, DataFrame) = {
    val v = col(order)
    val lo = col("v_lo")
    val hi = col("v_hi")
    val nb = col("nb")
    val stats = df.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        (Seq(min(v).as("v_lo"), max(v).as("v_hi")) ++ extraStats): _*)
      .withColumn("nb", greatest(lit(MinShardsPerKey),
        expr(s"(n + ${rowsPerShard - 1}) div $rowsPerShard")))
    val dist = if (descending) hi - v else v - lo
    val bucketed = df.join(broadcast(stats), key)
      .withColumn("bucket",
        when(hi === lo, lit(0L)).otherwise(
          least(nb - 1,
            floor(dist.cast("double") / (hi - lo).cast("double") * nb).cast("long"))))
    // the summary rides the shard partitioning (map-side partials)
    val wPrev = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bucketed.groupBy(col(key), col("bucket"))
      .agg(count(lit(1)).as("cb"))
      .withColumn("off", coalesce(sum(col("cb")).over(wPrev), lit(0L)))
    (bucketed, carry)
  }
}
