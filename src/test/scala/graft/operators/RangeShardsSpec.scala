package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the [[RangeShards]] contract on in-memory frames, independent of
  * any query that uses it: a shard-local row_number plus the carry's
  * `off` is the row_number of the unsharded window, and no tie group
  * spans two buckets. The fixture has one key whose order values are
  * all equal (the `v_hi = v_lo` branch), one heavy-tie key (6 distinct
  * values over 600 rows) and one spread key with negatives and a few
  * ties. */
class RangeShardsSpec extends SparkTestBase {

  private lazy val fixture: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(42)
    val flat = (0 until 40).map(i => ("flat", BigDecimal("7.00"), i.toLong))
    val ties = (0 until 600).map(i =>
      ("ties", BigDecimal(rnd.nextInt(6)) * BigDecimal("0.25"), 1000L + i))
    val spread = (0 until 300).map(i =>
      ("spread", BigDecimal(rnd.nextInt(20000) - 10000) / 100, 5000L + i))
    (flat ++ ties ++ spread).toDF("k", "v", "id")
      .select($"k", $"v".cast("decimal(12,2)").as("v"), $"id")
  }

  private val shardSizes = Seq(1L, 3L, RangeShards.RowsPerShard)

  for (descending <- Seq(false, true); rps <- shardSizes) {
    val dirName = if (descending) "descending" else "ascending"

    test(s"off + local row_number is the unsharded row_number ($dirName, rowsPerShard=$rps)") {
      val vOrd = if (descending) col("v").desc else col("v").asc
      val plain = fixture
        .select(col("id"),
          row_number().over(Window.partitionBy("k").orderBy(vOrd, col("id").asc)).as("rn"))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      val (bucketed, carry) =
        RangeShards.rangeSharded(fixture, "k", "v", descending, rps)
      val got = bucketed
        .withColumn("rn_loc", row_number()
          .over(Window.partitionBy("k", "bucket").orderBy(vOrd, col("id").asc)))
        .join(broadcast(carry), Seq("k", "bucket"))
        .select(col("id"), col("off") + col("rn_loc"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(plain.size == 940)
      assert(got == plain, s"diffs=${plain.keySet.filter(k => got.get(k) != plain.get(k)).take(5)}")
    }

    test(s"no tie group spans two buckets ($dirName, rowsPerShard=$rps)") {
      val (bucketed, _) =
        RangeShards.rangeSharded(fixture, "k", "v", descending, rps)
      val split = bucketed.groupBy("k", "v")
        .agg(countDistinct(col("bucket")).as("nbk"))
        .filter(col("nbk") > 1).collect()
      assert(split.isEmpty, s"tie groups split across buckets: ${split.take(5).mkString(";")}")
      val perKey = bucketed.groupBy("k")
        .agg(min("bucket").as("b0"), max("bucket").as("b1"), first("nb").as("nb"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      perKey.values.foreach { case (b0, b1, nb) => assert(b0 >= 0 && b1 < nb) }
      assert(perKey("flat")._1 == 0 && perKey("flat")._2 == 0, "all-equal key is not one bucket 0")
      // the spread key really is sharded, so the carry path is exercised
      assert(perKey("spread")._2 > 0)
    }
  }
}
