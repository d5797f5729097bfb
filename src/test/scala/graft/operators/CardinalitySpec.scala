package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class CardinalitySpec extends SparkTestBase {
  import graft.TestSpark.spark.implicits._

  // 3 groups with known distinct counts, values deliberately repeated
  // across slices so the union has real overlap to collapse
  private def rows = (0 until 3).flatMap { g =>
    (0 until 400).map(i => (s"slice${i % 4}", s"g$g", s"v${i % (50 * (g + 1))}"))
  }.toDF("slice", "group", "value")

  test("estimate tracks exact countDistinct (small domain is near-exact)") {
    val est = Cardinality.distinctEstimate(rows, col("group"), col("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // lgK=12 => 4096 registers vs <=150 distinct values: HLL is in its
    // exact (sparse) regime, the estimate IS the exact count
    assert(est == Map("g0" -> 50L, "g1" -> 100L, "g2" -> 150L), est.toString)
  }

  test("merge identity: union of slice sketches == one-shot sketch") {
    val merged = Cardinality.mergeSliceSketches(
        Cardinality.sliceSketches(rows, col("slice"), col("group"),
          col("value")))
      .select(col("group"), col("n_distinct"), col("n_rows"),
        col("n_slices"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val oneShot = Cardinality.distinctEstimate(rows, col("group"),
        col("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == oneShot.keySet)
    merged.foreach { case (g, (est, nRows, nSlices)) =>
      assert(est == oneShot(g), s"merge identity broke for $g")
      assert(nRows == 400L && nSlices == 4L, s"bookkeeping for $g")
    }
  }

  test("replayed slice is idempotent under union (register-max)") {
    val slices = Cardinality.sliceSketches(rows, col("slice"), col("group"),
      col("value"))
    val replayed = slices.unionByName(
      slices.where(col("slice") === "slice0"))
    // the sketch union absorbs a duplicate slice; its row count does
    // not, which is why a store commits each batch once
    // (SliceStoreSpec replays batches through SliceStore.Cardinality)
    def est(df: org.apache.spark.sql.DataFrame) =
      Cardinality.mergeSliceSketches(df).collect().map(r =>
        r.getAs[String]("group") ->
          (r.getAs[Long]("n_distinct"), r.getAs[Long]("n_rows"))).toMap
    val (dup, clean) = (est(replayed), est(slices))
    assert(dup.keySet == clean.keySet)
    dup.foreach { case (g, (n, nRows)) =>
      assert(n == clean(g)._1, s"replay changed the estimate for $g")
      assert(nRows == clean(g)._2 + 100L, s"row count for $g: $nRows")
    }
  }

  test("rejects out-of-range lgK") {
    intercept[IllegalArgumentException](
      Cardinality.sliceSketches(rows, col("slice"), col("group"),
        col("value"), lgK = 2))
    intercept[IllegalArgumentException](
      Cardinality.distinctEstimate(rows, col("group"), col("value"),
        lgK = 25))
  }
}
