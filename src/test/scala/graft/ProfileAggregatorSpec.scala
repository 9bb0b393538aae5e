package graft

import org.apache.spark.sql.functions._

import graft.operators.ProfileAggregator

class ProfileAggregatorSpec extends SparkTestBase {

  test("ProfileAggregator matches the built-in column profile") {
    import spark.implicits._
    val qty = Tables.load(spark, sf, "lineitem")
      .select(col("l_quantity")).as[java.lang.Double]
    val p = qty.select(ProfileAggregator.of.toColumn).head()
    val ref = graft.operators.Representative.columnProfile(spark, sf)
      .agg(sum("n"), min("min_q"), max("max_q")).head()
    assert(p.n === ref.getLong(0))
    assert(p.min === ref.getDouble(1) && p.max === ref.getDouble(2))
    assert(p.nulls === 0L)
    assert(math.abs(p.mean - 25.5) < 1.0) // sanity: TPC-H qty is uniform 1..50
  }
}
