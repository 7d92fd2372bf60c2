package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §4).
  *
  * AQE's skew-join splitting (enabled in GraftSession) handles sort-merge
  * skew at runtime; explicit salting remains necessary when a hot key must
  * flow through a shuffle HASH join whose single reducer would otherwise
  * be the straggler.
  */
object Skew {

  /** Salted equi-join: the big side scatters each row into one of `salts`
    * sub-keys; the small side replicates `salts`×. Row-for-row equivalent
    * to `big.join(small, keys)` while splitting each hot key across
    * `salts` reducers.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    val bigS = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, keys :+ "__salt").drop("__salt")
  }

  /** Skew diagnosis report — the measurement that decides WHEN the guards
    * above (and the df caps / salting elsewhere) are needed, instead of
    * guessing: the top-`k` heaviest join/aggregation keys with their share
    * of all rows and their ratio to the mean key load. ratio ≫ salts means
    * that key still straggles after salting; ratio ≈ 1 means salting is
    * wasted replication. One hash-agg + a broadcast 1-row total + a
    * distributed top-k (`TakeOrderedAndProject`) — safe on any key
    * cardinality.
    */
  def diagnose(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).cast("double").as("__total"),
      count(lit(1)).cast("double").as("__nkeys"))
    counts.crossJoin(broadcast(tot))
      .select(col(keyCol), col("cnt"),
        round(col("cnt") / col("__total"), 6).as("share"),
        round(col("cnt") * col("__nkeys") / col("__total"), 6).as("ratio_to_mean"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(k)
  }
}
