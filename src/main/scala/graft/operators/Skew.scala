package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter keys.
  *
  * AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) covers sort-merge joins at runtime; these helpers cover the
  * aggregation side, where one hot key would otherwise serialize into a
  * single reducer. Salting splits each key into `saltFactor` subkeys for
  * the first (wide) aggregation, then combines the per-salt partials — the
  * classic two-round exact aggregation. Costs one extra narrow shuffle of
  * the (already tiny) partial results; wins whenever max-key-share ≫
  * 1/parallelism.
  */
object Skew {

  private def salt(saltFactor: Int): Column =
    (rand(42) * saltFactor).cast("int")

  /** Exact count per key, skew-safe: pre-aggregate on (key, salt), then
    * combine partials per key. */
  def saltedCount(df: DataFrame, keyCol: String, saltFactor: Int = 16): DataFrame =
    df.withColumn("_salt", salt(saltFactor))
      .groupBy(col(keyCol), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(keyCol))
      .agg(sum("_partial").as("n"))

  /** Broadcast-salt the small side of a skewed join: replicate each small-
    * side row `saltFactor` times with explicit salt values, salt the big
    * side randomly, and join on (key, salt). Exact results; the hot key's
    * rows spread over `saltFactor` reducers. */
  def saltedJoin(big: DataFrame, small: DataFrame, keyBig: String,
                 keySmall: String, saltFactor: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("_salt", salt(saltFactor))
    val saltedSmall = small.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    saltedBig.join(saltedSmall,
      saltedBig(keyBig) === saltedSmall(keySmall) &&
        saltedBig("_salt") === saltedSmall("_salt"))
      .drop("_salt")
  }
}
