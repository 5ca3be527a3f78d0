package graft.weather

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change detection between a freshly-fetched locations frame and the
  * previous snapshot — the J2 operator (`weather_data_fetcher.py:384-387`):
  * a full-outer merge with indicator on the 10 compare columns, keeping
  * rows not in both.
  *
  * NULL SEMANTICS (SURVEY.md §7.4 hard-part #1): pandas merge matches
  * NaN == NaN on join keys — `oldName` is null for 143/146 rows in the
  * real snapshot, so plain `===` would flag every row as changed.
  * Grouping compares keys null-safely, which is exactly the pandas
  * behavior.
  *
  * Scale: one signed multiset count — fresh rows +1, old rows −1, summed
  * per distinct row in one shuffle on all compare columns; a non-zero
  * sum is the row's surplus on one side (the symmetric difference
  * `exceptAll` both ways gives, at half the shuffles). The empty-diff
  * gate (`:389,:399`) stays an application-level `isEmpty` on this
  * result (cheap: limit-1 scan after the aggregation).
  */
object LocationDiff {

  /** Rows of `fresh` not present in `old` plus rows of `old` not present
    * in `fresh` (on `cols`, with multiplicity), tagged with a `side`
    * indicator ("left_only" / "right_only" — pandas' indicator vocabulary).
    */
  def symmetricDiff(fresh: DataFrame, old: DataFrame, cols: Seq[String]): DataFrame = {
    def signed(df: DataFrame, sign: Int) = df.select(cols.map(col) :+ lit(sign).as("_sign"): _*)
    signed(fresh, 1).union(signed(old, -1))
      .groupBy(cols.map(col): _*).agg(sum(col("_sign")).as("_surplus"))
      .filter(col("_surplus") =!= 0)
      // one output row per unit of surplus, as exceptAll keeps multiplicity
      .withColumn("_copy", explode(sequence(lit(1L), abs(col("_surplus")))))
      .select(cols.map(col) :+
        when(col("_surplus") > 0, "left_only").otherwise("right_only").as("side"): _*)
  }

  /** The incremental-skip gate (`weather_data_fetcher.py:383-399`). */
  def hasChanges(fresh: DataFrame, old: DataFrame, cols: Seq[String]): Boolean =
    !symmetricDiff(fresh, old, cols).isEmpty
}
