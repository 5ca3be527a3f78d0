package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev measurement main (test scope): recall@3 of the v12d gate path
  * EXACTLY as gated — IVFADC bootstrapped on the lower vec_id half and
  * assembled by the ingest loop's streaming appends, served via ivfAdcServe
  * — vs v12's full-build seed-book path, per SF. The numbers behind
  * V12dFloor; table in BENCHNOTES r16.
  *
  *   sbt "Test/runMain graft.queries.V12dProbe"
  */
object V12dProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qPred = col("vec_id") >= 300 && col("vec_id") < 310
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val dir = s"/root/testdata/sf$sf"
      val gt = Similarity.exactTopKWhere(spark, dir, qPred, 3)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def hits(df: org.apache.spark.sql.DataFrame): Int =
        gt.intersect(df.select("q_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet).size
      val seed = Similarity.ivfAdcServe(spark, dir, {
        val p = Similarity.scratchPath("v12", dir)
        Similarity.buildIvfAdcIndex(spark, dir, p); p
      }, Similarity.V12Nprobe, Similarity.V12Frontier, qPred)
      val streamed = Similarity.ivfAdcServe(spark, dir,
        Similarity.v12dStreamIndex(spark, dir),
        Similarity.V12Nprobe, Similarity.V12Frontier, qPred)
      println(s"[v12dprobe] sf=$sf v12_full_seed=${hits(seed)}/30 " +
        s"v12d_streamed=${hits(streamed)}/30 floor=${Similarity.V12dFloor}")
    }
    spark.stop()
  }
}
