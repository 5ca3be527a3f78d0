package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev measurement main (test scope) decomposing p06_incremental_replay
  * at the scaled corpus: per-batch processBatch wall (the three
  * sequential micro-batches, whose candidate joins grow with history),
  * then the verdict-store read — so the replay premium over d04's
  * all-at-once formulation is attributable piece by piece.
  *
  *   sbt "Test/runMain graft.queries.ReplayProbe target/scaled/sf10salt"
  */
object ReplayProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scaled/sf10salt")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    import graft.streaming.DocPipeline
    val stateDir = java.nio.file.Files
      .createTempDirectory("replayprobe-state").toString
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        md5(col("text")).as("text_hash"))
    val (maxId, tMax) = time(docs.agg(max(col("doc_id"))).first().getLong(0))
    println(f"[replayprobe] maxId scan: $tMax%.1fs")
    val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
    // r13 (verdict ask #7): `warm` runs a throwaway batch-0 (a 1/30
    // slice into a discarded state dir) BEFORE the timed batches, so
    // batch-1's reading no longer carries JVM/codegen cold start — if
    // the b1-vs-b2 gap survives warm, the cost is real, not JIT
    if (args.contains("warm")) {
      val warmState = java.nio.file.Files
        .createTempDirectory("replayprobe-warm").toString
      val (_, tWarm) = time(
        DocPipeline.processBatch(docs.filter(col("doc_id") <= cut1 / 10), warmState))
      println(f"[replayprobe] warm-up batch-0 (1/30 slice): $tWarm%.1fs")
      new scala.reflect.io.Directory(new java.io.File(warmState)).deleteRecursively()
    }
    val batches = Seq(
      ("b1", docs.filter(col("doc_id") <= cut1)),
      ("b2", docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)),
      ("b3", docs.filter(col("doc_id") > cut2)))
    for ((tag, b) <- batches) {
      val (_, t) = time(DocPipeline.processBatch(b, stateDir))
      println(f"[replayprobe] $tag processBatch: $t%.1fs")
    }
    val (_, tRead) = time(DocPipeline.docsStore(spark, stateDir)
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("is_neardup"), lit(1L)).otherwise(lit(0L)).as("is_neardup"))
      .orderBy("doc_id")
      .write.format("noop").mode("overwrite").save())
    println(f"[replayprobe] verdict-store read+sort: $tRead%.1fs")
    def fileCount(p: String): Int = {
      val d = new java.io.File(p)
      if (!d.exists()) 0
      else d.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    def storeFiles(store: String): Int =
      fileCount(graft.sources.AtomicSwap.dataDir(spark, s"$stateDir/$store"))
    println(s"[replayprobe] state files: docs=${storeFiles("docs")} " +
      s"bands=${storeFiles("bands")}")
    spark.stop()
    new scala.reflect.io.Directory(new java.io.File(stateDir)).deleteRecursively()
  }
}
