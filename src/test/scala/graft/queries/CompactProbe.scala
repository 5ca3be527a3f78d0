package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev measurement main (test scope): serve latency before/after
  * [[graft.sources.BmIndex.compact]] on a MANY-APPEND index at the
  * 100× replica (r16, verdict ask #2) — the tiny-file problem a
  * long-running [[graft.streaming.IndexIngest]] accretes, and what the
  * swap-based compact buys back. Builds on half the corpus, appends
  * the rest in 16 micro-batch-sized chunks (each lands up to 64
  * posting files + one doclens file), then prices the fixed query
  * before and after compaction, with file counts.
  *
  *   sbt "Test/runMain graft.queries.CompactProbe [dir]"
  */
object CompactProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scaled/sf10salt")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def countFiles(p: String): Int = {
      // count inside the CURRENT generation (r17 manifest layout)
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(graft.sources.AtomicSwap.dataDir(spark, p)))
    }

    val path = Similarity.scratchPath("bm25compactbench", dir)
    val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
      .localCheckpoint(eager = false)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut = maxId / 2
    println(f"[compactprobe] bootstrap build (lower half): ${
      time(TextAnalysis.buildBm25IndexOver(spark,
        docs.filter(col("doc_id") <= cut), path))}%.1fs")
    val tApp = time {
      for (chunk <- 0 until 16)
        TextAnalysis.appendToBm25Index(spark, path,
          docs.filter(col("doc_id") > cut &&
            pmod(col("doc_id"), lit(16)) === chunk))
    }
    println(f"[compactprobe] 16 appends: $tApp%.1fs, " +
      s"postings files=${countFiles(path)}, doclens files=${countFiles(path + "_doclens")}")

    val qterms = Seq("dup", "vector", "spark")
    def serve(): Double = Seq.fill(2)(time(
      TextAnalysis.bm25Indexed(spark, path, qterms)
        .write.format("noop").mode("overwrite").save())).min
    println(f"[compactprobe] serve BEFORE compact: ${serve()}%.2fs")
    println(f"[compactprobe] compact: ${
      time(graft.sources.BmIndex.compact(spark, path))}%.1fs")
    println(f"[compactprobe] serve AFTER compact: ${serve()}%.2fs, " +
      s"postings files=${countFiles(path)}, doclens files=${countFiles(path + "_doclens")}")
    spark.stop()
  }
}
