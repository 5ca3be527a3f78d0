package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Dev measurement main (test scope): stage-level decomposition of ONE
  * mid-stream DocPipeline micro-batch at the 100× replica — where do
  * b2's ~10 s go? Replicates processBatch's stages with the same
  * public building blocks, materializing each to a noop sink, so the
  * per-stage costs are attributable (measurement-only twin; the
  * contract lives in DocPipeline + its specs).
  *
  *   sbt "Test/runMain graft.queries.ReplayDecompProbe [dir]"
  */
object ReplayDecompProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scaled/sf10salt")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.streaming.DocPipeline
    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def mat(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val stateDir = java.nio.file.Files
      .createTempDirectory("replaydecomp-state").toString
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        md5(col("text")).as("text_hash"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
    // batch 1 populates history the normal way (also warms JIT)
    val t1 = time(DocPipeline.processBatch(
      docs.filter(col("doc_id") <= cut1), stateDir))
    println(f"[replaydecomp] b1 full processBatch: $t1%.1fs")

    // ---- batch 2, stage by stage (mirrors processBatch's dataflow) --
    val batch = docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
      .withColumn("rk", row_number().over(
        Window.partitionBy("text_hash").orderBy("doc_id")))
      .filter(col("rk") === 1)
      .select("doc_id", "text", "lang", "source", "text_hash")
    val store = DocPipeline.docsStore(spark, stateDir)
    val fresh = batch
      .join(store.select("text_hash"), Seq("text_hash"), "left_anti")
      .withColumn("sh", Text.distinctShingles(col("text")))
      .withColumn("wfps", Text.windowFps(col("text")))
      .localCheckpoint(eager = false)
    println(f"[replaydecomp] b2 fresh (anti-join + both kernels + checkpoint): ${time(mat(fresh))}%.1fs")

    val newBands = Dedup.bandKeys(fresh.select("doc_id", "sh"))
      .localCheckpoint(eager = false)
    println(f"[replaydecomp] b2 newBands (+checkpoint): ${time(mat(newBands))}%.1fs")

    val histBands = graft.sources.BandIndex.withBand(
      spark.read.parquet(graft.sources.AtomicSwap.dataDir(spark, s"$stateDir/bands")))
      .select("doc_id", "band")
    val cand = graft.sources.BandIndex.candidatesAgainstDf(histBands, newBands)
      .localCheckpoint(eager = false)
    println(f"[replaydecomp] b2 band candidate join: ${time(mat(cand))}%.1fs")

    val corpusSh = store.select(col("doc_id"), col("sh"))
      .union(fresh.select(col("doc_id"), col("sh")))
    val dropIds = cand
      .join(corpusSh.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(corpusSh.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .filter(size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb"))) >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
    println(f"[replaydecomp] b2 shingle fetch + jaccard verify: ${time(mat(dropIds))}%.1fs")

    val occ = fresh
      .select(col("doc_id"), posexplode(col("wfps")))
      .select(col("doc_id"), col("pos").cast("long").as("seq"), col("col").as("wfp"))
    val histWin = spark.read.parquet(
        graft.sources.AtomicSwap.dataDir(spark, s"$stateDir/winfps"))
      .select(col("wfp"), struct(col("doc_id"), col("seq")).as("hwin"))
    val batchWin = occ.groupBy("wfp")
      .agg(min(struct(col("doc_id"), col("seq"))).as("bwin"))
      .join(histWin, Seq("wfp"), "left")
      .select(col("wfp"), coalesce(col("hwin"), col("bwin")).as("win"),
        col("hwin").isNull.as("isNew"))
      .localCheckpoint(eager = false)
    println(f"[replaydecomp] b2 winfps history join (batchWin): ${time(mat(batchWin))}%.1fs")
    val winCounts = occ
      .join(batchWin.select("wfp", "win"), Seq("wfp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("doc_id") === col("win.doc_id") &&
          col("seq") === col("win.seq"), 1L).otherwise(0L)).as("n_kept"))
    println(f"[replaydecomp] b2 winCounts: ${time(mat(winCounts))}%.1fs")

    // reference: the real batch 2 end-to-end on the same state
    val t2 = time(DocPipeline.processBatch(batch, stateDir))
    println(f"[replaydecomp] b2 full processBatch (incl. state writes): $t2%.1fs")
    spark.stop()
    new scala.reflect.io.Directory(new java.io.File(stateDir)).deleteRecursively()
  }
}
