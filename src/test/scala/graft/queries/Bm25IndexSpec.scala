package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.BmIndex

/** The persisted BM25 inverted index (r15 — the IvfIndex/v10c
  * treatment applied to the search family): serving from the index
  * must equal the in-query t14 row for row (the t15 gate hashes it
  * against t14's oracle; here the equality is pinned directly), the
  * posting fetch must prune to the queried terms' bucket DIRECTORIES
  * (static PartitionFilters + executed-file check), and appends must
  * leave already-indexed docs' scores untouched (frozen ranking
  * statistics — the stale-index serving contract).
  */
class Bm25IndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val qterms = Seq("dup", "vector", "spark")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
      r.getInt(3), r.getDouble(4))).toSeq

  test("indexed BM25 == in-query t14, bit-for-bit; posting fetch prunes directories") {
    val path = java.nio.file.Files.createTempDirectory("bm25idx").toString + "/idx"
    TextAnalysis.buildBm25Index(spark, dir, path)
    val indexed = TextAnalysis.bm25Indexed(spark, path, qterms)
    val inQuery = graft.SparkEntry.queries("t14_bm25_search")(spark, dir)
    assert(rows(indexed) === rows(inQuery),
      "indexed BM25 diverged from the in-query path")

    // static partition pruning: the plan carries the bucket isin as
    // PartitionFilters, and the files actually read all live under the
    // queried terms' pbkt= directories
    val fetch = BmIndex.postingsFor(spark, path, qterms)
    val plan = fetch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pbkt"),
      s"posting fetch should prune bucket directories:\n$plan")
    // execution-level check (the IvfIndexSpec pattern — inputFiles
    // lists the relation's files pre-pruning, input_file_name() shows
    // what the pruned scan actually read)
    val wanted = qterms.map(t => s"pbkt=${BmIndex.bucketOf(t)}").toSet
    val read = fetch.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(read.nonEmpty && read.forall(f => wanted.exists(f.contains)),
      s"posting fetch read outside the probed buckets: ${read.mkString(", ")}")
  }

  test("append: frozen stats keep old docs' scores identical; duplicates fail loudly") {
    val base = java.nio.file.Files.createTempDirectory("bm25append").toString
    val path = s"$base/idx"
    val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
      .localCheckpoint(eager = false)
    val cut = docs.agg(expr("percentile(doc_id, 0.75)")).head().getDouble(0).toLong

    TextAnalysis.buildBm25IndexOver(spark, docs.filter(col("doc_id") <= cut), path)
    val before = TextAnalysis.bm25Indexed(spark, path, qterms, k = 1 << 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    TextAnalysis.appendToBm25Index(spark, path, docs.filter(col("doc_id") > cut))
    val after = TextAnalysis.bm25Indexed(spark, path, qterms, k = 1 << 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap

    // every indexed doc appears; old docs score EXACTLY as before the
    // append (frozen df/n_docs/avgdl — idf and length normalization
    // cannot move under an append)
    assert(after.size === docs.count())
    before.foreach { case (id, s) =>
      assert(after(id) === s, s"append changed old doc $id's score")
    }

    val e = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(spark, path, docs.limit(1))
    }
    assert(e.getMessage.contains("already indexed"))

    // drift probe: ~25% of the served corpus post-dates the frozen
    // stats (the rebuild-scheduling signal); avgdl drift is the other
    // threshold and is tiny on the homogeneous fixture
    val drift = BmIndex.driftProbe(spark, path).head()
    val frac = drift.getAs[Double]("appended_frac")
    assert(frac > 0.2 && frac < 0.3, s"appended_frac: $drift")
    assert(drift.getAs[Double]("avgdl_drift") >= 0.0)
  }

  test("matchedOnly dial: matched docs score bit-identically; zero-score docs unranked") {
    val path = java.nio.file.Files.createTempDirectory("bm25matched").toString + "/idx"
    TextAnalysis.buildBm25Index(spark, dir, path)
    val k = 1 << 20
    val full = rows(TextAnalysis.bm25Indexed(spark, path, qterms, k))
    val dialed = rows(TextAnalysis.bm25Indexed(spark, path, qterms, k,
      matchedOnly = true))
    val matched = full.filter(r => r._2 > 0 || r._3 > 0 || r._4 > 0)
    assert(matched.nonEmpty && matched.size < full.size,
      "fixture should have both matched and unmatched docs")
    assert(dialed === matched,
      "matchedOnly must equal the full ranking restricted to matched docs")
  }

  test("compact collapses appended files; rows and serving identical") {
    val base = java.nio.file.Files.createTempDirectory("bm25compact").toString
    val path = s"$base/idx"
    val docs = graft.Tables(spark, dir, "documents").select("doc_id", "text")
      .localCheckpoint(eager = false)
    val Seq(c1, c2) = Seq(0.5, 0.75).map(p =>
      docs.agg(expr(s"percentile(doc_id, $p)")).head().getDouble(0).toLong)
    TextAnalysis.buildBm25IndexOver(spark, docs.filter(col("doc_id") <= c1), path)
    TextAnalysis.appendToBm25Index(spark, path,
      docs.filter(col("doc_id") > c1 && col("doc_id") <= c2))
    TextAnalysis.appendToBm25Index(spark, path, docs.filter(col("doc_id") > c2))

    def serve = TextAnalysis.bm25Indexed(spark, path, qterms, k = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toSeq
    def postings = BmIndex.postingsFor(spark, path, qterms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    def filesPerDir(p: String, pfx: String): Map[String, Int] =
      new java.io.File(p).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith(pfx))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap

    // inspect the CURRENT generation (r17 manifest layout) — the root
    // keeps the pre-compact generation for open readers
    def cur = graft.sources.AtomicSwap.dataDir(spark, path)
    val (beforeServe, beforePost) = (serve, postings)
    assert(filesPerDir(cur, "pbkt=").values.exists(_ > 1),
      "appends should leave multiple files per bucket directory")
    BmIndex.compact(spark, path)
    assert(postings === beforePost, "compact must not change posting rows")
    assert(serve === beforeServe, "compact must not change serving")
    assert(filesPerDir(cur, "pbkt=").values.forall(_ == 1),
      "compact should leave one file per bucket directory")
    val dlFiles = new java.io.File(
        graft.sources.AtomicSwap.dataDir(spark, path, "doclens")).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dlFiles <= 8, s"doclens should collapse to <= 8 files, got $dlFiles")
  }
}
