package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.PqIndex

/** Incremental IVFADC index maintenance (r14). The contract is
  * artifact-relative: appended vectors must land in exactly the lists
  * and codes that encoding them against the PERSISTED codebook +
  * coarse book produces (the placement a rebuild WITH THE SAME
  * artifacts would give them — codebooks are fixed at build time;
  * retraining is a rebuild, not an append), existing rows must be
  * byte-untouched, and the warm serving path must see the union.
  */
class IvfAdcAppendSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("append encodes against the persisted artifacts and leaves old rows untouched") {
    val base = java.nio.file.Files.createTempDirectory("ivfadcappend").toString
    val idx = s"$base/idx"
    val emb = graft.Tables(spark, dir, "embeddings")
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = maxId / 2

    // build over the first half only
    val halfDir = s"$base/halfdata"
    emb.filter(col("vec_id") <= cut).write.parquet(s"$halfDir/embeddings.parquet")
    Similarity.buildIvfAdcIndex(spark, halfDir, idx)

    def cmap(p: String) = PqIndex.read(spark, p)
      .select("vec_id", "c_id", "pq").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2).toList)).toMap
    val before = cmap(idx)
    assert(before.nonEmpty && before.keySet.forall(_ <= cut))

    // append the second half
    Similarity.appendToIvfAdcIndex(spark, emb.filter(col("vec_id") > cut), idx)
    val after = cmap(idx)

    // 1. every indexed id exactly once; old rows bit-unchanged
    assert(after.size === emb.count())
    before.foreach { case (id, v) =>
      assert(after(id) === v, s"append mutated pre-existing row $id")
    }

    // 2. appended rows match a fresh encode against the LOADED
    // codebook + raw coarse book (the same API pieces the append uses,
    // recomputed independently here from the persisted artifacts)
    val (cb, m, k, centsFlat, cids) = PqIndex.codebook(spark, idx)
    val rawBook = spark.read.parquet(
      graft.sources.AtomicSwap.dataDir(spark, idx, "coarse"))
    val e2 = Similarity.emb(spark, dir).filter(col("vec_id") > cut)
    import spark.implicits._
    val cIdxDf = broadcast(cids.zipWithIndex.toSeq.toDF("c_id", "c_idx"))
    val expected = Similarity.assignTo(e2, rawBook)
      .select("vec_id", "c_id", "v", "nrm")
      .join(cIdxDf, "c_id")
      .select(col("vec_id"), col("c_id"),
        graft.functions.Vectors.pqEncodeResidual(col("v"), col("nrm"),
          col("c_idx"), cb, centsFlat, m, k).as("pq"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2).toList)).toMap
    val appended = after.view.filterKeys(_ > cut).toMap
    assert(appended === expected, "appended rows diverged from artifact-relative encode")

    // 3. warm serving sees the union and stays green
    val qPred = col("vec_id") >= 300 && col("vec_id") < 310
    val served = Similarity.ivfAdcServe(spark, dir, idx,
        nprobe = Similarity.V12Nprobe, frontier = Similarity.V12Frontier, qPred)
      .select("q_id", "neighbor_id").collect()
    assert(served.nonEmpty)
    // neighbors can come from BOTH halves — the appended rows are live
    val ids = served.map(_.getLong(1)).toSet
    assert(ids.exists(_ > cut) || ids.exists(_ <= cut))

    // 4. compact merges the appended files back to one per list;
    // rows, codebook, and serving are untouched (r15)
    def parquetFiles: Int = {
      // count inside the CURRENT generation (r17 manifest layout) —
      // the root keeps the pre-compact generation for open readers
      val cur = graft.sources.AtomicSwap.dataDir(spark, idx)
      val fs = new org.apache.hadoop.fs.Path(cur)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(cur), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val filesBefore = parquetFiles
    val cbBefore = PqIndex.codebook(spark, idx)
    PqIndex.compact(spark, idx)
    assert(parquetFiles < filesBefore,
      s"compact should merge the appended files (before=$filesBefore, after=$parquetFiles)")
    assert(cmap(idx) === after, "compact changed the code relation")
    val cbAfter = PqIndex.codebook(spark, idx)
    assert(cbAfter._1.toSeq === cbBefore._1.toSeq &&
      cbAfter._4.toSeq === cbBefore._4.toSeq, "compact touched the codebook sibling")
    val served2 = Similarity.ivfAdcServe(spark, dir, idx,
        nprobe = Similarity.V12Nprobe, frontier = Similarity.V12Frontier, qPred)
      .select("q_id", "neighbor_id").collect()
    assert(served2.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      served.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }
}
