package graft.queries

import graft.SparkSpec
import graft.sources.IvfIndex

/** The persisted SHARDED fine-codebook path (r13, verdict ask #2 — the
  * tier the SCALE.md cost model targets, where the flat codebook no
  * longer broadcasts):
  *
  *  - `buildTwoLevelIndex` writes the fine codebook `partitionBy(s_id)`
  *    plus the trained super layer, and the sharded assignment path
  *    (`twoLevelAssignSharded`) joins probes to shard ROWS read from
  *    parquet — no driver-collected fine book, no broadcast;
  *  - results must be row-identical to the in-memory broadcast
  *    prototype at EVERY probe width (same supers, same shard
  *    memberships, same kernels) — pinned at w = 2 and w = nSup;
  *  - the join must actually be the shuffle-hash shape (the plan that
  *    survives when the shard relation outgrows any broadcast
  *    threshold), with both two-level kernels still inlined.
  */
class TwoLevelShardedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val nlist = 64 // → 8 supers

  private def collectAssign(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("sharded path == broadcast prototype row-for-row at w=2 and w=nSup; exact collapse at full width") {
    val path = java.nio.file.Files.createTempDirectory("ivf2l").toString + "/index"
    Similarity.buildTwoLevelIndex(spark, dir, path, nlist)
    val e = Similarity.emb(spark, dir)
    val fine = Similarity.centroids(e, nlist)
    for (w <- Seq(2, 8)) {
      val proto = collectAssign(
        Similarity.twoLevelAssign(spark, dir, fine, w, trainedRouter = true))
      val sharded = collectAssign(Similarity.twoLevelAssignSharded(spark, dir, path, w))
      assert(sharded.size === proto.size, s"w=$w: row count diverged")
      assert(sharded === proto, s"w=$w: sharded path diverged from the broadcast prototype")
    }
    // at w = nSup the persisted path must also collapse to the exact
    // single-level argmax (every fine centroid reachable)
    val single = collectAssign(
      Similarity.assignTo(e, fine).select("vec_id", "c_id", "c_cos"))
    assert(collectAssign(Similarity.twoLevelAssignSharded(spark, dir, path, 8)) === single,
      "sharded path at full width diverged from the single-level argmax")

    // layout: one s_id= directory per shard, supers a separate part; the
    // fine scan never touches the super files
    val shardDirs = new java.io.File(
        graft.sources.AtomicSwap.dataDir(spark, path, "fine")).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("s_id=")).toSeq
    assert(shardDirs.size === 8, s"expected 8 shard dirs, got $shardDirs")
    assert(!IvfIndex.fineShards(spark, path).inputFiles.exists(_.contains("_supers")),
      "super layer leaked into the fine-shard scan")
  }

  test("gated v10c query == gated v10 query (same schema, same rows)") {
    val v10 = graft.SparkEntry.queries("v10_twolevel_ivf")(spark, dir)
    val v10c = graft.SparkEntry.queries("v10c_twolevel_sharded")(spark, dir)
    assert(v10c.schema === v10.schema)
    assert(v10c.exceptAll(v10).isEmpty && v10.exceptAll(v10c).isEmpty,
      "the gated sharded query diverged from the gated broadcast query")
  }

  test("probe join is shuffle-hash (no broadcast of the fine codebook); kernels stay codegen") {
    val path = java.nio.file.Files.createTempDirectory("ivf2l").toString + "/index"
    Similarity.buildTwoLevelIndex(spark, dir, path, nlist)
    val df = Similarity.twoLevelAssignSharded(spark, dir, path, 2)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      "the sharded path must not broadcast the codebook side:\n" + plan)
    assert(plan.contains("graft_nearest_centroids_topw"), plan)
    assert(plan.contains("graft_shard_nearest"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }
}
